"""Relation expansion + outer-way resolution as iterative DataFrame joins.

Replaces the reference's recursive in-heap walks:
- RelationExpander.expandRelation (resolving/RelationExpander.scala:13-39):
  follows ALL relation-type members; a cycle or missing sub-relation rejects
  the whole root relation (no areas) and records it;
- OuterWayResolver.resolveOuterWayIdsFor (resolving/OuterWayResolver.scala:10-36):
  follows only role='outer' members; silently skips circular references.

Both become bounded driver loops over self-equi-joins with a `path`
array<long> accumulator for cycle detection (array_contains(path, ref)).
Each iteration is one shuffle on rel_id; depth is bounded (OSM relation
nesting is shallow — max_depth=12 default). At scale the frontier shrinks
geometrically; per-iteration localCheckpoint cuts lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def relation_members(relations: DataFrame) -> DataFrame:
    """(rel_id, kind, ref, role, pos) exploded member table."""
    return relations.select(
        "rel_id", F.explode("members").alias("m")
    ).select("rel_id", "m.kind", "m.ref", "m.role", "m.pos")


def expansion_status(relations: DataFrame, max_depth: int = 12) -> DataFrame:
    """(rel_id, is_expandable, hit_cycle) per relation.

    is_expandable=false ⇔ the reference's expandRelation would return None
    (cycle among rel members at any depth, or a missing sub-relation).
    hit_cycle marks the relations recorded in `recursive_relations`
    (steps/ExtractEntities.scala:14-18 analog).
    """
    members = relation_members(relations)
    rel_edges = members.filter(F.col("kind") == "rel").select(
        F.col("rel_id").alias("parent"), F.col("ref").alias("child")
    )
    all_ids = relations.select(F.col("rel_id").alias("child")).distinct()

    # frontier: (root, cur, path) — path includes cur
    frontier = relations.select(
        F.col("rel_id").alias("root"),
        F.col("rel_id").alias("cur"),
        F.array(F.col("rel_id")).alias("path"),
    )
    bad = relations.sparkSession.createDataFrame(
        [], "root long, hit_cycle boolean")

    for _ in range(max_depth):
        step = frontier.join(
            rel_edges, frontier["cur"] == rel_edges["parent"]
        ).select("root", "child", "path")
        if step.isEmpty():
            break
        cyc = step.filter(F.expr("array_contains(path, child)")) \
                  .select("root", F.lit(True).alias("hit_cycle"))
        missing = step.join(all_ids, "child", "left_anti") \
                      .select("root", F.lit(False).alias("hit_cycle"))
        bad = bad.unionByName(cyc).unionByName(missing)
        frontier = (
            step.filter(~F.expr("array_contains(path, child)"))
            .join(all_ids, "child", "left_semi")
            .select(
                "root",
                F.col("child").alias("cur"),
                F.expr("array_append(path, child)").alias("path"),
            )
            .localCheckpoint(eager=True)
        )

    bad_roots = bad.groupBy("root").agg(F.max("hit_cycle").alias("hit_cycle"))
    return (
        relations.select("rel_id")
        .join(bad_roots, relations["rel_id"] == bad_roots["root"], "left")
        .select(
            "rel_id",
            F.col("root").isNull().alias("is_expandable"),
            F.coalesce("hit_cycle", F.lit(False)).alias("hit_cycle"),
        )
    )


def outer_way_ids(relations: DataFrame, max_depth: int = 12) -> DataFrame:
    """(rel_id, way_id, pos) — outer ways of each relation, recursing through
    role='outer' sub-relations, circular refs silently skipped
    (OuterWayResolver semantics). pos is the way's rank in depth-first
    member order, the order the deterministic greedy stitcher reads.

    Each row carries its member-position path from the root (the member
    index at every level); sorting paths lexicographically gives
    depth-first order exactly, at any depth and any member count.
    """
    members = relation_members(relations)
    outer = members.filter(F.col("role") == "outer")
    way_members = outer.filter(F.col("kind") == "way")
    rel_members_outer = outer.filter(F.col("kind") == "rel")

    frontier = relations.select(
        F.col("rel_id").alias("root"),
        F.col("rel_id").alias("cur"),
        F.array(F.col("rel_id")).alias("path"),
        F.array().cast("array<int>").alias("pos_path"),
    )
    out = None
    for _ in range(max_depth):
        w = frontier.join(way_members, frontier["cur"] == way_members["rel_id"]) \
            .select(
                F.col("root").alias("rel_id"),
                F.col("ref").alias("way_id"),
                F.array_append("pos_path", F.col("pos")).alias("pos_path"),
            )
        out = w if out is None else out.unionByName(w)
        nxt = frontier.join(
            rel_members_outer, frontier["cur"] == rel_members_outer["rel_id"]
        ).filter(~F.expr("array_contains(path, ref)")).select(
            "root",
            F.col("ref").alias("cur"),
            F.expr("array_append(path, ref)").alias("path"),
            F.array_append("pos_path", F.col("pos")).alias("pos_path"),
        )
        if nxt.isEmpty():
            break
        frontier = nxt.localCheckpoint(eager=True)
    order = Window.partitionBy("rel_id").orderBy("pos_path")
    return out.select(
        "rel_id", "way_id", F.dense_rank().over(order).alias("pos"))
