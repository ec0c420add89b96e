"""Relation expansion + outer-way resolution as one bounded walk.

The reference resolves relations with two recursive in-heap walks:
- RelationExpander.expandRelation (resolving/RelationExpander.scala:13-39):
  follows ALL relation-type members; a cycle or missing sub-relation rejects
  the whole root relation (no areas) and records it;
- OuterWayResolver.resolveOuterWayIdsFor (resolving/OuterWayResolver.scala:10-36):
  follows only role='outer' members; silently skips circular references.

Here both are one walk over every member (`relation_walk`). A row is one
member reached from a root along one path of sub-relations, and carries:
- `path`, the relations from the root down to the member's parent, for
  cycle detection (a rel member already on its path is a cycle and is not
  followed);
- `pos_path`, the member index at every level; sorting paths
  lexicographically gives depth-first member order at any depth;
- `all_outer`, the AND of role='outer' along the path. The outer-role walk
  is the all-member walk restricted to all-outer paths, so its ways are
  the walk's `all_outer` way rows: cycles are skipped the same way, and a
  missing sub-relation has no members to contribute.

The walk keeps only the rows its readers use: relation members on every
path (expansion follows them all), missing-ref rows, and way members on
all-outer paths. Node members and ways on other paths are dropped before
each level is snapshotted, so the walk holds the rows the two walks held
(relation edges along every path plus outer ways), however many
ancestors a relation has.

Level 1 is the member table itself, with no join. Each later level joins
the previous level's relation refs (those not on their path) with the
relations table; a sub-relation missing from it shows up in that join as
a kind='missing' row, so the missing-ref check needs no join of its own.
Cycle and missing rows give `expansion_status`'s rejected roots.

Levels are materialized by `plans.snapshots.frontier_loop`, which counts
each level's followable relation refs in the job that snapshots the
level: each level's join runs once, the emptiness test runs no job, and a
walk of depth-1 relations runs no join at all. Depth is bounded (OSM
relation nesting is shallow — max_depth=12 levels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.snapshots import frontier_loop


def _on_path():
    """A rel member already on its own path: a cycle."""
    return F.array_contains("path", F.col("ref"))


def relation_members(relations: DataFrame) -> DataFrame:
    """(rel_id, kind, ref, role, pos) exploded member table."""
    return relations.select(
        "rel_id", F.explode("members").alias("m")
    ).select("rel_id", "m.kind", "m.ref", "m.role", "m.pos")


def _used():
    """The walk rows a reader uses: relation members and missing refs
    (`rejections`), and ways on all-outer paths (`outer_ways`)."""
    kind = F.col("kind")
    return kind.isin("rel", "missing") | ((kind == "way") & F.col("all_outer"))


def relation_walk(relations: DataFrame, max_depth: int = 12) -> DataFrame:
    """(root, kind, ref, path array<long>, pos_path array<int>, all_outer)
    — the relation members, missing refs and all-outer ways reachable from
    each relation, one row per member per path, members of at most
    `max_depth` nesting levels.

    A sub-relation absent from `relations` adds one kind='missing' row (ref
    = the absent id) one level below its reference. Level max_depth + 1 is
    built only to find those, so it keeps only its 'missing' rows."""
    first = relation_members(relations).select(
        F.col("rel_id").alias("root"), "kind", "ref",
        F.array("rel_id").alias("path"),
        F.array("pos").alias("pos_path"),
        F.col("role").eqNullSafe("outer").alias("all_outer"),
    ).filter(_used())
    found = relations.select(
        F.col("rel_id").alias("cur"), "members", F.lit(True).alias("found"))

    def step(frontier: DataFrame) -> DataFrame:
        sub = frontier.select(
            "root",
            F.col("ref").alias("cur"),
            F.array_append("path", F.col("ref")).alias("path"),
            F.col("pos_path").alias("parent_pos"),
            F.col("all_outer").alias("parent_outer"),
        )
        missing = F.col("found").isNull()
        return sub.join(found, "cur", "left").select(
            "root", "cur", "path", "parent_pos", "parent_outer",
            missing.alias("missing"), F.explode_outer("members").alias("m"),
        ).filter(F.col("missing") | F.col("m").isNotNull()).select(
            "root",
            F.when(F.col("missing"), F.lit("missing"))
            .otherwise(F.col("m.kind")).alias("kind"),
            F.when(F.col("missing"), F.col("cur"))
            .otherwise(F.col("m.ref")).alias("ref"),
            "path",
            F.when(F.col("missing"), F.col("parent_pos"))
            .otherwise(F.array_append("parent_pos", F.col("m.pos")))
            .alias("pos_path"),
            (F.col("parent_outer") & F.col("m.role").eqNullSafe("outer"))
            .alias("all_outer"),
        ).filter(_used())

    follow = (F.col("kind") == "rel") & ~_on_path()
    walked = frontier_loop(first, step, max_depth + 1, follow)
    return walked.filter(
        (F.size("path") <= max_depth) | (F.col("kind") == "missing"))


def rejections(walk: DataFrame) -> DataFrame:
    """(root, hit_cycle) — one row per cycle (hit_cycle) or missing
    sub-relation a root's walk meets; a root with any row is rejected."""
    cycle = (F.col("kind") == "rel") & _on_path()
    return walk.filter(cycle | (F.col("kind") == "missing")).select(
        "root", cycle.alias("hit_cycle"))


def expansion_status(relations: DataFrame, max_depth: int = 12) -> DataFrame:
    """(rel_id, is_expandable, hit_cycle) per relation.

    is_expandable=false ⇔ the reference's expandRelation would return None
    (cycle among rel members at any depth, or a missing sub-relation).
    hit_cycle marks the relations recorded in `recursive_relations`
    (steps/ExtractEntities.scala:14-18 analog).
    """
    bad = rejections(relation_walk(relations, max_depth)).groupBy("root") \
        .agg(F.max("hit_cycle").alias("hit_cycle"))
    return (
        relations.select("rel_id")
        .join(bad, relations["rel_id"] == bad["root"], "left")
        .select(
            "rel_id",
            F.col("root").isNull().alias("is_expandable"),
            F.coalesce("hit_cycle", F.lit(False)).alias("hit_cycle"),
        )
    )


def outer_ways(walk: DataFrame) -> DataFrame:
    """(rel_id, way_id, pos_path, path) — the walk's ways reached along
    all-outer paths."""
    return walk.filter((F.col("kind") == "way") & F.col("all_outer")).select(
        F.col("root").alias("rel_id"), F.col("ref").alias("way_id"),
        "pos_path", "path")


def outer_way_ids(relations: DataFrame, max_depth: int = 12) -> DataFrame:
    """(rel_id, way_id, pos) — outer ways of each relation, recursing through
    role='outer' sub-relations, circular refs silently skipped
    (OuterWayResolver semantics). pos is the way's rank in depth-first
    member order, the order the deterministic greedy stitcher reads."""
    order = Window.partitionBy("rel_id").orderBy("pos_path")
    return outer_ways(relation_walk(relations, max_depth)).select(
        "rel_id", "way_id", F.dense_rank().over(order).alias("pos"))
