"""Whole-graph path operators: enumeration (G8) and id-chain walk (G6).

- enumerate_all_paths re-expresses the output module's full trace dump
  (osm-jigsaw-output/src/main/scala/Main.scala:27-70): every root-to-leaf
  path, grouped by leaf. A bounded level-by-level frontier join
  (plans.snapshots.frontier_loop), one snapshot per level.
- walk_path re-expresses the API's nodesFor id-chain follow
  (osm-jigsaw-api/app/controllers/Application.scala:79-106): validate a
  given root-first id chain edge by edge; the walk stops at the first
  missing edge (reference returns the prefix it could follow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.snapshots import frontier_loop
from .containment import ROOT_ID


def enumerate_all_paths(edges: DataFrame, max_depth: int = 64) -> DataFrame:
    """(leaf_osm_id, path array<string>) — all root-to-leaf traces."""
    e = edges.select("parent_key", "child_key", "child_osm_id") \
        .localCheckpoint(eager=True)
    parents = e.select(F.col("parent_key").alias("pk")).distinct() \
        .localCheckpoint(eager=True)
    eb = e.select(
        F.col("parent_key").alias("b_parent"),
        F.col("child_key").alias("b_child"),
        F.col("child_osm_id").alias("b_osm"),
    )
    seed = e.filter(F.col("parent_key") == ROOT_ID).select(
        F.col("child_key").alias("node"),
        F.array(F.col("child_osm_id")).alias("path"),
    )

    def step(frontier: DataFrame) -> DataFrame:
        return frontier.join(eb, frontier["node"] == eb["b_parent"]).select(
            F.col("b_child").alias("node"),
            F.array_append("path", F.col("b_osm")).alias("path"),
        )

    walked = frontier_loop(seed, step, max_depth)
    return walked.join(
        parents, walked["node"] == parents["pk"], "left_anti"
    ).select(F.element_at("path", -1).alias("leaf_osm_id"), "path")


def walk_path(edges: DataFrame, osm_id_chain: list[str]) -> DataFrame:
    """Follow a root-first osm_id chain through the graph; returns one row
    per chain step that is backed by an edge (prefix semantics).

    Output: (pos, parent_osm_id, child_osm_id, ok)."""
    spark = edges.sparkSession
    chain = [ROOT_ID] + list(osm_id_chain)
    steps = spark.createDataFrame(
        [(i, chain[i], chain[i + 1]) for i in range(len(chain) - 1)],
        "pos int, parent_osm_id string, child_osm_id string",
    )
    hit = edges.select("parent_osm_id", "child_osm_id").distinct() \
        .withColumn("ok", F.lit(True))
    walked = steps.join(hit, ["parent_osm_id", "child_osm_id"], "left") \
        .withColumn("ok", F.coalesce("ok", F.lit(False)))
    # prefix semantics: a step is valid only if all earlier steps are —
    # a running-min window over the (tiny, single-chain) pos order; stays
    # a DataFrame end to end (no driver collect in the operator path)
    w = Window.orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        walked.withColumn(
            "ok", F.min(F.col("ok").cast("int")).over(w) == 1)
        .filter("ok")
        .select("pos", "parent_osm_id", "child_osm_id", "ok")
    )
