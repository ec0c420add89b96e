"""Stage-barrier materialization via localCheckpoint.

Heavy pipeline stages need a materialization barrier: the stage result
feeds several downstream branches that do not share exchanges (left lazy,
the subtree re-executes once per branch), and on a cluster the stage is an
Iceberg snapshot. The barrier is ``localCheckpoint(eager=True)``. A temp
parquet write+read barrier was measured against it (interleaved A/B, 600k
areas, local[4] and local[16]) and lost the core suite 104.0 s vs 68.3 s
at local[16]: a barrier is read by several branches, and each read
re-decodes parquet's nested geometry arrays, while localCheckpoint serves
re-reads from block-manager memory (BENCH_APPENDIX.md). Durable resume
points that must survive the JVM are parquet via plans/checkpoints.py.

`frontier_loop` is the one bounded level-by-level walk (relation
expansion, node depths, path enumeration). Each level is snapshotted, and
the snapshot's own job counts the level's frontier rows (an observed
metric), so every level's join runs once and the emptiness test runs no
job of its own.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def snapshot(df: DataFrame, name: str = "snap") -> DataFrame:
    """Materialize ``df`` into the block manager and return a barrier over
    its rows. ``name`` labels the barrier for callers that observe it."""
    return df.localCheckpoint(eager=True)


def release(snap: DataFrame) -> None:
    """Free the block-manager partitions behind a ``snapshot`` result.

    ``DataFrame.unpersist`` does not reach them (the checkpointed RDD is not
    registered with the cache manager, pyspark 4.1), so this unpersists the
    RDD under the snapshot's LogicalRDD. The snapshot is unreadable after."""
    snap._jdf.queryExecution().logical().rdd().unpersist(True)


def frontier_loop(seed: DataFrame, step: Callable[[DataFrame], DataFrame],
                  max_depth: int, follow: Column | None = None) -> DataFrame:
    """Union of the levels of a bounded breadth-first walk. `seed` is level
    1; `step(frontier)` builds the next level from the rows of a
    snapshotted level that match `follow` (all rows when None). At most
    `max_depth` levels are built, and the walk stops at the first empty
    frontier. Every level is a snapshot, so the union reads materialized
    rows. An empty seed gives `limit(0)`: the optimizer makes it an empty
    LocalRelation, so plans over the walk prune their scans and joins."""
    def counted(df: DataFrame) -> tuple[DataFrame, dict]:
        seen = Observation()
        rows = F.count(F.lit(1) if follow is None else F.when(follow, 1))
        snap = snapshot(df.observe(seen, rows.alias("n"),
                                   F.count(F.lit(1)).alias("rows")))
        return snap, seen.get

    level, seen = counted(seed)
    if seen["rows"] == 0:
        return level.limit(0)
    walked = level
    for _ in range(max_depth - 1):
        if seen["n"] == 0:
            break
        level, seen = counted(
            step(level if follow is None else level.filter(follow)))
        walked = walked.unionByName(level)
    return walked
