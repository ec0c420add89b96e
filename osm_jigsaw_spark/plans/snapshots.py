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
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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
