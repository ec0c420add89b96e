"""SparkSession factory with scale-appropriate defaults.

Local mode is a correctness sandbox; the config keys are the ones that matter
on a real 1000-executor cluster too (AQE, skew-join handling, Arrow batching).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "osm-jigsaw-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: local[] parallelism; defaults to $SPARK_GRAFT_CPUS, else the
    number of CPUs this process may run on (never more than it can use).
    shuffle_partitions: defaults to cores (local mode should not use 200).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS")
                    or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(4, cores)

    # One BLAS thread per Python worker: N workers each spawning
    # n_cpus OpenBLAS/OMP threads (the numpy default) oversubscribes the
    # box N*n_cpus-fold and anti-scales every numpy UDF stage. Workers
    # inherit the driver environment in local mode; on a cluster set the
    # same via spark.executorEnv.*.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
