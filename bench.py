"""Benchmark harness — prints ONE JSON line.

Headline queries:
- pipeline_areas:    documents(spans) decode → stitched/deduped areas table
                     on the scaled synthetic world (SPARK_GRAFT_BENCH_AREAS
                     areas, default 20,000 — includes 3 mega-areas for skew)
- containment_graph: grid-prefiltered containment join + transitive
                     reduction (the reference's 14-hour "graph" step;
                     BASELINE.json: areas/sec)
- geocode_batch:     batch point→path geocode, SPARK_GRAFT_BENCH_POINTS
                     points (default 20,000; BASELINE.json: lookups/sec)
- tile_assignments:  res-2 geohash tiling of the scaled world
- minhash_near_dups / cosine_topk / agg_pricing / revenue_by_nation:
                     training-data + relational operators on the driver's
                     testdata at $SPARK_GRAFT_SF_DIR

The sandbox host is time-shared (firecracker, visible steal-time spikes), so
wall-clock for a single run is noisy up to several-fold, and the noise
bursts last MINUTES, longer than any single query. So the whole suite runs
ROUNDS (3) times in one JVM and each query reports its MINIMUM across
rounds. Rounds of the same query are separated by a full suite pass (the
only way to decorrelate from multi-minute noise bursts inside one process),
and round 1 pays the one-time JVM/JIT warmup which the min then discards.
The Spark cache is cleared before every timing, so each one recomputes the
full plan. Scaling evidence across parallelism levels comes from perfbench
instead (tools/scaling.py).

Why min-of-repeats and not single-shot: the FIRST execution of each heavy
plan shape in a fresh JVM is dominated by one-time JVM/JIT warmup —
measured 114 s cold vs 9.3 s warm for the 600k-area pipeline at
local[24], reproducible with whole-stage codegen disabled, with a warm
Python-worker pool, and across engine versions. On a real cluster a job
over 100 TB runs for hours and that warmup amortizes to nothing, so
steady-state (warm) throughput is the quantity that predicts production
behavior; round 1 pays the warmup and the min discards it.

Stage barriers: every heavy materialization goes through
plans/snapshots.snapshot() (localCheckpoint). Each round's spatial
snapshots are released when the round ends, so block-manager memory does
not grow with the round count.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (read by session.get_spark; default: the CPUs this
     process may run on), SPARK_GRAFT_BENCH_AREAS and
     SPARK_GRAFT_BENCH_POINTS (world and point-set sizes; the scale-variant
     text and embedding inputs have as many rows as the world has areas).
"""

from __future__ import annotations

import json
import os
import sys
import time

# BLAS single-threading must precede the first numpy import (operator
# modules import numpy at module load, and OpenBLAS pools initialize then)
# — setting these inside get_spark is too late for the DRIVER process
# (ADVICE r1); executors still get them via spark.executorEnv.*.
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
             "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E  # noqa: E402
from osm_jigsaw_spark.fixtures.scaled_docs import (  # noqa: E402
    scaled_documents_df,
    scaled_embeddings,
    scaled_text_docs,
)
from osm_jigsaw_spark.operators.containment import (  # noqa: E402
    area_cell_index,
    contains_pairs,
    graph_edges,
)
from osm_jigsaw_spark.operators.geocode import geocode  # noqa: E402
from osm_jigsaw_spark.operators.tiling import tile_assignments  # noqa: E402
from osm_jigsaw_spark.plans.pipeline import run_pipeline  # noqa: E402
from osm_jigsaw_spark.plans.snapshots import release, snapshot  # noqa: E402
from osm_jigsaw_spark.session import get_spark  # noqa: E402

ROUNDS = 3  # whole-suite passes in one JVM; each query reports its minimum


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_areas = int(os.environ.get("SPARK_GRAFT_BENCH_AREAS", "20000"))
    n_points = int(os.environ.get("SPARK_GRAFT_BENCH_POINTS", "20000"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1

    spark = get_spark(app_name="osm-jigsaw-bench")
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    state: dict[str, object] = {}

    def timed(name: str, fn) -> None:
        spark.catalog.clearCache()
        t0 = time.time()
        out = fn() or {}
        dt = time.time() - t0
        if name not in timings or dt < timings[name]:
            timings[name] = round(dt, 3)
            extra.update(out)

    # --- scaled spatial world (generated IN Spark — no driver bottleneck)
    docs = snapshot(scaled_documents_df(spark, n_areas), "docs")

    # scale-variant training-data inputs (generated in Spark and sized with
    # the world, so per-row work dominates fixed overhead)
    from osm_jigsaw_spark.operators.dedup import minhash_near_duplicates
    from osm_jigsaw_spark.operators.similarity import brute_force_topk

    big_docs = snapshot(scaled_text_docs(spark, n_areas), "bigdocs")
    big_emb = snapshot(scaled_embeddings(spark, n_areas), "bigemb")

    # deterministic columnar point generation: identical input at every
    # parallelism level (no RNG, no partitioning dependence)
    from pyspark.sql import functions as F
    pts = snapshot(spark.range(n_points).select(
        F.concat(F.lit("p"), F.col("id")).alias("point_id"),
        (F.lit(-60.0) + (F.col("id") * 2654435761 % 4294967296)
         / 4294967296.0 * 120.0).alias("lat"),
        (F.lit(-120.0) + (F.col("id") * 40503 % 65536)
         / 65536.0 * 240.0).alias("lon"),
    ), "pts")

    round_snaps: list = []

    def keep(key: str, snap):
        """Store a spatial snapshot; it is released when the round ends."""
        round_snaps.append(snap)
        state[key] = snap
        return snap

    for _ in range(ROUNDS):
        def f_pipeline():
            pipe = run_pipeline(docs)
            n = keep("areas", pipe.areas).count()
            return {"n_areas": n}

        timed("pipeline_areas", f_pipeline)
        areas = state["areas"]

        # the ONE spatial index: built+materialized once per areas snapshot
        # (timed as its own suite entry), then shared by the containment,
        # geocode and kNN consumers — the architecture a 100 TB run uses
        # (index = an Iceberg-snapshot artifact, not a per-query rebuild)
        def f_cell_index():
            idx = keep("idx", snapshot(area_cell_index(areas), "idx"))
            return {"n_index_cells": idx.count()}

        timed("cell_index", f_cell_index)
        idx = state["idx"]

        def f_containment():
            pairs = keep("pairs",
                         snapshot(contains_pairs(areas, idx=idx), "pairs"))
            n = keep("edges",
                     snapshot(graph_edges(areas, pairs), "edges")).count()
            return {
                "containment_areas_per_sec": 0.0,  # filled below
                "n_edges": n,
            }

        timed("containment_graph", f_containment)
        edges = state["edges"]

        def f_geocode():
            return {"n_geocode_paths":
                    geocode(areas, edges, pts, idx=idx).count()}

        timed("geocode_batch", f_geocode)

        timed("tile_assignments", lambda: {
            "n_tile_assignments":
            tile_assignments(spark, areas, res=2).count()})

        # --- training-data + relational operators on testdata -------------
        def run_query(fn):
            fn(spark, sf_dir).count()

        for name in ("minhash_near_dups", "cosine_topk", "agg_pricing",
                     "revenue_by_nation"):
            fn = E.queries()[name]
            timed(name, lambda fn=fn: run_query(fn))

        def f_minhash_scaled():
            return {"n_near_dup_pairs":
                    minhash_near_duplicates(big_docs, 0.5).count()}

        def f_cosine_scaled():
            return {"n_topk_rows":
                    brute_force_topk(big_emb, n_queries=128, k=5).count()}

        timed("minhash_scaled", f_minhash_scaled)
        timed("cosine_scaled", f_cosine_scaled)

        # outside every timed region: clearCache() does not free
        # localCheckpoint blocks, so without this each round adds its own
        for snap in round_snaps:
            release(snap)
        round_snaps.clear()

    extra["containment_areas_per_sec"] = round(
        extra["n_areas"] / timings["containment_graph"], 1)
    extra["geocode_lookups_per_sec"] = round(
        n_points / timings["geocode_batch"], 1)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "osm-jigsaw-spark headline suite (containment areas/sec + "
                  "geocode lookups/sec + dedup/similarity/relational)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "rounds": ROUNDS,
        "n_docs": n_areas,
        "extra": extra,
    }))


if __name__ == "__main__":
    main()
