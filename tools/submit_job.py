"""spark-submit entrypoint for the full documents→graph pipeline.

The north rule requires the job to be launched via `spark-submit
--py-files` at two cluster sizes. Package + launch:

    python tools/make_pyfiles.py                      # dist/osm_jigsaw_spark.zip
    spark-submit --master local[1] --py-files dist/osm_jigsaw_spark.zip \
        tools/submit_job.py --docs <documents.parquet> --out /tmp/run_n
    spark-submit --master "local[$(nproc)]" --py-files dist/osm_jigsaw_spark.zip \
        tools/submit_job.py --docs <documents.parquet> --out /tmp/run_4n

On a real cluster the only change is the master/deploy-mode flags
(--master yarn --num-executors N); the job itself is pure DataFrame code
and never touches driver-local state except the checkpoint root, which
must then be a shared filesystem/object-store path.

With --synthetic N, the input is the deterministic scaled world generated
IN Spark (fixtures/scaled_docs.py) instead of a parquet path. The job
writes per-stage checkpoints with lineage+metrics sidecars (resumable:
re-running with the same --out resumes at the last completed stage) and
prints one JSON line of stage/row/timing facts.
"""

from __future__ import annotations

import argparse
import json
import os
import time

# BLAS single-threading before the first numpy import (driver-side; see
# bench.py header note — get_spark is too late for the driver process)
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
             "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_var, "1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", help="documents parquet path")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate a scaled world of N areas instead")
    ap.add_argument("--out", required=True, help="checkpoint root")
    ap.add_argument("--geocode-points", type=int, default=0,
                    help="also geocode N deterministic points")
    args = ap.parse_args()

    # Import AFTER spark-submit has put --py-files on sys.path.
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from osm_jigsaw_spark.plans.checkpoints import run_checkpointed

    spark = SparkSession.builder.appName("osm-jigsaw-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    if args.synthetic:
        from osm_jigsaw_spark.fixtures.scaled_docs import scaled_documents_df
        docs = scaled_documents_df(spark, args.synthetic)
    else:
        if not args.docs:
            raise SystemExit("one of --docs / --synthetic is required")
        docs = spark.read.parquet(args.docs)

    cp = run_checkpointed(spark, docs, args.out)
    facts = {
        "stages": {
            name: {"resumed": st.resumed, "wall_sec": round(st.wall_sec, 3),
                   "rows": st.df.count()}
            for name, st in cp.stages.items()
        },
    }

    if args.geocode_points:
        from osm_jigsaw_spark.operators.geocode import geocode
        n = args.geocode_points
        pts = spark.range(n).select(
            F.concat(F.lit("p"), F.col("id")).alias("point_id"),
            (F.lit(-60.0) + (F.col("id") * 2654435761 % 4294967296)
             / 4294967296.0 * 120.0).alias("lat"),
            (F.lit(-120.0) + (F.col("id") * 40503 % 65536)
             / 65536.0 * 240.0).alias("lon"),
        )
        t1 = time.time()
        paths = geocode(cp.stages["areas"].df, cp.stages["graph_edges"].df, pts)
        n_paths = paths.count()
        facts["geocode"] = {
            "points": n, "paths": n_paths,
            "wall_sec": round(time.time() - t1, 3),
            "lookups_per_sec": round(n / max(time.time() - t1, 1e-9), 1),
        }

    facts["total_wall_sec"] = round(time.time() - t0, 3)
    facts["parallelism"] = spark.sparkContext.defaultParallelism
    print(json.dumps(facts))
    spark.stop()


if __name__ == "__main__":
    main()
