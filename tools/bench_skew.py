"""Skew stress bench (VERDICT r4 task 6): pathological worlds vs uniform.

Two deliberately hostile inputs, same sizes as the uniform bench world:

- HOT NODE: hot_node_rects — one world-spanning area that is the direct
  parent of every other area (the reference's >100k-children pathology,
  root README.md:159-161, at n-1 children). Exercises the adaptive-
  resolution covering + mega-polygon cell salting in
  operators/containment.py: candidates for the hot parent spread across
  its ≤MAX_COVER_CELLS covering cells instead of one shuffle key.
- BOILERPLATE CORPUS: boilerplate_text_docs — 30% of docs share one
  identical text, so each LSH band has a bucket holding 0.3*n docs.
  Exercises the LSH_MAX_BUCKET cap + lsh_oversized_buckets disclosure in
  operators/dedup.py: without the cap one band bucket lists O((0.3n)²)
  pairs.

Reports min-of-reps wall time for the uniform and pathological variant of
each pipeline plus the disclosure counts; the claim for BENCH_APPENDIX.md
is throughput within ~1.5x of the uniform world and a NON-EMPTY
lsh_oversized_buckets disclosure (no silent truncation).

Usage: python tools/bench_skew.py [n_areas] [n_docs] [reps]
(parallelism as session.get_spark sizes it; `cpus` in the output is the
resulting default parallelism)
"""

from __future__ import annotations

import json
import os
import sys
import time

for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
             "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osm_jigsaw_spark.fixtures.scaled_docs import (  # noqa: E402
    boilerplate_text_docs,
    hot_node_rects,
    scaled_documents_df,
    scaled_text_docs,
)
from osm_jigsaw_spark.operators.containment import (  # noqa: E402
    area_cell_index,
    contains_pairs,
    graph_edges,
)
from osm_jigsaw_spark.operators.dedup import (  # noqa: E402
    hashed_shingle_arrays,
    lsh_oversized_buckets,
    minhash_near_duplicates,
    minhash_signatures,
)
from osm_jigsaw_spark.plans.pipeline import run_pipeline  # noqa: E402
from osm_jigsaw_spark.plans.snapshots import snapshot  # noqa: E402
from osm_jigsaw_spark.session import get_spark  # noqa: E402


def main() -> None:
    n_areas = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    spark = get_spark(app_name="skew-stress")

    out: dict[str, object] = {"cpus": spark.sparkContext.defaultParallelism,
                              "n_areas": n_areas, "n_docs": n_docs}

    def timed(name: str, fn) -> None:
        best = None
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.time()
            n = fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        out[name] = round(best, 3)
        out[name + "_rows"] = n
        print(json.dumps({name: out[name], "rows": n}), flush=True)

    # --- containment: uniform vs hot-node world --------------------------
    worlds = {
        "uniform": scaled_documents_df(spark, n_areas),
        "hot": scaled_documents_df(
            spark, n_areas, rects=hot_node_rects(spark, n_areas)),
    }
    for label, docs_plan in worlds.items():
        docs = snapshot(docs_plan, f"docs_{label}")
        areas = run_pipeline(docs).areas

        def f_contain() -> int:
            idx = snapshot(area_cell_index(areas), f"idx_{label}")
            pairs = snapshot(contains_pairs(areas, idx=idx), f"p_{label}")
            return graph_edges(areas, pairs).count()

        timed(f"containment_{label}", f_contain)

    # --- minhash: uniform vs boilerplate corpus ---------------------------
    corpora = {
        "uniform": scaled_text_docs(spark, n_docs),
        "boiler": boilerplate_text_docs(spark, n_docs),
    }
    for label, corpus_plan in corpora.items():
        corpus = snapshot(corpus_plan, f"corpus_{label}")
        timed(f"minhash_{label}",
              lambda corpus=corpus:
              minhash_near_duplicates(corpus, 0.5).count())
        sigs = minhash_signatures(
            corpus, h_arrays=snapshot(hashed_shingle_arrays(corpus),
                                      f"h_{label}"))
        out[f"lsh_oversized_{label}"] = lsh_oversized_buckets(sigs).count()

    out["containment_ratio"] = round(
        out["containment_hot"] / out["containment_uniform"], 2)
    out["minhash_ratio"] = round(
        out["minhash_boiler"] / out["minhash_uniform"], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
