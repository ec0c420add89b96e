"""Physical-plan audit: count, per headline query, the plan properties
that matter at 100 TB — pushed filters, broadcast joins, AQE nodes,
codegen spans, Arrow eval nodes, higher-order-function lambdas.
tests/test_plan_invariants.py enforces the ones that must hold;
`df.explain("formatted")` shows a full plan.

Usage: python tools/explain_plans.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from osm_jigsaw_spark.session import get_spark  # noqa: E402

AUDIT = [
    "decode_nodes", "areas_table", "graph_edges", "geocode_paths",
    "tile_assignments", "knn", "agg_pricing", "revenue_by_nation",
    "semi_join_orders", "minhash_near_dups", "cosine_topk", "quality",
    "embedding_near_dups", "ivf_topk", "area_tags", "way_points_stats",
    "event_sessions",
]

MARKERS = {
    "PushedFilters": r"PushedFilters: \[[^\]]",
    "BroadcastHashJoin": r"BroadcastHashJoin",
    "CodegenSpans": r"codegen id : ",
    "AQEShuffleRead": r"AQEShuffleRead",
    "ArrowEval/MapInPandas": r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas",
    "SortMergeJoin": r"SortMergeJoin",
    "CartesianProduct (bad!)": r"CartesianProduct",
    "Exchange (shuffle)": r"\) Exchange\b",
    # interpreted higher-order-function lambdas: a count that grows with
    # each reference to an array expression flags re-evaluation (README
    # "Scale design", let-binding rule)
    "Lambdas": r"lambdafunction",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # local[nproc], shuffle partitions = nproc, as perfbench/run.py sizes
    # Spark: never a parallelism level above the CPUs this process may use
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="explain", cores=nproc,
                      shuffle_partitions=nproc)
    qs = E.queries()
    print("# PLANS — physical-plan audit of headline queries\n")
    print("Generated by `python tools/explain_plans.py`: marker counts per "
          "query in the executed physical plan, at "
          f"local[{nproc}] with {nproc} shuffle partitions (nproc {nproc}). "
          "`tests/test_plan_invariants.py` enforces the invariants.\n")
    print("| query | " + " | ".join(MARKERS) + " |")
    print("|---" * (len(MARKERS) + 1) + "|")
    for name in AUDIT:
        df = qs[name](spark, sf_dir)
        df.collect()  # execute THIS plan so AQE finalizes it
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        counts = [str(len(re.findall(pat, plan))) for pat in MARKERS.values()]
        print(f"| {name} | " + " | ".join(counts) + " |")


if __name__ == "__main__":
    main()
