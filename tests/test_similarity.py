"""Banded-LSH embedding near-dup: recall vs the exact baseline, the
all-pairs size guard, and the hot-bucket cap (VERDICT r1 items 3 & 5).
LSH and IVF top-k: each is brute-force top-k restricted to its candidate
rule, computed in one masked corpus pass."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_jigsaw_spark.operators import similarity as SIM

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint()


def test_banded_subset_of_exact_on_testdata(embeddings):
    """Precision is 1 by construction (exact cosine verify): every banded
    pair is a true pair. The testdata has NO true near-dups (max cos 0.479),
    so threshold 0.45 samples the random-similarity tail — a regime LSH
    deliberately under-recalls (see test_recall_on_true_near_dups for the
    regime the operator targets)."""
    exact = {(r.vec_a, r.vec_b) for r in
             SIM.embedding_near_duplicates_exact(embeddings, 0.45).collect()}
    banded = {(r.vec_a, r.vec_b) for r in
              SIM.embedding_near_duplicates(embeddings, 0.45).collect()}
    assert banded <= exact
    assert len(exact) > 0


def test_recall_on_true_near_dups(spark):
    """Recall on actual near-duplicates (cos ~0.99): 100 base vectors each
    with a lightly-perturbed twin; r=8,b=8 theory gives P[found] ~0.9999
    per pair. Deterministic (fixed seed, md5 hyperplanes)."""
    import numpy as np
    rng = np.random.default_rng(42)
    base = rng.normal(size=(100, 64))
    twins = base + 0.05 * rng.normal(size=(100, 64))
    rows = []
    for i in range(100):
        rows.append((i * 2, [float(x) for x in base[i]]))
        rows.append((i * 2 + 1, [float(x) for x in twins[i]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    found = {(r.vec_a, r.vec_b) for r in
             SIM.embedding_near_duplicates(df, 0.95).collect()}
    true_pairs = {(i * 2, i * 2 + 1) for i in range(100)}
    hit = len(found & true_pairs) / len(true_pairs)
    assert hit >= 0.95, f"recall {hit} on true near-dup twins"


def test_exact_size_guard(embeddings):
    with pytest.raises(ValueError, match="all-pairs"):
        SIM.embedding_near_duplicates_exact(embeddings, 0.45, max_rows=10)


def test_hot_bucket_cap(spark):
    """10k identical vectors land in ONE bucket per band; with a small cap
    the bucket is skipped (no O(n^2) pair explosion) and disclosed."""
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(1.0), F.lit(2.0), F.lit(3.0), F.lit(4.0)])
        .cast("array<float>").alias("embedding"),
    )
    pairs = SIM.embedding_near_duplicates(df, 0.9, bands=4,
                                          planes_per_band=4, max_bucket=100)
    assert pairs.count() == 0
    over = SIM.oversized_buckets(df, bands=4, planes_per_band=4,
                                 max_bucket=100).collect()
    assert len(over) == 4  # one hot bucket disclosed per band
    assert all(r.bucket_n == n for r in over)


def test_cap_disabled_finds_identical_pairs(spark):
    """Sanity: below the cap, identical vectors pair up with cos 1.0."""
    df = spark.range(5).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.5), F.lit(-2.0), F.lit(3.0))
        .cast("array<float>").alias("embedding"),
    )
    rows = SIM.embedding_near_duplicates(df, 0.99, bands=4,
                                         planes_per_band=4).collect()
    assert len(rows) == 10  # C(5,2)
    assert all(abs(r.cos_sim - 1.0) < 1e-9 for r in rows)


def test_lsh_topk_matches_bruteforce_in_bucket(embeddings):
    """LSH contract: each query's rows are its brute-force top-k among the
    corpus rows with the query's sign signature, with identical cos_sim.
    k=500 covers the whole 500-row corpus, so the restriction is exact."""
    import numpy as np
    k, planes = 5, SIM.LSH_PLANES
    rows = embeddings.select("vec_id", "embedding").collect()
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    bits = (V @ SIM._plane_matrix(planes, V.shape[1]).T) >= 0.0
    sig = dict(zip((r.vec_id for r in rows),
                   bits.astype(np.int64) @ (1 << np.arange(planes))))
    lsh = SIM.lsh_topk(embeddings, n_queries=10, k=k, planes=planes)
    got = {(r.query_id, r.vec_id, r.cos_sim, r.rank) for r in lsh.collect()}
    assert got and all(sig[v] == sig[q] for q, v, _c, _r in got)
    want, seen = set(), {}
    bf = SIM.brute_force_topk(embeddings, n_queries=10, k=500).collect()
    for r in sorted(bf, key=lambda r: (r.query_id, r.rank)):
        if sig[r.vec_id] == sig[r.query_id]:
            rank = seen[r.query_id] = seen.get(r.query_id, 0) + 1
            if rank <= k:
                want.add((r.query_id, r.vec_id, r.cos_sim, rank))
    assert got == want


def test_topk_plans_one_map_in_pandas_no_join(embeddings, plan_nodes):
    """lsh_topk and ivf_topk are one masked corpus pass: no second
    mapInPandas (cell assignment), no join back to the embeddings."""
    for df in (SIM.lsh_topk(embeddings, n_queries=10, k=5),
               SIM.ivf_topk(embeddings, n_queries=10, k=5,
                            centroid_stride=31, nprobe=4)):
        classes = [c for c, _t in plan_nodes(df)]
        assert classes.count("MapInPandasExec") == 1
        assert not [c for c in classes if "Join" in c]


def test_ivf_topk_matches_bruteforce_restricted(embeddings):
    """IVF contract: results are exactly brute-force top-k restricted to
    probed cells — every returned neighbor appears in the brute-force
    top-k of a widened k, with identical cos_sim."""
    ivf = SIM.ivf_topk(embeddings, n_queries=10, k=5,
                       centroid_stride=31, nprobe=4).collect()
    assert len(ivf) > 0
    bf = SIM.brute_force_topk(embeddings, n_queries=10, k=500).collect()
    bf_sims = {(r.query_id, r.vec_id): r.cos_sim for r in bf}
    for r in ivf:
        assert (r.query_id, r.vec_id) in bf_sims
        assert abs(bf_sims[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9
    # ranks are 1..k contiguous per query
    by_q = {}
    for r in ivf:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ivf_auto_stride_keeps_nlist_sqrt_n():
    """Default-safety at scale (VERDICT r2 #1): with no explicit stride the
    quantizer is sized ceil(sqrt(n)), so nlist ~ sqrt(n) at ANY corpus
    size — never linear in n."""
    for n in (500, 10_000, 10**12):
        stride = SIM.auto_centroid_stride(n)
        nlist = n // stride + 1
        import math
        root = math.isqrt(n)
        assert stride >= root, (n, stride)
        assert nlist <= root + 2, f"nlist {nlist} not ~sqrt({n})"


def test_ivf_default_stride_green_and_bounded(embeddings):
    """ivf_topk with defaults (auto stride) runs end-to-end and obeys the
    same brute-force-restricted contract; an explicit tiny stride beyond
    the centroid cap fails fast instead of collecting unboundedly."""
    ivf = SIM.ivf_topk(embeddings, n_queries=5, k=3, nprobe=4).collect()
    assert len(ivf) > 0
    bf = SIM.brute_force_topk(embeddings, n_queries=5, k=500).collect()
    bf_sims = {(r.query_id, r.vec_id): r.cos_sim for r in bf}
    for r in ivf:
        assert (r.query_id, r.vec_id) in bf_sims
        assert abs(bf_sims[(r.query_id, r.vec_id)] - r.cos_sim) < 1e-9

    import unittest.mock as mock
    with mock.patch.object(SIM, "MAX_CENTROIDS", 10):
        with pytest.raises(ValueError, match="MAX_CENTROIDS"):
            SIM.ivf_topk(embeddings, n_queries=5, k=3, centroid_stride=1)


def test_ivf_recall_on_clustered_fixture(spark):
    """On clustered data (the regime IVF targets) probing enough cells to
    cover the query's own cluster recovers nearly all true neighbors.
    4 tight clusters around orthogonal axes; stride 17 over 200 vectors
    yields 3 near-identical centroids per cluster, so cluster members
    spread across 3 cells — nprobe=3 covers them all (nprobe=2 provably
    recalls ~2/3: the standard IVF recall/nprobe trade)."""
    import numpy as np
    rng = np.random.default_rng(7)
    rows = []
    for i in range(200):
        mean = np.zeros(8)
        mean[(i % 4) * 2] = 1.0
        v = mean + 0.05 * rng.normal(size=8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").localCheckpoint()
    ivf = SIM.ivf_topk(df, n_queries=8, k=5, centroid_stride=17,
                       nprobe=3).collect()
    bf = SIM.brute_force_topk(df, n_queries=8, k=5).collect()
    bf_set = {(r.query_id, r.vec_id) for r in bf}
    ivf_set = {(r.query_id, r.vec_id) for r in ivf}
    recall = len(ivf_set & bf_set) / len(bf_set)
    assert recall >= 0.9, f"recall@5 {recall} on clustered fixture"
