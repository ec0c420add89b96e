"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension (no reference analog):

- brute_force_topk: exact cosine top-k. The query side is small by
  definition (a bounded query set), so it is collected, L2-normalized in
  numpy, and broadcast; the corpus side streams through a vectorized
  mapInPandas kernel that computes one matmul per Arrow batch and emits
  only the per-batch top-k per query. A final (tiny) window merge yields
  the exact global top-k — per-batch pruning is lossless because both
  levels use the same total order (cos_sim desc, vec_id asc). At 100 TB
  the shuffle after the kernel carries ≤ k·n_queries rows per partition,
  never the corpus.
- lsh_topk: random-hyperplane LSH — hyperplane components derived from
  md5("p:<plane>:<dim>") (deterministic across engines AND runs, no RNG);
  sign signature → bucket match against the broadcast query signatures →
  exact cosine only within matching buckets. Candidates shrink
  ~2^planes-fold; recall tunable by planes.
- embedding_near_duplicates: banded sign-signature LSH (b bands × r
  planes) → pairs listed inside each capped (band, sig) bucket
  (dedup.bucket_pairs, no self-join) → pure-codegen columnar cosine
  verify. No driver collect, no corpus broadcast, no all-pairs;
  embedding_near_duplicates_exact is the guarded small-scale baseline.

All kernels are Arrow-batched numpy (no per-row Python), stay
embarrassingly partition-parallel, and never shuffle the corpus.
"""

from __future__ import annotations

import functools
import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import LSH_MAX_BUCKET, bucket_pairs
from .dedup import oversized_buckets as _oversized

LSH_PLANES = 8  # signature bits

_OUT_SCHEMA = "query_id long, vec_id long, cos_sim double"


def _collect_queries(embeddings: DataFrame, n_queries: int):
    """(q_ids int64[nq], Q float64[nq, d]) — the bounded query set."""
    rows = (
        embeddings.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r.vec_id)
    q_ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    Q = np.array([r.embedding for r in rows], dtype=np.float64)
    return q_ids, Q


def _batch_topk(sims: np.ndarray, vec_ids: np.ndarray, q_ids: np.ndarray,
                k: int):
    """Per-query top-k rows of a (n_rows, n_q) rounded sims matrix under
    the total order (cos_sim desc, vec_id asc). Returns a pandas frame."""
    out_q, out_v, out_s = [], [], []
    n = sims.shape[0]
    kk = min(k, n)
    for qi in range(sims.shape[1]):
        col = sims[:, qi]
        mask = vec_ids != q_ids[qi]
        idx = np.nonzero(mask)[0]
        if idx.size == 0:
            continue
        sub = col[idx]
        take = min(kk, idx.size)
        # lexsort: primary -sub desc, tie-break vec_id asc
        order = np.lexsort((vec_ids[idx], -sub))[:take]
        sel = idx[order]
        out_q.append(np.full(take, q_ids[qi], dtype=np.int64))
        out_v.append(vec_ids[sel])
        out_s.append(col[sel])
    if not out_q:
        return pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                             "vec_id": pd.Series([], dtype="int64"),
                             "cos_sim": pd.Series([], dtype="float64")})
    return pd.DataFrame({
        "query_id": np.concatenate(out_q),
        "vec_id": np.concatenate(out_v),
        "cos_sim": np.concatenate(out_s),
    })


def _rank_merge(partial: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim",
                F.col("rank").cast("long").alias("rank"))
    )


def brute_force_topk(embeddings: DataFrame, n_queries: int = 20,
                     k: int = 5) -> DataFrame:
    """(query_id, vec_id, cos_sim, rank) — exact cosine top-k for the first
    n_queries vec_ids against the whole corpus."""
    spark = embeddings.sparkSession
    q_ids, Q = _collect_queries(embeddings, n_queries)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, Qn))

    def kernel(batches):
        b_ids, b_Qn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(list(pdf["embedding"]), dtype=np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            sims = np.round(Cn @ b_Qn.T, 6)
            yield _batch_topk(sims, pdf["vec_id"].to_numpy(np.int64),
                              b_ids, k)

    partial = embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, _OUT_SCHEMA)
    return _rank_merge(partial, k)


@functools.cache
def _plane_matrix(planes: int, dim: int) -> np.ndarray:
    """(planes, dim) pseudo-random hyperplanes from the portable md5 hash:
    component = int(md5("p:<p>:<d>")[:15 hex], 16) / 2^59 - 1 ∈ [-1, 1).
    Built once per process, driver or worker, with no job or broadcast;
    read-only, as every caller shares it."""
    M = np.empty((planes, dim), dtype=np.float64)
    for p in range(planes):
        for d in range(dim):
            h = hashlib.md5(f"p:{p}:{d}".encode()).hexdigest()[:15]
            M[p, d] = int(h, 16) / float(2 ** 59) - 1.0
    M.flags.writeable = False
    return M


def _signatures(V: np.ndarray, M: np.ndarray) -> np.ndarray:
    """int64 bucket id per row: bit p set iff V·plane_p >= 0."""
    bits = (V @ M.T) >= 0.0
    weights = (1 << np.arange(M.shape[0], dtype=np.int64))
    return bits.astype(np.int64) @ weights


def lsh_topk(embeddings: DataFrame, n_queries: int = 20, k: int = 5,
             planes: int = LSH_PLANES) -> DataFrame:
    """(query_id, vec_id, cos_sim, rank) — approximate top-k: candidates
    restricted to corpus rows whose sign signature equals the query's."""
    spark = embeddings.sparkSession
    q_ids, Q = _collect_queries(embeddings, n_queries)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    q_sigs = _signatures(Q, _plane_matrix(planes, Q.shape[1]))
    bc = spark.sparkContext.broadcast((q_ids, Qn, q_sigs))

    def kernel(batches):
        b_ids, b_Qn, b_sigs = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(list(pdf["embedding"]), dtype=np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            c_sigs = _signatures(C, _plane_matrix(planes, C.shape[1]))
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            frames = []
            for qi in range(len(b_ids)):
                hit = c_sigs == b_sigs[qi]
                hit &= vec_ids != b_ids[qi]
                idx = np.nonzero(hit)[0]
                if idx.size == 0:
                    continue
                sims = np.round(Cn[idx] @ b_Qn[qi], 6)
                take = min(k, idx.size)
                order = np.lexsort((vec_ids[idx], -sims))[:take]
                frames.append(pd.DataFrame({
                    "query_id": np.full(take, b_ids[qi], dtype=np.int64),
                    "vec_id": vec_ids[idx][order],
                    "cos_sim": sims[order],
                }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    partial = embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, _OUT_SCHEMA)
    return _rank_merge(partial, k)


EMB_BANDS = 8
EMB_BAND_PLANES = 8


def band_signatures(embeddings: DataFrame, bands: int = EMB_BANDS,
                    planes_per_band: int = EMB_BAND_PLANES) -> DataFrame:
    """(vec_id, band, sig) — banded random-hyperplane sign signatures.

    One Arrow-batched matmul per batch against the (bands·planes_per_band,
    dim) md5-derived plane matrix (planes 0..total-1 of _plane_matrix, so
    band 0 coincides with lsh_topk's signature). Shuffle-free; output is
    bands rows per input row, each a few bytes."""
    total = bands * planes_per_band
    weights = (1 << np.arange(planes_per_band, dtype=np.int64))
    band_ids = np.arange(bands, dtype=np.int64)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(list(pdf["embedding"]), dtype=np.float64)
            M = _plane_matrix(total, C.shape[1])
            bits = (C @ M.T) >= 0.0  # (n, total)
            sigs = bits.reshape(len(pdf), bands, planes_per_band) @ weights
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(np.int64), bands),
                "band": np.tile(band_ids, len(pdf)),
                "sig": sigs.reshape(-1),
            })

    return embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, "vec_id long, band long, sig long")


def _cos_sim_col(va, vb):
    """Columnar cosine similarity of two array<double> columns — stays in
    whole-stage codegen (zip_with product + aggregate sum), no Python."""
    def dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda a, b: a * b),
                           F.lit(0.0), lambda acc, v: acc + v)
    return dot(va, vb) / (F.sqrt(dot(va, va)) * F.sqrt(dot(vb, vb)))


def embedding_near_duplicates(embeddings: DataFrame,
                              threshold: float = 0.45,
                              bands: int = EMB_BANDS,
                              planes_per_band: int = EMB_BAND_PLANES,
                              max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """(vec_a, vec_b, cos_sim) — banded-LSH cosine near-duplicates
    (vec_a < vec_b, cos_sim ≥ threshold among same-bucket candidates).

    Scale path (no driver collect, no corpus broadcast, no all-pairs):

    1. banded sign signatures (band_signatures) — shuffle-free scan,
       run once (its mapInPandas has one consumer);
    2. bucket-size accounting: (band, sig) buckets larger than max_bucket
       are excluded from candidate generation (an n-doc hot bucket would
       emit n²/2 pairs on one shuffle key); oversized_buckets() reports
       what was skipped — no silent truncation;
    3. candidate pairs listed inside each kept bucket, distinct
       (dedup.bucket_pairs: one exchange, no self-join). A band has 2^r
       sig values, so buckets hold about n/2^r vectors; at a mean of
       ~117 (30k vectors, one run each) wall and peak memory matched the
       self-join's (BENCH_APPENDIX.md);
    4. exact cosine verify as a pure-codegen columnar expression
       (_cos_sim_col) after joining the pair ids back to the embeddings.

    Recall: a pair at angle θ collides in one band with (1 - θ/π)^r and
    overall 1-(1-(1-θ/π)^r)^b; near-identical vectors (cos ≥ 0.95) are
    found with P > 0.9999 at r=8, b=8. The DuckDB oracle
    (oracles.sql_embedding_near_dups) mirrors the banding derivationally,
    so the gate checks the implementation, not the probabilistic recall —
    embedding_near_duplicates_exact is the exact reference for recall
    tests (tests/test_similarity.py)."""
    cand = bucket_pairs(band_signatures(embeddings, bands, planes_per_band),
                        ["band", "sig"], "vec_id", max_bucket).select(
        F.col("a").alias("vec_a"), F.col("b").alias("vec_b"))
    e = embeddings.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    # exploding the filtered one-element array is the threshold filter, so
    # no predicate pushed into the join evaluates the cosine a second time
    scored = F.array(F.round(_cos_sim_col("va", "vb"), 6))
    return (cand.join(ea, "vec_a").join(eb, "vec_b")
            .select("vec_a", "vec_b",
                    F.explode(F.filter(scored, lambda c: c >= threshold))
                    .alias("cos_sim")))


def oversized_buckets(embeddings: DataFrame, bands: int = EMB_BANDS,
                      planes_per_band: int = EMB_BAND_PLANES,
                      max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """(band, sig, bucket_n) for buckets embedding_near_duplicates skipped
    — the disclosure side of the hot-bucket cap."""
    return _oversized(band_signatures(embeddings, bands, planes_per_band),
                      ["band", "sig"], max_bucket)


def embedding_near_duplicates_exact(embeddings: DataFrame,
                                    threshold: float = 0.45,
                                    max_rows: int = 200_000) -> DataFrame:
    """(vec_a, vec_b, cos_sim) — exact all-pairs cosine near-duplicates.

    Block formulation: the normalized corpus is broadcast once and each
    Arrow batch emits its block of the similarity matrix above the
    threshold — one matmul per batch, rows only for qualifying pairs.
    O(corpus) driver memory and O(n²) compute by construction, so it
    refuses to run above max_rows — it is the small-scale recall baseline
    for embedding_near_duplicates, not the production path."""
    spark = embeddings.sparkSession
    n = embeddings.count()
    if n > max_rows:
        raise ValueError(
            f"embedding_near_duplicates_exact is all-pairs (n={n} > "
            f"max_rows={max_rows}); use embedding_near_duplicates (banded "
            "LSH) at scale")
    rows = embeddings.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, Vn))

    def kernel(batches):
        c_ids, c_Vn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.array(list(pdf["embedding"]), dtype=np.float64)
            Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
            b_ids = pdf["vec_id"].to_numpy(np.int64)
            sims = np.round(Bn @ c_Vn.T, 6)
            keep = (sims >= threshold) & (b_ids[:, None] < c_ids[None, :])
            bi, ci = np.nonzero(keep)
            if bi.size:
                yield pd.DataFrame({
                    "vec_a": b_ids[bi], "vec_b": c_ids[ci],
                    "cos_sim": sims[bi, ci],
                })

    return embeddings.select("vec_id", "embedding").mapInPandas(
        kernel, "vec_a long, vec_b long, cos_sim double")


MAX_CENTROIDS = 1 << 20  # hard cap on the collected quantizer (nlist)


def auto_centroid_stride(n: int) -> int:
    """ceil(sqrt(n)) — the stride that keeps nlist ~ sqrt(n) for any
    corpus size, so the collected quantizer stays a bounded artifact."""
    return max(1, math.isqrt(max(n - 1, 0)) + 1)


def ivf_topk(embeddings: DataFrame, n_queries: int = 20, k: int = 5,
             centroid_stride: int | None = None, nprobe: int = 4) -> DataFrame:
    """(query_id, vec_id, cos_sim, rank) — IVF (inverted-file) approximate
    top-k: the coarse-quantizer scale path alongside lsh_topk.

    Index build (one corpus pass, shuffle-free):
      1. centroids = rows with vec_id % centroid_stride == 0 — a
         deterministic stride sample standing in for k-means training
         (FAISS trains its quantizer on a bounded sample the same way).
         centroid_stride=None (the default) derives stride=ceil(sqrt(n))
         from a corpus count() so nlist ~ sqrt(n) at ANY corpus size —
         a fixed stride would make nlist (and the driver-collected
         quantizer) grow linearly with the corpus. The collected centroid
         matrix (nlist x dim doubles) is the bounded index artifact,
         broadcast once — the corpus itself is never collected; a hard
         MAX_CENTROIDS cap fails fast if an explicit stride would
         collect an unbounded quantizer.
      2. every vector -> nearest centroid (max rounded cosine, tie ->
         lowest centroid id) via one BLAS matmul per Arrow batch.

    Query (bounded set, vec_id < n_queries):
      3. each query probes its nprobe nearest centroids (driver-side
         numpy over the same broadcast matrix);
      4. candidates = corpus rows assigned to a probed cell (broadcast
         hash join on cell — no corpus shuffle), self excluded;
      5. exact cosine verify as a pure-codegen columnar expression
         (_cos_sim_col, summation order identical to the DuckDB oracle),
         then per-query top-k (cos desc, vec_id asc).

    Results are exactly brute-force top-k restricted to probed cells —
    the DuckDB oracle (oracles.sql_ivf_topk) mirrors every step
    derivationally; recall-vs-nprobe behavior is covered by
    tests/test_similarity.py on a clustered fixture. At 100 TB: the only
    shuffles are candidate-sized (window by query_id), assignment is a
    map-only pass, and skewed cells bound at cell population — nlist
    ~ sqrt(n) keeps expected cell size ~ sqrt(n)."""
    spark = embeddings.sparkSession
    if centroid_stride is None:
        centroid_stride = auto_centroid_stride(embeddings.count())
    # limit() bounds the driver transfer BEFORE collecting, so a too-small
    # explicit stride fails fast instead of OOMing the driver
    cent_rows = (
        embeddings.filter(F.col("vec_id") % centroid_stride == 0)
        .select("vec_id", "embedding").limit(MAX_CENTROIDS + 1).collect())
    if len(cent_rows) > MAX_CENTROIDS:
        raise ValueError(
            f"ivf_topk: centroid_stride={centroid_stride} selects more than "
            f"MAX_CENTROIDS={MAX_CENTROIDS} centroids — the quantizer must "
            f"stay a bounded driver artifact; raise centroid_stride (or "
            f"pass None to derive ceil(sqrt(n)))")
    cent_rows.sort(key=lambda r: r.vec_id)
    c_ids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
    C = np.array([r.embedding for r in cent_rows], dtype=np.float64)
    Cnorm = np.linalg.norm(C, axis=1)
    bc = spark.sparkContext.broadcast((c_ids, C, Cnorm))

    def assign(batches):
        ids_, C_, Cn_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(list(pdf["embedding"]), dtype=np.float64)
            sims = np.round(
                (V @ C_.T) / (np.linalg.norm(V, axis=1)[:, None]
                              * Cn_[None, :]), 6)
            # argmax picks the first maximal column; ids_ ascending =>
            # ties resolve to the lowest centroid id (oracle order).
            cell = ids_[np.argmax(sims, axis=1)]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": cell})

    assignments = embeddings.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, cell long")

    q_ids, Q = _collect_queries(embeddings, n_queries)
    qsims = np.round((Q @ C.T) / (np.linalg.norm(Q, axis=1)[:, None]
                                  * Cnorm[None, :]), 6)
    probe_rows = []
    for qi in range(len(q_ids)):
        order = np.lexsort((c_ids, -qsims[qi]))[:nprobe]
        probe_rows += [(int(q_ids[qi]), int(c_ids[c])) for c in order]
    probes = spark.createDataFrame(probe_rows, "query_id long, cell long")

    cand = (assignments.join(F.broadcast(probes), "cell")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id"))
    e = embeddings.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    partial = (
        cand.join(e, "vec_id")
        .join(e.select(F.col("vec_id").alias("query_id"),
                       F.col("v").alias("qv")), "query_id")
        .withColumn("cos_sim", F.round(_cos_sim_col("qv", "v"), 6))
        .select("query_id", "vec_id", "cos_sim"))
    return _rank_merge(partial, k)
