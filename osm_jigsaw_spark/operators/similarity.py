"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension (no reference analog):

- brute_force_topk, lsh_topk, ivf_topk: exact cosine top-k, filter then
  refine. All three run one kernel, _exact_topk: the query side is small
  by definition (a bounded query set), so it is collected, L2-normalized
  in numpy, and broadcast with the operator's candidate state; the corpus
  streams through one vectorized mapInPandas pass that computes one
  matmul per Arrow batch, masks it with the operator's candidate rule and
  emits only the per-batch top-k per query. A final (tiny) window merge
  yields the exact global top-k — per-batch pruning is lossless because
  both levels use the same total order (cos_sim desc, vec_id asc). At
  100 TB the shuffle after the kernel carries ≤ k·n_queries rows per
  partition, never the corpus. The operators differ only in the mask:
  none for brute force; same random-hyperplane sign signature as the
  query for lsh_topk (hyperplane components derived from
  md5("p:<plane>:<dim>") — deterministic across engines AND runs, no RNG;
  candidates shrink ~2^planes-fold, recall tunable by planes); nearest
  centroid among the query's probed cells for ivf_topk.
- embedding_near_duplicates: banded sign-signature LSH (b bands × r
  planes) → pairs listed inside each capped (band, sig) bucket
  (dedup.bucket_pairs, no self-join) → columnar cosine verify (an
  interpreted zip_with/aggregate expression). No driver collect, no
  corpus broadcast, no all-pairs; embedding_near_duplicates_exact is the
  guarded small-scale baseline.

The kernels are Arrow-batched numpy (no per-row Python), stay
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


def _rows(pdf: pd.DataFrame) -> np.ndarray:
    """float64 (n, dim) matrix of an Arrow batch's embedding column."""
    return np.array(list(pdf["embedding"]), dtype=np.float64)


def _unit(V: np.ndarray) -> np.ndarray:
    """Rows of V scaled to unit L2 norm."""
    return V / np.linalg.norm(V, axis=1, keepdims=True)


def _collect(embeddings: DataFrame):
    """(ids int64[n], V float64[n, dim]) in vec_id order — for bounded
    frames only (the query set, the quantizer, the exact baseline)."""
    rows = sorted(embeddings.select("vec_id", "embedding").collect(),
                  key=lambda r: r.vec_id)
    return (np.array([r.vec_id for r in rows], dtype=np.int64),
            np.array([r.embedding for r in rows], dtype=np.float64))


def _exact_topk(embeddings: DataFrame, q_ids: np.ndarray, Q: np.ndarray,
                k: int, candidates=None, state=None) -> DataFrame:
    """(query_id, vec_id, cos_sim, rank) — per query, the k corpus rows of
    highest round(cosine, 6) under (cos_sim desc, vec_id asc), the query
    itself excluded, among the rows `candidates` admits.

    candidates(C, state) maps a batch's raw (n, dim) float64 matrix to an
    (n, n_queries) bool mask; `state` is broadcast once with the unit
    queries, so it is not pickled into every task's closure."""
    bc = embeddings.sparkSession.sparkContext.broadcast(
        (q_ids, _unit(Q), state))

    def kernel(batches):
        b_ids, b_Qn, b_state = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = _rows(pdf)
            vec_ids = pdf["vec_id"].to_numpy(np.int64)
            sims = np.round(_unit(C) @ b_Qn.T, 6)
            ok = vec_ids[:, None] != b_ids[None, :]
            if candidates is not None:
                ok &= candidates(C, b_state)
            sel = []
            for qi in range(len(b_ids)):
                idx = np.nonzero(ok[:, qi])[0]
                # lexsort: primary -cos_sim (desc), tie-break vec_id asc
                sel.append(idx[np.lexsort((vec_ids[idx], -sims[idx, qi]))[:k]])
            if not any(s.size for s in sel):
                continue
            rows = np.concatenate(sel)
            cols = np.repeat(np.arange(len(b_ids)), [s.size for s in sel])
            yield pd.DataFrame({"query_id": b_ids[cols],
                                "vec_id": vec_ids[rows],
                                "cos_sim": sims[rows, cols]})

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        embeddings.select("vec_id", "embedding")
        .mapInPandas(kernel, "query_id long, vec_id long, cos_sim double")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim",
                F.col("rank").cast("long").alias("rank"))
    )


def brute_force_topk(embeddings: DataFrame, n_queries: int = 20,
                     k: int = 5) -> DataFrame:
    """(query_id, vec_id, cos_sim, rank) — exact cosine top-k for the first
    n_queries vec_ids against the whole corpus."""
    q_ids, Q = _collect(embeddings.filter(F.col("vec_id") < n_queries))
    return _exact_topk(embeddings, q_ids, Q, k)


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


def _signatures(V: np.ndarray, planes: int) -> np.ndarray:
    """int64 bucket id per row: bit p set iff V·plane_p >= 0."""
    bits = (V @ _plane_matrix(planes, V.shape[1]).T) >= 0.0
    weights = (1 << np.arange(planes, dtype=np.int64))
    return bits.astype(np.int64) @ weights


def lsh_topk(embeddings: DataFrame, n_queries: int = 20, k: int = 5,
             planes: int = LSH_PLANES) -> DataFrame:
    """(query_id, vec_id, cos_sim, rank) — approximate top-k: candidates
    restricted to corpus rows whose sign signature equals the query's."""
    q_ids, Q = _collect(embeddings.filter(F.col("vec_id") < n_queries))

    def same_signature(C, q_sigs):
        return _signatures(C, planes)[:, None] == q_sigs[None, :]

    return _exact_topk(embeddings, q_ids, Q, k, same_signature,
                       _signatures(Q, planes))


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
            C = _rows(pdf)
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
    """Columnar cosine similarity of two array<double> columns, no Python:
    zip_with product + aggregate sum, both interpreted per row (higher-order
    functions fall back from whole-stage codegen)."""
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
    4. exact cosine verify as a columnar expression (_cos_sim_col, an
       interpreted zip_with/aggregate, no Python) after joining the pair
       ids back to the embeddings.

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
    n = embeddings.count()
    if n > max_rows:
        raise ValueError(
            f"embedding_near_duplicates_exact is all-pairs (n={n} > "
            f"max_rows={max_rows}); use embedding_near_duplicates (banded "
            "LSH) at scale")
    ids, V = _collect(embeddings)
    bc = embeddings.sparkSession.sparkContext.broadcast((ids, _unit(V)))

    def kernel(batches):
        c_ids, c_Vn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            b_ids = pdf["vec_id"].to_numpy(np.int64)
            sims = np.round(_unit(_rows(pdf)) @ c_Vn.T, 6)
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


def _centroid_sims(V: np.ndarray, cent: np.ndarray,
                   cent_norm: np.ndarray) -> np.ndarray:
    """(n, nlist) round(cosine, 6) of rows against the centroids."""
    return np.round((V @ cent.T) / (np.linalg.norm(V, axis=1)[:, None]
                                    * cent_norm[None, :]), 6)


def ivf_topk(embeddings: DataFrame, n_queries: int = 20, k: int = 5,
             centroid_stride: int | None = None, nprobe: int = 4) -> DataFrame:
    """(query_id, vec_id, cos_sim, rank) — IVF (inverted-file) approximate
    top-k: the coarse-quantizer scale path alongside lsh_topk.

    Quantizer (driver-side, bounded):
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
      2. each query (vec_id < n_queries) probes its nprobe nearest
         centroids (rounded cosine, tie -> lowest centroid id): an
         (n_queries, nlist) probe mask, numpy on the driver.

    Search (_exact_topk, one corpus pass, shuffle-free until the merge):
      3. the candidate mask: a row's nearest centroid (max rounded cosine,
         tie -> lowest centroid id, one BLAS matmul per Arrow batch) is
         one of the query's probed cells; the centroids and the probe mask
         are the broadcast kernel state;
      4. exact cosine of the candidates, per-query top-k (cos desc,
         vec_id asc).

    Results are exactly brute-force top-k restricted to probed cells —
    the DuckDB oracle (oracles.sql_ivf_topk) mirrors every step
    derivationally; recall-vs-nprobe behavior is covered by
    tests/test_similarity.py on a clustered fixture. At 100 TB: the only
    shuffle is the k·n_queries-row merge, and the per-batch cell
    assignment costs one (batch x nlist) matmul — nlist ~ sqrt(n) keeps
    it, and the expected cell size, ~ sqrt(n)."""
    if centroid_stride is None:
        centroid_stride = auto_centroid_stride(embeddings.count())
    # limit() bounds the driver transfer BEFORE collecting, so a too-small
    # explicit stride fails fast instead of OOMing the driver
    c_ids, cent = _collect(
        embeddings.filter(F.col("vec_id") % centroid_stride == 0)
        .limit(MAX_CENTROIDS + 1))
    if len(c_ids) > MAX_CENTROIDS:
        raise ValueError(
            f"ivf_topk: centroid_stride={centroid_stride} selects more than "
            f"MAX_CENTROIDS={MAX_CENTROIDS} centroids — the quantizer must "
            f"stay a bounded driver artifact; raise centroid_stride (or "
            f"pass None to derive ceil(sqrt(n)))")
    cent_norm = np.linalg.norm(cent, axis=1)
    q_ids, Q = _collect(embeddings.filter(F.col("vec_id") < n_queries))
    # centroids are in id order, so a stable sort (and argmax, which takes
    # the first maximum) breaks ties on the lowest centroid id
    nearest = np.argsort(-_centroid_sims(Q, cent, cent_norm), axis=1,
                         kind="stable")[:, :nprobe]
    probe = np.zeros((len(q_ids), len(c_ids)), dtype=bool)
    np.put_along_axis(probe, nearest, True, axis=1)

    def in_probed_cell(C, st):
        cent_, cent_norm_, probe_ = st
        return probe_[:, np.argmax(_centroid_sims(C, cent_, cent_norm_),
                                   axis=1)].T

    return _exact_topk(embeddings, q_ids, Q, k, in_probed_cell,
                       (cent, cent_norm, probe))
