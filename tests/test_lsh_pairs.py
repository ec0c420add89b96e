"""In-bucket LSH candidate pairs (`dedup.bucket_pairs`) and the
array-intersect Jaccard verify.

- a seeded differential test of `lsh_candidates` and
  `simhash_near_duplicates` against the Window + band self-join
  formulation they replaced, copied below verbatim as the oracle. The
  band tables hold one bucket of exactly `max_bucket` rows (kept) and one
  of `max_bucket + 1` rows (dropped), for the MinHash (band, key) and the
  SimHash (chunk, value) shapes;
- `jaccard_verify` against Python set Jaccard on seeded arrays, with an
  empty intersection, identical arrays and a pair exactly at the
  threshold;
- plan guards: the signature subtree runs once under `lsh_candidates`,
  with no join; `shingles` splits each doc's text once; neither signature
  plan holds an interpreted fold; and `embedding_near_duplicates` holds
  one `MapInPandas`.
"""

from __future__ import annotations

import itertools
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_jigsaw_spark.operators import dedup as D
from osm_jigsaw_spark.operators import similarity as SIM
from osm_jigsaw_spark.plans.snapshots import snapshot

MAX_BUCKET = 6
N_DOCS = 150
POOL = 40           # bucket values per band: mean bucket ~3.75 rows


def _oracle_lsh_candidates(signatures: DataFrame,
                           max_bucket: int = D.LSH_MAX_BUCKET) -> DataFrame:
    """The Window count + (band, key) self-join formulation."""
    bands = D._minhash_bands(signatures)
    w = Window.partitionBy("band", "key")
    flagged = (bands
               .withColumn("bucket_n", F.count("*").over(w))
               .filter(F.col("bucket_n") <= max_bucket)
               .select("doc_id", "band", "key"))
    other = flagged.select(
        F.col("doc_id").alias("doc_b"), F.col("band"), F.col("key"))
    return (
        flagged.join(other, ["band", "key"])
        .filter(F.col("doc_id") < F.col("doc_b"))
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )


def _oracle_simhash_near_duplicates(sigs: DataFrame, max_hamming: int = 6,
                                    max_bucket: int = D.LSH_MAX_BUCKET,
                                    n_chunks: int = D.SIMHASH_CHUNKS
                                    ) -> DataFrame:
    """The grouped count + (c, v) self-join formulation, from signatures."""
    chunks = D._simhash_chunks(sigs, n_chunks)
    small = (chunks.groupBy("c", "v")
             .agg(F.count("*").alias("bucket_n"))
             .filter(F.col("bucket_n") <= max_bucket)
             .select("c", "v"))
    chunks_ok = chunks.join(small, ["c", "v"])
    other = chunks_ok.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
        "c", "v")
    cand = (
        chunks_ok.join(other, ["c", "v"])
        .filter(F.col("doc_id") < F.col("doc_b"))
        .select(F.col("doc_id").alias("doc_a"), "doc_b",
                F.col("simhash").alias("sim_a"), "sim_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _bucket_values(rng: random.Random, n_buckets: int, pool: list):
    """Per doc, one value per bucket family (band / chunk). Docs 0..MAX-1
    share value 0 of family 0 (a bucket of exactly MAX_BUCKET rows); docs
    MAX..2*MAX share value 0 of family 1 (MAX_BUCKET + 1 rows); every other
    draw avoids value 0."""
    rows = []
    for d in range(N_DOCS):
        vals = [rng.choice(pool[1:]) for _ in range(n_buckets)]
        if d < MAX_BUCKET:
            vals[0] = pool[0]
        elif d <= 2 * MAX_BUCKET:
            vals[1] = pool[0]
        rows.append(vals)
    return rows


def _minhash_sigs(spark, seed: int) -> DataFrame:
    rng = random.Random(seed)
    rpb = D.MINHASH_K // D.MINHASH_BANDS
    pool = [tuple(rng.randrange(D.P) for _ in range(rpb)) for _ in range(POOL)]
    rows = [(d, [x for band in vals for x in band]) for d, vals in
            enumerate(_bucket_values(rng, D.MINHASH_BANDS, pool))]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "doc_id long, sigs array<long>")


def _simhash_sigs(spark, seed: int) -> DataFrame:
    rng = random.Random(seed)
    bits = D.SIMHASH_BITS // D.SIMHASH_CHUNKS
    pool = rng.sample(range(1 << bits), POOL)
    rows = [(d, sum(v << (c * bits) for c, v in enumerate(vals))) for d, vals
            in enumerate(_bucket_values(rng, D.SIMHASH_CHUNKS, pool))]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "doc_id long, simhash long")


def _rows(df: DataFrame) -> set:
    return {tuple(r) for r in df.collect()}


@pytest.mark.parametrize("seed", [3, 17])
def test_lsh_candidates_match_self_join(spark, seed):
    sigs = _minhash_sigs(spark, seed)
    got = _rows(D.lsh_candidates(sigs, MAX_BUCKET))
    assert got == _rows(_oracle_lsh_candidates(sigs, MAX_BUCKET))
    # the MAX_BUCKET-row bucket is kept; the cap does drop pairs
    assert set(itertools.combinations(range(MAX_BUCKET), 2)) <= got
    assert got != _rows(D.lsh_candidates(sigs, 10 ** 9))
    pairs = D.bucket_pairs(D._minhash_bands(sigs), ["band", "key"],
                           "doc_id", MAX_BUCKET)
    assert pairs.columns == ["a", "b"]
    assert _rows(pairs) == got


@pytest.mark.parametrize("seed,max_hamming", [(5, 48), (23, 20)])
def test_simhash_pairs_match_self_join(spark, monkeypatch, seed,
                                       max_hamming):
    sigs = _simhash_sigs(spark, seed)
    monkeypatch.setattr(D, "simhash_signatures", lambda documents: sigs)
    got = _rows(D.simhash_near_duplicates(None, max_hamming, MAX_BUCKET))
    want = _rows(_oracle_simhash_near_duplicates(sigs, max_hamming,
                                                 MAX_BUCKET))
    assert got == want
    assert len(got) > 0
    if max_hamming == D.SIMHASH_BITS:   # every candidate is reported
        kept = {(a, b) for a, b, _h in got}
        assert set(itertools.combinations(range(MAX_BUCKET), 2)) <= kept
        assert got != _rows(D.simhash_near_duplicates(None, max_hamming,
                                                      10 ** 9))


def _round6(x: float) -> float:
    """Spark's `round(x, 6)` on a double: HALF_UP on its decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


@pytest.mark.parametrize("threshold", [0.0, 0.5, 0.75])
def test_jaccard_verify_matches_set_jaccard(spark, plan_nodes, threshold):
    rng = random.Random(11)
    arrays = {d: rng.sample(range(30), rng.randrange(1, 13))
              for d in range(40)}
    arrays.update({
        100: [1, 2, 3], 101: [4, 5, 6],           # empty intersection
        102: [7, 8, 9, 10], 103: [10, 9, 8, 7],   # identical sets
        104: [1, 2, 3], 105: [2, 3, 4],           # 2/4: at 0.5 exactly
        106: [],                                  # empty array
    })
    pairs = list(itertools.combinations(range(40), 2)) + [
        (100, 101), (102, 103), (104, 105), (100, 106), (104, 106)]
    h_arrays = spark.createDataFrame(
        [(d, [int(x) for x in a]) for d, a in arrays.items()],
        "doc_id long, hshingles array<long>")
    cands = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = D.jaccard_verify(h_arrays, cands, threshold)
    want = {}
    for a, b in pairs:
        sa, sb = set(arrays[a]), set(arrays[b])
        if sa & sb:
            j = _round6(len(sa & sb) / len(sa | sb))
            if j >= threshold:
                want[(a, b)] = j
    assert {(r.doc_a, r.doc_b): r.jaccard for r in got.collect()} == want
    assert (102, 103) in want and (100, 101) not in want
    assert ((104, 105) in want) == (threshold <= 0.5)
    # the intersection is evaluated once per pair, not again per predicate
    text = "\n".join(t for _c, t in plan_nodes(got))
    assert text.count("array_intersect(") == 1


def _fold_free_plan(plan_nodes, df: DataFrame) -> str:
    """The executed plan's text, after asserting that it holds no
    interpreted fold (`aggregate(`, `zip_with(`) and exactly one final
    aggregate keyed on doc_id: the signatures, computed once. The input is
    partitioned on doc_id, so that aggregate adds no exchange."""
    nodes = plan_nodes(df)
    text = "\n".join(t for _c, t in nodes)
    assert text.count("aggregate(") == 0
    assert text.count("zip_with(") == 0
    assert "hashpartitioning(doc_id#" not in text
    final = [t for c, t in nodes if c == "HashAggregateExec"
             and "Keys [1]: [doc_id#" in t and "partial_" not in t]
    assert len(final) == 1
    return text


def _hex_docs(spark) -> DataFrame:
    """Docs of 30 hex tokens, doc 10k+1 a copy of doc 10k with one token
    replaced, snapshotted as minhash_near_duplicates snapshots its input."""
    src = ("IF(id % 10 = 1 AND j = id % 30, concat('x:', CAST(id AS STRING)),"
           " CAST(IF(id % 10 = 1, id - 1, id) AS STRING))")
    docs = snapshot(spark.range(100).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(0, 29), j -> substring(md5("
        f"concat({src}, ':', CAST(j AS STRING))), 1, 8))) AS text"))
    return docs


def test_lsh_candidates_plan_runs_signatures_once(spark, plan_nodes):
    """The band self-join ran the signatures in both of its branches (no
    ReusedExchange), the per-row `aggregate`/`zip_with` fold was
    interpreted, and a `size(hshingles) > 0` filter pushed below the
    projection re-inlined the md5 shingle-hash chain."""
    docs = _hex_docs(spark)
    cands = D.lsh_candidates(D.minhash_signatures(docs))
    text = _fold_free_plan(plan_nodes, cands)
    assert text.count("md5(") == 1
    # the word array is let-bound: one regex split per doc, not per shingle
    assert text.count("split(") == 1
    assert "Join" not in text
    assert cands.count() == 10


def test_shingles_plan_splits_once(spark, plan_nodes):
    """A plain explode of the shingle arrays let Catalyst push
    `size(shingles) > 0` below the projection and re-run the split chain
    (3 `split(` per plan)."""
    sh = D.shingles(_hex_docs(spark))
    text = "\n".join(t for _c, t in plan_nodes(sh))
    assert text.count("split(") == 1
    assert sh.count() == 100 * 28


def test_simhash_signatures_plan_has_no_fold(spark, plan_nodes):
    text = _fold_free_plan(plan_nodes,
                           D.simhash_signatures(_hex_docs(spark)))
    assert text.count("md5(") == 1


def test_embedding_near_duplicates_plan_has_one_map_in_pandas(spark,
                                                             plan_nodes):
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    nodes = plan_nodes(SIM.embedding_near_duplicates(emb, 0.5))
    assert sum(c == "MapInPandasExec" for c, _t in nodes) == 1
    # one cosine per candidate: two norms, not a second copy in a filter
    assert "\n".join(t for _c, t in nodes).count("SQRT(") == 2
