"""MinHash and SimHash signatures as an explode plus one per-doc aggregate.

- seeded differential tests of `minhash_signatures` and
  `simhash_signatures` against the per-row `aggregate`/`zip_with`
  formulations they replaced, copied below verbatim as the oracles. The
  tables hold empty and one-element arrays, repeated hashes, hashes ≥ P
  and near 2^60 (MinHash), and one-token, repeated-token, empty, blank
  and null texts (SimHash). Each comparison also runs over a
  `repartition(3)` input; neither input is partitioned on doc_id, so
  both plans merge the partial aggregates after an Exchange.

The plan guards (no higher-order fold, one final aggregate keyed on
doc_id) are in `tests/test_lsh_pairs.py`.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_jigsaw_spark.operators import dedup as D
from osm_jigsaw_spark.operators.textops import hash60, words_col

P, MINHASH_K, SIMHASH_BITS = D.P, D.MINHASH_K, D.SIMHASH_BITS
minhash_params, hashed_shingle_arrays = D.minhash_params, D.hashed_shingle_arrays


def _oracle_minhash_signatures(documents: DataFrame,
                               h_arrays: DataFrame | None = None
                               ) -> DataFrame:
    """The per-row `aggregate` over the shingle-hash array, `zip_with`
    over the K running minima."""
    params = F.array(*[
        F.struct(F.lit(a).cast("long").alias("a"),
                 F.lit(b).cast("long").alias("b"))
        for _j, a, b in minhash_params()
    ])
    init = F.array(*[F.lit(P).cast("long")] * MINHASH_K)
    if h_arrays is None:
        h_arrays = hashed_shingle_arrays(documents)
    hs = F.transform("hshingles", lambda h: h % P)
    sigs = F.aggregate(
        hs, init,
        lambda acc, h: F.zip_with(
            acc, params, lambda m, p: F.least(m, (p["a"] * h + p["b"]) % P)),
    )
    # exploding the filtered one-element array drops the empty docs, so no
    # size() predicate pushed below the projection re-inlines the md5 chain
    nonempty = F.explode(F.filter(F.array("hshingles"),
                                  lambda h: F.size(h) > 0))
    return (h_arrays.select("doc_id", nonempty.alias("hshingles"))
            .select("doc_id", sigs.alias("sigs")))


def _oracle_simhash_signatures(documents: DataFrame) -> DataFrame:
    """The per-row `aggregate` of 48 sign-sums, `zip_with` over the masks."""
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(SIMHASH_BITS)])
    init = F.array(*[F.lit(0).cast("long")] * SIMHASH_BITS)
    hs = F.transform("words", lambda w: hash60(w))
    sums = F.aggregate(
        hs, init,
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda s, m: s + F.when(h.bitwiseAND(m) != 0,
                                    F.lit(1)).otherwise(F.lit(-1))))
    simhash = F.aggregate(
        F.zip_with(sums, masks,
                   lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x)
    w = documents.select("doc_id", words_col(F.col("text")).alias("words"))
    return (w.filter(F.size("words") > 0)
            .select("doc_id", simhash.alias("simhash")))


def _by_doc(df: DataFrame) -> dict:
    return {r[0]: r[1] for r in df.collect()}


def _exchanges_on_doc_id(plan_nodes, df: DataFrame) -> int:
    return sum(c == "ShuffleExchangeExec" and "hashpartitioning(doc_id#" in t
               for c, t in plan_nodes(df))


def _h_arrays(spark, seed: int) -> DataFrame:
    rng = random.Random(seed)
    top = (1 << 60) - 1
    edge = [0, 1, P - 1, P, P + 1, 2 * P, top - 1, top]
    rows = [(d, [rng.randrange(1 << 60)
                 for _ in range(rng.randrange(1, 40))]) for d in range(120)]
    rows += [
        (1000, []),                               # no shingles: absent
        (1001, [12345]),                          # one element
        (1002, [top]),                            # one element near 2^60
        (1003, [7, 7, 7, P + 7]),                 # repeats, ≡ mod P
        (1004, edge),                             # ≥ P and near 2^60
        (1005, edge[::-1] + edge),                # the same, repeated
        (1006, None),                             # null array: absent
        (1007, [7]),                              # 1003's value mod P
    ]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "doc_id long, hshingles array<long>")


@pytest.mark.parametrize("seed", [2, 31])
def test_minhash_signatures_match_aggregate_fold(spark, plan_nodes, seed):
    h_arrays = _h_arrays(spark, seed)
    for src in (h_arrays, h_arrays.repartition(3)):
        sigs = D.minhash_signatures(None, h_arrays=src)
        assert _exchanges_on_doc_id(plan_nodes, sigs) == 1
        got = _by_doc(sigs)
        assert got == _by_doc(_oracle_minhash_signatures(None, h_arrays=src))
        assert len(got) == 126 and 1000 not in got and 1006 not in got
        assert all(len(s) == MINHASH_K for s in got.values())
    # hashes ≡ mod P give one permutation value; repeats change nothing
    assert got[1003] == got[1007]
    assert got[1005] == got[1004]


def _texts(spark, seed: int) -> DataFrame:
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(25)] + ["Alpha", "ALPHA", "beta"]
    rows = [(d, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(1, 30))))
            for d in range(120)]
    rows += [
        (1000, "solo"),                     # one token
        (1001, "echo echo echo echo"),      # one token, repeated
        (1002, "echo"),                     # same simhash as 1001
        (1003, ""),                         # empty text: absent
        (1004, "   \t  "),                  # blank text: absent
        (1005, None),                       # null text: absent
        (1006, "solo other"),               # two tokens: ties give bit 0
        (1007, "  Solo  SOLO\tsolo  "),     # case and extra whitespace
    ]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("seed", [4, 19])
def test_simhash_signatures_match_aggregate_fold(spark, plan_nodes, seed):
    docs = _texts(spark, seed)
    for src in (docs, docs.repartition(3)):
        sigs = D.simhash_signatures(src)
        assert _exchanges_on_doc_id(plan_nodes, sigs) == 1
        got = _by_doc(sigs)
        assert got == _by_doc(_oracle_simhash_signatures(src))
        assert len(got) == 125
        assert not {1003, 1004, 1005} & set(got)
    mask = (1 << SIMHASH_BITS) - 1
    solo = spark.range(1).select(hash60(F.lit("solo"))).first()[0]
    other = spark.range(1).select(hash60(F.lit("other"))).first()[0]
    assert got[1000] == got[1007] == solo & mask
    assert got[1001] == got[1002]
    # a bit set in only one of the two tokens sums to 0: bit 0
    assert got[1006] == solo & other & mask
