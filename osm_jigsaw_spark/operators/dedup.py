"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline extensions (no reference analog — the reference's
only dedup is the geometric area dedup, steps/RenderAndDeduplicateAreas.scala).
All four are shuffle-conscious:

- exact: one groupBy on md5(text) (map-side partial agg; 32-byte keys);
- MinHash+LSH: K portable min-hashes per doc (the shingle hashes
  exploded, then K codegen'd `min` columns in one aggregate grouped by
  doc_id) → banding → candidate pairs listed inside each capped band
  bucket (bucket_pairs: one exchange, no self-join) → exact Jaccard by
  `array_intersect` of the pair's two arrays. Never an all-pairs product.
- SimHash: per-doc 48-bit sign-sum, the token hashes exploded and summed
  per bit in one aggregate grouped by doc_id (no crossJoin), near-dup
  candidates listed inside 12-bit chunk buckets (bucket_pairs), Hamming
  verify via bit_count(xor).
- n-gram Jaccard: shingle equi-join with per-pair counts; intended for
  bounded subsets / post-LSH verification at scale.

Both signature aggregates are partially aggregated map-side, so at most
one row per doc (its K or 48 longs) crosses an exchange, and none does
when the input is already partitioned on doc_id.

Everything is built-in columnar expressions on portable arithmetic
(functions shared with the DuckDB oracles — see textops.hash60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.snapshots import snapshot
from .textops import hash60, words_col

P = 2_147_483_647          # 2^31-1 prime for the affine permutations
MINHASH_K = 16             # signature length
MINHASH_BANDS = 4          # 4 bands × 4 rows
SHINGLE_K = 3              # word-shingle width
SIMHASH_BITS = 48          # keep sign bit clear in both engines
SIMHASH_CHUNKS = 4         # 12-bit chunks for candidate banding


def minhash_params() -> list[tuple[int, int, int]]:
    """Deterministic affine permutation params (j, a, b) — shared with SQL."""
    return [
        (j, (j * 2_654_435_761 + 1) % P, (j * 40_503 + 7) % P)
        for j in range(MINHASH_K)
    ]


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """(canonical_doc_id, n_dups) groups of byte-identical texts (>1).

    Groups on md5(text), not text: the shuffle key is 32 bytes instead of
    the full document body, so the exchange carries (hash, doc_id) rows —
    at 100 TB that is the difference between shuffling the corpus and
    shuffling its fingerprints. md5 collisions are vanishingly unlikely
    and would only merge two groups, same contract as any hash dedup."""
    return (
        documents.groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.min("doc_id").alias("canonical_doc_id"),
             F.count("*").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
        .select("canonical_doc_id", "n_dups")
    )


def shingle_arrays(documents: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingles array<string>) — per-doc DISTINCT k-word shingles.

    Two scale-critical choices:
    - the word array is let-bound (README "Scale design", let-binding
      rule), so the regex split runs once per doc, not once per shingle
      position (as a separate projection it was inlined: 4 `split(` nodes
      in the physical plan and a 2.5× end-to-end slowdown at 600k docs);
    - dedup is per-document, so it is `array_distinct` INSIDE the row —
      a global `.distinct()` after explode would shuffle the entire
      shingle multiset (corpus-sized exchange + hash aggregate) to
      compute something each row already knows."""
    def shingles_of(words):
        # guard: Spark's sequence(1, 0) counts DOWN — empty when too short
        return F.when(
            F.size(words) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(words, i, k)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    sh = F.element_at(
        F.transform(F.array(words_col(F.col("text"))), shingles_of), 1)
    return documents.select("doc_id", F.array_distinct(sh).alias("shingles"))


def shingles(documents: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingle) — exploded per-doc-distinct k-word shingles.

    explode_outer + a null filter, as in minhash_signatures: a plain
    explode lets Catalyst push `size(shingles) > 0` below the projection,
    where it re-runs the split/shingle chain."""
    return (shingle_arrays(documents, k)
            .select("doc_id", F.explode_outer("shingles").alias("shingle"))
            .filter(F.col("shingle").isNotNull()))


def hashed_shingle_arrays(documents: DataFrame,
                          k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, hshingles array<long>) — per-doc-distinct shingles as full
    60-bit hashes (textops.hash60, the md5 prefix shared with the DuckDB
    oracles).

    This is the representation the MinHash pipeline MATERIALIZES
    (minhash_near_duplicates): hashing BEFORE the stage barrier means
    (a) the snapshot serializes 8-byte longs instead of ~20-byte-plus
    shingle strings — in local mode every concurrent writer contends on
    the one shared block manager, so snapshot bytes are the anti-scaling
    term (BENCH_APPENDIX pipeline decomposition); on a cluster they are
    the Iceberg write volume; (b) the md5 chain runs exactly once per
    shingle, not once per downstream consumer (the signature pass and
    the verification both read it); (c) the verification intersects
    arrays of longs, not strings (A/B figures: minhash_near_duplicates).

    Distinctness carries over from the string dedup: a 60-bit collision
    WITHIN one doc (~n²/2^61, ~1e-14 at 300 shingles) is the only way
    two rows can merge, so exact-Jaccard over these hashes matches the
    string-set oracle for any realistic corpus — at full 10^12-doc scale
    the expected collision count is still < 0.1."""
    return shingle_arrays(documents, k).select(
        "doc_id",
        F.transform("shingles", lambda s: hash60(s)).alias("hshingles"))


def minhash_signatures(documents: DataFrame,
                       h_arrays: DataFrame | None = None) -> DataFrame:
    """(doc_id, sigs array<long> of length MINHASH_K).

    Each doc's K permutation minima are K `min` aggregates over its
    exploded shingle hashes, grouped by doc_id: every minimum is a plain
    arithmetic column, so whole-stage codegen runs the fold (README "Scale
    design": a per-row fold that yields K scalars is an explode plus a
    per-key aggregate, because higher-order functions are interpreted).
    Map-side partial aggregation leaves at most one partial row per doc
    (K longs) before any exchange. There is none when the input is already
    partitioned on doc_id (near_dup's snapshotted `spark.range` corpus:
    Generate → partial HashAggregate → HashAggregate); otherwise one
    exchange carries docs × K longs, never the shingle multiset. A doc
    without shingles has no hash left after the null filter, so it is
    absent from the output. a*h < P^2 < 2^62 stays in int64.

    The input is the hashed shingle arrays: pass h_arrays (an already
    materialized hashed_shingle_arrays table) and the md5 chain is absent
    from this plan entirely; without it they are derived from documents
    and the chain runs once per shingle, under the explode."""
    if h_arrays is None:
        h_arrays = hashed_shingle_arrays(documents)
    h = F.col("h") % P
    # explode_outer: Catalyst infers `size(hshingles) > 0` from a plain
    # explode of a column and pushes it below the projection, where it
    # re-inlines the md5 chain; a doc without shingles gives one null h
    return (h_arrays.select("doc_id", F.explode_outer("hshingles").alias("h"))
            .filter(F.col("h").isNotNull())
            .groupBy("doc_id")
            .agg(F.array(*[F.min((F.lit(a).cast("long") * h + b) % P)
                           for _j, a, b in minhash_params()]).alias("sigs")))


LSH_MAX_BUCKET = 1024  # per-bucket cap of every LSH family — no O(n²) blowup


def _minhash_bands(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, key) — the banded signature rows."""
    rows_per_band = MINHASH_K // MINHASH_BANDS
    return signatures.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",",
                        *[F.element_at("sigs", b * rows_per_band + r + 1)
                          for r in range(rows_per_band)],
                    ).alias("key"),
                )
                for b in range(MINHASH_BANDS)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def bucket_pairs(rows: DataFrame, bucket_cols: list[str], id_col: str,
                 max_bucket: int) -> DataFrame:
    """(a, b) distinct pairs of `id_col` values, a < b, that share a bucket
    (equal `bucket_cols`) of at most max_bucket rows.

    The banding definition of a candidate (Leskovec, Rajaraman & Ullman,
    *Mining of Massive Datasets*, ch. 3) is a pair in one bucket, so each
    bucket lists its own pairs and no self-join is needed. One exchange on
    `bucket_cols` feeds both steps:
    - a Window count (sort-based, so a hot bucket spills instead of being
      gathered into one array) drops buckets over max_bucket. A
      boilerplate-heavy corpus can put millions of rows on one key, and an
      uncapped bucket of n rows emits n²/2 pairs;
    - `groupBy(bucket_cols)` on that same partitioning collects each kept
      bucket's sorted ids; `posexplode` gives each id a row and `explode`
      of the ids after it gives its pairs. Both generators stream, so no
      row holds more than one bucket's ids (≤ max_bucket), never its
      n²/2 pairs.
    `rows` is read once, so the signature subtree under it runs once.
    Buckets repeat pairs (bands, chunks), hence the distinct. `id_col` may
    be a struct whose first field is the id: it orders by that field, and
    its other fields ride along with the pair.

    The gain over a bucket self-join is reading `rows` once; it pays
    where buckets are small and the signatures dominate (near_dup's
    MinHash buckets hold 1 to 4 docs). Where buckets near the cap and the
    pairs dominate, a pair costs about what the self-join's does on long
    ids, and about twice as much on the SimHash struct ids (measured, with
    peak memory: BENCH_APPENDIX.md, "In-bucket pairs vs bucket
    self-join")."""
    return (
        rows.withColumn("bucket_n",
                        F.count("*").over(Window.partitionBy(*bucket_cols)))
        .filter(F.col("bucket_n") <= max_bucket)
        .groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .select(F.posexplode("ids").alias("i", "a"), "ids")
        .select("a", F.explode(F.slice("ids", F.col("i") + 2,
                                       F.size("ids"))).alias("b"))
        # equal ids (one id twice in a bucket) are not a pair
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def oversized_buckets(rows: DataFrame, bucket_cols: list[str],
                      max_bucket: int) -> DataFrame:
    """(*bucket_cols, bucket_n) for the buckets of more than max_bucket
    rows, which bucket_pairs skips: the cap is disclosed, never silent."""
    return (rows.groupBy(*bucket_cols)
            .agg(F.count("*").alias("bucket_n"))
            .filter(F.col("bucket_n") > max_bucket))


def lsh_candidates(signatures: DataFrame,
                   max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """(doc_a, doc_b) pairs sharing ≥1 LSH band.

    Pairs are listed inside each (band, key) bucket (bucket_pairs): the
    signatures are read once, with no self-join. Buckets larger than
    max_bucket are skipped; lsh_oversized_buckets() reports them (no
    silent truncation)."""
    return bucket_pairs(_minhash_bands(signatures), ["band", "key"],
                        "doc_id", max_bucket).select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))


def lsh_oversized_buckets(signatures: DataFrame,
                          max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """(band, key, bucket_n) buckets lsh_candidates skipped."""
    return oversized_buckets(_minhash_bands(signatures), ["band", "key"],
                             max_bucket)


def jaccard_verify(h_arrays: DataFrame, pairs: DataFrame,
                   threshold: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, jaccard) — exact shingle-set Jaccard over candidate
    pairs only, from the materialized hashed shingle arrays.

    The arrays are semi-joined down to the docs that appear in a candidate
    pair, so both joins that attach a pair's two arrays are
    candidate-sized, never corpus-sized. The semi-join broadcasts the
    pairs' ids as they are, 2 per pair: a distinct would cost a shuffle
    and a job. At 2M candidate pairs (4 clusters of 1000 identical docs,
    every bucket under the cap: 4M broadcast ids, ~64 MB as rows) wall
    and peak RSS matched the distinct version's within run-to-run spread
    (BENCH_APPENDIX.md, "In-bucket pairs vs bucket self-join"). The
    intersection is `array_intersect` of the two arrays in the row: no
    explode, no count aggregate, no size joins. Each array is distinct
    (hashed_shingle_arrays), so this is the set Jaccard; a pair sharing no
    shingle is not reported at any threshold."""
    docs_needed = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
    )
    pruned = h_arrays.join(F.broadcast(docs_needed), "doc_id", "left_semi")
    a = pruned.select(F.col("doc_id").alias("doc_a"),
                      F.col("hshingles").alias("ha"))
    b = pruned.select(F.col("doc_id").alias("doc_b"),
                      F.col("hshingles").alias("hb"))
    # the intersection is let-bound (README "Scale design", let-binding
    # rule) and exploding the filtered one-element array is the threshold
    # filter, so no predicate pushed into the join re-evaluates it
    scored = F.transform(
        F.array(F.size(F.array_intersect("ha", "hb"))),
        lambda n: F.when(n > 0, F.round(
            n / (F.size("ha") + F.size("hb") - n), 6)))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b",
                F.explode(F.filter(scored, lambda j: j >= threshold))
                .alias("jaccard"))
    )


def minhash_near_duplicates(documents: DataFrame,
                            threshold: float = 0.5) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: sign → band → verify.

    Two explicit stage materializations (Iceberg-snapshot analogs on a
    cluster; localCheckpoint here):
    - the per-doc shingle arrays feed the signature pass (read once:
      lsh_candidates has no self-join) and the verification pass;
    - the candidate pairs are read three times by the verify (the
      docs_needed union reads them twice, the pair probe once) — left
      lazy, the whole LSH subtree would run three times, and a
      merely-persisted (unmaterialized) input under the broadcast subtree
      can wedge the broadcast exchange altogether. They are tiny by
      construction; checkpointing them is free.

    Measured against the alternatives when the candidates were a band
    self-join (interleaved warm A/B, 600k docs, local[16], identical
    output pairs; BENCH_APPENDIX.md): barriers over STRING shingle arrays
    86-108 s under load, signatures inline with no arrays barrier 40 s,
    persist() instead of localCheckpoint 119 s, a third barrier on the
    capped band table 19.5 s, this structure 17-29 s. The barriers are
    constant-count jobs, not data-dependent ones."""
    harr = snapshot(hashed_shingle_arrays(documents), "harr")
    sigs = minhash_signatures(documents, h_arrays=harr)
    cands = snapshot(lsh_candidates(sigs), "cands")
    return jaccard_verify(harr, cands, threshold)


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 48-bit sign-sum signature over token hashes.

    Same shape as minhash_signatures: the tokens are exploded and hashed
    once each (hash60), then one aggregate grouped by doc_id sums the 48
    per-bit signs as plain codegen'd columns, and the bits are assembled
    from the sums in the same aggregate's result. Map-side partial
    aggregation leaves at most one partial row per doc (48 longs) before
    any exchange; one appears when the documents are not partitioned on
    doc_id. Token multiplicity counts (no array_distinct), zero-token
    docs are absent from the output (the explode drops them) and a tie
    (sum == 0) gives bit 0, matching the DuckDB oracle
    (oracles.sql_simhash)."""
    h = F.col("h")
    bits = [
        F.when(F.sum(F.when(h.bitwiseAND(1 << i) != 0, 1).otherwise(-1)) > 0,
               F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(SIMHASH_BITS)
    ]
    return (documents
            .select("doc_id", F.explode(words_col(F.col("text"))).alias("w"))
            .select("doc_id", hash60(F.col("w")).alias("h"))
            .groupBy("doc_id")
            .agg(sum(bits[1:], bits[0]).alias("simhash")))


def _simhash_chunks(sigs: DataFrame,
                    n_chunks: int = SIMHASH_CHUNKS) -> DataFrame:
    """(doc_id, simhash, c, v) — signature split into n_chunks equality
    chunks.

    NOTE on recall: chunk-equality banding guarantees finding every pair
    with hamming ≤ n_chunks - 1 (pigeonhole: ≤ n_chunks-1 flipped bits
    cannot touch all n_chunks chunks). Callers passing max_hamming above
    that are getting best-effort recall in (n_chunks-1, max_hamming] —
    pairs whose flips spread across all chunks are missed. Default 4 chunks
    (12-bit, guaranteed ≤3); n_chunks=8 (6-bit) raises the guarantee to
    hamming ≤7 at the cost of 2x the banding exchange and coarser (more
    populated) buckets. The DuckDB oracle mirrors the same candidate rule,
    so the gate checks implementation parity, not absolute recall."""
    if SIMHASH_BITS % n_chunks:
        raise ValueError(f"n_chunks must divide {SIMHASH_BITS}")
    chunk_bits = SIMHASH_BITS // n_chunks
    return sigs.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("c"),
                    F.shiftright(F.col("simhash"), c * chunk_bits)
                    .bitwiseAND((1 << chunk_bits) - 1).alias("v"),
                )
                for c in range(n_chunks)
            ])
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.c", "ch.v")


def simhash_near_duplicates(documents: DataFrame,
                            max_hamming: int = 6,
                            max_bucket: int = LSH_MAX_BUCKET,
                            n_chunks: int = SIMHASH_CHUNKS) -> DataFrame:
    """(doc_a, doc_b, hamming) — pairs within Hamming distance, candidates
    from chunk equality (any identical chunk ⇒ candidate).

    Chunk buckets larger than max_bucket are excluded (same O(n²)
    guard as lsh_candidates); simhash_oversized_buckets() discloses.
    n_chunks=8 guarantees recall for hamming ≤ 7 (see _simhash_chunks).

    Candidates are listed in-bucket (bucket_pairs), so the signatures are
    computed once: about 3× faster than a chunk self-join on buckets of a
    few docs, about 2× slower on buckets near the cap, where each pair
    carries its two simhash values (a 12-bit chunk has 4096 values, so
    buckets near the cap from about 4M docs; BENCH_APPENDIX.md)."""
    # the simhash rides in the bucketed id (ordered by doc_id), so the
    # Hamming test needs no join back to the signatures
    chunks = _simhash_chunks(simhash_signatures(documents), n_chunks).select(
        "c", "v", F.struct("doc_id", "simhash").alias("ds"))
    return (
        bucket_pairs(chunks, ["c", "v"], "ds", max_bucket)
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_oversized_buckets(documents: DataFrame,
                              max_bucket: int = LSH_MAX_BUCKET,
                              n_chunks: int = SIMHASH_CHUNKS) -> DataFrame:
    """(c, v, bucket_n) chunk buckets simhash_near_duplicates skipped."""
    return oversized_buckets(
        _simhash_chunks(simhash_signatures(documents), n_chunks),
        ["c", "v"], max_bucket)


def ngram_jaccard_pairs(documents: DataFrame, k: int = 5,
                        threshold: float = 0.3,
                        max_doc_id: int | None = 1000) -> DataFrame:
    """(doc_a, doc_b, jaccard) via direct k-gram shingle join.

    O(pairs-sharing-a-shingle); bound the input (max_doc_id) or use as the
    verification stage after LSH at scale.
    """
    docs = documents
    if max_doc_id is not None:
        docs = docs.filter(F.col("doc_id") < max_doc_id)
    sh = shingles(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
