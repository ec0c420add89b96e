"""Distributed scaled-world generator — documents built IN SPARK.

The pytest fixture (osm_world.py) builds a few hundred docs driver-side;
benchmarking 10^5..10^7 areas that way would serialize the driver. This
generator produces the same interleaved-spans documents table entirely with
column expressions over spark.range — generation itself is distributed and
deterministic (pure arithmetic on the row index; no RNG, no Python loops).

World shape (same skew profile as FIXTURES.md §6):
- 3 mega areas covering most of the grid (the reference's >100k-children
  hot-node pathology, root README.md:159-161);
- a forest of 4-ary nested-rectangle trees of depth 6: tree t sits in a
  10°×10° base cell; each node splits its parent into 2×2 quadrants at
  45% scale (strict nesting). Index → (tree, level, path digits) is pure
  integer math, so every area's rect is a closed-form function of its id.

Every area is one named closed way (4 corner nodes + closing ref); node
docs carry geo: media spans. Output schema == fixtures/osm_world.DOCS_SCHEMA.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TREE_DEPTH = 6
BRANCH = 4  # children per node (2x2 quadrants)
TREE_NODES = (BRANCH ** (TREE_DEPTH + 1) - 1) // (BRANCH - 1)  # 5461
MEGA = [
    (-85.0, -175.0, 80.0, 170.0),
    (-80.0, -170.0, 85.0, 175.0),
    (-60.0, -120.0, 60.0, 120.0),
]


def _area_rects(spark: SparkSession, n_areas: int) -> DataFrame:
    """(area_idx, min_lat, min_lon, max_lat, max_lon) — closed-form."""
    n_tree_areas = n_areas - len(MEGA)
    df = spark.range(n_tree_areas).select(
        F.col("id").alias("j_global"))
    df = df.withColumn("tree", F.col("j_global") / F.lit(TREE_NODES))
    df = df.withColumn("tree", F.floor("tree").cast("long"))
    df = df.withColumn("j", F.col("j_global") % TREE_NODES)
    # base cell of the tree: 24 x 12 grid of 10-degree cells, wrapping
    df = df.withColumn("cell_x", F.col("tree") % 24)
    df = df.withColumn("cell_y", (F.col("tree") / 24).cast("long") % 12)
    df = df.withColumn("lat0", F.lit(-60.0) + F.col("cell_y") * 10.0)
    df = df.withColumn("lon0", F.lit(-120.0) + F.col("cell_x") * 10.0)
    # level l: smallest l with (4^(l+1)-1)/3 > j
    lvl = F.lit(TREE_DEPTH)
    for l in range(TREE_DEPTH, -1, -1):
        cum = (BRANCH ** (l + 1) - 1) // (BRANCH - 1)
        lvl = F.when(F.col("j") < cum, F.lit(l)).otherwise(lvl)
    df = df.withColumn("lvl", lvl)
    df = df.withColumn(
        "m",
        F.col("j") - F.floor(
            (F.pow(F.lit(float(BRANCH)), F.col("lvl").cast("double")) - 1)
            / (BRANCH - 1)
        ).cast("long"),
    )
    # walk the base-4 digits of m, most significant first: each digit picks
    # a 2x2 quadrant at 45% scale with a 5% margin
    y, x = F.col("lat0"), F.col("lon0")
    h = F.lit(8.0)
    w = F.lit(8.0)
    for k in range(TREE_DEPTH):
        # digit at position (lvl-1-k) of m in base 4; only applied when k < lvl
        shift = F.pow(F.lit(float(BRANCH)), (F.col("lvl") - 1 - k).cast("double"))
        digit = F.when(
            F.lit(k) < F.col("lvl"),
            F.floor(F.col("m") / shift).cast("long") % BRANCH,
        ).otherwise(F.lit(-1))
        qy = (digit / 2).cast("long")
        qx = digit % 2
        apply_k = digit >= 0
        y = F.when(apply_k, y + h * (F.lit(0.05) + qy.cast("double") * 0.45)).otherwise(y)
        x = F.when(apply_k, x + w * (F.lit(0.05) + qx.cast("double") * 0.45)).otherwise(x)
        h = F.when(apply_k, h * 0.45).otherwise(h)
        w = F.when(apply_k, w * 0.45).otherwise(w)
    tree_rects = df.select(
        (F.col("j_global") + len(MEGA)).alias("area_idx"),
        F.round(y, 6).alias("min_lat"),
        F.round(x, 6).alias("min_lon"),
        F.round(y + h, 6).alias("max_lat"),
        F.round(x + w, 6).alias("max_lon"),
    )
    mega = spark.createDataFrame(
        [(i, a, b, c, d) for i, (a, b, c, d) in enumerate(MEGA)],
        "area_idx long, min_lat double, min_lon double, "
        "max_lat double, max_lon double",
    )
    return mega.unionByName(tree_rects)


def hot_node_rects(spark: SparkSession, n_areas: int) -> DataFrame:
    """Pathological flat world (skew stress, VERDICT r4 task 6): one
    world-spanning mega-rect whose covering hits every index cell, over
    n_areas-1 mutually disjoint small rects — so the mega is the DIRECT
    parent of every other area, the reference's >100k-children hot node
    (root README.md:159-161) taken to the limit. Disjoint small rects:
    a 720x320 grid of 0.5°-wide cells, one rect per cell inset 10% of the
    cell on each side, so n_areas is capped at 720*320 + 1; larger worlds
    raise ValueError. The mega spans every longitude so the edge columns
    are inside it too."""
    grid_x, grid_y = 720, 320
    if n_areas - 1 > grid_x * grid_y:
        raise ValueError(f"hot_node_rects holds at most {grid_x * grid_y + 1}"
                         f" areas, got {n_areas}")
    df = spark.range(n_areas - 1).select(F.col("id").alias("k"))
    df = df.withColumn("gx", F.col("k") % grid_x)
    df = df.withColumn("gy", (F.col("k") / grid_x).cast("long"))
    cw = F.lit(0.5)  # cell width/height in degrees
    inset = F.lit(0.1) * cw
    small = df.select(
        (F.col("k") + 1).alias("area_idx"),
        F.round(F.lit(-80.0) + F.col("gy") * cw + inset, 6).alias("min_lat"),
        F.round(F.lit(-180.0) + F.col("gx") * cw + inset, 6).alias("min_lon"),
        F.round(F.lit(-80.0) + (F.col("gy") + 1) * cw - inset, 6)
        .alias("max_lat"),
        F.round(F.lit(-180.0) + (F.col("gx") + 1) * cw - inset, 6)
        .alias("max_lon"),
    )
    mega = spark.createDataFrame(
        [(0, -89.0, -180.0, 89.0, 180.0)],
        "area_idx long, min_lat double, min_lon double, "
        "max_lat double, max_lon double")
    return mega.unionByName(small)


def scaled_documents_df(spark: SparkSession, n_areas: int = 20_000,
                        rects: DataFrame | None = None) -> DataFrame:
    """Interleaved-spans documents for the scaled world (way + node docs).
    `rects` overrides the world shape (e.g. hot_node_rects for the skew
    stress bench)."""
    if rects is None:
        rects = _area_rects(spark, n_areas)
    base = rects.select(
        "area_idx",
        (F.lit(2_000_000) + F.col("area_idx")).alias("way_id"),
        (F.lit(10_000_000) + F.col("area_idx") * 8).alias("nid0"),
        "min_lat", "min_lon", "max_lat", "max_lon",
    )
    # corners in ring order: (min,min),(min,max),(max,max),(max,min)
    corners = F.array(
        F.struct(F.col("min_lat").alias("lat"), F.col("min_lon").alias("lon")),
        F.struct(F.col("min_lat").alias("lat"), F.col("max_lon").alias("lon")),
        F.struct(F.col("max_lat").alias("lat"), F.col("max_lon").alias("lon")),
        F.struct(F.col("max_lat").alias("lat"), F.col("min_lon").alias("lon")),
    )

    def span(kind, text, media_ref, off):
        return F.struct(
            kind.alias("kind"), text.alias("text"),
            media_ref.alias("media_ref"), off.cast("int").alias("offset"))

    way_spans = F.concat(
        F.array(span(F.lit("text"),
                     F.concat(F.lit("name=Area "), F.col("area_idx")),
                     F.lit(""), F.lit(0))),
        F.transform(
            F.sequence(F.lit(0), F.lit(4)),
            lambda i: span(
                F.lit("media"), F.lit(""),
                F.concat(F.lit("node:"), (F.col("nid0") + (i % 4)).cast("string")),
                i + 1),
        ),
    )
    way_docs = base.select(
        F.concat(F.col("way_id").cast("string"), F.lit("W")).alias("doc_id"),
        way_spans.alias("spans"),
    )
    node_docs = base.select(
        "nid0", F.posexplode(corners).alias("ci", "pt")
    ).select(
        F.concat((F.col("nid0") + F.col("ci")).cast("string"),
                 F.lit("N")).alias("doc_id"),
        F.array(
            span(F.lit("media"), F.lit(""),
                 F.concat(F.lit("geo:"),
                          F.col("pt.lat").cast("string"), F.lit(","),
                          F.col("pt.lon").cast("string")),
                 F.lit(0)),
        ).alias("spans"),
    )
    return way_docs.unionByName(node_docs)


def scaled_text_docs(spark: SparkSession, n_docs: int,
                     n_tokens: int = 40) -> DataFrame:
    """(doc_id long, text string) — deterministic corpus for dedup benches.

    Token j of doc i = md5(base_i : j)[:6] where base_i = i-1 when
    i % 100 == 0 (else i), with token 0 perturbed — so exactly ~1% of docs
    are near-duplicates of their predecessor (high but <1 Jaccard) and the
    candidate-pair count grows LINEARLY with n_docs (replicating rows would
    grow it quadratically and poison a scaling measurement). Pure column
    expressions over spark.range; no RNG, no driver loop."""
    is_dup = (F.col("id") % 100 == 0) & (F.col("id") > 0)
    base = F.when(is_dup, F.col("id") - 1).otherwise(F.col("id"))
    df = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), base.alias("base"), is_dup.alias("is_dup"))
    token = lambda seed: F.substring(F.md5(seed), 1, 6)  # noqa: E731
    body = F.transform(
        F.sequence(F.lit(1), F.lit(n_tokens - 1)),
        lambda j: token(F.concat(F.col("base").cast("string"), F.lit(":"),
                                 j.cast("string"))),
    )
    head = F.when(
        F.col("is_dup"),
        token(F.concat(F.lit("alt:"), F.col("doc_id").cast("string"))),
    ).otherwise(token(F.concat(F.col("base").cast("string"), F.lit(":0"))))
    return df.select(
        "doc_id",
        F.concat_ws(" ", F.concat(F.array(head), body)).alias("text"),
    )


def boilerplate_text_docs(spark: SparkSession, n_docs: int,
                          dup_pct: int = 30, n_tokens: int = 40) -> DataFrame:
    """Skew-stress corpus (VERDICT r4 task 6): `dup_pct`% of docs carry one
    IDENTICAL boilerplate text (licence headers / scraped nav chrome at web
    scale), the rest the uniform scaled_text_docs content. Every boilerplate
    doc lands in the same LSH band buckets, so the bucket cap must engage
    (lsh_oversized_buckets discloses it) or one bucket lists O((n*pct)²)
    pairs."""
    uniform = scaled_text_docs(spark, n_docs, n_tokens)
    boiler = F.concat_ws(" ", F.array(*[
        F.substring(F.md5(F.lit(f"boilerplate:{j}")), 1, 6)
        for j in range(n_tokens)]))
    return uniform.select(
        "doc_id",
        F.when((F.col("doc_id") % 100) < dup_pct, boiler)
        .otherwise(F.col("text")).alias("text"),
    )


def scaled_embeddings(spark: SparkSession, n_vecs: int,
                      dim: int = 64) -> DataFrame:
    """(vec_id long, embedding array<float>) — deterministic dense vectors
    from the 32-bit murmur hash; distributed generation, no RNG."""
    return spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (F.pmod(F.hash(F.col("id"), j), F.lit(2000))
                       .cast("double") / 1000.0 - 1.0).cast("float"),
        ).alias("embedding"),
    )
