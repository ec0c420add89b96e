"""The containment DAG ("graph sort") as a declarative Spark program.

The reference builds this with a mutable object graph and a level-by-level
sift-down (graphing/GraphBuilder.scala:18-124): areas sorted desc by size,
each area attached under EVERY already-placed sibling that contains it,
recursively. The provable net result (multi-parent included,
GraphBuilder.scala:114-117) is the **transitive reduction of the strict
containment partial order**: an edge parent→child exists iff parent contains
child and no third area z satisfies parent ⊃ z ⊃ child. Areas contained by
nothing become children of the synthetic root (id -1,
steps/BuildGraph.scala:20). Insertion order cannot matter — exactly what
GraphBuilderSpec.scala:75-84 asserts.

So instead of porting the sift loop, we compute:

1. candidate pairs — grid-cell equi-join (functions/cells.py): parents
   explode their adaptive-resolution bbox covering (mega-polygons spread
   across ≤MAX_COVER_CELLS cells — built-in skew salting for the reference's
   >100k-children pathology, root README.md:159-161); children emit their
   bbox-center cell at every resolution; join on the packed (res,cell) key.
   AQE skew-join handles residual hot cells.
2. bbox refinement — columnar, pre-UDF.
3. exact refinement — Arrow-batched polygon-contains (winding/crossing
   kernels, functions/geometry.py), matching esri planar OperatorContains
   boundary-inclusive semantics (areas/AreaComparision.scala:12-14).
4. transitive reduction — contains_pairs LEFT ANTI JOIN (contains ∘
   contains): one self-join + one anti-join, fully parallel.

At 15M areas the contains relation is ~n·avg_depth rows (each area appears
once per ancestor), so the reduction joins shuffle O(n·depth) — tractable
where the reference "just barely" finishes single-threaded.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells as C
from ..functions.batches import per_ring
from ..functions.geometry import (
    bbox_contains_expr,
    rect_ring_col,
    ring_contains_rings_batch,
)
from ..plans.snapshots import frontier_loop

ROOT_ID = "-1"  # synthetic root osm_id (reference uses area id -1)


def area_cell_index(areas: DataFrame) -> DataFrame:
    """Exploded covering index: (cell, area_key + geometry payload).

    The single spatial index shared by containment, geocode, kNN and tiling
    joins — replacing the reference's per-polygon esri acceleration
    (GraphBuilder.scala:120) and geohash segment files (steps/Tiling.scala).

    `is_rect` (geometry.rect_ring_col) marks rings that are exactly their
    bbox: for those the bbox test IS the exact geometry test and consumers
    skip the polygon kernel entirely.
    """
    return areas.select(
        F.col("ring_hash").alias("area_key"),
        "canonical_osm_id", "area", "bbox", "lats", "lons",
        rect_ring_col(F.col("lats"), F.col("lons"), F.col("bbox"),
                      F.col("area")).alias("is_rect"),
        F.explode(C.covering_cells_adaptive(F.col("bbox"))).alias("cell"),
    )


@F.pandas_udf(T.BooleanType())
def _contains_udf(parent_key: pd.Series,
                  a_lats: pd.Series, a_lons: pd.Series,
                  b_lats: pd.Series, b_lons: pd.Series) -> pd.Series:
    """Parent ring contains each candidate child ring: one
    ring_contains_rings_batch call per parent in a batch (batches.per_ring)."""
    return per_ring(ring_contains_rings_batch, bool,
                    parent_key, a_lats, a_lons, b_lats, b_lons)


def contains_pairs(areas: DataFrame,
                   idx: DataFrame | None = None) -> DataFrame:
    """(parent_key, child_key) for every strict containment a ⊃ b.

    `areas` must be deduplicated (operators/areas.dedup_areas) so no two
    distinct rows are geometrically equal — guaranteeing strictness and an
    acyclic relation. `idx`: optional pre-materialized area_cell_index
    (shared across containment/geocode/kNN consumers of one snapshot).
    """
    if idx is None:
        idx = area_cell_index(areas)
    parents = idx.select(
        F.col("cell"),
        F.col("area_key").alias("parent_key"),
        F.col("canonical_osm_id").alias("parent_osm_id"),
        F.col("area").alias("parent_area"),
        F.col("bbox").alias("parent_bbox"),
        F.col("lats").alias("parent_lats"),
        F.col("lons").alias("parent_lons"),
        F.col("is_rect").alias("parent_is_rect"),
    )
    children = areas.select(
        F.col("ring_hash").alias("child_key"),
        F.col("canonical_osm_id").alias("child_osm_id"),
        F.col("area").alias("child_area"),
        F.col("bbox").alias("child_bbox"),
        F.col("lats").alias("child_lats"),
        F.col("lons").alias("child_lons"),
        F.explode(
            C.point_cells_all_res(
                (F.col("bbox.min_lat") + F.col("bbox.max_lat")) / 2,
                (F.col("bbox.min_lon") + F.col("bbox.max_lon")) / 2,
            )
        ).alias("cell"),
    )
    cand = (
        parents.join(children, "cell")
        .filter(F.col("parent_key") != F.col("child_key"))
        .filter(bbox_contains_expr("parent_bbox", "child_bbox"))
        # bbox-equal pairs would otherwise produce both orientations of a
        # mutual-containment candidate; geometry equality is impossible
        # post-dedup, but keep the cheap area guard for skew reduction:
        .filter(F.col("parent_area") >= F.col("child_area"))
    )
    # Fast path: axis-aligned-rect pairs are decided by the bbox filter
    # alone (exact), entirely in codegen — the Arrow kernel only sees pairs
    # with at least one non-rectangular ring. The parent's flag comes from
    # the index; the child's is computed only for surviving candidates.
    cand = cand.withColumn(
        "both_rect",
        F.col("parent_is_rect")
        & rect_ring_col(F.col("child_lats"), F.col("child_lons"),
                        F.col("child_bbox"), F.col("child_area")),
    )
    rect_pairs = cand.filter("both_rect")
    poly_pairs = (
        cand.filter(~F.col("both_rect"))
        # local (shuffle-free) sort so Arrow batches carry long same-parent
        # runs — the grouped kernel then does one numpy sweep per parent
        .sortWithinPartitions("parent_key")
        .withColumn(
            "is_contained",
            _contains_udf("parent_key", "parent_lats", "parent_lons",
                          "child_lats", "child_lons"),
        ).filter("is_contained")
    )
    cols = ["parent_key", "parent_osm_id", "child_key", "child_osm_id"]
    return rect_pairs.select(*cols).unionByName(poly_pairs.select(*cols))


def transitive_reduction(pairs: DataFrame) -> DataFrame:
    """Drop pairs implied by composition: edges = pairs \\ (pairs ∘ pairs)."""
    x = pairs.select(F.col("parent_key").alias("p"), F.col("child_key").alias("z"))
    y = pairs.select(F.col("child_key").alias("c"), F.col("parent_key").alias("z"))
    composed = x.join(y, "z").select("p", "c").distinct()
    return pairs.join(
        composed,
        (pairs["parent_key"] == composed["p"]) & (pairs["child_key"] == composed["c"]),
        "left_anti",
    )


def graph_edges(areas: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """graph_edges(parent_key, parent_osm_id, child_key, child_osm_id)
    including synthetic-root edges for top-level areas."""
    pairs = contains_pairs(areas) if pairs is None else pairs
    edges = transitive_reduction(pairs)
    roots = (
        areas.join(
            pairs.select(F.col("child_key").alias("ring_hash")).distinct(),
            "ring_hash",
            "left_anti",
        ).select(
            F.lit(ROOT_ID).alias("parent_key"),
            F.lit(ROOT_ID).alias("parent_osm_id"),
            F.col("ring_hash").alias("child_key"),
            F.col("canonical_osm_id").alias("child_osm_id"),
        )
    )
    return edges.unionByName(roots)


def node_depths(edges: DataFrame, max_depth: int = 64) -> DataFrame:
    """(area_key, depth) — max root-distance per node; a bounded
    level-by-level walk (plans.snapshots.frontier_loop: the reference's
    BFS-by-depth queue, GraphBuilder.scala:30-52, as a driver loop)."""
    e = edges.select("parent_key", "child_key")
    seed = e.filter(F.col("parent_key") == ROOT_ID) \
        .select(F.col("child_key").alias("area_key"), F.lit(1).alias("depth"))

    def step(frontier: DataFrame) -> DataFrame:
        return frontier.join(e, frontier["area_key"] == e["parent_key"]) \
            .select(F.col("child_key").alias("area_key"),
                    (F.col("depth") + 1).alias("depth"))

    all_depths = frontier_loop(seed, step, max_depth + 1)
    return all_depths.groupBy("area_key").agg(F.max("depth").alias("depth"))


def topo_order(areas: DataFrame, edges: DataFrame) -> DataFrame:
    """Leaf-first topological rank (reference output/GraphWriting.scala:11-30
    writes children before parents). Rank = -depth major, canonical id minor:
    deeper nodes (always descendants-side) come first; any such order is a
    valid leaf-first topological order for a containment DAG because a
    child's max root-distance strictly exceeds each of its parents'."""
    depths = node_depths(edges)
    return (
        areas.select(F.col("ring_hash").alias("area_key"), "canonical_osm_id")
        .join(depths, "area_key", "left")
        .select(
            "area_key",
            "canonical_osm_id",
            F.coalesce("depth", F.lit(0)).alias("depth"),
        )
        .withColumn("neg_depth", -F.col("depth"))
    )
