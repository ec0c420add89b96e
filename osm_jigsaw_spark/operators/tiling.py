"""Geohash tiling: raster-tile ↔ vector-area assignment + per-tile graphs.

Re-expresses the reference `tile` step (steps/Tiling.scala:20-135): walk the
graph per geohash tile, keep subtrees intersecting the tile, write per-tile
graph/areas/tags segments. Duplication across tiles is expected output
(parser README.md:137-162), not overhead.

Spark-first: the tile grid is a small dimension table
(functions/cells.geohash_tiles — counts 32/1,024/32,768 at res 1/2/3,
tiles/TileGeneratorSpec.scala:11-13); assignment is a cell equi-join (areas
covered at the tile resolution join tiles on the packed cell key — tiles ARE
grid cells, so no range math) refined by an exact polygon∩rect kernel
(reference areasIntersect, areas/AreaComparision.scala:16-18). The per-tile
graph is an edge filter over assignments plus re-rooting — the reference's
DFS walk replaced by two joins.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells as C
from ..functions.batches import per_ring
from ..functions.geometry import rect_ring_col, ring_intersects_rects_batch
from .containment import ROOT_ID


@F.pandas_udf(T.BooleanType())
def _intersects_rect_udf(area_key: pd.Series,
                         lats: pd.Series, lons: pd.Series,
                         min_lat: pd.Series, min_lon: pd.Series,
                         max_lat: pd.Series, max_lon: pd.Series) -> pd.Series:
    """Polygon∩rect for each candidate tile: one ring_intersects_rects_batch
    call per area in a batch (batches.per_ring)."""
    return per_ring(ring_intersects_rects_batch, bool, area_key, lats, lons,
                    min_lat, min_lon, max_lat, max_lon)


def tile_assignments(spark: SparkSession, areas: DataFrame,
                     res: int = 1) -> DataFrame:
    """(tile_id, area_key, canonical_osm_id) for every tile the area's
    polygon intersects."""
    tiles = C.geohash_tiles(spark, res).select(
        "tile_id", "cell",
        F.col("min_lat").alias("t_min_lat"), F.col("min_lon").alias("t_min_lon"),
        F.col("max_lat").alias("t_max_lat"), F.col("max_lon").alias("t_max_lon"),
    )
    covered = areas.select(
        F.col("ring_hash").alias("area_key"), "canonical_osm_id",
        "lats", "lons", "bbox",
        rect_ring_col(F.col("lats"), F.col("lons"), F.col("bbox"),
                      F.col("area")).alias("is_rect"),
        F.explode(C.covering_cells_at(F.col("bbox"), res)).alias("cell"),
    )
    # tiles is tiny (≤32k rows) — broadcast; covering join prunes to
    # bbox-overlapping tiles, UDF refines to true polygon∩rect.
    cand = covered.join(F.broadcast(tiles), "cell")
    # interior-intersection semantics (boundary-touch excluded): shrink the
    # tile rect by epsilon so the inclusive kernel behaves strictly — keeps
    # the covering prefilter (floor-indexed, misses touch-only-below tiles)
    # and the refinement consistent. Deviation from esri areasIntersect
    # (touch counts there) documented; reference tests don't pin touch cases.
    eps = 1e-9
    s_min_lat = F.col("t_min_lat") + eps
    s_min_lon = F.col("t_min_lon") + eps
    s_max_lat = F.col("t_max_lat") - eps
    s_max_lon = F.col("t_max_lon") - eps
    bbox_overlap = (
        (F.col("bbox.max_lat") >= s_min_lat)
        & (F.col("bbox.min_lat") <= s_max_lat)
        & (F.col("bbox.max_lon") >= s_min_lon)
        & (F.col("bbox.min_lon") <= s_max_lon)
    )
    bbox_inside = (
        (F.col("bbox.min_lat") >= s_min_lat)
        & (F.col("bbox.max_lat") <= s_max_lat)
        & (F.col("bbox.min_lon") >= s_min_lon)
        & (F.col("bbox.max_lon") <= s_max_lon)
    )
    # pure-codegen decisions (the common case — most areas are small, so
    # their bbox sits inside the one tile the covering join produced):
    #   no bbox overlap with the shrunk rect  → cannot intersect (false)
    #   axis-rect ring                        → bbox overlap IS the answer
    #   bbox fully inside the shrunk rect     → polygon ⊆ bbox ⇒ intersects
    # only boundary-straddling true polygons reach the Arrow kernel.
    cand = cand.withColumn(
        "decided",
        F.when(~bbox_overlap, F.lit(False))
        .when(F.col("is_rect") | bbox_inside, F.lit(True)),
    )
    undecided = cand.filter(F.col("decided").isNull())
    hit_fast = cand.filter(F.col("decided")).select(
        "tile_id", "area_key", "canonical_osm_id")
    hit_kernel = undecided.sortWithinPartitions("area_key").withColumn(
        "touches",
        _intersects_rect_udf(
            "area_key", "lats", "lons",
            s_min_lat, s_min_lon, s_max_lat, s_max_lon),
    ).filter("touches").select("tile_id", "area_key", "canonical_osm_id")
    return hit_fast.unionByName(hit_kernel)


def tile_graph(edges: DataFrame, assignments: DataFrame) -> DataFrame:
    """Per-tile graph edges, re-rooted: an edge survives in a tile iff both
    endpoints intersect the tile; areas whose parent is absent from the tile
    (or whose parent is the global root) hang off the tile root (-1) —
    reference Tiling.scala:51-133 subtree filter."""
    a_parent = assignments.select(
        F.col("tile_id"), F.col("area_key").alias("parent_key"))
    a_child = assignments.select(
        F.col("tile_id"), F.col("area_key").alias("child_key"),
        F.col("canonical_osm_id").alias("child_osm_id"))

    inner = (
        # drop the edge's own child_osm_id before joining: a_child carries
        # the same value and keeping both makes the name ambiguous
        edges.select("parent_key", "child_key")
        .join(a_child, "child_key")
        .join(a_parent, ["tile_id", "parent_key"], "left_semi")
        .filter(F.col("parent_key") != ROOT_ID)
        .select("tile_id", "parent_key", "child_key", "child_osm_id")
    )
    # re-root: per tile, children with no surviving in-tile parent edge
    rerooted = (
        a_child.join(
            inner.select("tile_id", F.col("child_key")).distinct(),
            ["tile_id", "child_key"], "left_anti",
        ).select(
            "tile_id",
            F.lit(ROOT_ID).alias("parent_key"),
            "child_key", "child_osm_id",
        )
    )
    return inner.unionByName(rerooted)


def write_tiled_segments(root: str, areas: DataFrame, edges: DataFrame,
                         tags: DataFrame, assignments: DataFrame) -> dict:
    """Partitioned per-tile output — the reference's per-geohash
    graphv2-<gh>.pbf / areas-<gh>.pbf / tags-<gh>.pbf segment files
    (steps/Tiling.scala:100-133, loaded per-tile by the API's
    GraphService.scala:93-110) as three `partitionBy(tile_id)` parquet
    tables. Cross-tile duplication is expected output, not overhead
    (parser README.md:137-162). A tile-pruned read
    (`WHERE tile_id = ...`) is the engine's analog of the API's
    per-geohash segment fetch.

    Returns row counts per table."""
    tile_areas = assignments.select("tile_id", "area_key").join(
        areas.withColumnRenamed("ring_hash", "area_key"), "area_key")
    tile_areas.write.mode("overwrite").partitionBy("tile_id").parquet(
        f"{root}/areas")

    tg = tile_graph(edges, assignments)
    tg.write.mode("overwrite").partitionBy("tile_id").parquet(
        f"{root}/graph")

    # distinct BEFORE the tags join: map columns can't be compared
    tile_tags = (
        tile_areas.select("tile_id", F.explode("osm_ids").alias("osm_id"))
        .distinct()
        .join(tags, "osm_id")
        .select("tile_id", "osm_id", "tags")
    )
    tile_tags.write.mode("overwrite").partitionBy("tile_id").parquet(
        f"{root}/tags")

    spark = areas.sparkSession
    return {
        "areas": spark.read.parquet(f"{root}/areas").count(),
        "graph": spark.read.parquet(f"{root}/graph").count(),
        "tags": spark.read.parquet(f"{root}/tags").count(),
    }
