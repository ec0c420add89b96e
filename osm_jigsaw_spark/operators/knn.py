"""kNN nearest-area lookup via grid-cell ring expansion.

Extension mandated by the north rule — NO reference analog (the closest
thing is the geohash-cell segment lookup, osm-jigsaw-api
app/graph/GraphService.scala:31-32). Documented as such in SURVEY.md §2.5.

Approach: candidate areas come from the shared covering index joined against
the query point's cell *neighborhood* (functions/cells.kring_cells: k-ring
of radius `ring` at each resolution, enumerated like a bbox covering). Exact point→polygon distance (0 when inside) is an Arrow
kernel; per-point top-k is a window row_number. Points whose k-ring finds
fewer than k candidates report what was found — widen `ring` to trade
shuffle volume for recall (at planet density res-3 cells hold hundreds of
areas, so radius 1-2 suffices).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.batches import per_ring
from ..functions.cells import kring_cells
from ..functions.geometry import points_ring_distance_batch
from .containment import area_cell_index


@F.pandas_udf(T.DoubleType())
def _point_ring_distance(area_key: pd.Series, lat: pd.Series, lon: pd.Series,
                         lats: pd.Series, lons: pd.Series) -> pd.Series:
    """Planar distance point→polygon boundary; 0 if inside-or-on. One
    points_ring_distance_batch call per area in a batch (batches.per_ring)."""
    return per_ring(points_ring_distance_batch, float,
                    area_key, lats, lons, lat, lon)


def knn_areas(areas: DataFrame, points: DataFrame, k: int = 5,
              ring: int = 1, idx: DataFrame | None = None) -> DataFrame:
    """(point_id, canonical_osm_id, distance, rank) — k nearest areas.
    `idx`: optional shared pre-materialized area_cell_index."""
    if idx is None:
        idx = area_cell_index(areas)
    pts = points.select(
        "point_id", "lat", "lon",
        F.explode(kring_cells(F.col("lat"), F.col("lon"), ring)).alias("cell"),
    )
    cand = (
        pts.join(idx, "cell")
        .select("point_id", "lat", "lon", "area_key",
                "canonical_osm_id", "lats", "lons")
        .dropDuplicates(["point_id", "area_key"])
    )
    with_d = cand.sortWithinPartitions("area_key").withColumn(
        "distance",
        _point_ring_distance("area_key", "lat", "lon", "lats", "lons"),
    )
    w = Window.partitionBy("point_id").orderBy(
        F.col("distance"), F.col("canonical_osm_id"), F.col("area_key"))
    return (
        with_d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("point_id", "canonical_osm_id", "area_key", "distance", "rank")
    )
