"""Grid-cell spatial index: the engine's prefilter for every spatial join.

Replaces the reference's per-geometry esri acceleration + geohash tiling
(reference graphing/GraphBuilder.scala:120, steps/Tiling.scala:48,
tiles/TileGenerator.scala:13-32) with a *columnar* lon/lat integer grid that
is bit-aligned with geohash, so tile counts/ids match the reference
(32 / 1,024 / 32,768 at res 1/2/3 — tiles/TileGeneratorSpec.scala:11-13).

Everything the hot joins need (cell of a point, adaptive covering of a bbox,
k-ring of a point) is pure `pyspark.sql.functions` arithmetic — no Python in
the path. The cell of a point is whole-stage codegen; coverings and k-rings
build their arrays with `F.transform`, whose lambdas are interpreted (README
"Scale design"). Geohash *strings* exist only in the small tile dimension
table, generated once in numpy.

At resolution r (geohash-aligned): lon_bits = ceil(5r/2), lat_bits =
floor(5r/2); a cell key packs (res, lon_idx, lat_idx) into one int64 so a
single equi-join column carries multi-resolution candidates. `pack_cell` is
the only place that layout is written; every key (points, coverings,
k-rings, geohash tiles) is built through it.

Scale design: a mega-polygon (continent) covered at its adaptive resolution
explodes into at most MAX_COVER_CELLS rows — this replication IS the skew
salting (the reference's >100k-children hot-node pathology, root
README.md:159-161): candidates for a huge parent are distributed across its
covering cells rather than landing on one shuffle key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"

#: resolutions available to the adaptive covering (geohash res 1..5)
RESOLUTIONS = [1, 2, 3, 4, 5]
#: max cells a single area may explode into at its chosen resolution
MAX_COVER_CELLS = 64


def lon_bits(res: int) -> int:
    return (5 * res + 1) // 2


def lat_bits(res: int) -> int:
    return (5 * res) // 2


def _idx(coord: Column, lo: float, span: float, bits: int) -> Column:
    n = 1 << bits
    raw = F.floor((coord - F.lit(lo)) / F.lit(span) * F.lit(n)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw))


def lon_idx(lon: Column, res: int) -> Column:
    return _idx(lon, -180.0, 360.0, lon_bits(res))


def lat_idx(lat: Column, res: int) -> Column:
    return _idx(lat, -90.0, 180.0, lat_bits(res))


def pack_cell(res: int, lon_i: Column, lat_i: Column) -> Column:
    """int64 key (res, lon_idx, lat_idx) — one equi-join column."""
    return (F.lit(res).cast("long") * F.lit(1 << 40)
            + lon_i * F.lit(1 << 20) + lat_i)


def cell_of_point(lat: Column, lon: Column, res: int) -> Column:
    return pack_cell(res, lon_idx(lon, res), lat_idx(lat, res))


def point_cells_all_res(lat: Column, lon: Column) -> Column:
    """array<long>: the point's cell at every resolution (small constant)."""
    return F.array(*[cell_of_point(lat, lon, r) for r in RESOLUTIONS])


def _bbox_index_rect(bbox: Column, res: int) -> tuple[Column, ...]:
    """(lo_lon, hi_lon, lo_lat, hi_lat): the bbox's res-r index bounds."""
    return (lon_idx(bbox["min_lon"], res), lon_idx(bbox["max_lon"], res),
            lat_idx(bbox["min_lat"], res), lat_idx(bbox["max_lat"], res))


def covering_count(bbox: Column, res: int) -> Column:
    """How many res-r cells the bbox spans — columnar, for adaptive choice."""
    lo_lon, hi_lon, lo_lat, hi_lat = _bbox_index_rect(bbox, res)
    return (hi_lon - lo_lon + F.lit(1)) * (hi_lat - lo_lat + F.lit(1))


def _cells_in_index_rect(res: int, lo_lon: Column, hi_lon: Column,
                         lo_lat: Column, hi_lat: Column) -> Column:
    """array<long> of the res-r cells whose indices lie in the inclusive
    rectangle [lo_lon, hi_lon] × [lo_lat, hi_lat]; callers clamp the bounds.

    F.sequence × F.transform × F.flatten — generated JVM-side; the explode
    happens at the call site so Catalyst can pipeline it into the join.
    """
    return F.flatten(
        F.transform(
            F.sequence(lo_lon, hi_lon),
            lambda li: F.transform(
                F.sequence(lo_lat, hi_lat),
                lambda la: pack_cell(res, li, la),
            ),
        )
    )


def covering_cells_at(bbox: Column, res: int) -> Column:
    """array<long> of all res-r cells intersecting the bbox."""
    return _cells_in_index_rect(res, *_bbox_index_rect(bbox, res))


def covering_cells_adaptive(bbox: Column) -> Column:
    """array<long> covering at the finest resolution whose covering stays
    within MAX_COVER_CELLS (coarsest as the fallback) — one `when` chain."""
    # Wrap coarse→fine: the outermost (last-wrapped, finest) feasible wins.
    out = covering_cells_at(bbox, RESOLUTIONS[0])
    for r in RESOLUTIONS[1:]:
        out = F.when(covering_count(bbox, r) <= MAX_COVER_CELLS,
                     covering_cells_at(bbox, r)).otherwise(out)
    return out


def kring_cells(lat: Column, lon: Column, ring: int) -> Column:
    """array<long> of the cells within `ring` grid steps of the point, at
    every resolution. Clamped at grid borders (no wraparound — consistent
    with the reference's acknowledged 180th-meridian blind spot)."""
    def ring_at(r):
        li, la = lon_idx(lon, r), lat_idx(lat, r)
        return _cells_in_index_rect(
            r,
            F.greatest(F.lit(0), li - ring),
            F.least(F.lit((1 << lon_bits(r)) - 1), li + ring),
            F.greatest(F.lit(0), la - ring),
            F.least(F.lit((1 << lat_bits(r)) - 1), la + ring),
        )

    return F.flatten(F.array(*[ring_at(r) for r in RESOLUTIONS]))


# ---------------------------------------------------------------------------
# Geohash tile dimension table (reference tiles/TileGenerator.scala:13-32).
# ---------------------------------------------------------------------------

def _geohash_table_np(res: int) -> pd.DataFrame:
    """All 32^res geohash tiles with bboxes and grid indices (numpy)."""
    n = 32 ** res
    v = np.arange(n, dtype=np.uint64)
    nbits = 5 * res
    lon_i = np.zeros(n, dtype=np.uint64)
    lat_i = np.zeros(n, dtype=np.uint64)
    # MSB-first interleave, starting with a longitude bit (geohash spec).
    for pos in range(nbits):
        bit = (v >> np.uint64(nbits - 1 - pos)) & np.uint64(1)
        if pos % 2 == 0:
            lon_i = (lon_i << np.uint64(1)) | bit
        else:
            lat_i = (lat_i << np.uint64(1)) | bit
    lb, tb = lon_bits(res), lat_bits(res)
    lon_w = 360.0 / (1 << lb)
    lat_w = 180.0 / (1 << tb)
    min_lon = -180.0 + lon_i.astype(np.float64) * lon_w
    min_lat = -90.0 + lat_i.astype(np.float64) * lat_w
    chars = np.array(list(BASE32))
    gh = np.empty(n, dtype=object)
    digits = [((v >> np.uint64(5 * (res - 1 - k))) & np.uint64(31)).astype(int) for k in range(res)]
    for i in range(n):
        gh[i] = "".join(chars[d[i]] for d in digits)
    return pd.DataFrame(
        {
            "tile_id": gh,
            "res": np.int32(res),
            "lon_idx": lon_i.astype(np.int64),
            "lat_idx": lat_i.astype(np.int64),
            "min_lat": min_lat,
            "min_lon": min_lon,
            "max_lat": min_lat + lat_w,
            "max_lon": min_lon + lon_w,
        }
    )


def geohash_tiles(spark: SparkSession, res: int) -> DataFrame:
    """Tile dimension table at geohash resolution `res` (32^res rows).

    Small dimension (≤32,768 rows at res 3) — generated once, broadcastable.
    Columns: tile_id, res, lon_idx, lat_idx, min/max lat/lon, cell (packed
    key aligned with cell_of_point/covering_cells so tile↔area assignment is
    a plain equi-join).
    """
    pdf = _geohash_table_np(res)
    df = spark.createDataFrame(pdf)
    return df.withColumn(
        "cell", pack_cell(res, F.col("lon_idx"), F.col("lat_idx")),
    ).withColumn(
        "bbox",
        F.struct(
            F.col("min_lat").alias("min_lat"),
            F.col("min_lon").alias("min_lon"),
            F.col("max_lat").alias("max_lat"),
            F.col("max_lon").alias("max_lon"),
        ),
    )


def geohash_encode_np(lats: np.ndarray, lons: np.ndarray, res: int) -> np.ndarray:
    """Vectorized geohash encode (for point→tile lookups, tests)."""
    lb, tb = lon_bits(res), lat_bits(res)
    lon_i = np.clip(((lons + 180.0) / 360.0 * (1 << lb)).astype(np.int64), 0, (1 << lb) - 1).astype(np.uint64)
    lat_i = np.clip(((lats + 90.0) / 180.0 * (1 << tb)).astype(np.int64), 0, (1 << tb) - 1).astype(np.uint64)
    nbits = 5 * res
    v = np.zeros(lats.shape[0], dtype=np.uint64)
    li_pos = lb
    la_pos = tb
    for pos in range(nbits):
        if pos % 2 == 0:
            li_pos -= 1
            bit = (lon_i >> np.uint64(li_pos)) & np.uint64(1)
        else:
            la_pos -= 1
            bit = (lat_i >> np.uint64(la_pos)) & np.uint64(1)
        v = (v << np.uint64(1)) | bit
    out = np.empty(lats.shape[0], dtype=object)
    for i in range(lats.shape[0]):
        x = int(v[i])
        out[i] = "".join(BASE32[(x >> (5 * (res - 1 - k))) & 31] for k in range(res))
    return out
