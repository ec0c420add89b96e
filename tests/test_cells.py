"""Packed grid-cell keys: k-ring enumeration and geohash tile alignment."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_jigsaw_spark.functions.cells import (
    RESOLUTIONS,
    cell_of_point,
    geohash_encode_np,
    geohash_tiles,
    kring_cells,
    lat_bits,
)


def _ring_cells(spark, lat, lon, ring):
    df = spark.createDataFrame([(lat, lon)], "lat double, lon double")
    return df.select(kring_cells(F.col("lat"), F.col("lon"), ring)).first()[0]


def _by_res(cells):
    out = {}
    for c in cells:
        out.setdefault(c >> 40, []).append(c)
    return out


@pytest.mark.parametrize("ring", [1, 2])
def test_kring_interior_is_full_square(spark, ring):
    cells = _ring_cells(spark, 10.3, 20.7, ring)
    by_res = _by_res(cells)
    assert sorted(by_res) == RESOLUTIONS
    for res, cs in by_res.items():
        if 2 * ring + 1 > 1 << lat_bits(res):
            continue  # res 1 has 4 lat rows: a radius-2 ring cannot fit
        assert len(cs) == len(set(cs)) == (2 * ring + 1) ** 2, res
        center = spark.range(1).select(
            cell_of_point(F.lit(10.3), F.lit(20.7), res)).first()[0]
        assert center in cs


def test_kring_clamps_at_grid_corner(spark):
    # the (-90, -180) corner: only the quadrant of lon/lat index >= 0 exists
    ring = 2
    by_res = _by_res(_ring_cells(spark, -90.0, -180.0, ring))
    for res, cs in by_res.items():
        assert len(cs) == (ring + 1) ** 2, res
        lon_i = {(c >> 20) & ((1 << 20) - 1) for c in cs}
        lat_i = {c & ((1 << 20) - 1) for c in cs}
        assert lon_i == lat_i == set(range(ring + 1))
    # the opposite (90, 180) corner clamps at the top indices
    by_res = _by_res(_ring_cells(spark, 90.0, 180.0, ring))
    assert all(len(cs) == (ring + 1) ** 2 for cs in by_res.values())


@pytest.mark.parametrize("res", [1, 2, 3])
def test_geohash_tile_cell_equals_cell_of_point(spark, res):
    rng = np.random.default_rng(res)
    lats = rng.uniform(-89.9, 89.9, 200)
    lons = rng.uniform(-179.9, 179.9, 200)
    hashes = geohash_encode_np(lats, lons, res)
    pts = spark.createDataFrame(
        [(str(h), float(a), float(o)) for h, a, o in zip(hashes, lats, lons)],
        "tile_id string, lat double, lon double")
    rows = (
        pts.join(geohash_tiles(spark, res).select("tile_id", "cell"),
                 "tile_id")
        .select("cell", cell_of_point(F.col("lat"), F.col("lon"), res)
                .alias("point_cell"))
        .collect()
    )
    assert len(rows) == 200
    assert all(r.cell == r.point_cell for r in rows)
