"""Geocode descent + kNN + tiling parity (FIXTURES.md §4 expectations)."""

from pyspark.sql import functions as F

from osm_jigsaw_spark.functions.cells import geohash_encode_np, geohash_tiles
from osm_jigsaw_spark.functions.geometry import points_in_ring
from osm_jigsaw_spark.operators.containment import ROOT_ID
from osm_jigsaw_spark.operators.geocode import geocode
from osm_jigsaw_spark.operators.knn import knn_areas
from osm_jigsaw_spark.operators.tiling import tile_assignments

import numpy as np


def _paths(pipeline, qpoints):
    rows = geocode(pipeline.areas, pipeline.graph_edges, qpoints).collect()
    out = {}
    for r in rows:
        out.setdefault(r["point_id"], set()).add(tuple(r["path"]))
    return out


def test_geocode_paths(pipeline, qpoints):
    got = _paths(pipeline, qpoints)
    assert got["p_small"] == {
        ("100W", "105W", "101W", "102W"),
        ("100W", "104W"),
    }
    assert got["p_fits"] == {
        ("100W", "105W", "101W", "102W", "106W"),
        ("100W", "103W", "106W"),
    }
    assert got["p_holdenhurst"] == {("201R", "202R")}
    assert got["p_richmond"] == {("200R",)}
    assert "p_ocean" not in got  # no enclosing areas → no rows


def test_tile_grid_counts(spark):
    assert geohash_tiles(spark, 1).count() == 32
    assert geohash_tiles(spark, 2).count() == 1024
    assert geohash_tiles(spark, 3).count() == 32768


def test_geohash_encode_known_values():
    # canonical geohash test vector: (57.64911, 10.40744) → u4pruyd...
    got = geohash_encode_np(np.array([57.64911]), np.array([10.40744]), 3)
    assert got[0] == "u4p"
    got1 = geohash_encode_np(np.array([0.0]), np.array([0.0]), 1)
    assert got1[0] == "s"


def test_tile_assignments_rect_world(spark, pipeline):
    ta = tile_assignments(spark, pipeline.areas, 1)
    got = {}
    for r in ta.collect():
        got.setdefault(r["canonical_osm_id"], set()).add(r["tile_id"])
    # Large spans the four res-1 cells around (0,0): 7/e/k/s
    assert got["100W"] == {"7", "e", "k", "s"}
    # Right is lat>=0 → only northern cells e/s... (lon -10..10)
    assert got["104W"] == {"e", "s"}
    # richmond fits in one tile; its center encodes to that tile
    assert got["200R"] == {geohash_encode_np(np.array([30.0]), np.array([30.0]), 1)[0]}
    assert got["302W"] == {geohash_encode_np(np.array([60.0]), np.array([60.0]), 1)[0]}


def test_knn(pipeline, qpoints):
    res = knn_areas(pipeline.areas, qpoints, k=3)
    rows = [r for r in res.collect() if r["point_id"] == "p_richmond"]
    assert rows and rows[0]["canonical_osm_id"] == "200R"
    assert rows[0]["distance"] == 0.0


def test_write_tiled_segments(spark, pipeline, tmp_path):
    """G7 per-tile partitioned output: the reference's per-geohash
    graph/areas/tags segment files (steps/Tiling.scala:100-133) as
    partitionBy(tile_id) tables; a tile-pruned read is the API's
    per-geohash segment fetch (GraphService.scala:93-110)."""
    import os

    from pyspark.sql import functions as F

    from osm_jigsaw_spark.operators.tiling import (
        tile_assignments,
        write_tiled_segments,
    )

    assign = tile_assignments(spark, pipeline.areas, res=1)
    counts = write_tiled_segments(
        str(tmp_path / "tiles"), pipeline.areas, pipeline.graph_edges,
        pipeline.tags, assign)
    assert counts["areas"] == assign.count()  # one row per assignment
    assert counts["graph"] > 0 and counts["tags"] > 0

    # physical layout is hive-partitioned by tile_id
    parts = [d for d in os.listdir(tmp_path / "tiles" / "areas")
             if d.startswith("tile_id=")]
    assert len(parts) == assign.select("tile_id").distinct().count()

    # partition-pruned read returns exactly that tile's areas
    some_tile = parts[0].split("=", 1)[1]
    pruned = spark.read.parquet(str(tmp_path / "tiles" / "areas")).filter(
        F.col("tile_id") == some_tile)
    expect = assign.filter(F.col("tile_id") == some_tile).count()
    assert pruned.count() == expect


def test_geocode_matches_brute_force(spark, pipeline, qpoints):
    """Differential check against code that shares nothing with the engine:
    containing areas from the numpy ring test (points_in_ring, not the
    engine's cell join + pip_col), paths from a plain-Python DFS over the
    collected graph_edges restricted to those areas. Points: the fixture's
    query points, a seeded jittered grid over the world's bbox, and seeded
    points in every area's bbox (the world's polygons are small, so the
    grid alone rarely lands where a bbox and its ring disagree)."""
    areas = pipeline.areas.select(
        "ring_hash", "canonical_osm_id", "lats", "lons", "bbox").collect()
    edges = pipeline.graph_edges.collect()

    rng = np.random.default_rng(7)
    lat0 = min(a.bbox.min_lat for a in areas)
    lat1 = max(a.bbox.max_lat for a in areas)
    lon0 = min(a.bbox.min_lon for a in areas)
    lon1 = max(a.bbox.max_lon for a in areas)
    n = 14  # 196 grid points, one per cell at a seeded offset
    grid = [
        (f"g{i}_{j}",
         float(lat0 + (i + rng.random()) * (lat1 - lat0) / n),
         float(lon0 + (j + rng.random()) * (lon1 - lon0) / n))
        for i in range(n) for j in range(n)]
    in_bbox = [
        (f"a{i}_{j}", float(rng.uniform(a.bbox.min_lat, a.bbox.max_lat)),
         float(rng.uniform(a.bbox.min_lon, a.bbox.max_lon)))
        for i, a in enumerate(areas) for j in range(8)]
    points = ([(r.point_id, r.lat, r.lon) for r in qpoints.collect()]
              + grid + in_bbox)

    py = np.array([p[1] for p in points])
    px = np.array([p[2] for p in points])
    inside = {a.ring_hash: points_in_ring(
        py, px, np.array(a.lats), np.array(a.lons)) for a in areas}
    children = {}
    for e in edges:
        children.setdefault(e.parent_key, []).append(
            (e.child_key, e.child_osm_id))

    expected = []
    for k, (pid, _lat, _lon) in enumerate(points):
        def dfs(node, path, keys):
            kids = [(c, o) for c, o in children.get(node, [])
                    if inside[c][k]]
            if not kids and keys:
                expected.append((pid, tuple(path), tuple(keys)))
            for c, o in kids:
                dfs(c, path + [o], keys + [c])
        dfs(ROOT_ID, [], [])

    pts_df = spark.createDataFrame(
        points, "point_id string, lat double, lon double")
    got = [(r.point_id, tuple(r.path), tuple(r.path_keys)) for r in geocode(
        pipeline.areas, pipeline.graph_edges, pts_df).collect()]
    assert {pid[0] for pid, _p, _k in expected} >= {"g", "a"}
    assert sorted(got) == sorted(expected)


def test_geocode_carries_points_across_arrow_batches(spark, pipeline, qpoints):
    """Two rows per Arrow batch splits most points' edge rows across
    batches: the path enumerator must carry each split point into the next
    batch and flush the last one, giving the same rows as the default batch
    size and as enumerating every point's collected edges in the driver."""
    from osm_jigsaw_spark.operators.geocode import (
        _enumerate_point,
        areas_containing_points,
        point_edges,
    )

    rng = np.random.default_rng(11)
    points = [(r.point_id, r.lat, r.lon) for r in qpoints.collect()] + [
        (f"a{i}_{j}", float(rng.uniform(b.min_lat, b.max_lat)),
         float(rng.uniform(b.min_lon, b.max_lon)))
        for i, (b,) in enumerate(pipeline.areas.select("bbox").collect())
        for j in range(8)]
    pts = spark.createDataFrame(points, "point_id string, lat double, lon double")

    def run():
        return sorted(
            (r.point_id, tuple(r.path), tuple(r.path_keys)) for r in geocode(
                pipeline.areas, pipeline.graph_edges, pts).collect())

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    default = run()
    try:
        spark.conf.set(key, "2")
        small = run()
    finally:
        spark.conf.set(key, before)

    by_point = {}
    for r in point_edges(pipeline.graph_edges, areas_containing_points(
            pipeline.areas, pts)).collect():
        by_point.setdefault(r.point_id, []).append(r)
    out = []
    for pid, rows in by_point.items():
        _enumerate_point(pid, [r.parent_key for r in rows],
                         [r.child_key for r in rows],
                         [r.child_osm_id for r in rows], out)
    expected = sorted((p, tuple(path), tuple(keys)) for p, path, keys in out)
    assert len(by_point) > 50
    assert small == default == expected
