"""Geometry kernels: shoelace, PIP, contains, intersects, normalization."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_jigsaw_spark.functions.geometry import (
    bbox_col,
    normalize_ring,
    points_in_ring,
    rect_ring_col,
    ring_contains_ring,
    ring_intersects_rect,
    shoelace_area_col,
    shoelace_area_np,
)


def rect(a, b, c, d):
    # (min_lat, min_lon, max_lat, max_lon) → open ring
    return (np.array([a, a, c, c]), np.array([b, d, d, b]))


def test_shoelace_rect():
    ry, rx = rect(-10, -10, 10, 10)
    assert shoelace_area_np(ry, rx) == 400.0


def test_pip_inside_outside_boundary():
    ry, rx = rect(-1, -1, 1, 1)
    py = np.array([0.0, 2.0, 1.0, -1.0, 1.0])
    px = np.array([0.0, 0.0, 0.0, -1.0, 1.0])
    got = points_in_ring(py, px, ry, rx)
    # boundary points (edge midpoint, corners) count as inside
    assert got.tolist() == [True, False, True, True, True]


def test_contains_boundary_touching():
    # Overlapping shares lon edges with Large (GraphBuilderSpec geometry)
    large = rect(-10, -10, 10, 10)
    overlapping = rect(-5, -10, 5, 10)
    assert ring_contains_ring(*large, *overlapping)
    assert not ring_contains_ring(*overlapping, *large)


def test_contains_identical_rings():
    r = rect(0, 0, 1, 1)
    # areaSame semantics: identical rings contain each other
    assert ring_contains_ring(*r, *r)


def test_not_contains_overlap():
    left = rect(-10, -10, 0, 10)
    overlapping = rect(-5, -10, 5, 10)
    assert not ring_contains_ring(*left, *overlapping)
    assert not ring_contains_ring(*overlapping, *left)


def test_contains_nonconvex_edge_crossing():
    # b's vertices inside a but an edge of b crosses a's boundary notch
    ay = np.array([0, 0, 4, 4, 2.5, 1.5])
    ax = np.array([0, 4, 4, 0, 2.0, 2.0])  # notch into the top
    by = np.array([3.0, 3.0, 3.5, 3.5])
    bx = np.array([1.0, 3.0, 3.0, 1.0])  # spans across the notch
    assert not ring_contains_ring(ay, ax, by, bx)


def test_intersects_rect():
    ry, rx = rect(0, 0, 2, 2)
    assert ring_intersects_rect(ry, rx, 1, 1, 3, 3)     # overlap
    assert ring_intersects_rect(ry, rx, 2, 2, 3, 3)     # corner touch
    assert not ring_intersects_rect(ry, rx, 5, 5, 6, 6)  # disjoint
    assert ring_intersects_rect(ry, rx, -1, -1, 5, 5)   # rect covers ring
    assert ring_intersects_rect(ry, rx, 0.5, 0.5, 1.5, 1.5)  # rect inside ring


def test_normalize_ring_rotation_direction():
    ry, rx = rect(0, 0, 1, 1)
    rot = (np.roll(ry, 2), np.roll(rx, 2))
    rev = (ry[::-1].copy(), rx[::-1].copy())
    base = normalize_ring(ry, rx)
    for other in (rot, rev):
        ny, nx = normalize_ring(*other)
        assert np.array_equal(base[0], ny) and np.array_equal(base[1], nx)

    # the minimum vertex P repeats: [P,a,P,b,P,c], and a two-visit pinch
    # (figure-eight through P); every rotation, either way, is one form
    p, a, b, c = (0.0, 0.0), (1.0, 5.0), (2.0, 3.0), (3.0, 1.0)
    pinch = [p, (1.0, 1.0), (2.0, 0.5), p, (1.0, -1.0), (2.0, -0.5)]
    for ring in ([p, a, p, b, p, c], pinch):
        ry, rx = np.array(ring).T
        base = normalize_ring(ry, rx)
        for k in range(len(ring)):
            for y, x in ((np.roll(ry, k), np.roll(rx, k)),
                         (np.roll(ry[::-1], k), np.roll(rx[::-1], k))):
                ny, nx = normalize_ring(y, x)
                assert np.array_equal(base[0], ny) and np.array_equal(base[1], nx)


@pytest.mark.parametrize("pts,expected", [
    ([(0, 0), (0, 2), (1, 2), (1, 0)], True),    # axis rect, clockwise
    ([(0, 0), (1, 0), (1, 2), (0, 2)], True),    # axis rect, counter-clockwise
    ([(0, 0), (1, 1), (0, 1), (1, 0)], False),   # bowtie: 2 lats, 2 lons
    ([(0, 0), (0, 4), (2, 3), (2, 1)], False),   # trapezoid
    ([(0, 0), (0, 1), (0, 2), (1, 2), (1, 0)], False),  # collinear vertex
])
def test_rect_ring_col(spark, pts, expected):
    df = spark.createDataFrame(
        [([float(p[0]) for p in pts], [float(p[1]) for p in pts])],
        "lats array<double>, lons array<double>")
    lats, lons = F.col("lats"), F.col("lons")
    got = df.select(rect_ring_col(
        lats, lons, bbox_col(lats, lons), shoelace_area_col(lats, lons))
    ).first()[0]
    assert got is expected
