"""Batched one-ring-vs-many kernels must agree exactly with the scalar
kernels they replace (VERDICT r1 item 4)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from osm_jigsaw_spark.functions.batches import per_ring
from osm_jigsaw_spark.functions.geometry import (
    points_in_ring,
    points_ring_distance_batch,
    ring_contains_ring,
    ring_contains_rings_batch,
    ring_intersects_rect,
    ring_intersects_rects_batch,
)


def _rand_ring(rng, cx, cy, r_mean, n):
    """Star-convex ring around (cx, cy) — valid simple polygon."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r_mean * rng.uniform(0.5, 1.5, n)
    return cy + rad * np.sin(ang), cx + rad * np.cos(ang)


def test_contains_batch_matches_scalar():
    rng = np.random.default_rng(7)
    ay, ax = _rand_ring(rng, 0, 0, 10.0, 24)
    childs = []
    for _ in range(120):
        cx, cy = rng.uniform(-12, 12, 2)
        childs.append(_rand_ring(rng, cx, cy, rng.uniform(0.5, 8.0), 12))
    b_lats = [c[0] for c in childs]
    b_lons = [c[1] for c in childs]
    batch = ring_contains_rings_batch(ay, ax, b_lats, b_lons)
    scalar = np.array([
        ring_contains_ring(ay, ax, by, bx) for by, bx in childs])
    assert (batch == scalar).all()
    assert scalar.any() and not scalar.all()  # both outcomes exercised


def test_intersects_batch_matches_scalar():
    rng = np.random.default_rng(11)
    ry, rx = _rand_ring(rng, 0, 0, 5.0, 20)
    mnla = rng.uniform(-12, 10, 200)
    mnlo = rng.uniform(-12, 10, 200)
    mxla = mnla + rng.uniform(0.5, 6, 200)
    mxlo = mnlo + rng.uniform(0.5, 6, 200)
    batch = ring_intersects_rects_batch(ry, rx, mnla, mnlo, mxla, mxlo)
    scalar = np.array([
        ring_intersects_rect(ry, rx, mnla[i], mnlo[i], mxla[i], mxlo[i])
        for i in range(200)])
    assert (batch == scalar).all()
    assert scalar.any() and not scalar.all()


def test_distance_batch_matches_scalar():
    rng = np.random.default_rng(13)
    ry, rx = _rand_ring(rng, 0, 0, 5.0, 16)
    py = rng.uniform(-10, 10, 300)
    px = rng.uniform(-10, 10, 300)
    batch = points_ring_distance_batch(ry, rx, py, px)

    def scalar_one(y, x):
        if points_in_ring(np.array([y]), np.array([x]), ry, rx)[0]:
            return 0.0
        y2, x2 = np.roll(ry, -1), np.roll(rx, -1)
        dx, dy = x2 - rx, y2 - ry
        seg2 = dx * dx + dy * dy
        t = np.clip(((x - rx) * dx + (y - ry) * dy)
                    / np.where(seg2 == 0, 1, seg2), 0, 1)
        cx, cy = rx + t * dx, ry + t * dy
        return float(np.sqrt(np.min((x - cx) ** 2 + (y - cy) ** 2)))

    scalar = np.array([scalar_one(py[i], px[i]) for i in range(300)])
    np.testing.assert_allclose(batch, scalar, rtol=0, atol=1e-12)
    assert (scalar == 0).any() and (scalar > 0).any()


def test_contains_batch_chunking():
    """Force the chunked path (many child vertices vs a big parent)."""
    import osm_jigsaw_spark.functions.geometry as G
    rng = np.random.default_rng(17)
    ay, ax = _rand_ring(rng, 0, 0, 10.0, 400)
    childs = [_rand_ring(rng, *rng.uniform(-3, 3, 2), 1.0, 50)
              for _ in range(40)]
    b_lats = [c[0] for c in childs]
    b_lons = [c[1] for c in childs]
    old = G._CHUNK_ELEMS
    try:
        G._CHUNK_ELEMS = 5_000  # chunk boundary every ~12 points
        batch = ring_contains_rings_batch(ay, ax, b_lats, b_lons)
    finally:
        G._CHUNK_ELEMS = old
    scalar = np.array([
        ring_contains_ring(ay, ax, by, bx) for by, bx in childs])
    assert (batch == scalar).all()


def test_per_ring_dispatch_keeps_row_order():
    """Rows of several rings, keys interleaved and unsorted as a pandas UDF
    may see them: each row is decided by its own ring and the results come
    back in input order."""
    rng = np.random.default_rng(19)
    rings = [_rand_ring(rng, cx, 0, 4.0, 12) for cx in (-6.0, 0.0, 6.0)]
    key = rng.integers(0, 3, 90)
    assert (np.diff(key) < 0).any()
    lats = pd.Series([rings[k][0] for k in key])
    lons = pd.Series([rings[k][1] for k in key])
    py = rng.uniform(-6, 6, 90)
    px = rng.uniform(-12, 12, 90)
    dist = per_ring(points_ring_distance_batch, float, pd.Series(key),
                    lats, lons, pd.Series(py), pd.Series(px))
    want = [points_ring_distance_batch(*rings[k], py[i:i + 1], px[i:i + 1])[0]
            for i, k in enumerate(key)]
    np.testing.assert_allclose(dist, want, rtol=0, atol=1e-12)
    assert (dist == 0).any() and (dist > 0).any()

    childs = [_rand_ring(rng, *rng.uniform(-8, 8, 2), 1.5, 8)
              for _ in key]
    got = per_ring(ring_contains_rings_batch, bool, pd.Series(key),
                   lats, lons, pd.Series([c[0] for c in childs]),
                   pd.Series([c[1] for c in childs]))
    scalar = [ring_contains_ring(*rings[k], *childs[i])
              for i, k in enumerate(key)]
    assert got.tolist() == scalar
    assert any(scalar) and not all(scalar)
