"""Planar geometry kernels (numpy, used inside Arrow/pandas UDFs) + columnar helpers.

Semantics deliberately mirror the reference's *planar* esri geometry on raw
lat/lon (reference areas/AreaComparision.scala:8-27 uses SpatialReference
wkid 1 — planar — and acknowledges the 180th-meridian problem; we reproduce
planar behavior rather than "fixing" it to spherical, or outputs diverge).

Polygons are single rings stored as parallel ``lats``/``lons`` double arrays
(reference outputarea.proto:3-9 packed-double encoding), NOT closed — the
closing edge last->first is implicit (esri Polygon auto-closes paths,
reference resolving/PolygonBuilding.scala:26-45).

Containment is boundary-inclusive, matching esri OperatorContains/OGC
Contains: a polygon contains another whose boundary touches its own
(GraphBuilderSpec relies on this: 'Overlapping' shares edges with 'Large').
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Columnar (JVM-side) helpers — operate on array<double> lat/lon columns.
# ---------------------------------------------------------------------------

def bbox_col(lats: Column, lons: Column) -> Column:
    """bbox struct<min_lat,min_lon,max_lat,max_lon> from packed ring arrays.

    Pure columnar — reference resolving/BoundingBox.scala:7-23 equivalent.
    """
    return F.struct(
        F.array_min(lats).alias("min_lat"),
        F.array_min(lons).alias("min_lon"),
        F.array_max(lats).alias("max_lat"),
        F.array_max(lons).alias("max_lon"),
    )


def _next_vertex(ring: Column) -> Column:
    """The open ring rotated left by one: element i is vertex i+1 and the
    last element is vertex 0, so zipping it with the ring yields every edge
    including the implicit closing edge last->first."""
    return F.concat(F.slice(ring, 2, 1_000_000_000), F.slice(ring, 1, 1))


def shoelace_area_col(lats: Column, lons: Column) -> Column:
    """Planar |shoelace| area of an open ring, fully JVM-side.

    Matches esri ``Math.abs(polygon.calculateArea2D())`` (reference
    areas/AreaComparision.scala:25-27): a *relative* size used only for
    ordering. Uses aggregate over zipped consecutive-vertex cross products,
    with the implicit closing edge handled by rotating the arrays.
    """
    # x_i*y_{i+1} - x_{i+1}*y_i summed over edges incl. last->first.
    cross = F.zip_with(
        F.arrays_zip(lats.alias("y"), lons.alias("x")),
        F.arrays_zip(_next_vertex(lats).alias("y"),
                     _next_vertex(lons).alias("x")),
        lambda a, b: a["x"] * b["y"] - b["x"] * a["y"],
    )
    return F.abs(
        F.aggregate(cross, F.lit(0.0), lambda acc, v: acc + v) / F.lit(2.0)
    )


def bbox_contains_expr(a: str, b: str) -> Column:
    """a.bbox contains b.bbox (boundary-inclusive), columnar prefilter."""
    return (
        (F.col(f"{a}.min_lat") <= F.col(f"{b}.min_lat"))
        & (F.col(f"{a}.min_lon") <= F.col(f"{b}.min_lon"))
        & (F.col(f"{a}.max_lat") >= F.col(f"{b}.max_lat"))
        & (F.col(f"{a}.max_lon") >= F.col(f"{b}.max_lon"))
    )


def pip_col(py: Column, px: Column, lats: Column, lons: Column,
            boundary: bool = True, eps: float = 1e-12) -> Column:
    """Boundary-inclusive point-in-polygon as a PURE COLUMN EXPRESSION.

    Crossing-number over the zipped edge list (arrays_zip + aggregate —
    no Python, but the aggregate lambda is interpreted: higher-order
    functions fall back from whole-stage codegen). Same semantics as
    points_in_ring; used in the geocode hot path where per-row Arrow
    overhead dominates.
    """
    edges = F.arrays_zip(
        lats.alias("y1"), lons.alias("x1"),
        _next_vertex(lats).alias("y2"), _next_vertex(lons).alias("x2"),
    )

    def crossing(acc, e):
        cond = (e["y1"] > py) != (e["y2"] > py)
        xin = e["x1"] + (py - e["y1"]) * (e["x2"] - e["x1"]) \
            / (e["y2"] - e["y1"])
        return acc + F.when(cond & (px < xin), 1).otherwise(0)

    inside = F.aggregate(edges, F.lit(0), crossing) % 2 == 1
    if not boundary:
        return inside

    def on_edge(e):
        cross = (e["x2"] - e["x1"]) * (py - e["y1"]) \
            - (e["y2"] - e["y1"]) * (px - e["x1"])
        seg2 = (e["x2"] - e["x1"]) ** 2 + (e["y2"] - e["y1"]) ** 2
        return (
            (F.abs(cross) <= F.lit(eps) * F.greatest(seg2, F.lit(1.0)))
            & (px >= F.least(e["x1"], e["x2"]) - eps)
            & (px <= F.greatest(e["x1"], e["x2"]) + eps)
            & (py >= F.least(e["y1"], e["y2"]) - eps)
            & (py <= F.greatest(e["y1"], e["y2"]) + eps)
        )

    return inside | F.exists(edges, on_edge)


def rect_ring_col(lats: Column, lons: Column, bbox: Column,
                  area: Column) -> Column:
    """True when the ring is exactly its bbox: 4 vertices on 2 distinct lats
    and 2 distinct lons whose shoelace `area` equals the bbox area (the area
    guard rejects 2-lat/2-lon bowties). For such rings a bbox test IS the
    exact geometry test, so the index (`is_rect`), containment and tiling
    skip the polygon kernels for them."""
    return (
        (F.size(lats) == 4)
        & (F.size(F.array_distinct(lats)) == 2)
        & (F.size(F.array_distinct(lons)) == 2)
        & (F.abs((bbox["max_lat"] - bbox["min_lat"])
                 * (bbox["max_lon"] - bbox["min_lon"]) - area)
           <= F.lit(1e-9) * F.greatest(area, F.lit(1.0)))
    )


# ---------------------------------------------------------------------------
# numpy kernels (Arrow-batched inside pandas UDFs — never per-row Python).
# ---------------------------------------------------------------------------

_EPS = 1e-12
_CHUNK_ELEMS = 2_000_000  # cap broadcast intermediates at ~16 MB float64


def _row_chunks(n_rows: int, n_cols: int):
    """Slices over n_rows rows, each at most _CHUNK_ELEMS // n_cols rows
    long, so one chunk's (rows × n_cols) intermediates stay under the cap."""
    step = max(1, _CHUNK_ELEMS // max(n_cols, 1))
    for s in range(0, n_rows, step):
        yield slice(s, min(s + step, n_rows))


def points_in_ring(py: np.ndarray, px: np.ndarray, ry: np.ndarray, rx: np.ndarray) -> np.ndarray:
    """Vectorized boundary-inclusive point-in-polygon (crossing number).

    py/px: query points (lat, lon), shape (n,). ry/rx: open ring, shape (m,).
    Returns bool (n,). Points exactly on an edge/vertex count as inside
    (esri OperatorContains boundary semantics — reference
    osm-jigsaw-api/app/areas/AreaComparison.scala:14-46 analog). Points
    are tested in row chunks (_row_chunks) to cap the (n × m) temporaries.
    """
    y1, x1 = ry, rx
    y2, x2 = np.roll(ry, -1), np.roll(rx, -1)
    out = np.empty(py.shape[0], dtype=bool)
    for sl in _row_chunks(py.shape[0], ry.shape[0]):
        py_ = py[sl, None]
        px_ = px[sl, None]

        # On-edge test: collinear + within segment bbox.
        cross = (x2 - x1) * (py_ - y1) - (y2 - y1) * (px_ - x1)
        seg_len2 = (x2 - x1) ** 2 + (y2 - y1) ** 2
        on_line = np.abs(cross) <= _EPS * np.maximum(seg_len2, 1.0)
        in_seg = (
            (px_ >= np.minimum(x1, x2) - _EPS)
            & (px_ <= np.maximum(x1, x2) + _EPS)
            & (py_ >= np.minimum(y1, y2) - _EPS)
            & (py_ <= np.maximum(y1, y2) + _EPS)
        )
        on_boundary = (on_line & in_seg).any(axis=1)

        # Crossing number on the horizontal ray to +x.
        cond = (y1 > py_) != (y2 > py_)
        with np.errstate(divide="ignore", invalid="ignore"):
            xin = x1 + (py_ - y1) * (x2 - x1) / np.where(y2 == y1, np.inf, (y2 - y1))
        crossings = (cond & (px_ < xin)).sum(axis=1)
        out[sl] = on_boundary | (crossings % 2 == 1)
    return out


def _straddles(ay1, ax1, ay2, ax2, by1, bx1, by2, bx2):
    """Segment orientation test, every a-segment (n,) against every
    b-segment (m,). Returns two (n, m) arrays (d1*d2, d3*d4): d1, d2 are the
    cross products of b's endpoints against a's direction, d3, d4 those of
    a's endpoints against b's. A product below zero means the endpoints lie
    on opposite sides; both below zero is a proper crossing.
    """
    ay1, ax1, ay2, ax2 = (v[:, None] for v in (ay1, ax1, ay2, ax2))
    by1, bx1, by2, bx2 = (v[None, :] for v in (by1, bx1, by2, bx2))
    adx, ady = ax2 - ax1, ay2 - ay1
    bdx, bdy = bx2 - bx1, by2 - by1
    d1 = adx * (by1 - ay1) - ady * (bx1 - ax1)
    d2 = adx * (by2 - ay1) - ady * (bx2 - ax1)
    d3 = bdx * (ay1 - by1) - bdy * (ax1 - bx1)
    d4 = bdx * (ay2 - by1) - bdy * (ax2 - bx1)
    return d1 * d2, d3 * d4


def _proper_segment_crossings(ay1, ax1, ay2, ax2, by1, bx1, by2, bx2) -> bool:
    """True if any segment of ring a properly crosses any segment of ring b.

    Proper crossing = intersection strictly interior to both segments.
    Touching at endpoints or collinear overlap does NOT count (boundary
    contact is allowed by esri Contains).
    """
    s_ab, s_ba = _straddles(ay1, ax1, ay2, ax2, by1, bx1, by2, bx2)
    return bool(((s_ab < -_EPS) & (s_ba < -_EPS)).any())


def ring_contains_ring(ay: np.ndarray, ax: np.ndarray, by: np.ndarray, bx: np.ndarray) -> bool:
    """Planar polygon-contains-polygon (boundary-inclusive).

    Mirrors reference areaContains (areas/AreaComparision.scala:12-14):
    all vertices of b inside-or-on a, and no proper edge crossing.
    Identical rings contain each other (areaSame semantics, lines 20-23).
    """
    if not points_in_ring(by, bx, ay, ax).all():
        return False
    ay2, ax2 = np.roll(ay, -1), np.roll(ax, -1)
    by2, bx2 = np.roll(by, -1), np.roll(bx, -1)
    return not _proper_segment_crossings(ay, ax, ay2, ax2, by, bx, by2, bx2)


def ring_intersects_rect(ry: np.ndarray, rx: np.ndarray,
                         min_lat: float, min_lon: float,
                         max_lat: float, max_lon: float) -> bool:
    """Polygon/rectangle intersects (boundary-inclusive) — tiling refinement.

    Mirrors reference areasIntersect (areas/AreaComparision.scala:16-18)
    restricted to rect tiles (steps/Tiling.scala:69-98 usage).
    """
    # Any ring vertex inside rect?
    if ((ry >= min_lat) & (ry <= max_lat) & (rx >= min_lon) & (rx <= max_lon)).any():
        return True
    # Any rect corner inside ring?
    cy = np.array([min_lat, min_lat, max_lat, max_lat])
    cx = np.array([min_lon, max_lon, min_lon, max_lon])
    if points_in_ring(cy, cx, ry, rx).any():
        return True
    # Any edge crossing (incl. improper — touching counts as intersecting)?
    recty = np.array([min_lat, min_lat, max_lat, max_lat])
    rectx = np.array([min_lon, max_lon, max_lon, min_lon])
    recty2, rectx2 = np.roll(recty, -1), np.roll(rectx, -1)
    ry2, rx2 = np.roll(ry, -1), np.roll(rx, -1)
    return _segments_touch(ry, rx, ry2, rx2, recty, rectx, recty2, rectx2)


def _segments_touch(ay1, ax1, ay2, ax2, by1, bx1, by2, bx2) -> bool:
    """Any intersection at all (incl. endpoint touch / collinear overlap)."""
    s_ab, s_ba = _straddles(ay1, ax1, ay2, ax2, by1, bx1, by2, bx2)
    general = (s_ab <= _EPS) & (s_ba <= _EPS)
    if not general.any():
        return False
    # The <= test admits collinear-but-disjoint pairs; verify those with
    # bbox overlap of the segment pairs flagged general.
    ai, bi = np.nonzero(general)
    for i, j in zip(ai, bi):
        if (
            max(min(ax1[i], ax2[i]), min(bx1[j], bx2[j])) <= min(max(ax1[i], ax2[i]), max(bx1[j], bx2[j])) + _EPS
            and max(min(ay1[i], ay2[i]), min(by1[j], by2[j])) <= min(max(ay1[i], ay2[i]), max(by1[j], by2[j])) + _EPS
        ):
            return True
    return False


# ---------------------------------------------------------------------------
# batched one-ring-vs-many kernels, each kernel(ring_lats, ring_lons, *rows):
# the refinement UDFs group candidate rows by their shared ring
# (functions/batches.per_ring) so the heavy numpy runs once per ring per
# Arrow batch instead of once per pair (VERDICT r1 item 4 — the containment
# kernel was the suite's worst scaler when it looped Python per pair).
# ---------------------------------------------------------------------------

def ring_contains_rings_batch(ay: np.ndarray, ax: np.ndarray,
                              b_lats: list, b_lons: list) -> np.ndarray:
    """bool[n]: ring a contains each ring b_i (ring_contains_ring semantics,
    vectorized across all candidates of one parent).

    Vertex test: all candidate vertices concatenated → ONE chunked
    points_in_ring sweep → per-candidate all() via logical_and.reduceat.
    Crossing test: parent segments × concatenated candidate segments in
    chunked (m × S) blocks, per-candidate any() via logical_or.reduceat —
    only for candidates that passed the vertex test."""
    n = len(b_lats)
    out = np.zeros(n, dtype=bool)
    if n == 0:
        return out
    lens = np.fromiter((len(b) for b in b_lats), dtype=np.int64, count=n)
    py = np.concatenate(b_lats)
    px = np.concatenate(b_lons)
    offs = np.concatenate(([0], np.cumsum(lens)))
    inside = points_in_ring(py, px, ay, ax)
    all_in = np.logical_and.reduceat(inside, offs[:-1])
    cand = np.nonzero(all_in)[0]
    if cand.size == 0:
        return out
    cl = [np.asarray(b_lats[i]) for i in cand]
    co = [np.asarray(b_lons[i]) for i in cand]
    by1 = np.concatenate(cl)
    bx1 = np.concatenate(co)
    by2 = np.concatenate([np.roll(a, -1) for a in cl])
    bx2 = np.concatenate([np.roll(a, -1) for a in co])
    coffs = np.concatenate(([0], np.cumsum(lens[cand])))
    ay2, ax2 = np.roll(ay, -1), np.roll(ax, -1)
    S = by1.shape[0]
    col_cross = np.empty(S, dtype=bool)
    for sl in _row_chunks(S, ay.shape[0]):
        s_ab, s_ba = _straddles(ay, ax, ay2, ax2,
                                by1[sl], bx1[sl], by2[sl], bx2[sl])
        col_cross[sl] = ((s_ab < -_EPS) & (s_ba < -_EPS)).any(axis=0)
    crossed = np.logical_or.reduceat(col_cross, coffs[:-1])
    out[cand] = ~crossed
    return out


def ring_intersects_rects_batch(ry: np.ndarray, rx: np.ndarray,
                                mnla: np.ndarray, mnlo: np.ndarray,
                                mxla: np.ndarray, mxlo: np.ndarray) -> np.ndarray:
    """bool[R]: ring intersects each rect (ring_intersects_rect semantics,
    vectorized across all candidate rects of one ring)."""
    R = mnla.shape[0]
    out = np.zeros(R, dtype=bool)
    if R == 0:
        return out
    # 1. any ring vertex inside the rect
    for sl in _row_chunks(R, ry.shape[0]):
        out[sl] = (
            (ry[None, :] >= mnla[sl, None]) & (ry[None, :] <= mxla[sl, None])
            & (rx[None, :] >= mnlo[sl, None]) & (rx[None, :] <= mxlo[sl, None])
        ).any(axis=1)
    # 2. any rect corner inside the ring
    rem = np.nonzero(~out)[0]
    if rem.size:
        cy = np.stack([mnla[rem], mnla[rem], mxla[rem], mxla[rem]], 1).reshape(-1)
        cx = np.stack([mnlo[rem], mxlo[rem], mnlo[rem], mxlo[rem]], 1).reshape(-1)
        pin = points_in_ring(cy, cx, ry, rx)
        out[rem] |= pin.reshape(-1, 4).any(axis=1)
    # 3. any edge intersection (incl. touch / collinear overlap): ring
    # segments × the 4 boundary segments of each remaining rect. For a
    # properly-crossing pair the segment bboxes always overlap, so applying
    # the bbox-overlap verifier to every general-position hit reproduces
    # _segments_touch exactly, fully vectorized.
    rem = np.nonzero(~out)[0]
    if rem.size:
        r1y = np.stack([mnla[rem], mnla[rem], mxla[rem], mxla[rem]], 1).reshape(-1)
        r1x = np.stack([mnlo[rem], mxlo[rem], mxlo[rem], mnlo[rem]], 1).reshape(-1)
        r2y = np.stack([mnla[rem], mxla[rem], mxla[rem], mnla[rem]], 1).reshape(-1)
        r2x = np.stack([mxlo[rem], mxlo[rem], mnlo[rem], mnlo[rem]], 1).reshape(-1)
        ay1, ax1 = ry, rx
        ay2, ax2 = np.roll(ry, -1), np.roll(rx, -1)
        a_xmin = np.minimum(ax1, ax2)[:, None]
        a_xmax = np.maximum(ax1, ax2)[:, None]
        a_ymin = np.minimum(ay1, ay2)[:, None]
        a_ymax = np.maximum(ay1, ay2)[:, None]
        S = r1y.shape[0]
        col_touch = np.empty(S, dtype=bool)
        for sl in _row_chunks(S, ry.shape[0]):
            s_ab, s_ba = _straddles(ay1, ax1, ay2, ax2,
                                    r1y[sl], r1x[sl], r2y[sl], r2x[sl])
            b1y, b1x = r1y[sl][None, :], r1x[sl][None, :]
            b2y, b2x = r2y[sl][None, :], r2x[sl][None, :]
            general = (s_ab <= _EPS) & (s_ba <= _EPS)
            bbox_ok = (
                (np.maximum(a_xmin, np.minimum(b1x, b2x))
                 <= np.minimum(a_xmax, np.maximum(b1x, b2x)) + _EPS)
                & (np.maximum(a_ymin, np.minimum(b1y, b2y))
                   <= np.minimum(a_ymax, np.maximum(b1y, b2y)) + _EPS)
            )
            col_touch[sl] = (general & bbox_ok).any(axis=0)
        out[rem] |= col_touch.reshape(-1, 4).any(axis=1)
    return out


def points_ring_distance_batch(ry: np.ndarray, rx: np.ndarray,
                               py: np.ndarray, px: np.ndarray) -> np.ndarray:
    """float[n]: planar distance point→ring boundary, 0 inside-or-on —
    vectorized across all candidate points of one ring."""
    n = py.shape[0]
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    inside = points_in_ring(py, px, ry, rx)
    rem = np.nonzero(~inside)[0]
    if rem.size == 0:
        return out
    y1, x1 = ry, rx
    y2, x2 = np.roll(ry, -1), np.roll(rx, -1)
    dx, dy = x2 - x1, y2 - y1
    seg2 = dx * dx + dy * dy
    seg2_safe = np.where(seg2 == 0, 1.0, seg2)
    for sl in _row_chunks(rem.size, ry.shape[0]):
        idx = rem[sl]
        ppx, ppy = px[idx][:, None], py[idx][:, None]
        t = ((ppx - x1[None, :]) * dx[None, :]
             + (ppy - y1[None, :]) * dy[None, :]) / seg2_safe[None, :]
        t = np.clip(np.where(seg2[None, :] > 0, t, 0.0), 0.0, 1.0)
        cx = x1[None, :] + t * dx[None, :]
        cy = y1[None, :] + t * dy[None, :]
        out[idx] = np.sqrt(
            ((ppx - cx) ** 2 + (ppy - cy) ** 2).min(axis=1))
    return out


def shoelace_area_np(ry: np.ndarray, rx: np.ndarray) -> float:
    """numpy twin of shoelace_area_col (for UDF-side use/tests)."""
    y2, x2 = np.roll(ry, -1), np.roll(rx, -1)
    return float(abs(np.sum(rx * y2 - x2 * ry)) / 2.0)


def normalize_ring(ry: np.ndarray, rx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Canonical form of an open ring: rotation/direction invariant.

    Used as the exact-equality dedup key replacing the reference's
    O(n·w) equal-area + mutual-containment scan
    (steps/RenderAndDeduplicateAreas.scala:72-120): two rings with the same
    vertex cycle (either direction, any starting point) normalize bytewise
    identically. The form is the least of the rotations that start at the
    minimum vertex, read either way; a ring that visits its minimum vertex
    more than once (a pinch) has one candidate start per visit.
    """
    pts = list(zip(ry.tolist(), rx.tolist()))
    # Drop explicit closing vertex if present.
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    n = len(pts)
    if n == 0:
        return np.array([]), np.array([])
    lo = min(pts)
    best = min(
        min([pts[(s + i) % n] for i in range(n)],
            [pts[(s - i) % n] for i in range(n)])
        for s in range(n) if pts[s] == lo
    )
    ys = np.array([p[0] for p in best])
    xs = np.array([p[1] for p in best])
    return ys, xs
