"""Open-ring cleanup in `resolve_outline_points` / `reassemble_outline_points`:
drop consecutive duplicate vertices, then the explicit closing vertex.

- a truth table of the edge cases;
- a seeded differential test against the previous formulation, copied
  below as the oracle (it compares each vertex with
  `element_at(<array expression>, i)` inside the filter lambda, which
  Catalyst re-evaluates per element: quadratic, so small rings only);
- one large ring under a time bound the quadratic version misses by far;
- the executed plan holds one cleanup, not one per reference.
"""

from __future__ import annotations

import random
import time

import pytest
from pyspark.sql import functions as F

from osm_jigsaw_spark.operators import areas as A

A_, B_, C_, D_ = (0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0)
N1, N2 = (None, 2.0), (None, 3.0)   # vertices with a null coordinate

NODES_SCHEMA = "node_id long, lat double, lon double"
OUTLINES_SCHEMA = "osm_id string, ring_index int, node_ids array<long>"


def _clean_ring_pts(pts):
    """Open-ring cleanup on an array<struct(lat,lon)> column: drop
    consecutive duplicate joints, then the explicit closing vertex."""
    # consecutive-duplicate removal (1-based element_at(pts, i) = predecessor)
    deduped = F.filter(
        pts, lambda x, i: (i == F.lit(0)) | (x != F.element_at(pts, i))
    )
    # drop closing vertex if ring is explicitly closed
    return F.when(
        (F.size(deduped) > 1)
        & (F.element_at(deduped, 1) == F.element_at(deduped, -1)),
        F.slice(deduped, 1, F.size(deduped) - 1),
    ).otherwise(deduped)


def _oracle(spark, rings):
    """{osm_id: (lats, lons)} cleaned by the previous formulation."""
    # input columns are not named like the output aliases: with `lats` /
    # `lons` in and out of one select, this formulation returned wrong
    # `lons` on pyspark 4.1.2 (its callers never alias over their inputs)
    df = spark.createDataFrame(
        [(k, [p[0] for p in v], [p[1] for p in v]) for k, v in rings.items()],
        "osm_id string, raw_lats array<double>, raw_lons array<double>")
    pts = F.zip_with(
        "raw_lats", "raw_lons",
        lambda la, lo: F.struct(la.alias("lat"), lo.alias("lon")))
    opened = _clean_ring_pts(pts)
    out = df.select(
        "osm_id",
        F.transform(opened, lambda s: s["lat"]).alias("lats"),
        F.transform(opened, lambda s: s["lon"]).alias("lons"),
    )
    return {r.osm_id: (list(r.lats), list(r.lons)) for r in out.collect()}


def _resolve(spark, rings):
    """Resolve each ring through a node join, one node id per position."""
    nodes, outlines, nid = [], [], 0
    for osm_id, pts in rings.items():
        ids = []
        for lat, lon in pts:
            nid += 1
            nodes.append((nid, lat, lon))
            ids.append(nid)
        outlines.append((osm_id, 0, ids))
    return A.resolve_outline_points(
        spark.createDataFrame(outlines, OUTLINES_SCHEMA),
        spark.createDataFrame(nodes, NODES_SCHEMA))


def _reassemble(spark, rings, rng):
    """Reassemble each ring from 1-3 ways, some stored reversed."""
    refs, wpoints, wid = [], [], 0
    for osm_id, pts in rings.items():
        cuts = sorted(rng.sample(range(1, len(pts)), min(2, len(pts) - 1)))
        signed = []
        for lo, hi in zip([0] + cuts, cuts + [len(pts)]):
            seg = pts[lo:hi]
            wid += 1
            if rng.random() < 0.5:
                seg, wsign = seg[::-1], -1
            else:
                wsign = 1
            wpoints.append((wid, [p[0] for p in seg], [p[1] for p in seg]))
            signed.append(wsign * wid)
        refs.append((osm_id, 0, signed))
    return A.reassemble_outline_points(
        spark.createDataFrame(
            refs, "osm_id string, ring_index int, way_ids array<long>"),
        spark.createDataFrame(
            wpoints, "way_id long, lats array<double>, lons array<double>"))


def _got(df):
    return {r.osm_id: (list(r.lats), list(r.lons), r.n_points)
            for r in df.collect()}


TRUTH = {
    "consecutive": ([A_, A_, B_, B_, B_, C_, A_], [A_, B_, C_]),
    "seam_dup": ([A_, B_, C_, A_, A_], [A_, B_, C_]),
    "open": ([A_, B_, C_, D_], [A_, B_, C_, D_]),
    "all_equal": ([A_, A_, A_, A_], [A_]),
    "one": ([A_], [A_]),
    "two": ([A_, B_], [A_, B_]),
    "two_equal": ([A_, A_], [A_]),
    "two_closed": ([A_, B_, A_], [A_, B_]),
    "three": ([A_, B_, C_], [A_, B_, C_]),
    "not_consecutive": ([A_, B_, A_, B_], [A_, B_, A_, B_]),
    "null_repeat": ([A_, N1, N1, B_, A_], [A_, N1, B_]),
    "null_distinct": ([N1, N2, B_], [N1, N2, B_]),
    "null_closing": ([N1, B_, C_, N1], [N1, B_, C_]),
}


def test_cleanup_truth_table(spark):
    rings = {k: v[0] for k, v in TRUTH.items()}
    got = _got(_resolve(spark, rings))
    oracle = _oracle(spark, rings)
    for name, (_, want) in TRUTH.items():
        lats, lons = [p[0] for p in want], [p[1] for p in want]
        assert got[name] == (lats, lons, len(want)), name
        assert oracle[name] == (lats, lons), name


def test_cleanup_matches_previous_formulation(spark):
    rng = random.Random(20240607)
    vocab = [A_, B_, C_, D_, N1, (2.0, 2.0)]
    rings = {}
    for k in range(300):
        n = rng.randint(1, 9)
        pts = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.5:
            pts.append(pts[0])
        if rng.random() < 0.3:
            pts.append(pts[-1])
        rings[f"{k}W"] = pts
    oracle = _oracle(spark, rings)
    want = {k: (la, lo, len(la)) for k, (la, lo) in oracle.items()}
    assert _got(_resolve(spark, rings)) == want
    assert _got(_reassemble(spark, rings, rng)) == want


#: the previous formulation took ~107 s at 8,000 vertices and grows 4x
#: per doubling (~430 s here); the linear cleanup takes under 1 s
LARGE_RING = 16_000
LARGE_RING_BOUND_S = 40.0


def test_large_ring_resolves_in_linear_time(spark):
    n = LARGE_RING
    ring = [(float(i % 97), float(i)) for i in range(n)]
    ring.append(ring[0])
    rings = _resolve(spark, {"1W": ring})
    t0 = time.perf_counter()
    got = _got(rings)["1W"]
    elapsed = time.perf_counter() - t0
    assert got[2] == n
    assert got[1] == [float(i) for i in range(n)]
    assert elapsed < LARGE_RING_BOUND_S, f"{n}-vertex ring took {elapsed:.1f}s"


@pytest.mark.parametrize("with_filter", [False, True])
def test_cleanup_evaluated_once(spark, pipeline, plan_nodes, with_filter):
    """At most 2 `filter(` lambdas in the executed plan of the fixture
    outlines (the previous formulation had 12): the cleanup is not
    re-run per reference, nor by a pushed-down n_points filter."""
    outlines = A.way_outlines(pipeline.ways).unionByName(
        A.relation_outlines(pipeline.relations, pipeline.ways))
    outlines = spark.createDataFrame(outlines.collect(), OUTLINES_SCHEMA)
    nodes = spark.createDataFrame(
        pipeline.nodes.select("node_id", "lat", "lon").collect(),
        NODES_SCHEMA)
    rings = A.resolve_outline_points(outlines, nodes)
    if with_filter:
        rings = A.with_area_and_bbox(rings.filter(F.col("n_points") >= 3))
    text = "\n".join(t for _c, t in plan_nodes(rings))
    assert text.count("filter(") <= 2
