"""Point→enclosing-area-path geocoding as cell-indexed joins.

Re-expresses the reference API's `pathsDownTo` descent
(osm-jigsaw-api/app/graph/GraphService.scala:63-90): load a geohash segment,
recursively keep children whose polygon contains the point, return ALL
root-to-leaf paths (multi-parent ⇒ multiple paths), dropping the synthetic
root. Its per-request LRU caches (segments/polygons/tags,
GraphService.scala:23-25) have no analog — Spark caching of the shared area
index plays that role.

Batch formulation (points is a DataFrame — one query or millions):

1. candidates: point cells at every resolution equi-joined against the
   shared exploded covering index (operators/containment.area_cell_index);
2. bbox check columnar, then Arrow-vectorized boundary-inclusive PIP
   (reference app/areas/AreaComparison.scala:14-46 semantics);
3. paths: graph_edges restricted to containing areas, enumerated per point
   in one Arrow pass — every area containing the point has all its
   ancestors containing it too, so the induced subgraph's root-to-leaf
   chains are exactly the reference's descent output.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from ..functions.batches import whole_groups
from ..functions.geometry import pip_col
from ..plans.snapshots import snapshot
from .containment import ROOT_ID, area_cell_index


def areas_containing_points(areas: DataFrame, points: DataFrame,
                            idx: DataFrame | None = None) -> DataFrame:
    """(point_id, lat, lon, area_key, canonical_osm_id, area) for every area
    whose polygon contains the point (boundary-inclusive).

    `idx` lets callers pass a pre-materialized area_cell_index — the one
    spatial index is shared by containment/geocode/kNN/tiling, so a suite
    (or a long-lived service) builds it once per areas snapshot instead of
    re-deriving the explode per consumer."""
    if idx is None:
        idx = area_cell_index(areas)
    pts = points.select(
        "point_id", "lat", "lon",
        F.explode(C.point_cells_all_res(F.col("lat"), F.col("lon"))).alias("cell"),
    )
    cand = pts.join(idx, "cell").filter(
        (F.col("lat") >= F.col("bbox.min_lat"))
        & (F.col("lat") <= F.col("bbox.max_lat"))
        & (F.col("lon") >= F.col("bbox.min_lon"))
        & (F.col("lon") <= F.col("bbox.max_lon"))
    )
    # columnar crossing-number PIP — an interpreted aggregate, no Arrow hop;
    # axis-rect rings (index is_rect) are already decided by the bbox
    # filter above, so the edge-walk only runs for true polygons
    hit = cand.withColumn(
        "inside",
        # CaseWhen for guaranteed lazy branches (plain OR may still
        # evaluate the interpreted HOF edge-walk)
        F.when(F.col("is_rect"), F.lit(True)).otherwise(
            pip_col(F.col("lat"), F.col("lon"), F.col("lats"), F.col("lons"))),
    ).filter("inside")
    return hit.select(
        "point_id", "lat", "lon", "area_key", "canonical_osm_id", "area"
    )


def point_edges(edges: DataFrame, containing: DataFrame) -> DataFrame:
    """Edges usable for each point: child contained AND (parent root or
    contained). One shuffle on child_key + one on (point_id, parent_key)."""
    member = containing.select("point_id", "area_key").distinct()
    mp = member.select(
        "point_id", F.col("area_key").alias("parent_key")
    ).withColumn("has_parent", F.lit(True))
    return (
        edges.join(member.withColumnRenamed("area_key", "child_key"),
                   ["child_key"])
        # composite-key join — never fans out across points sharing a parent
        .join(mp, ["point_id", "parent_key"], "left")
        .filter((F.col("parent_key") == ROOT_ID) | F.col("has_parent"))
        .select("point_id", "parent_key", "child_key", "child_osm_id")
    )


_PATHS_SCHEMA = ("point_id string, path array<string>, "
                 "path_keys array<string>")


def _enumerate_point(point_id, parents, childs, osms, out):
    """Root-to-leaf enumeration for one point's tiny edge set."""
    children: dict[str, list[tuple[str, str]]] = {}
    for p, c, osm in zip(parents, childs, osms):
        children.setdefault(p, []).append((c, osm))
    for v in children.values():
        v.sort()
    stack = [(c, [osm], [c]) for c, osm in children.get(ROOT_ID, [])]
    while stack:
        node, path, keys = stack.pop()
        kids = children.get(node)
        if not kids:
            out.append((point_id, path, keys))
            continue
        for c, osm in kids:
            stack.append((c, path + [osm], keys + [c]))


def _enumerate_batches(batches):
    """mapInPandas worker: rows arrive sorted by point_id within the
    partition; enumerates each point's paths once all its rows are in."""
    for pdf in whole_groups(batches, "point_id"):
        out: list = []
        for pid, grp in pdf.groupby("point_id", sort=False):
            _enumerate_point(pid, grp["parent_key"].to_numpy(),
                             grp["child_key"].to_numpy(),
                             grp["child_osm_id"].to_numpy(), out)
        if out:
            yield pd.DataFrame(out, columns=["point_id", "path", "path_keys"])


def geocode_paths_grouped(edges: DataFrame, containing: DataFrame) -> DataFrame:
    """Path enumeration in ONE Arrow pass: repartition+sort by point_id,
    then mapInPandas — each Arrow batch carries thousands of per-point
    groups (applyInPandas would pay per-group batch overhead: with millions
    of points the overhead IS the job). The per-point induced graph is tiny,
    so in-batch Python enumeration is cheap; parallelism is across points."""
    pe = point_edges(edges, containing)
    return (
        pe.repartition("point_id")
        .sortWithinPartitions("point_id")
        .mapInPandas(_enumerate_batches, schema=_PATHS_SCHEMA)
    )


def geocode(areas: DataFrame, edges: DataFrame, points: DataFrame,
            idx: DataFrame | None = None) -> DataFrame:
    """points(point_id, lat, lon) → (point_id, path, path_keys): every
    root-to-leaf path through the areas containing the point, root-first,
    as canonical osm_ids (path) and area keys (path_keys). Points inside
    no area produce no rows (the reference returns an empty path list).
    `idx`: optional shared area_cell_index."""
    # materialize once: `containing` feeds three join branches (child
    # membership, parent membership, path grouping) — without this the
    # candidate join + PIP would re-run per consumer
    containing = snapshot(
        areas_containing_points(areas, points, idx=idx), "containing")
    return geocode_paths_grouped(edges, containing)
