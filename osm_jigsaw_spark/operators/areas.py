"""Area assembly: outlines → node-resolved polygons → deduplicated areas table.

Re-expresses the reference stages `areaways` + `areas`
(steps/ExtractAreas.scala:19-100, steps/RenderAndDeduplicateAreas.scala:20-124):

- way outlines: named *closed* ways become single-ring areas
  (resolving/AreaResolver.scala:26-40; predicate graphing/EntitiesToGraph.scala:8-14);
- relation outlines: one relation walk → outer ways of expandable
  relations → stitched rings (operators/relations.py + operators/rings.py);
- node resolution: the classic OSM "resolve geometry" shuffle — explode the
  node-id sequence with its position, equi-join the nodes table, reassemble
  ordered coordinate arrays with sort_array(collect_list(struct(pos,lat,lon)))
  (replacing MapDB lookups, resolving/NodeResolver.scala:18-50);
- ring cleanup: drop consecutive duplicate joints + the closing vertex
  (open-ring convention; the reference keeps duplicates, which are
  area/PIP-neutral — we normalize for exact hashing), linear in the ring
  size: each vertex is compared with a one-shifted copy of the ring, and
  the cleanup runs once per ring, inside the assembling aggregate;
- dedup: canonical-ring hash groupBy replaces the reference's O(n·w)
  equal-area + mutual-containment linear scan
  (RenderAndDeduplicateAreas.scala:82-101) — merged areas union their osm_ids.

Everything except the per-ring canonical hash is built-in columnar ops.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.geometry import bbox_col, normalize_ring, shoelace_area_col
from ..sources.documents import has_name
from .relations import outer_ways, rejections, relation_walk
from .rings import stitch_rings


def way_outlines(ways: DataFrame) -> DataFrame:
    """(osm_id, ring_index, node_ids) for named closed ways."""
    return ways.filter(F.col("is_closed") & has_name(F.col("tags"))).select(
        F.concat(F.col("way_id").cast("string"), F.lit("W")).alias("osm_id"),
        F.lit(0).alias("ring_index"),
        F.col("node_ids"),
    )


def relation_rings(relations: DataFrame, ways: DataFrame) -> DataFrame:
    """Stitched rings of named, expandable relations:
    (osm_id, ring_index, way_ids signed, node_ids).

    One relation walk yields both the rejected relations and the outer
    ways; ways stitch in member-position-path order. A way is kept when no
    relation on its path is rejected: not its root, and not a sub-relation
    whose own walk meets a cycle or missing ref lying past the root's depth
    bound (outer resolution treats a rejected relation as absent)."""
    named = relations.filter(has_name(F.col("tags")))
    walk = relation_walk(named)
    rejected = rejections(walk).select(F.col("root").alias("via")).distinct()
    outer = outer_ways(walk)
    blocked = outer.select(
        "rel_id", "pos_path", F.explode("path").alias("via")
    ).join(rejected, "via", "left_semi")
    outer = outer.join(blocked, ["rel_id", "pos_path"], "left_anti")
    with_nodes = outer.join(
        ways.select("way_id", "node_ids"), "way_id", "inner"
    ).select("rel_id", "way_id", F.col("pos_path").alias("pos"), "node_ids")
    rings = stitch_rings(with_nodes)
    return rings.select(
        F.concat(F.col("rel_id").cast("string"), F.lit("R")).alias("osm_id"),
        F.col("ring_index"),
        F.col("way_ids"),
        F.col("node_ids"),
    )


def relation_outlines(relations: DataFrame, ways: DataFrame) -> DataFrame:
    """(osm_id, ring_index, node_ids) for named, expandable relations."""
    return relation_rings(relations, ways).select(
        "osm_id", "ring_index", "node_ids")


def _let(value, body):
    """body(value) with `value` evaluated once: bound as the lambda variable
    of a one-element transform (README "Scale design", let-binding rule)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _clean_ring(lats, lons):
    """Open-ring cleanup in one linear pass: drop consecutive duplicate
    vertices, then the explicit closing vertex. Vertices compare as
    struct(lat, lon). Returns struct(lats, lons); each input array and each
    intermediate is evaluated once (README "Scale design", let-binding
    rule)."""
    def drop_repeats(pts):
        # prev[i] = pts[i - 1]; prev[0] is padding, skipped by position
        prev = F.slice(F.concat(F.slice(pts, 1, 1), pts), 1, F.size(pts))
        pairs = F.zip_with(
            pts, prev, lambda p, q: F.struct(p.alias("pt"), q.alias("prev")))
        return F.transform(
            F.filter(pairs, lambda z, i: (i == 0) | (z["pt"] != z["prev"])),
            lambda z: z["pt"])

    def drop_closing(pts):
        n = F.size(pts)
        closed = (n > 1) & (F.element_at(pts, 1) == F.element_at(pts, -1))
        m = F.when(closed, n - 1).otherwise(n)
        return F.struct(
            F.slice(F.transform(pts, lambda p: p["lat"]), 1, m).alias("lats"),
            F.slice(F.transform(pts, lambda p: p["lon"]), 1, m).alias("lons"))

    pts = F.zip_with(
        lats, lons, lambda la, lo: F.struct(la.alias("lat"), lo.alias("lon")))
    return _let(_let(pts, drop_repeats), drop_closing)


def _assemble_rings(joined: DataFrame, item, lats_of, lons_of) -> DataFrame:
    """Group `joined` per (osm_id, ring_index), sort the collected `item`
    structs by their first field and clean the ring lats_of(items),
    lons_of(items): (osm_id, ring_index, lats, lons, n_points).

    The cleanup is an aggregate output: a later filter on n_points cannot
    be pushed below the aggregate, so it reads the cleaned ring instead of
    re-running the cleanup."""
    ring = _let(F.array_sort(F.collect_list(item)),
                lambda items: _clean_ring(lats_of(items), lons_of(items)))
    return joined.groupBy("osm_id", "ring_index").agg(ring.alias("ring")).select(
        "osm_id", "ring_index", "ring.lats", "ring.lons",
        F.size("ring.lats").alias("n_points"),
    )


def resolve_outline_points(outlines: DataFrame, nodes: DataFrame) -> DataFrame:
    """Join node coordinates and reassemble ordered, cleaned rings.

    Output: (osm_id, ring_index, lats, lons, n_points) with consecutive
    duplicates and the closing vertex removed (open-ring convention).
    """
    exploded = outlines.select(
        "osm_id", "ring_index", F.posexplode("node_ids").alias("seq", "node_id")
    )
    joined = exploded.join(nodes.select("node_id", "lat", "lon"), "node_id")
    return _assemble_rings(
        joined, F.struct("seq", "lat", "lon"),
        lambda pts: F.transform(pts, lambda s: s["lat"]),
        lambda pts: F.transform(pts, lambda s: s["lon"]),
    )


def outline_way_refs(ways: DataFrame, relations: DataFrame) -> DataFrame:
    """(osm_id, ring_index, way_ids signed) — OutputResolvedArea analog
    (reference outputresolvedarea 'ways' field, steps/ExtractAreas.scala:55):
    each area outline as its ordered signed way-id list (negative =
    traversed reversed). Closed named ways are their own single-way ring."""
    w = ways.filter(F.col("is_closed") & has_name(F.col("tags"))).select(
        F.concat(F.col("way_id").cast("string"), F.lit("W")).alias("osm_id"),
        F.lit(0).alias("ring_index"),
        F.array(F.col("way_id")).alias("way_ids"),
    )
    r = relation_rings(relations, ways).select(
        "osm_id", "ring_index", "way_ids")
    return w.unionByName(r)


def used_way_ids(outline_refs: DataFrame) -> DataFrame:
    """(way_id) — distinct |way ids| referenced by any area outline: the
    reference's waysUsed accumulation (steps/ExtractAreas.scala:49-56)."""
    return (
        outline_refs.select(F.explode("way_ids").alias("signed"))
        .select(F.abs(F.col("signed")).alias("way_id"))
        .distinct()
    )


def way_points(ways: DataFrame, nodes: DataFrame,
               used: DataFrame | None = None) -> DataFrame:
    """(way_id, lats, lons) — the OutputWay table (outputway.proto:3-6,
    written by steps/ExtractAreas, read back by
    RenderAndDeduplicateAreas.scala:27-36): per-way resolved coordinate
    arrays, optionally pruned to area-referenced ways (the reference only
    dumps waysUsed)."""
    w = ways
    if used is not None:
        w = w.join(used, "way_id", "left_semi")
    exploded = w.select(
        "way_id", F.posexplode("node_ids").alias("seq", "node_id"))
    joined = exploded.join(nodes.select("node_id", "lat", "lon"), "node_id")
    return joined.groupBy("way_id").agg(
        F.array_sort(F.collect_list(F.struct("seq", "lat", "lon"))).alias("p")
    ).select(
        "way_id",
        F.transform("p", lambda s: s["lat"]).alias("lats"),
        F.transform("p", lambda s: s["lon"]).alias("lons"),
    )


def reassemble_outline_points(outline_refs: DataFrame,
                              wpoints: DataFrame) -> DataFrame:
    """Signed-way outline reassembly — the reference's area render path
    (RenderAndDeduplicateAreas.scala:41-56): abs(way id) looks up the way's
    point list, negative ids reverse it, segments concatenate in ref order.
    Output schema equals resolve_outline_points (osm_id, ring_index, lats,
    lons, n_points); tests assert row-for-row equality on the ring worlds."""
    ex = outline_refs.select(
        "osm_id", "ring_index",
        F.posexplode("way_ids").alias("pos", "signed"),
    ).withColumn("way_id", F.abs(F.col("signed")))
    j = ex.join(wpoints, "way_id").select(
        "osm_id", "ring_index", "pos",
        F.when(F.col("signed") < 0, F.reverse("lats"))
        .otherwise(F.col("lats")).alias("seg_lats"),
        F.when(F.col("signed") < 0, F.reverse("lons"))
        .otherwise(F.col("lons")).alias("seg_lons"),
    )
    return _assemble_rings(
        j, F.struct("pos", "seg_lats", "seg_lons"),
        lambda segs: F.flatten(F.transform(segs, lambda s: s["seg_lats"])),
        lambda segs: F.flatten(F.transform(segs, lambda s: s["seg_lons"])),
    )


def area_tags(tags: DataFrame, areas: DataFrame) -> DataFrame:
    """Tags pruned to osm-ids referenced by any area — the reference's
    dedicated tags stage (steps/ExtractAreaTags.scala:23-25 isUsed set).
    At planet scale this is the difference between carrying every tagged
    entity's tags and only the area-referenced ones. The explode side is
    areas-sized (small); the semi-join prunes the corpus-sized tags scan."""
    used = areas.select(F.explode("osm_ids").alias("osm_id")).distinct()
    return tags.join(used, "osm_id", "left_semi")


def with_area_and_bbox(rings: DataFrame) -> DataFrame:
    """Planar shoelace area (reference areaOf semantics) + bbox struct."""
    return rings.withColumn(
        "area", shoelace_area_col(F.col("lats"), F.col("lons"))
    ).withColumn("bbox", bbox_col(F.col("lats"), F.col("lons")))


@F.pandas_udf(T.StringType())
def _ring_hash(lats: pd.Series, lons: pd.Series) -> pd.Series:
    """Canonical ring hash: rotation- and direction-invariant md5."""
    out = []
    for la, lo in zip(lats, lons):
        ys, xs = normalize_ring(np.asarray(la), np.asarray(lo))
        h = hashlib.md5()
        h.update(np.round(ys, 9).tobytes())
        h.update(np.round(xs, 9).tobytes())
        out.append(h.hexdigest())
    return pd.Series(out)


def dedup_areas(areas: DataFrame) -> DataFrame:
    """Merge areas with identical canonical rings; union + sort osm_ids.

    Output: (canonical_osm_id, osm_ids, lats, lons, n_points, area, bbox).
    Exact-equality grouping replaces the reference's equal-area +
    mutual-containment scan; the canonical id (min osm_id) replaces its
    disposable AtomicLong ids (model/AreaIdSequence.scala:5-12 — 'not likely
    to remain the same over time', root README.md:127).
    """
    hashed = areas.withColumn("ring_hash", _ring_hash("lats", "lons"))
    return hashed.groupBy("ring_hash").agg(
        F.array_sort(F.array_distinct(F.collect_list("osm_id"))).alias("osm_ids"),
        F.min("osm_id").alias("canonical_osm_id"),
        F.min_by(F.struct("lats", "lons", "n_points", "area", "bbox"), "osm_id").alias("g"),
    ).select(
        "canonical_osm_id",
        "osm_ids",
        F.col("g.lats").alias("lats"),
        F.col("g.lons").alias("lons"),
        F.col("g.n_points").alias("n_points"),
        F.col("g.area").alias("area"),
        F.col("g.bbox").alias("bbox"),
        "ring_hash",
    )


def build_areas(nodes: DataFrame, ways: DataFrame,
                relations: DataFrame) -> DataFrame:
    """Full areas table from decoded entities (pre-graph).

    NOTE: duplicate (osm_id, ring_index) pairs cannot collide across ways and
    relations (suffix W/R disambiguates); multi-ring relations yield one area
    per ring sharing the relation's osm_id (reference AreaResolver emits one
    ResolvedArea per outline ring).

    On relation-free input the relation walk is empty, and its empty plan
    (plans.snapshots.frontier_loop) prunes the relation branch: no ways
    scan, join or stitch runs for it."""
    outlines = way_outlines(ways).unionByName(
        relation_outlines(relations, ways))
    rings = resolve_outline_points(outlines, nodes)
    rings = rings.filter(F.col("n_points") >= 3)
    return dedup_areas(with_area_and_bbox(rings))
