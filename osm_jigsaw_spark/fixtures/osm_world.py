"""Deterministic synthetic OSM world, encoded as the mandated documents table.

The engine's only input is an Iceberg-shaped table
``documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
(BASELINE.json input_hint). This module synthesizes, with NO external data and
a fixed seed, a world that mirrors the reference's test fixtures:

- rectangle world — graph-sort parity scenarios from the reference
  graphing/GraphBuilderSpec.scala:16-93 (Large/Medium/Small/Left/Right/
  Overlapping/Fits as closed ways);
- ring worlds — outline-assembly scenarios from resolving/OutlineBuilderSpec,
  OuterWayResolverSpec, AreaResolverSpec ("richmond" 1 ring × 14 ways,
  "bournemouth" 17 ways + excluded subarea, "nyc" 60 outer ways → 3 rings,
  "nz" → 4 rings, "circular" recursive relation rejected);
- negatives — a non-closed named way (dropped, resolving/AreaResolver.scala:33-36)
  and an unnamed closed way (filtered, graphing/EntitiesToGraph.scala:8-14);
- a duplicate-shape pair merged by dedup
  (steps/RenderAndDeduplicateAreas.scala:82-101).

Span encoding (FIXTURES.md §1): per entity one doc; text spans carry
"key=value" tags, media spans carry geo:/node:/way:/rel: refs; `offset` is the
ordinal — the array itself is deterministically ROTATED so decoders must sort
by offset, never trust array order.

The same world is rendered as SQL literals (documents_values_sql /
areas_cte_sql) so DuckDB oracles can re-derive expected outputs independently.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np


@dataclass
class Node:
    id: int
    lat: float
    lon: float
    tags: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class Way:
    id: int
    node_ids: list[int]
    tags: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class Member:
    kind: str  # 'way' | 'rel' | 'node'
    ref: int
    role: str


@dataclass
class Relation:
    id: int
    members: list[Member]
    tags: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class World:
    nodes: list[Node] = field(default_factory=list)
    ways: list[Way] = field(default_factory=list)
    relations: list[Relation] = field(default_factory=list)
    # ground truth for oracles: (canonical_osm_id, sorted osm_ids, lats, lons)
    expected_areas: list[dict] = field(default_factory=list)
    # relations whose expansion hits a cycle
    recursive_relations: list[int] = field(default_factory=list)
    # geocode probes: (point_id, lat, lon)
    query_points: list[tuple[str, float, float]] = field(default_factory=list)


# --------------------------------------------------------------------------
# World construction
# --------------------------------------------------------------------------

RECTS = {
    # name -> (min_lat, min_lon, max_lat, max_lon); reference
    # GraphBuilderSpec.scala:17-26 corner pairs with x=lat.
    "Large": (-10.0, -10.0, 10.0, 10.0),
    "Medium": (-2.0, -2.0, 2.0, 2.0),
    "Small": (-1.0, -1.0, 1.0, 1.0),
    "Left": (-10.0, -10.0, 0.0, 10.0),
    "Right": (0.0, -10.0, 10.0, 10.0),
    "Overlapping": (-5.0, -10.0, 5.0, 10.0),
    "Fits": (-1.0, 0.0, 0.0, 1.0),
}

RECT_WAY_IDS = {
    "Large": 100, "Medium": 101, "Small": 102, "Left": 103,
    "Right": 104, "Overlapping": 105, "Fits": 106,
}


def _rect_ring(min_lat, min_lon, max_lat, max_lon):
    return [
        (min_lat, min_lon), (min_lat, max_lon),
        (max_lat, max_lon), (max_lat, min_lon),
    ]


def _regular_ring(c_lat, c_lon, r, n, decimals=6):
    pts = []
    for i in range(n):
        a = 2 * math.pi * i / n
        pts.append((round(c_lat + r * math.sin(a), decimals),
                    round(c_lon + r * math.cos(a), decimals)))
    return pts


class _Ids:
    def __init__(self, start: int):
        self.n = start

    def next(self) -> int:
        self.n += 1
        return self.n


def build_world() -> World:
    """The fixed correctness fixture (≈ a few hundred rows)."""
    w = World()
    nid = _Ids(10_000)

    def add_closed_way(way_id: int, ring: list[tuple[float, float]], tags):
        ids = []
        for lat, lon in ring:
            i = nid.next()
            w.nodes.append(Node(i, lat, lon))
            ids.append(i)
        w.ways.append(Way(way_id, ids + [ids[0]], tags))
        return ids

    # --- rectangle world: one named closed way per rect -------------------
    for name, (a, b, c, d) in RECTS.items():
        add_closed_way(RECT_WAY_IDS[name], _rect_ring(a, b, c, d),
                       [("name", name)])
        w.expected_areas.append(_expected_from_ring(
            f"{RECT_WAY_IDS[name]}W", [f"{RECT_WAY_IDS[name]}W"],
            _rect_ring(a, b, c, d)))

    # --- ring worlds -------------------------------------------------------
    def ring_relation(rel_id, rings, center_tags, scramble_rot=3,
                      reverse_every=3, extra_members=None):
        """rings: list of vertex lists; each becomes len(ring) two-node ways
        (a ring of size 1 becomes one standalone closed way)."""
        members = []
        for ring in rings:
            n = len(ring)
            node_ids = []
            for lat, lon in ring:
                i = nid.next()
                w.nodes.append(Node(i, lat, lon))
                node_ids.append(i)
            if n == 1:
                raise ValueError("ring of one vertex is not a ring")
            way_ids = []
            for k in range(n):
                wid = nid.next()
                seq = [node_ids[k], node_ids[(k + 1) % n]]
                if reverse_every and k % reverse_every == 1:
                    seq = list(reversed(seq))
                w.ways.append(Way(wid, seq, []))
                way_ids.append(wid)
            # scramble member order deterministically
            way_ids = way_ids[scramble_rot:] + way_ids[:scramble_rot]
            members += [Member("way", i, "outer") for i in way_ids]
        if extra_members:
            members += extra_members
        w.relations.append(Relation(rel_id, members, center_tags))

    def single_closed_way_member(ring):
        ids = []
        for lat, lon in ring:
            i = nid.next()
            w.nodes.append(Node(i, lat, lon))
            ids.append(i)
        wid = nid.next()
        w.ways.append(Way(wid, ids + [ids[0]], []))
        return Member("way", wid, "outer")

    # richmond: 1 ring of 14 ways (OutlineBuilderSpec.scala:30-39 analog)
    rich_ring = _regular_ring(30, 30, 2, 14)
    ring_relation(200, [rich_ring], [("name", "Richmond upon Thames")])
    w.expected_areas.append(_expected_from_ring("200R", ["200R"], rich_ring))

    # holdenhurst: closed way inside bournemouth, attached as subarea
    # member relation (must NOT leak into bournemouth's ring —
    # OuterWayResolverSpec.scala:22-31)
    hold_ring = _rect_ring(39.8, 39.8, 40.2, 40.2)
    hold_member_way = single_closed_way_member(hold_ring)
    w.relations.append(Relation(202, [hold_member_way],
                                [("name", "Holdenhurst")]))
    w.expected_areas.append(_expected_from_ring("202R", ["202R"], hold_ring))

    # bournemouth: 17 outer ways + subarea relation member
    bourn_ring = _regular_ring(40, 40, 2, 17)
    ring_relation(201, [bourn_ring], [("name", "Bournemouth")],
                  extra_members=[Member("rel", 202, "subarea")])
    w.expected_areas.append(_expected_from_ring("201R", ["201R"], bourn_ring))

    # nyc: 3 rings from one relation, 60 outer ways total
    # (AreaResolverSpec.scala:52-79: 3 areas; OuterWayResolverSpec: 60 ways)
    nyc_a = _regular_ring(10, 60, 1, 40)
    nyc_b = _regular_ring(13, 60, 0.5, 19)
    nyc_island = _rect_ring(14.9, 59.9, 15.1, 60.1)
    island_member = single_closed_way_member(nyc_island)
    ring_relation(203, [nyc_a, nyc_b], [("name", "New York City")],
                  extra_members=[island_member])
    for rid, ring in [("203R", nyc_a), ("203R", nyc_b), ("203R", nyc_island)]:
        w.expected_areas.append(_expected_from_ring(rid, [rid], ring))

    # nz: 4 rings (AreaResolverSpec.scala:81-108)
    nz_rings = [
        _regular_ring(-40, 170, 2, 8),
        _regular_ring(-45, 168, 1, 6),
        _regular_ring(-35, 173, 0.8, 5),
        _rect_ring(-47.2, 165.8, -47.0, 166.0),
    ]
    last = nz_rings[-1]
    nz_member = single_closed_way_member(last)
    ring_relation(204, nz_rings[:-1], [("name", "New Zealand")],
                  extra_members=[nz_member])
    for ring in nz_rings:
        w.expected_areas.append(_expected_from_ring("204R", ["204R"], ring))

    # circular: 205R <-> 206R reference RelationExpanderSpec.scala:50-65
    w.relations.append(Relation(205, [Member("rel", 206, "outer")],
                                [("name", "Circular A")]))
    w.relations.append(Relation(206, [Member("rel", 205, "outer")],
                                [("name", "Circular B")]))
    w.recursive_relations = [205, 206]

    # negatives
    open_ids = []
    for lat, lon in [(70.0, 20.0), (70.0, 21.0), (71.0, 21.0)]:
        i = nid.next()
        w.nodes.append(Node(i, lat, lon))
        open_ids.append(i)
    w.ways.append(Way(300, open_ids, [("name", "Open Road")]))  # non-closed: dropped
    unnamed_ring = _rect_ring(75.0, 20.0, 76.0, 21.0)
    ids = []
    for lat, lon in unnamed_ring:
        i = nid.next()
        w.nodes.append(Node(i, lat, lon))
        ids.append(i)
    w.ways.append(Way(301, ids + [ids[0]], [("highway", "residential")]))  # unnamed: filtered

    # duplicate-shape pair: identical outlines, distinct node ids → ONE area
    dup_ring = _rect_ring(59.5, 59.5, 60.5, 60.5)
    for wid in (302, 303):
        ids = []
        for lat, lon in dup_ring:
            i = nid.next()
            w.nodes.append(Node(i, lat, lon))
            ids.append(i)
        w.ways.append(Way(wid, ids + [ids[0]],
                          [("name", f"Twin {wid}")]))
    w.expected_areas.append(_expected_from_ring("302W", ["302W", "303W"], dup_ring))

    # named nodes (nodes never become areas but do carry tags) — exercise
    # every branch of the hasName predicate for extractNamedNodes (S6):
    # plain name, name:* prefix, addr:housename, and an unnamed negative
    w.nodes.append(Node(nid.next(), 51.5, -0.1, [("name", "A pub")]))
    w.nodes.append(Node(nid.next(), 48.86, 2.35,
                        [("name:fr", "Une boulangerie"),
                         ("amenity", "bakery")]))
    w.nodes.append(Node(nid.next(), 52.52, 13.4,
                        [("addr:housename", "Altes Haus")]))
    w.nodes.append(Node(nid.next(), 40.7, -74.0,
                        [("amenity", "bench")]))  # unnamed: excluded
    # O5 shortest-name tie-break: one entity carrying several name-family
    # values of different lengths (EntityNameTags.scala:8-11 sorts by
    # length and takes the head — 'Obs' must win here)
    w.nodes.append(Node(nid.next(), 45.05, 7.67,
                        [("name:en", "The Old Observatory House"),
                         ("name", "Observatory"),
                         ("addr:housename", "Obs")]))

    # geocode probes: centers (bbox-PIP == polygon-PIP for these), plus
    # multi-path point in Fits and an ocean miss.
    w.query_points = [
        ("p_small", 0.5, -0.5),          # path Large→Overlapping→Medium→Small
        ("p_fits", -0.5, 0.5),           # in Fits → two paths (Left / Small)
        ("p_holdenhurst", 40.0, 40.0),   # Bournemouth → Holdenhurst
        ("p_richmond", 30.0, 30.0),
        ("p_ocean", -80.0, -170.0),      # no areas
    ]
    return w


def _expected_from_ring(canon, osm_ids, ring):
    ys = np.array([p[0] for p in ring])
    xs = np.array([p[1] for p in ring])
    y2, x2 = np.roll(ys, -1), np.roll(xs, -1)
    area = float(abs(np.sum(xs * y2 - x2 * ys)) / 2.0)
    return {
        "canonical_osm_id": canon,
        "osm_ids": sorted(osm_ids),
        "n_points": len(ring),
        "area": area,
        "min_lat": float(ys.min()), "min_lon": float(xs.min()),
        "max_lat": float(ys.max()), "max_lon": float(xs.max()),
    }


# --------------------------------------------------------------------------
# Span encoding (FIXTURES.md §1) — rows + Spark DF + SQL literals
# --------------------------------------------------------------------------

def _spans_for(entity) -> list[tuple[str, str, str, int]]:
    spans = []
    off = 0
    for k, v in entity.tags:
        spans.append(("text", f"{k}={v}", "", off))
        off += 1
    if isinstance(entity, Node):
        spans.append(("media", "", f"geo:{entity.lat!r},{entity.lon!r}", off))
    elif isinstance(entity, Way):
        for n in entity.node_ids:
            spans.append(("media", "", f"node:{n}", off))
            off += 1
    else:
        for m in entity.members:
            spans.append(("media", "", f"{m.kind}:{m.ref}#{m.role}", off))
            off += 1
    return spans


def _doc_rows(world: World) -> list[tuple[str, list[tuple[str, str, str, int]]]]:
    rows = []
    for n in world.nodes:
        rows.append((f"{n.id}N", _spans_for(n)))
    for way in world.ways:
        rows.append((f"{way.id}W", _spans_for(way)))
    for r in world.relations:
        rows.append((f"{r.id}R", _spans_for(r)))
    # rotate span arrays deterministically: decoders must sort by offset
    out = []
    for doc_id, spans in rows:
        k = sum(ord(c) for c in doc_id) % max(1, len(spans))
        out.append((doc_id, spans[k:] + spans[:k]))
    return out


DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def documents_df(spark, world: World | None = None):
    world = world or build_world()
    return spark.createDataFrame(_doc_rows(world), schema=DOCS_SCHEMA)


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def documents_values_sql(world: World | None = None) -> str:
    """DuckDB-literal rendering of the documents table (oracle CTE body)."""
    world = world or build_world()
    rows = []
    for doc_id, spans in _doc_rows(world):
        items = ", ".join(
            "{'kind': %s, 'text': %s, 'media_ref': %s, 'offset': %d}"
            % (_sql_str(k), _sql_str(t), _sql_str(m), o)
            for (k, t, m, o) in spans
        )
        rows.append(f"({_sql_str(doc_id)}, [{items}])")
    return "SELECT * FROM (VALUES %s) AS t(doc_id, spans)" % ", ".join(rows)


def areas_cte_sql(world: World | None = None) -> str:
    """Ground-truth post-dedup areas as a DuckDB CTE body.

    Columns: osm_id (canonical = min merged id), osm_ids, n_points, area,
    min/max lat/lon. Downstream oracles (containment, reduction, geocode,
    tiling) re-derive results from these in pure SQL.
    """
    world = world or build_world()
    rows = []
    for e in world.expected_areas:
        ids = ", ".join(_sql_str(i) for i in e["osm_ids"])
        rows.append(
            "(%s, [%s], %d, %.10f, %.10f, %.10f, %.10f, %.10f)"
            % (_sql_str(e["canonical_osm_id"]), ids, e["n_points"], e["area"],
               e["min_lat"], e["min_lon"], e["max_lat"], e["max_lon"])
        )
    return (
        "SELECT * FROM (VALUES %s) AS t(osm_id, osm_ids, n_points, area, "
        "min_lat, min_lon, max_lat, max_lon)" % ", ".join(rows)
    )


def query_points_df(spark, world: World | None = None):
    world = world or build_world()
    return spark.createDataFrame(
        world.query_points, schema="point_id string, lat double, lon double")


def query_points_values_sql(world: World | None = None) -> str:
    world = world or build_world()
    rows = ", ".join(
        f"({_sql_str(p)}, {lat!r}, {lon!r})"
        for p, lat, lon in world.query_points
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(point_id, lat, lon)"
