"""DuckDB oracle SQL builders for __spark_entry__.py.

Two kinds of oracle:
- DERIVATIONAL: the SQL recomputes the expected result independently (bbox
  containment + transitive reduction via NOT EXISTS, geocode via recursive
  CTE, geohash grid via bit math, MinHash/SimHash via the same portable
  md5-based arithmetic, relational queries directly on the parquet views).
- GOLDEN: fixed expected VALUES computed by the fixture generator (ring
  counts, naming strings) — legitimate because the fixture is frozen.

The fixture worlds are embedded as literal CTEs (fixtures/osm_world.py
renders them), so DuckDB never needs the engine's parquet output.

Fixture geometry is constructed so that bbox predicates are EXACT proxies
for the polygon predicates (convex rings, separated worlds, probe points at
polygon centers) — that is what makes the derivational spatial oracles
sound; see FIXTURES.md.
"""

from __future__ import annotations

from .fixtures.osm_world import (
    areas_cte_sql,
    build_world,
    documents_values_sql,
    query_points_values_sql,
)
from .operators.dedup import (
    MINHASH_BANDS,
    MINHASH_K,
    P,
    SHINGLE_K,
    SIMHASH_BITS,
    SIMHASH_CHUNKS,
    minhash_params,
)
from .operators.textops import MOD, STOPWORDS, TOKEN_REGEX
from .streaming.sessions import DEFAULT_GAP_MIN

_WORLD = build_world()

# ---------------------------------------------------------------------------
# shared CTE fragments (fixture worlds)
# ---------------------------------------------------------------------------

def fix_docs_cte() -> str:
    return f"fixdocs AS ({documents_values_sql(_WORLD)})"


def areas_cte() -> str:
    """Ground-truth areas with a deterministic per-ring id `rid`."""
    return (
        "fareas AS (SELECT row_number() OVER (ORDER BY osm_id, area, n_points)"
        f" AS rid, * FROM ({areas_cte_sql(_WORLD)}))"
    )


def points_cte() -> str:
    return f"fpoints AS ({query_points_values_sql(_WORLD)})"


EDGES_CTES = """
fpairs AS (
  SELECT a.rid AS pa, b.rid AS cb, a.osm_id AS p_osm, b.osm_id AS c_osm
  FROM fareas a JOIN fareas b ON a.rid <> b.rid
   AND a.min_lat <= b.min_lat AND a.min_lon <= b.min_lon
   AND a.max_lat >= b.max_lat AND a.max_lon >= b.max_lon
),
fedges AS (
  SELECT pa, cb, p_osm, c_osm FROM fpairs cp
  WHERE NOT EXISTS (
    SELECT 1 FROM fpairs x JOIN fpairs y ON x.cb = y.pa
    WHERE x.pa = cp.pa AND y.cb = cp.cb)
  UNION ALL
  SELECT -1 AS pa, a.rid AS cb, '-1' AS p_osm, a.osm_id AS c_osm
  FROM fareas a
  WHERE NOT EXISTS (SELECT 1 FROM fpairs p WHERE p.cb = a.rid)
)
"""


def sql_decode_nodes() -> str:
    return f"""
WITH {fix_docs_cte()}
SELECT try_cast(substr(doc_id, 1, length(doc_id)-1) AS BIGINT) AS node_id,
       try_cast(split_part(geo, ',', 1) AS DOUBLE) AS lat,
       try_cast(split_part(geo, ',', 2) AS DOUBLE) AS lon
FROM (
  SELECT doc_id,
         substr(list_filter(spans, s -> s['kind'] = 'media'
                AND s['media_ref'][1:4] = 'geo:')[1]['media_ref'], 5) AS geo
  FROM fixdocs WHERE doc_id LIKE '%N'
)
"""


def sql_named_nodes() -> str:
    """extractNamedNodes twin (Main.scala:106-127): named nodes only,
    OutputNode(osm_id, lat, lon) shape."""
    return f"""
WITH {fix_docs_cte()}
SELECT doc_id AS osm_id,
       try_cast(split_part(geo, ',', 1) AS DOUBLE) AS lat,
       try_cast(split_part(geo, ',', 2) AS DOUBLE) AS lon
FROM (
  SELECT doc_id,
         substr(list_filter(spans, s -> s['kind'] = 'media'
                AND s['media_ref'][1:4] = 'geo:')[1]['media_ref'], 5) AS geo
  FROM fixdocs
  WHERE doc_id LIKE '%N'
    AND len(list_filter(spans, s -> s['kind'] = 'text'
          AND (split_part(s['text'], '=', 1) = 'name'
               OR s['text'] LIKE 'name:%'
               OR split_part(s['text'], '=', 1) = 'addr:housename'))) > 0
)
"""


def sql_json_nodes() -> str:
    """Derivational twin of the JSON sink (sources/json_sink.py
    render_nodes): re-derives per-area id / entity count / ordered entity
    names / children / area from the fixture CTEs. The Spark side parses
    these SAME fields back out of the rendered JSON string, so the gate
    proves the sink's output carries exactly the expected content through
    a JSON round-trip (byte-level formatting is pinned by pytest goldens
    instead — cross-engine float rendering differs)."""
    return f"""
WITH {fix_docs_cte()}, {areas_cte()}, {EDGES_CTES},
fnames AS (
  SELECT d.doc_id,
         max(CASE WHEN split_part(s['text'], '=', 1) = 'name:en'
              THEN substr(s['text'], 9) END) AS name_en,
         max(CASE WHEN split_part(s['text'], '=', 1) = 'name'
              THEN substr(s['text'], 6) END) AS name_plain,
         max(CASE WHEN split_part(s['text'], '=', 1) = 'addr:housename'
              THEN substr(s['text'], 16) END) AS housename
  FROM fixdocs d, UNNEST(d.spans) AS t(s)
  WHERE s['kind'] = 'text'
  GROUP BY d.doc_id
),
fent AS (
  SELECT m.rid, m.canonical, m.area, m.member_osm_id,
         coalesce(n.name_en, n.name_plain, n.housename, m.canonical) AS name
  FROM (SELECT a.rid, a.osm_id AS canonical, a.area, u.osm_id AS member_osm_id
        FROM fareas a, UNNEST(a.osm_ids) AS u(osm_id)) m
  LEFT JOIN fnames n ON n.doc_id = m.member_osm_id
),
fchild AS (
  SELECT pa, count(*) AS n_children FROM fedges WHERE pa <> -1 GROUP BY pa
)
SELECT e.canonical AS id,
       count(*) AS n_entities,
       string_agg(e.name, '|' ORDER BY e.member_osm_id, e.name) AS names,
       coalesce(any_value(c.n_children), 0)::BIGINT AS children,
       CAST(round(any_value(e.area), 9) AS DOUBLE) AS area
FROM fent e LEFT JOIN fchild c ON c.pa = e.rid
GROUP BY e.rid, e.canonical
"""


def sql_entity_stats() -> str:
    """A1 analog: per-type counts + named counts from the fixture docs."""
    return f"""
WITH {fix_docs_cte()}
SELECT substr(doc_id, length(doc_id), 1) AS osm_type,
       count(*) AS n,
       sum(CASE WHEN len(list_filter(spans, s -> s['kind'] = 'text'
             AND (split_part(s['text'], '=', 1) = 'name'
                  OR s['text'] LIKE 'name:%'
                  OR split_part(s['text'], '=', 1) = 'addr:housename')))
             > 0 THEN 1 ELSE 0 END)::BIGINT AS n_named
FROM fixdocs GROUP BY 1
"""


def sql_areas_table() -> str:
    return f"""
WITH {areas_cte()}
SELECT osm_id AS canonical_osm_id, len(osm_ids) AS n_osm_ids, n_points,
       CAST(round(area, 6) AS DOUBLE) AS area,
       CAST(round(min_lat, 6) AS DOUBLE) AS min_lat,
       CAST(round(min_lon, 6) AS DOUBLE) AS min_lon,
       CAST(round(max_lat, 6) AS DOUBLE) AS max_lat,
       CAST(round(max_lon, 6) AS DOUBLE) AS max_lon
FROM fareas
"""


def sql_graph_edges() -> str:
    return f"""
WITH {areas_cte()}, {EDGES_CTES}
SELECT p_osm AS parent_osm_id, c_osm AS child_osm_id, count(*) AS n
FROM fedges GROUP BY 1, 2
"""


def sql_geocode_paths() -> str:
    return f"""
WITH RECURSIVE {areas_cte()}, {points_cte()}, {EDGES_CTES},
fmember AS (
  SELECT p.point_id, a.rid
  FROM fpoints p JOIN fareas a
    ON p.lat BETWEEN a.min_lat AND a.max_lat
   AND p.lon BETWEEN a.min_lon AND a.max_lon
),
fpe AS (
  SELECT m.point_id, e.pa, e.cb, e.c_osm
  FROM fedges e JOIN fmember m ON e.cb = m.rid
  WHERE e.pa = -1 OR EXISTS (
    SELECT 1 FROM fmember m2 WHERE m2.point_id = m.point_id AND m2.rid = e.pa)
),
walk(point_id, node, path) AS (
  SELECT point_id, cb, c_osm FROM fpe WHERE pa = -1
  UNION ALL
  SELECT w.point_id, p.cb, w.path || '/' || p.c_osm
  FROM walk w JOIN fpe p ON p.point_id = w.point_id AND p.pa = w.node
)
SELECT point_id, path
FROM walk w
WHERE NOT EXISTS (
  SELECT 1 FROM fpe p WHERE p.point_id = w.point_id AND p.pa = w.node)
"""


GRID1_CTES = """
fgrid AS (
  SELECT substr('0123456789bcdefghjkmnpqrstuvwxyz', i + 1, 1) AS tile_id,
         ((i >> 4) & 1) * 4 + ((i >> 2) & 1) * 2 + (i & 1) AS lon_idx,
         ((i >> 3) & 1) * 2 + ((i >> 1) & 1) AS lat_idx
  FROM generate_series(0, 31) t(i)
),
ftiles AS (
  SELECT tile_id,
         -90.0 + lat_idx * 45.0 AS t_min_lat,
         -180.0 + lon_idx * 45.0 AS t_min_lon,
         -90.0 + (lat_idx + 1) * 45.0 AS t_max_lat,
         -180.0 + (lon_idx + 1) * 45.0 AS t_max_lon
  FROM fgrid
)
"""


def sql_tile_assignments() -> str:
    # interior (strict) bbox overlap — engine's tiling semantics
    return f"""
WITH {areas_cte()}, {GRID1_CTES}
SELECT DISTINCT t.tile_id, a.osm_id
FROM ftiles t JOIN fareas a
  ON a.min_lat < t.t_max_lat AND t.t_min_lat < a.max_lat
 AND a.min_lon < t.t_max_lon AND t.t_min_lon < a.max_lon
"""


def sql_tile_grid_counts() -> str:
    return """
SELECT res, CAST(pow(32, res) AS BIGINT) AS n_tiles
FROM (VALUES (1), (2), (3)) t(res)
"""


RECT_IDS = "('100W','101W','102W','103W','104W','105W','106W')"


def sql_knn() -> str:
    return f"""
WITH {areas_cte()}, {points_cte()},
rect AS (SELECT * FROM fareas WHERE osm_id IN {RECT_IDS}),
pts AS (SELECT * FROM fpoints WHERE point_id IN ('p_small', 'p_fits')),
d AS (
  SELECT p.point_id, a.osm_id,
         CAST(round(sqrt(
           pow(greatest(a.min_lat - p.lat, p.lat - a.max_lat, 0), 2)
           + pow(greatest(a.min_lon - p.lon, p.lon - a.max_lon, 0), 2)), 6)
           AS DOUBLE) AS distance
  FROM pts p CROSS JOIN rect a
)
SELECT point_id, osm_id AS canonical_osm_id, distance, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY point_id ORDER BY distance, osm_id) AS rank
  FROM d) WHERE rank <= 3
"""


def sql_expansion_status() -> str:
    return f"""
WITH RECURSIVE {fix_docs_cte()},
rels AS (
  SELECT try_cast(substr(doc_id, 1, length(doc_id)-1) AS BIGINT) AS rel_id,
         spans
  FROM fixdocs WHERE doc_id LIKE '%R'
),
redges AS (
  SELECT r.rel_id AS parent,
         try_cast(split_part(substr(m['media_ref'], 5), '#', 1) AS BIGINT)
           AS child
  FROM rels r, UNNEST(r.spans) AS t(m)
  WHERE m['kind'] = 'media' AND m['media_ref'] LIKE 'rel:%'
),
walk(root, cur, path) AS (
  SELECT rel_id, rel_id, [rel_id] FROM rels
  UNION ALL
  SELECT w.root, e.child, list_append(w.path, e.child)
  FROM walk w JOIN redges e ON e.parent = w.cur
  WHERE NOT list_contains(w.path, e.child)
),
cyc AS (
  SELECT DISTINCT w.root FROM walk w
  JOIN redges e ON e.parent = w.cur
  WHERE list_contains(w.path, e.child)
),
miss AS (
  SELECT DISTINCT w.root FROM walk w
  JOIN redges e ON e.parent = w.cur
  LEFT JOIN rels r ON r.rel_id = e.child
  WHERE r.rel_id IS NULL
)
SELECT r.rel_id,
       (r.rel_id NOT IN (SELECT root FROM cyc)
        AND r.rel_id NOT IN (SELECT root FROM miss)) AS is_expandable,
       r.rel_id IN (SELECT root FROM cyc) AS hit_cycle
FROM rels r
"""


_NAMED_SPAN = """len(list_filter(spans, s -> s['kind'] = 'text'
        AND (split_part(s['text'], '=', 1) = 'name'
             OR s['text'] LIKE 'name:%'
             OR split_part(s['text'], '=', 1) = 'addr:housename'))) > 0"""

# Shared CTE chain re-deriving the engine's "ways used by areas" set
# (steps/ExtractAreas.scala:49-56) from the fixture docs alone:
# closed+named ways contribute themselves; named expandable relations
# contribute their outer-role way members, recursing through outer-role
# sub-relations (OuterWayResolver semantics). Sound for the fixture because
# every stitched fixture ring closes (no ways dropped by the closure test).
WAYS_USED_CTES = f"""
wspans AS (
  SELECT doc_id, m['media_ref'] AS mr, m['offset'] AS off
  FROM fixdocs, UNNEST(spans) AS t(m)
  WHERE doc_id LIKE '%W' AND m['kind'] = 'media'
    AND m['media_ref'] LIKE 'node:%'),
wnodes AS (
  SELECT try_cast(substr(doc_id, 1, length(doc_id)-1) AS BIGINT) AS way_id,
         array_agg(try_cast(substr(mr, 6) AS BIGINT) ORDER BY off)
           AS node_ids
  FROM wspans GROUP BY doc_id),
closed_named_ways AS (
  SELECT w.way_id FROM wnodes w
  JOIN fixdocs d ON d.doc_id = w.way_id || 'W'
  WHERE len(w.node_ids) > 2 AND w.node_ids[1] = w.node_ids[-1]
    AND {_NAMED_SPAN}),
rels AS (
  SELECT try_cast(substr(doc_id, 1, length(doc_id)-1) AS BIGINT) AS rel_id,
         spans, {_NAMED_SPAN} AS named
  FROM fixdocs WHERE doc_id LIKE '%R'),
redges AS (
  SELECT r.rel_id AS parent,
         try_cast(split_part(substr(m['media_ref'], 5), '#', 1) AS BIGINT)
           AS child,
         split_part(m['media_ref'], '#', 2) AS role
  FROM rels r, UNNEST(r.spans) AS t(m)
  WHERE m['kind'] = 'media' AND m['media_ref'] LIKE 'rel:%'),
xwalk(root, cur, path) AS (
  SELECT rel_id, rel_id, [rel_id] FROM rels
  UNION ALL
  SELECT w.root, e.child, list_append(w.path, e.child)
  FROM xwalk w JOIN redges e ON e.parent = w.cur
  WHERE NOT list_contains(w.path, e.child)),
cyc AS (
  SELECT DISTINCT w.root FROM xwalk w
  JOIN redges e ON e.parent = w.cur
  WHERE list_contains(w.path, e.child)),
miss AS (
  SELECT DISTINCT w.root FROM xwalk w
  JOIN redges e ON e.parent = w.cur
  LEFT JOIN rels r ON r.rel_id = e.child
  WHERE r.rel_id IS NULL),
good_rels AS (
  SELECT rel_id FROM rels
  WHERE named AND rel_id NOT IN (SELECT root FROM cyc)
    AND rel_id NOT IN (SELECT root FROM miss)),
owalk(root, cur, path) AS (
  SELECT rel_id, rel_id, [rel_id] FROM good_rels
  UNION ALL
  SELECT w.root, e.child, list_append(w.path, e.child)
  FROM owalk w JOIN redges e ON e.parent = w.cur AND e.role = 'outer'
  WHERE NOT list_contains(w.path, e.child)),
outer_member_ways AS (
  SELECT DISTINCT
         try_cast(split_part(substr(m['media_ref'], 5), '#', 1) AS BIGINT)
           AS way_id
  FROM owalk w JOIN rels r ON r.rel_id = w.cur,
       UNNEST(r.spans) AS t(m)
  WHERE m['kind'] = 'media' AND m['media_ref'] LIKE 'way:%'
    AND split_part(m['media_ref'], '#', 2) = 'outer'),
fways_used AS (
  SELECT way_id FROM closed_named_ways
  UNION
  SELECT way_id FROM outer_member_ways)
"""


def sql_ways_used() -> str:
    """A4: the waysUsed set."""
    return f"""
WITH RECURSIVE {fix_docs_cte()},
{WAYS_USED_CTES}
SELECT way_id FROM fways_used
"""


def sql_areastats() -> str:
    """areastats CLI verb (reference Main.scala:93-104): one (area osm_id,
    |way_id|) row per way composing a resolved area outline. Closed named
    ways map to themselves; named expandable relations to their recursive
    outer-role way members. Sound for the fixture because every stitched
    fixture ring closes (no ways dropped by the closure test — see the
    WAYS_USED_CTES note)."""
    return f"""
WITH RECURSIVE {fix_docs_cte()},
{WAYS_USED_CTES}
SELECT way_id || 'W' AS osm_id, way_id FROM closed_named_ways
UNION
SELECT DISTINCT w.root || 'R' AS osm_id,
       try_cast(split_part(substr(m['media_ref'], 5), '#', 1) AS BIGINT)
         AS way_id
FROM owalk w JOIN rels r ON r.rel_id = w.cur,
     UNNEST(r.spans) AS t(m)
WHERE m['kind'] = 'media' AND m['media_ref'] LIKE 'way:%'
  AND split_part(m['media_ref'], '#', 2) = 'outer'
"""


def sql_tags_for(osm_ids: tuple[str, ...]) -> str:
    """J11 standalone — the API /tags?osm_id= route (conf/routes:4):
    tag rows for a literal id set."""
    ids = ", ".join(f"'{i}'" for i in osm_ids)
    return f"""
WITH {fix_docs_cte()}
SELECT d.doc_id AS osm_id,
       split_part(s['text'], '=', 1) AS k,
       substr(s['text'], length(split_part(s['text'], '=', 1)) + 2) AS v
FROM fixdocs d, UNNEST(d.spans) AS t(s)
WHERE s['kind'] = 'text' AND d.doc_id IN ({ids})
"""


def sql_shortest_name() -> str:
    """O5 — EntityNameTags.scala:8-11: among an entity's name-family tag
    values, the shortest wins (lexicographic on equal length)."""
    return f"""
WITH {fix_docs_cte()},
kv AS (
  SELECT d.doc_id AS osm_id,
         split_part(s['text'], '=', 1) AS k,
         substr(s['text'], length(split_part(s['text'], '=', 1)) + 2) AS v
  FROM fixdocs d, UNNEST(d.spans) AS t(s)
  WHERE s['kind'] = 'text')
SELECT osm_id, shortest_name, n_name_tags FROM (
  SELECT osm_id, v AS shortest_name,
         count(*) OVER (PARTITION BY osm_id)::BIGINT AS n_name_tags,
         row_number() OVER (PARTITION BY osm_id
                            ORDER BY length(v), v) AS rn
  FROM kv
  WHERE k = 'name' OR k LIKE 'name:%' OR k = 'addr:housename')
WHERE rn = 1
"""


#: canonical geohashes for __spark_entry__.GEOHASH_POINTS at res 1..5 —
#: public test vectors (u4pruyd / ezs42 from the geohash literature; s / z
#: / 0 corners from the base32 cell layout), NOT derived from the engine.
_GEOHASH_GOLDEN = {
    "dk": ("u", "u4", "u4p", "u4pr", "u4pru"),
    "es": ("e", "ez", "ezs", "ezs4", "ezs42"),
    "zero": ("s", "s0", "s00", "s000", "s0000"),
    "hi": ("z", "zz", "zzz", "zzzz", "zzzzz"),
    "lo": ("0", "00", "000", "0000", "00000"),
}


def sql_geohash_cells(points) -> str:
    """F7 — literal golden table for the geohash encoder (VERDICT r4
    optional item 8): the oracle asserts known-good strings rather than
    re-implementing base32 bit interleaving in SQL."""
    rows = []
    for pid, _lat, _lon in points:
        for res, gh in enumerate(_GEOHASH_GOLDEN[pid], start=1):
            rows.append(f"('{pid}', {res}, '{gh}')")
    return ("SELECT point_id, res::BIGINT AS res, geohash FROM (VALUES "
            + ", ".join(rows) + ") AS t(point_id, res, geohash)")


def sql_way_points_stats() -> str:
    """S-layer OutputWay analog: per used way, resolved point stats."""
    return f"""
WITH RECURSIVE {fix_docs_cte()},
{WAYS_USED_CTES},
npts AS (
  SELECT try_cast(substr(doc_id, 1, length(doc_id)-1) AS BIGINT) AS node_id,
         try_cast(split_part(substr(list_filter(spans,
             s -> s['kind'] = 'media'
             AND s['media_ref'][1:4] = 'geo:')[1]['media_ref'], 5),
             ',', 1) AS DOUBLE) AS lat,
         try_cast(split_part(substr(list_filter(spans,
             s -> s['kind'] = 'media'
             AND s['media_ref'][1:4] = 'geo:')[1]['media_ref'], 5),
             ',', 2) AS DOUBLE) AS lon
  FROM fixdocs WHERE doc_id LIKE '%N')
SELECT u.way_id,
       len(w.node_ids)::BIGINT AS n_points,
       CAST(round(min(n.lat), 6) AS DOUBLE) AS min_lat,
       CAST(round(min(n.lon), 6) AS DOUBLE) AS min_lon,
       CAST(round(max(n.lat), 6) AS DOUBLE) AS max_lat,
       CAST(round(max(n.lon), 6) AS DOUBLE) AS max_lon
FROM fways_used u
JOIN wnodes w ON w.way_id = u.way_id,
UNNEST(w.node_ids) AS t(nid)
JOIN npts n ON n.node_id = t.nid
GROUP BY u.way_id, len(w.node_ids)
"""


def sql_area_tags() -> str:
    """P7: tags pruned to area-referenced osm ids
    (ExtractAreaTags.scala:23-25), exploded to rows."""
    return f"""
WITH {fix_docs_cte()}, {areas_cte()},
used AS (SELECT DISTINCT unnest(osm_ids) AS osm_id FROM fareas)
SELECT d.doc_id AS osm_id,
       split_part(s['text'], '=', 1) AS k,
       substr(s['text'], length(split_part(s['text'], '=', 1)) + 2) AS v
FROM fixdocs d JOIN used u ON u.osm_id = d.doc_id,
     UNNEST(d.spans) AS t(s)
WHERE s['kind'] = 'text'
"""


def sql_ring_counts() -> str:
    rows = ", ".join(
        f"('{osm}', {n}, '{sizes}')"
        for osm, n, sizes in [
            ("200R", 1, "14"), ("201R", 1, "17"), ("202R", 1, "1"),
            ("203R", 3, "1,19,40"), ("204R", 4, "1,5,6,8"),
        ]
    )
    return (
        "SELECT * FROM (VALUES %s) AS t(rel_osm_id, n_rings, ring_sizes)"
        % rows
    )


def sql_naming() -> str:
    rows = ", ".join(
        f"('{p}', '{n}')"
        for p, n in [
            ("p_small", "Small, Medium, Right, Overlapping, Large"),
            ("p_fits", "Fits, Small, Medium, Left, Overlapping, Large"),
            ("p_holdenhurst", "Holdenhurst, Bournemouth"),
            ("p_richmond", "Richmond upon Thames"),
        ]
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(point_id, name)"


def sql_span_roundtrip() -> str:
    return f"""
WITH {fix_docs_cte()}
SELECT count(*) AS n_docs, 0 AS n_violations FROM fixdocs
"""


# ---------------------------------------------------------------------------
# relational queries on the driver's TPC-H-ish parquet views
# ---------------------------------------------------------------------------

# decimal-exact sums (order-independent) + double division for averages:
# identical bit-level inputs to round() in both engines.
SQL_AGG_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE)
         AS sum_disc_price,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
             / count(*), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""

SQL_REVENUE_BY_NATION = """
SELECT n.n_name AS nation,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,4)))), 2)
            AS DOUBLE) AS revenue,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""

SQL_SEMI_JOIN_ORDERS = """
SELECT o_orderkey, o_totalprice
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
"""

SQL_ANTI_JOIN_CUSTOMERS = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

SQL_PART_REUSE_HISTOGRAM = """
SELECT n_uses, count(*) AS n_parts FROM (
  SELECT l_partkey, count(*) AS n_uses FROM lineitem GROUP BY l_partkey
) GROUP BY n_uses
"""

SQL_TOPK_EVENTS = """
SELECT event_type, event_id, round(value, 6) AS value, rnk FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rnk
  FROM events) WHERE rnk <= 10
"""

SQL_EVENTS_WINDOWED = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
         AS total_value
FROM events GROUP BY 1, 2
"""

# gap-and-island sessionization — derivational twin of
# streaming/sessions.sessionize_batch (gap = DEFAULT_GAP_MIN minutes)
SQL_EVENT_SESSIONS = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > {DEFAULT_GAP_MIN} * 60
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx::BIGINT AS session_idx,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*)::BIGINT AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
         AS total_value
FROM numbered GROUP BY 1, 2
"""

SQL_MIN_BY_SOURCE = """
SELECT source, doc_id AS shortest_doc, n_chars AS min_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn
  FROM documents) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# training-data operators on the testdata documents/embeddings views
# ---------------------------------------------------------------------------

_WORDS = r"list_filter(string_split_regex(lower(text), '\s+'), w -> w <> '')"
_STOP_LIST = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


def _shingle_cte(k: int, src: str = "documents",
                 where: str = "") -> str:
    return f"""
dwords AS (SELECT doc_id, {_WORDS} AS words FROM {src} {where}),
didx AS (
  SELECT doc_id, words,
         unnest(generate_series(1, greatest(len(words) - {k - 1}, 0))) AS i
  FROM dwords),
dsh AS (
  SELECT DISTINCT doc_id,
         list_aggregate(words[i:i+{k - 1}], 'string_agg', ' ') AS shingle
  FROM didx
)
"""


SQL_EXACT_DUP = """
SELECT canonical_doc_id, n_dups FROM (
  SELECT min(doc_id) AS canonical_doc_id, count(*) AS n_dups
  FROM documents GROUP BY text
) WHERE n_dups > 1
"""


def sql_minhash_near_dups(threshold: float = 0.5,
                          max_bucket: int = 1024) -> str:
    params = ", ".join(f"({j}, {a}, {b})" for j, a, b in minhash_params())
    rpb = MINHASH_K // MINHASH_BANDS
    bands = ", ".join(f"({b})" for b in range(MINHASH_BANDS))
    return f"""
WITH {_shingle_cte(SHINGLE_K)},
hsh AS (
  SELECT doc_id, shingle,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {P} AS hv
  FROM dsh),
prm AS (SELECT * FROM (VALUES {params}) AS t(j, a, b)),
sig AS (
  SELECT doc_id, j, min((a * hv + b) % {P}) AS sig
  FROM hsh, prm GROUP BY doc_id, j),
sigs AS (
  SELECT doc_id, array_agg(sig ORDER BY j) AS sigs FROM sig GROUP BY doc_id),
bands AS (
  SELECT doc_id, b,
         list_aggregate(
           list_transform(sigs[b*{rpb}+1 : b*{rpb}+{rpb}], x -> x::VARCHAR),
           'string_agg', ',') AS key
  FROM sigs, (VALUES {bands}) bs(b)),
small AS (
  SELECT b, key FROM bands GROUP BY b, key HAVING count(*) <= {max_bucket}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN small s ON s.b = x.b AND s.key = x.key
  JOIN bands y ON x.b = y.b AND x.key = y.key
  WHERE x.doc_id < y.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN dsh a ON a.doc_id = c.doc_a
  JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b)
SELECT i.doc_a, i.doc_b,
       round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(n_inter / (sa.n + sb.n - n_inter), 6) >= {threshold}
"""


def sql_simhash() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest({_WORDS}) AS w FROM documents)),
sums AS (
  SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS total
  FROM toks, generate_series(0, {SIMHASH_BITS - 1}) t(i)
  GROUP BY doc_id, i)
SELECT doc_id,
       sum(CASE WHEN total > 0 THEN 1::BIGINT << i ELSE 0 END)::BIGINT
         AS simhash
FROM sums GROUP BY doc_id
"""


def sql_ngram_jaccard(k: int = 5, threshold: float = 0.3,
                      max_doc_id: int = 1000) -> str:
    return f"""
WITH {_shingle_cte(k, where=f"WHERE doc_id < {max_doc_id}")},
sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / (sa.n + sb.n - n_inter), 6) >= {threshold}
"""


def sql_cosine_topk(n_queries: int = 20, k: int = 5) -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {n_queries}),
sims AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(q.qv, e.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))), 6)
           AS cos_sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM sims) WHERE rank <= {k}
"""


def sql_ann_lsh_topk(n_queries: int = 20, k: int = 5, planes: int = 8,
                     dim: int = 64) -> str:
    """Derivational twin of operators/similarity.lsh_topk: hyperplane
    component = int(md5("p:<p>:<d>")[:15 hex], 16) / 2^59 - 1 (portable,
    similarity.py _plane_matrix), sign-signature bucket equality, exact
    cosine within the bucket."""
    return f"""
WITH pl AS (
  SELECT p.p,
         list(('0x' || substr(md5('p:' || p.p || ':' || d.d), 1, 15))::BIGINT
              / 576460752303423488.0 - 1.0 ORDER BY d.d) AS pv
  FROM generate_series(0, {planes - 1}) p(p),
       generate_series(0, {dim - 1}) d(d)
  GROUP BY p.p),
sigs AS (
  SELECT e.vec_id,
         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.pv) >= 0
                  THEN 1::BIGINT << pl.p ELSE 0 END)::BIGINT AS sig
  FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id),
q AS (
  SELECT e.vec_id AS query_id, e.embedding::DOUBLE[] AS qv, s.sig
  FROM embeddings e JOIN sigs s USING (vec_id)
  WHERE e.vec_id < {n_queries}),
sims AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(q.qv, e.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))), 6)
           AS cos_sim
  FROM embeddings e
  JOIN sigs s ON s.vec_id = e.vec_id
  JOIN q ON q.sig = s.sig AND e.vec_id <> q.query_id)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM sims) WHERE rank <= {k}
"""


def sql_ivf_topk(n_queries: int = 20, k: int = 5,
                 centroid_stride: int | None = 31, nprobe: int = 4) -> str:
    """Derivational twin of operators/similarity.ivf_topk: stride-sampled
    centroids, nearest-centroid assignment (rounded cosine, tie -> lowest
    centroid id), nprobe probed cells per query, exact cosine within the
    probed cells. centroid_stride=None mirrors the engine's DEFAULT path
    (similarity.auto_centroid_stride): stride = ceil(sqrt(corpus count)),
    derived here in SQL so the oracle is independent of the corpus size."""
    cos = ("round(list_dot_product(e.embedding::DOUBLE[], c.cv)"
           " / (sqrt(list_dot_product(e.embedding::DOUBLE[],"
           " e.embedding::DOUBLE[])) * sqrt(list_dot_product(c.cv, c.cv)))"
           ", 6)")
    if centroid_stride is None:
        stride_cte = ("stride AS (\n  SELECT CAST(ceil(sqrt(count(*)::DOUBLE))"
                      " AS BIGINT) AS s FROM embeddings),\n")
        stride = "(SELECT s FROM stride)"
    else:
        stride_cte = ""
        stride = str(centroid_stride)
    return f"""
WITH {stride_cte}cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id % {stride} = 0),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
probes AS (
  SELECT query_id, cid AS cell FROM (
    SELECT e.vec_id AS query_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {cos} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
    WHERE e.vec_id < {n_queries}) WHERE rn <= {nprobe}),
sims AS (
  SELECT p.query_id, a.vec_id,
         round(list_dot_product(q.embedding::DOUBLE[],
                                e.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.embedding::DOUBLE[],
                                        q.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))), 6)
           AS cos_sim
  FROM probes p
  JOIN assign a USING (cell)
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN embeddings q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM sims) WHERE rank <= {k}
"""


SQL_LANG_ID = f"""
SELECT doc_id,
  CASE WHEN len(list_filter({_WORDS}, w -> list_contains({_STOP_LIST}, w)))
            / greatest(len({_WORDS}), 1) >= 0.08
       THEN 'en' ELSE 'other' END AS predicted_lang
FROM documents
"""

SQL_QUALITY = f"""
WITH base AS (
  SELECT doc_id,
         len({_WORDS}) AS n_words,
         round(length(text) / greatest(len({_WORDS}), 1), 6) AS avg_word_len,
         round(len(list_filter({_WORDS}, w -> list_contains({_STOP_LIST}, w)))
               / greatest(len({_WORDS}), 1), 6) AS stopword_ratio,
         round(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
               / greatest(length(text), 1), 6) AS punct_ratio
  FROM documents)
SELECT *,
  round(least(n_words / 50.0, 1.0) * 0.4
        + least(stopword_ratio * 4.0, 1.0) * 0.4
        + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 6) AS quality
FROM base
"""

SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       len({_WORDS}) AS n_ws_tokens,
       len(regexp_extract_all(lower(text), '{TOKEN_REGEX}')) AS n_bpe_tokens
FROM documents
"""

SQL_FINGERPRINTS = f"""
SELECT doc_id,
  list_reduce(
    list_prepend(0::BIGINT,
                 [unicode(c)::BIGINT FOR c IN string_split(text, '')]),
    (a, b) -> (a * 31 + b) % {MOD}) AS fingerprint
FROM documents
"""

# Derivational twin of multimodal.attach_fake_media + extract_features:
# the payload is a binary P6 PPM ("P6\n{w} {h}\n255\n" + w*h*3 pixel
# bytes, pixels = md5(text) digest repeated) — the oracle reconstructs the
# payload's lowercase-hex rendering in closed form and fingerprints it;
# the engine genuinely decodes the bytes (multimodal.decode_ppm) and
# fingerprints what it read.
SQL_MEDIA_FEATURES = """
WITH m AS (
  SELECT doc_id, text,
         (length(text) % 64 + 1)::INT AS w,
         (length(text) % 48 + 1)::INT AS h
  FROM documents),
p AS (
  SELECT doc_id, w, h,
         lower(hex(encode('P6' || chr(10) || w || ' ' || h || chr(10)
                          || '255' || chr(10))))
         || substring(repeat(md5(text), ((w * h * 3 + 15) // 16)::INT),
                      1, w * h * 3 * 2) AS phex
  FROM m)
SELECT doc_id, 'image' AS media_type,
       (length(phex) // 2)::BIGINT AS n_bytes,
       md5(phex) AS payload_md5
FROM p
"""

def sql_media_resize(max_dim: int = 32) -> str:
    """Derivational twin of operators/multimodal.resize_media over
    attach_fake_media: meta dims from text length, integer floor-division
    target dims, and the thumbnail — a re-encoded binary P6 PPM of the
    nearest-neighbor resample — reconstructed pixel by pixel in closed
    form: output byte i (c = i%3, ox = (i//3)%ow, oy = i//(3*ow)) reads
    source byte ((oy*h//oh)*w + ox*w//ow)*3 + c, which the generative rule
    maps to md5-digest byte (index % 16). The engine decodes real bytes;
    the oracle never runs the codec. Fingerprint in hex domain (DuckDB md5
    is VARCHAR-only): md5(lower(hex(thumb)))."""
    return f"""
WITH m AS (
  SELECT doc_id, text,
         (length(text) % 64 + 1)::INT AS w,
         (length(text) % 48 + 1)::INT AS h
  FROM documents),
t AS (
  SELECT doc_id, text, w, h,
         CASE WHEN greatest(w, h) <= {max_dim} THEN w
              ELSE greatest(1, (w * {max_dim}) // greatest(w, h)) END AS ow,
         CASE WHEN greatest(w, h) <= {max_dim} THEN h
              ELSE greatest(1, (h * {max_dim}) // greatest(w, h)) END AS oh
  FROM m),
x AS (
  SELECT doc_id, w, h, ow, oh,
         lower(hex(encode('P6' || chr(10) || ow || ' ' || oh || chr(10)
                          || '255' || chr(10))))
         || array_to_string(
              [substr(md5(text),
                      2 * (((((i // (3 * ow)) * h // oh) * w
                             + ((i // 3) % ow) * w // ow) * 3
                            + (i % 3)) % 16) + 1, 2)
               FOR i IN range(ow * oh * 3)], '') AS thex
  FROM t)
SELECT doc_id,
       w::BIGINT AS src_width, h::BIGINT AS src_height,
       ow::BIGINT AS out_width, oh::BIGINT AS out_height,
       (length(thex) // 2)::BIGINT AS n_bytes,
       md5(thex) AS thumb_md5
FROM x
"""


SQL_FRAME_SAMPLE = """
SELECT doc_id, 'image' AS media_type,
       unnest(generate_series(0, (length(text) % 5 + 1) - 1, 2)) AS frame_index
FROM documents
"""


def sql_all_paths() -> str:
    """G8 analog: every root-to-leaf trace, path as '/'-joined osm ids."""
    return f"""
WITH RECURSIVE {areas_cte()}, {EDGES_CTES},
walk(node, path) AS (
  SELECT cb, c_osm FROM fedges WHERE pa = -1
  UNION ALL
  SELECT e.cb, w.path || '/' || e.c_osm
  FROM walk w JOIN fedges e ON e.pa = w.node
)
SELECT string_split(path, '/')[-1] AS leaf_osm_id, path
FROM walk w
WHERE NOT EXISTS (SELECT 1 FROM fedges e WHERE e.pa = w.node)
"""


def sql_topo_depths() -> str:
    """G3 analog: per-osm-id max root-distance multiset."""
    return f"""
WITH RECURSIVE {areas_cte()}, {EDGES_CTES},
walk(node, depth) AS (
  SELECT cb, 1 FROM fedges WHERE pa = -1
  UNION ALL
  SELECT e.cb, w.depth + 1 FROM walk w JOIN fedges e ON e.pa = w.node
),
maxd AS (SELECT node, max(depth) AS depth FROM walk GROUP BY node)
SELECT a.osm_id AS canonical_osm_id, m.depth, count(*) AS n
FROM maxd m JOIN fareas a ON a.rid = m.node
GROUP BY 1, 2
"""


def sql_tile_graph() -> str:
    """G7 analog: per-tile edges with re-rooting, res-1 grid."""
    return f"""
WITH {areas_cte()}, {GRID1_CTES}, {EDGES_CTES},
assign AS (
  SELECT t.tile_id, a.rid, a.osm_id
  FROM ftiles t JOIN fareas a
    ON a.min_lat < t.t_max_lat AND t.t_min_lat < a.max_lat
   AND a.min_lon < t.t_max_lon AND t.t_min_lon < a.max_lon
),
inner_e AS (
  SELECT ac.tile_id, e.p_osm AS parent_osm_id, e.c_osm AS child_osm_id,
         e.cb
  FROM fedges e
  JOIN assign ac ON ac.rid = e.cb
  JOIN assign ap ON ap.rid = e.pa AND ap.tile_id = ac.tile_id
  WHERE e.pa <> -1
),
rerooted AS (
  SELECT a.tile_id, '-1' AS parent_osm_id, a.osm_id AS child_osm_id
  FROM assign a
  WHERE NOT EXISTS (
    SELECT 1 FROM inner_e i WHERE i.tile_id = a.tile_id AND i.cb = a.rid)
)
SELECT tile_id, parent_osm_id, child_osm_id, count(*) AS n FROM (
  SELECT tile_id, parent_osm_id, child_osm_id FROM inner_e
  UNION ALL
  SELECT tile_id, parent_osm_id, child_osm_id FROM rerooted
) GROUP BY 1, 2, 3
"""


def sql_path_walk(chain: list[str]) -> str:
    """G6 analog (api nodesFor, Application.scala:79-106): validate a
    root-first id chain edge by edge with prefix-stop semantics."""
    rows = ", ".join(
        f"({i}, '{a}', '{b}')"
        for i, (a, b) in enumerate(zip(["-1"] + chain, chain)))
    return f"""
WITH {areas_cte()}, {EDGES_CTES},
chain(pos, parent_osm_id, child_osm_id) AS (VALUES {rows}),
hits AS (
  SELECT c.pos, c.parent_osm_id, c.child_osm_id,
         EXISTS (SELECT 1 FROM fedges e
                 WHERE e.p_osm = c.parent_osm_id
                   AND e.c_osm = c.child_osm_id) AS ok
  FROM chain c)
SELECT pos, parent_osm_id, child_osm_id, true AS ok
FROM hits h
WHERE NOT EXISTS (SELECT 1 FROM hits x WHERE x.pos <= h.pos AND NOT x.ok)
"""


def sql_embedding_near_dups(threshold: float = 0.45, bands: int = 8,
                            planes_per_band: int = 8, dim: int = 64,
                            max_bucket: int = 1024) -> str:
    """Derivational twin of operators/similarity.embedding_near_duplicates:
    banded md5 sign signatures, bucket cap, exact cosine verify."""
    total = bands * planes_per_band
    cos = """round(list_dot_product(ea.v, eb.v)
             / (sqrt(list_dot_product(ea.v, ea.v))
                * sqrt(list_dot_product(eb.v, eb.v))), 6)"""
    return f"""
WITH pl AS (
  SELECT p.p,
         list(('0x' || substr(md5('p:' || p.p || ':' || d.d), 1, 15))::BIGINT
              / 576460752303423488.0 - 1.0 ORDER BY d.d) AS pv
  FROM generate_series(0, {total - 1}) p(p),
       generate_series(0, {dim - 1}) d(d)
  GROUP BY p.p),
sigs AS (
  SELECT e.vec_id, pl.p // {planes_per_band} AS band,
         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.pv) >= 0
                  THEN 1::BIGINT << (pl.p % {planes_per_band})
                  ELSE 0 END)::BIGINT AS sig
  FROM embeddings e CROSS JOIN pl GROUP BY e.vec_id, band),
small AS (
  SELECT band, sig FROM sigs GROUP BY band, sig
  HAVING count(*) <= {max_bucket}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sigs a JOIN small USING (band, sig) JOIN sigs b USING (band, sig)
  WHERE a.vec_id < b.vec_id),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_a, vec_b, {cos} AS cos_sim
FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b
WHERE {cos} >= {threshold}
"""


def sql_simhash_near_dups(max_hamming: int = 16,
                          max_bucket: int = 1024) -> str:
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    return f"""
WITH toks AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest({_WORDS}) AS w FROM documents)),
sums AS (
  SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS total
  FROM toks, generate_series(0, {SIMHASH_BITS - 1}) t(i)
  GROUP BY doc_id, i),
sig AS (
  SELECT doc_id,
         sum(CASE WHEN total > 0 THEN 1::BIGINT << i ELSE 0 END) AS simhash
  FROM sums GROUP BY doc_id),
chunks AS (
  SELECT doc_id, simhash, c,
         (simhash >> (c * {chunk_bits})) & {(1 << chunk_bits) - 1} AS v
  FROM sig, generate_series(0, {SIMHASH_CHUNKS - 1}) t(c)),
small AS (
  SELECT c, v FROM chunks GROUP BY c, v HAVING count(*) <= {max_bucket}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM chunks a JOIN small s ON s.c = a.c AND s.v = a.v
  JOIN chunks b ON a.c = b.c AND a.v = b.v
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(sa, sb))::BIGINT AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""
