"""Seeded benchmark inputs, built with Spark SQL expressions only.

Every generator is a pure function of (seed, row index): the same seed gives
the same rows at any parallelism, and no data passes through the driver.
Each input comes with its closed-form expectation, which checks.py compares
the program's outputs against. Expressions are SQL strings because every
Column-API call is a round trip to the JVM, which made building the plans
slower than running them.

Spatial world (`world_areas`, `world_documents`):
- two world-spanning mega rectangles, mega0 ⊃ mega1 (hot parents whose
  covering hits every index cell);
- TREES quad-trees of depth DEPTH inside mega1. A child is its parent's
  quadrant inset by a seeded 6-12% of the parent's size on every side, so
  nesting is strict and every area's parent is known in closed form;
- NOTCH_PCT% of tree rings are notched rectangles: TEETH inward teeth per
  side, NOTCH deep (a share of the box), 4 + 16·TEETH vertices. Children are
  inset deeper than any notch, so notches never change the parent map;
- REL_PCT% of tree areas are named multipolygon relations whose ring is
  split over REL_WAYS unnamed open outer ways, the second one reversed
  (relation expansion, outer-way resolution and ring stitching run on them);
- DUP_PCT% are a named closed way that a named relation also uses as its
  only outer way: the same ring twice, which area dedup must merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TREES = 60
DEPTH = 2
NOTCH_PCT = 40
TEETH = 2
NOTCH = 0.03
REL_PCT = 15
DUP_PCT = 15
REL_WAYS = 3
MEGA = [(-80.0, -170.0, 80.0, 170.0), (-70.0, -160.0, 70.0, 160.0)]
TREE_BOX = (-60.0, -150.0, 60.0, 150.0)  # grid of tree cells inside mega1
GRID_LON = 15
POINT_BOX = (-75.0, -165.0, 75.0, 165.0)  # inside mega0, partly outside mega1
MAX_VERTS = 64  # node-id stride per area

DOC_TOKENS = 40
DUP_EVERY = 10  # doc i with i % DUP_EVERY == 1 is a near-copy of doc i-1

SHAPE = {
    "trees": TREES, "depth": DEPTH, "notch_pct": NOTCH_PCT, "teeth": TEETH,
    "notch": NOTCH, "rel_pct": REL_PCT, "dup_pct": DUP_PCT,
    "rel_ways": REL_WAYS, "mega": len(MEGA),
    "doc_tokens": DOC_TOKENS, "dup_every": DUP_EVERY,
}
PER_TREE = (4 ** (DEPTH + 1) - 1) // 3
EMPTY = "''"


def n_areas() -> int:
    return len(MEGA) + TREES * PER_TREE


def _u(seed: int, idx: str, salt: str) -> str:
    """SQL for a deterministic U[0,1) from (seed, row, salt)."""
    return (f"(pmod(xxhash64({seed}, {idx}, '{salt}'), {1 << 30}) "
            f"/ {float(1 << 30)}D)")


def _notched_template() -> list[tuple[float, float]]:
    """Counter-clockwise (fy, fx) box fractions of a rectangle with TEETH
    inward teeth of depth NOTCH on each side."""
    step = 1 / (2 * TEETH + 1)
    cuts = [(2 * j + 1) * step for j in range(TEETH)]
    out = [(0.0, 0.0)]
    for a in cuts:                       # bottom, west -> east
        out += [(0.0, a), (NOTCH, a), (NOTCH, a + step), (0.0, a + step)]
    out.append((0.0, 1.0))
    for a in cuts:                       # east, south -> north
        out += [(a, 1.0), (a, 1 - NOTCH), (a + step, 1 - NOTCH), (a + step, 1.0)]
    out.append((1.0, 1.0))
    for a in cuts:                       # top, east -> west
        out += [(1.0, 1 - a), (1 - NOTCH, 1 - a), (1 - NOTCH, 1 - a - step),
                (1.0, 1 - a - step)]
    out.append((1.0, 0.0))
    for a in cuts:                       # west, north -> south
        out += [(1 - a, 0.0), (1 - a, NOTCH), (1 - a - step, NOTCH),
                (1 - a - step, 0.0)]
    return out


RECT = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0)]
NOTCHED = _notched_template()


def _ring(template: list[tuple[float, float]]) -> str:
    pts = ", ".join(f"named_struct('fy', {fy!r}D, 'fx', {fx!r}D)"
                    for fy, fx in template)
    return (f"transform(array({pts}), p -> named_struct("
            "'lat', round(y0 + (y1 - y0) * p.fy, 6), "
            "'lon', round(x0 + (x1 - x0) * p.fx, 6)))")


def _inset(seed: int, b: str, idx: str) -> str:
    """Box struct `b` with every side moved in by a seeded 12-24% of the
    box: for a quadrant that is 6-12% of its parent, deeper than NOTCH."""
    u = {s: f"(0.12D + 0.12D * {_u(seed, idx, s)})" for s in "swne"}
    return (f"named_struct('y0', {b}.y0 + ({b}.y1 - {b}.y0) * {u['s']}, "
            f"'x0', {b}.x0 + ({b}.x1 - {b}.x0) * {u['w']}, "
            f"'y1', {b}.y1 - ({b}.y1 - {b}.y0) * {u['n']}, "
            f"'x1', {b}.x1 - ({b}.x1 - {b}.x0) * {u['e']})")


def _tree_areas(spark: SparkSession, seed: int) -> DataFrame:
    """Tree areas: (idx, parent_idx, y0, x0, y1, x1).

    Node j of tree t sits at level l, slot m (j = (4^l - 1)/3 + m) and has
    idx = 2 + t·N + j for N nodes per tree. Its parent is slot m DIV 4 of
    level l - 1 (mega1 for roots); its box is the parent box's quadrant
    m % 4, inset. The box is folded over the ancestors with `aggregate`, so
    the expression stays the same size however deep the trees are."""
    lo_lat, lo_lon, hi_lat, hi_lon = TREE_BOX
    grid_lat = -(-TREES // GRID_LON)
    ch, cw = (hi_lat - lo_lat) / grid_lat, (hi_lon - lo_lon) / GRID_LON
    lvl = "CASE " + " ".join(
        f"WHEN j < {(4 ** (lv + 1) - 1) // 3} THEN {lv}"
        for lv in range(DEPTH + 1)) + " END"

    def key(level: str, slot: str) -> str:
        return (f"({len(MEGA)} + t * {PER_TREE} "
                f"+ CAST((pow(4, {level}) - 1) / 3 AS BIGINT) + {slot})")

    cell = (f"named_struct('y0', {lo_lat}D + (t DIV {GRID_LON}) * {ch}D, "
            f"'x0', {lo_lon}D + (t % {GRID_LON}) * {cw}D, "
            f"'y1', {lo_lat}D + (t DIV {GRID_LON} + 1) * {ch}D, "
            f"'x1', {lo_lon}D + (t % {GRID_LON} + 1) * {cw}D)")
    slot = "CAST(m / pow(4, lvl - l) AS BIGINT)"
    qy, qx = f"({slot} % 4 DIV 2)", f"({slot} % 4 % 2)"
    quad = ("named_struct("
            f"'y0', b.y0 + {qy} * (b.y1 - b.y0) / 2, "
            f"'x0', b.x0 + {qx} * (b.x1 - b.x0) / 2, "
            f"'y1', b.y0 + ({qy} + 1) * (b.y1 - b.y0) / 2, "
            f"'x1', b.x0 + ({qx} + 1) * (b.x1 - b.x0) / 2)")
    box = ("aggregate(filter(sequence(1, greatest(lvl, 1)), l -> l <= lvl), "
           f"{_inset(seed, '(' + cell + ')', key('0', '0'))}, "
           f"(b, l) -> {_inset(seed, '(' + quad + ')', key('l', slot))})")
    parent = f"IF(lvl = 0, CAST(1 AS BIGINT), {key('lvl - 1', 'm DIV 4')})"
    return (spark.range(TREES * PER_TREE)
            .selectExpr(f"id DIV {PER_TREE} AS t", f"id % {PER_TREE} AS j")
            .selectExpr("t", "j", f"{lvl} AS lvl")
            .selectExpr("t", "lvl",
                        "j - CAST((pow(4, lvl) - 1) / 3 AS BIGINT) AS m")
            .selectExpr(f"{key('lvl', 'm')} AS idx", f"{parent} AS parent_idx",
                        f"{box} AS b")
            .selectExpr("idx", "parent_idx", "b.y0", "b.x0", "b.y1", "b.x1"))


def world_areas(spark: SparkSession, seed: int) -> DataFrame:
    """One row per generated area, with its closed-form expectation:
    (idx, parent_idx, kind 'way'|'rel'|'dup', ring array<struct<lat,lon>>
    open, osm_ids sorted merged ids, canonical_osm_id)."""
    mega = spark.range(len(MEGA)).selectExpr(
        "id AS idx", "id - 1 AS parent_idx", *[
            f"element_at(array({', '.join(f'{b[k]}D' for b in MEGA)}), "
            f"CAST(id AS INT) + 1) AS {name}"
            for k, name in enumerate(("y0", "x0", "y1", "x1"))])
    u_kind = f"floor({_u(seed, 'idx', 'kind')} * 100)"
    kind = (f"CASE WHEN idx < {len(MEGA)} THEN 'way' "
            f"WHEN {u_kind} < {REL_PCT} THEN 'rel' "
            f"WHEN {u_kind} < {REL_PCT + DUP_PCT} THEN 'dup' ELSE 'way' END")
    notched = (f"idx >= {len(MEGA)} AND "
               f"floor({_u(seed, 'idx', 'notch')} * 100) < {NOTCH_PCT}")
    way_id = "concat(CAST(idx * 4 + 1 AS STRING), 'W')"
    rel_id = "concat(CAST(idx AS STRING), 'R')"
    return mega.unionByName(_tree_areas(spark, seed)).selectExpr(
        "idx", "parent_idx", f"{kind} AS kind",
        f"IF({notched}, {_ring(NOTCHED)}, {_ring(RECT)}) AS ring",
    ).selectExpr(
        "idx", "parent_idx", "kind", "ring",
        f"CASE kind WHEN 'way' THEN array({way_id}) "
        f"WHEN 'rel' THEN array({rel_id}) "
        f"ELSE array_sort(array({way_id}, {rel_id})) END AS osm_ids",
    ).selectExpr("*", "osm_ids[0] AS canonical_osm_id")


def _span(kind: str, text: str, media: str, offset: str) -> str:
    return (f"named_struct('kind', '{kind}', 'text', {text}, "
            f"'media_ref', {media}, 'offset', CAST({offset} AS INT))")


def _node_refs(lo: str, hi: str, step: int = 1) -> str:
    node = "concat('node:', CAST(nid0 + i % nv AS STRING))"
    return (f"transform(sequence({lo}, {hi}, {step}), "
            f"(i, k) -> {_span('media', EMPTY, node, 'k + 1')})")


def world_documents(areas: DataFrame) -> DataFrame:
    """The interleaved-spans documents table (doc_id, spans) the program
    decodes: node docs, way docs and relation docs for `world_areas`."""
    a = areas.selectExpr(
        "idx", "kind", "ring", "size(ring) AS nv",
        f"idx * {MAX_VERTS} AS nid0", "idx * 4 + 1 AS wid0",
        "concat('name=A', CAST(idx AS STRING)) AS name")
    geo = "concat('geo:', CAST(p.lat AS STRING), ',', CAST(p.lon AS STRING))"
    nodes = a.selectExpr("nid0", "posexplode(ring) AS (k, p)").selectExpr(
        "concat(CAST(nid0 + k AS STRING), 'N') AS doc_id",
        f"array({_span('media', EMPTY, geo, '0')}) AS spans")
    name = f"array({_span('text', 'name', EMPTY, '0')})"
    closed = a.filter("kind != 'rel'").selectExpr(
        "concat(CAST(wid0 AS STRING), 'W') AS doc_id",
        f"concat({name}, {_node_refs('0', 'nv')}) AS spans")
    # the ring split into REL_WAYS open ways; the second one reversed
    bounds = ["0"] + [f"CAST(nv * {s} / {REL_WAYS} AS INT)"
                      for s in range(1, REL_WAYS)] + ["nv"]
    rel_src = a.filter("kind = 'rel'")
    segs = None
    for s in range(REL_WAYS):
        lo, hi = bounds[s], bounds[s + 1]
        refs = _node_refs(hi, lo, -1) if s == 1 else _node_refs(lo, hi)
        seg = rel_src.selectExpr(
            f"concat(CAST(wid0 + {s} AS STRING), 'W') AS doc_id",
            f"{refs} AS spans")
        segs = seg if segs is None else segs.unionByName(seg)

    def members(n: int) -> str:
        return "array(" + ", ".join(_span(
            "media", EMPTY,
            f"concat('way:', CAST(wid0 + {s} AS STRING), '#outer')", str(2 + s))
            for s in range(n)) + ")"

    tags = (f"array({_span('text', 'name', EMPTY, '0')}, "
            f"{_span('text', repr('type=multipolygon'), EMPTY, '1')})")
    rels = a.filter("kind != 'way'").selectExpr(
        "concat(CAST(idx AS STRING), 'R') AS doc_id",
        f"concat({tags}, IF(kind = 'rel', {members(REL_WAYS)}, {members(1)})) "
        "AS spans")
    return nodes.unionByName(closed).unionByName(segs).unionByName(rels)


def points(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """(point_id, lat, lon): n seeded points uniform over POINT_BOX."""
    lo_lat, lo_lon, hi_lat, hi_lon = POINT_BOX
    return spark.range(n).selectExpr(
        "concat('p', CAST(id AS STRING)) AS point_id",
        f"{lo_lat}D + {_u(seed, 'id', 'lat')} * {hi_lat - lo_lat}D AS lat",
        f"{lo_lon}D + {_u(seed, 'id', 'lon')} * {hi_lon - lo_lon}D AS lon")


def corpus(spark: SparkSession, seed: int, n_docs: int) -> DataFrame:
    """(doc_id long, text string): DOC_TOKENS hex tokens per doc. Doc i with
    i % DUP_EVERY == 1 copies doc i-1 with 1 or 2 tokens replaced, so the
    near-duplicate pairs are exactly {(i-1, i)}; other docs share no
    shingles."""
    dup = f"id % {DUP_EVERY} = 1"
    r1 = f"floor({_u(seed, 'id', 'r1')} * {DOC_TOKENS})"
    r2 = (f"IF({_u(seed, 'id', 'n')} < 0.5D, -1, "
          f"floor({_u(seed, 'id', 'r2')} * {DOC_TOKENS}))")
    src = (f"IF({dup} AND (j = {r1} OR j = {r2}), "
           "concat('x:', CAST(id AS STRING)), "
           f"CAST(IF({dup}, id - 1, id) AS STRING))")
    token = (f"substring(md5(concat('{seed}:', {src}, ':', CAST(j AS STRING))),"
             " 1, 8)")
    return spark.range(n_docs).selectExpr(
        "id AS doc_id",
        f"concat_ws(' ', transform(sequence(0, {DOC_TOKENS - 1}), j -> {token}))"
        " AS text")
