"""The one relation walk against the two-walk formulation it replaced.

`_oracle_expansion_status` and `_oracle_outer_way_ids` are the earlier
separate walks (all-member expansion and outer-role resolution), kept
verbatim as the oracle. Seeded random relation graphs exercise self-loops,
longer cycles, missing sub-relations, diamonds, non-outer roles and
nesting up to depth 6; one walk is cut short by its depth bound, and the
ring composition runs on a chain nested past it. The job-count guards pin
the join-free first level on the depth-1 shape the benchmark world uses,
and one job per level of the frontier loop.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_jigsaw_spark.operators import areas as A
from osm_jigsaw_spark.operators.relations import (
    expansion_status,
    outer_way_ids,
    relation_members,
)
from osm_jigsaw_spark.operators.rings import stitch_rings
from osm_jigsaw_spark.plans.snapshots import frontier_loop, snapshot
from osm_jigsaw_spark.sources.documents import has_name

REL_SCHEMA = ("rel_id long, members array<struct<kind:string, ref:long, "
              "role:string, pos:int>>, tags map<string,string>")
WAY_SCHEMA = "way_id long, node_ids array<long>"


def _oracle_expansion_status(relations: DataFrame, max_depth: int = 12) -> DataFrame:
    """(rel_id, is_expandable, hit_cycle) per relation.

    is_expandable=false ⇔ the reference's expandRelation would return None
    (cycle among rel members at any depth, or a missing sub-relation).
    hit_cycle marks the relations recorded in `recursive_relations`
    (steps/ExtractEntities.scala:14-18 analog).
    """
    members = relation_members(relations)
    rel_edges = members.filter(F.col("kind") == "rel").select(
        F.col("rel_id").alias("parent"), F.col("ref").alias("child")
    )
    all_ids = relations.select(F.col("rel_id").alias("child")).distinct()

    # frontier: (root, cur, path) — path includes cur
    frontier = relations.select(
        F.col("rel_id").alias("root"),
        F.col("rel_id").alias("cur"),
        F.array(F.col("rel_id")).alias("path"),
    )
    bad = relations.sparkSession.createDataFrame(
        [], "root long, hit_cycle boolean")

    for _ in range(max_depth):
        step = frontier.join(
            rel_edges, frontier["cur"] == rel_edges["parent"]
        ).select("root", "child", "path")
        if step.isEmpty():
            break
        cyc = step.filter(F.expr("array_contains(path, child)")) \
                  .select("root", F.lit(True).alias("hit_cycle"))
        missing = step.join(all_ids, "child", "left_anti") \
                      .select("root", F.lit(False).alias("hit_cycle"))
        bad = bad.unionByName(cyc).unionByName(missing)
        frontier = (
            step.filter(~F.expr("array_contains(path, child)"))
            .join(all_ids, "child", "left_semi")
            .select(
                "root",
                F.col("child").alias("cur"),
                F.expr("array_append(path, child)").alias("path"),
            )
            .localCheckpoint(eager=True)
        )

    bad_roots = bad.groupBy("root").agg(F.max("hit_cycle").alias("hit_cycle"))
    return (
        relations.select("rel_id")
        .join(bad_roots, relations["rel_id"] == bad_roots["root"], "left")
        .select(
            "rel_id",
            F.col("root").isNull().alias("is_expandable"),
            F.coalesce("hit_cycle", F.lit(False)).alias("hit_cycle"),
        )
    )


def _oracle_outer_way_ids(relations: DataFrame, max_depth: int = 12) -> DataFrame:
    """(rel_id, way_id, pos) — outer ways of each relation, recursing through
    role='outer' sub-relations, circular refs silently skipped
    (OuterWayResolver semantics). pos is the way's rank in depth-first
    member order, the order the deterministic greedy stitcher reads.

    Each row carries its member-position path from the root (the member
    index at every level); sorting paths lexicographically gives
    depth-first order exactly, at any depth and any member count.
    """
    members = relation_members(relations)
    outer = members.filter(F.col("role") == "outer")
    way_members = outer.filter(F.col("kind") == "way")
    rel_members_outer = outer.filter(F.col("kind") == "rel")

    frontier = relations.select(
        F.col("rel_id").alias("root"),
        F.col("rel_id").alias("cur"),
        F.array(F.col("rel_id")).alias("path"),
        F.array().cast("array<int>").alias("pos_path"),
    )
    out = None
    for _ in range(max_depth):
        w = frontier.join(way_members, frontier["cur"] == way_members["rel_id"]) \
            .select(
                F.col("root").alias("rel_id"),
                F.col("ref").alias("way_id"),
                F.array_append("pos_path", F.col("pos")).alias("pos_path"),
            )
        out = w if out is None else out.unionByName(w)
        nxt = frontier.join(
            rel_members_outer, frontier["cur"] == rel_members_outer["rel_id"]
        ).filter(~F.expr("array_contains(path, ref)")).select(
            "root",
            F.col("ref").alias("cur"),
            F.expr("array_append(path, ref)").alias("path"),
            F.array_append("pos_path", F.col("pos")).alias("pos_path"),
        )
        if nxt.isEmpty():
            break
        frontier = nxt.localCheckpoint(eager=True)
    order = Window.partitionBy("rel_id").orderBy("pos_path")
    return out.select(
        "rel_id", "way_id", F.dense_rank().over(order).alias("pos"))


# every case the walk distinguishes, whatever the seed draws: a self-loop
# (50), a 3-cycle (51-53), a missing sub-relation (54) and one a level
# deeper (60-61), a diamond (55-58) with a subarea edge, and an inner-role
# sub-relation (59)
FIXED = [
    (50, [("rel", 50, "outer"), ("way", 500, "outer")]),
    (51, [("way", 510, "outer"), ("rel", 52, "outer")]),
    (52, [("rel", 53, "outer"), ("way", 520, "outer")]),
    (53, [("rel", 51, "outer")]),
    (54, [("way", 540, "outer"), ("rel", 999, "outer")]),
    (55, [("rel", 56, "outer"), ("way", 550, "outer"), ("rel", 57, "outer")]),
    (56, [("rel", 58, "outer"), ("way", 560, "inner")]),
    (57, [("way", 570, "outer"), ("rel", 58, "subarea")]),
    (58, [("way", 580, "outer"), ("way", 581, "outer")]),
    (59, [("rel", 55, "inner"), ("way", 590, "outer")]),
    (60, [("way", 600, "outer"), ("rel", 61, "outer")]),
    (61, [("rel", 998, "outer"), ("way", 610, "outer")]),
]


def _random_relations(seed: int, n_rels: int = 10, depth: int = 6):
    """FIXED plus relations on `depth` layers whose members point at ways,
    at deeper layers (diamonds when two parents share a child), now and
    then back up or at themselves (cycles) and at relation ids that do not
    exist."""
    rng = random.Random(seed)
    layer = {r: i * depth // n_rels for i, r in enumerate(range(1, n_rels + 1))}
    roles = ["outer", "outer", "outer", "inner", "subarea", ""]
    next_way = iter(range(1000, 100_000))
    rels = [(r, [(k, ref, role, i) for i, (k, ref, role) in enumerate(ms)], {})
            for r, ms in FIXED]
    for r, lv in layer.items():
        members = []
        for _ in range(rng.randint(1, 4)):
            roll = rng.random()
            deeper = [c for c, cl in layer.items() if cl > lv]
            if roll < 0.5 or (roll < 0.85 and not deeper):
                members.append(("way", next(next_way)))
            elif roll < 0.85:
                members.append(("rel", rng.choice(deeper)))
            elif roll < 0.9:
                members.append(("rel", rng.choice(
                    [c for c, cl in layer.items() if cl <= lv])))
            elif roll < 0.95:
                members.append(("rel", 900 + rng.randint(0, 9)))  # missing
            else:
                members.append(("way", 1000 + rng.randint(0, 5)))  # shared way
        rels.append((r, [(k, ref, rng.choice(roles), i)
                         for i, (k, ref) in enumerate(members)], {}))
    return rels


def _outer_orders(df):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r.rel_id, []).append((r.pos, r.way_id))
    return {k: [w for _, w in sorted(v)] for k, v in out.items()}


@pytest.mark.parametrize("seed,max_depth", [(3, 12), (17, 12), (29, 2)])
def test_one_walk_matches_two_walks(spark, seed, max_depth):
    """max_depth=2 cuts the walk inside the graph: 61's missing member is
    found at the last level, 51's cycle (found at level 3) is not."""
    rels = spark.createDataFrame(_random_relations(seed), REL_SCHEMA)
    got = sorted(tuple(r) for r in expansion_status(rels, max_depth).collect())
    want = sorted(tuple(r) for r in
                  _oracle_expansion_status(rels, max_depth).collect())
    assert got == want
    status = {r[0]: r[1:] for r in want}
    assert status[50] == (False, True)
    assert status[51] == ((False, True) if max_depth > 2 else (True, False))
    assert status[54] == status[60] == (False, False)
    assert status[55] == status[59] == (True, False)
    assert _outer_orders(outer_way_ids(rels, max_depth)) == \
        _outer_orders(_oracle_outer_way_ids(rels, max_depth))


def _deep_chain(spark, relations, ways, n: int = 14):
    """relations/ways plus a named outer chain 700 → 701 → … → 700+n-1
    whose last relation has a missing member. Each relation owns one closed
    square way. With n=14 the missing ref lies past 700's and 701's depth
    bound, so those two are expandable while 702… are rejected by their own
    walks."""
    chain, squares = [], []
    for i in range(n):
        r, w, n0 = 700 + i, 7000 + i, 70_000 + 10 * i
        nxt = 700 + i + 1 if i < n - 1 else 99_999
        chain.append((r, [("way", w, "outer", 0), ("rel", nxt, "outer", 1)],
                      {"name": f"chain{i}"}))
        squares.append((w, [n0, n0 + 1, n0 + 2, n0 + 3, n0]))
    extra_rels = spark.createDataFrame(chain, REL_SCHEMA)
    extra_ways = spark.createDataFrame(squares, WAY_SCHEMA)
    return (relations.unionByName(extra_rels, allowMissingColumns=True),
            ways.unionByName(extra_ways, allowMissingColumns=True))


def test_relation_rings_match_two_walk_composition(spark, pipeline):
    """The fixture world plus a chain nested deeper than the depth bound:
    700 and 701 keep only the outer ways of expandable relations, as the
    two-walk composition does (it resolves outer ways over the expandable
    relations only)."""
    relations, ways = _deep_chain(spark, pipeline.relations, pipeline.ways)
    named = relations.filter(has_name(F.col("tags")))
    ok = _oracle_expansion_status(named).filter("is_expandable").select("rel_id")
    outer = _oracle_outer_way_ids(named.join(ok, "rel_id", "left_semi"))
    with_nodes = outer.join(
        ways.select("way_id", "node_ids"), "way_id"
    ).select("rel_id", "way_id", "pos", "node_ids")
    want = stitch_rings(with_nodes).select(
        F.concat(F.col("rel_id").cast("string"), F.lit("R")).alias("osm_id"),
        "ring_index", "way_ids", "node_ids")

    def rows(df):
        return sorted((r.osm_id, r.ring_index, tuple(r.way_ids),
                       tuple(r.node_ids)) for r in df.collect())

    got = rows(A.relation_rings(relations, ways))
    assert got == rows(want)
    assert {r[0] for r in got} >= {"200R", "201R", "203R", "204R"}
    chain = {}
    for osm_id, _, way_ids, _ in got:
        if osm_id.startswith("70"):
            chain.setdefault(osm_id, []).extend(way_ids)
    assert chain == {"700R": [7000, 7001], "701R": [7001]}


def _depth_one_world(spark, n_rels: int):
    """Named relations whose square ring is split over 3 outer ways, the
    second one reversed — the benchmark world's relation shape."""
    rels, ways = [], []
    for r in range(n_rels):
        n0, w0 = 10 * r, 4 * r
        ways += [(w0, [n0, n0 + 1, n0 + 2]), (w0 + 1, [n0 + 3, n0 + 2]),
                 (w0 + 2, [n0 + 3, n0])]
        rels.append((1000 + r, [("way", w0 + i, "outer", i) for i in range(3)],
                     {"name": f"r{r}"}))
    return (snapshot(spark.createDataFrame(rels, REL_SCHEMA)),
            snapshot(spark.createDataFrame(ways, WAY_SCHEMA)))


def _jobs_of(spark, group: str, fn):
    """Run fn() under a fresh job group; (result, jobs the group ran), read
    from the status tracker after the listener bus drains."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_depth_one_outlines_job_count(spark):
    rels, ways = _depth_one_world(spark, 40)
    out, jobs = _jobs_of(spark, "relation-outlines-depth-one",
                         lambda: snapshot(A.relation_outlines(rels, ways)))
    rows = out.collect()
    assert len(rows) == 40
    assert all(r.ring_index == 0 and len(r.node_ids) == 7
               and r.node_ids[0] == r.node_ids[-1] for r in rows)
    assert jobs <= 8, jobs


def test_relation_free_outlines_empty(spark):
    _, ways = _depth_one_world(spark, 3)
    rels = spark.createDataFrame([], REL_SCHEMA)
    out, jobs = _jobs_of(spark, "relation-outlines-empty",
                         lambda: snapshot(A.relation_outlines(rels, ways)))
    assert out.count() == 0
    assert out.schema == A.relation_outlines(rels, ways).schema
    assert [f.name for f in out.schema] == ["osm_id", "ring_index", "node_ids"]
    assert jobs <= 8, jobs


def test_frontier_loop_runs_one_job_per_level(spark):
    """Each level's snapshot job also counts its frontier: 4 levels plus
    the empty fifth run 5 jobs, none of them an emptiness test. Only the
    even ids are followed."""
    seed = spark.range(10).select("id", F.lit(1).alias("depth"))

    def step(frontier):
        return frontier.filter(F.col("depth") < 4).select(
            "id", (F.col("depth") + 1).alias("depth"))

    walked, jobs = _jobs_of(spark, "frontier-loop", lambda: frontier_loop(
        seed, step, 12, F.col("id") % 2 == 0))
    got = sorted(tuple(r) for r in walked.collect())
    assert got == sorted([(i, 1) for i in range(10)]
                         + [(i, d) for i in range(0, 10, 2) for d in (2, 3, 4)])
    assert jobs == 5, jobs


def test_frontier_loop_empty_seed_is_local_relation(spark):
    """An empty walk is an empty LocalRelation at plan time, so a plan over
    it (the relation branch of areas.build_areas on a relation-free corpus)
    prunes its joins and scans instead of running them over zero rows."""
    seed = spark.range(10).filter("id < 0").select(
        "id", F.lit(1).alias("depth"))
    walked = frontier_loop(seed, lambda frontier: frontier, 12)
    plan = walked._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert plan.data().isEmpty()
    assert walked.schema == seed.schema
