"""Ring stitching + relation expansion parity with the reference specs.

Mirrors OutlineBuilderSpec.scala:30-51, OuterWayResolverSpec.scala:13-45,
AreaResolverSpec.scala:21-108, RelationExpanderSpec.scala:31-65 on the
synthetic analogs (FIXTURES.md §3b).
"""

from pyspark.sql import functions as F

from osm_jigsaw_spark.operators.relations import expansion_status, outer_way_ids
from osm_jigsaw_spark.operators.rings import stitch_rings


def _rings_for(pipeline, rel_id):
    outer = outer_way_ids(pipeline.relations.filter(F.col("rel_id") == rel_id))
    with_nodes = outer.join(
        pipeline.ways.select("way_id", "node_ids"), "way_id"
    ).select("rel_id", "way_id", "pos", "node_ids")
    return stitch_rings(with_nodes).collect()


def test_richmond_one_ring_of_14(pipeline):
    rings = _rings_for(pipeline, 200)
    assert len(rings) == 1
    assert rings[0]["n_ways"] == 14


def test_bournemouth_17_ways_excludes_subarea(pipeline):
    # subarea member relation's way must NOT leak into the outline
    outer = outer_way_ids(pipeline.relations.filter("rel_id = 201"))
    assert outer.count() == 17
    rings = _rings_for(pipeline, 201)
    assert len(rings) == 1
    assert rings[0]["n_ways"] == 17


def test_nyc_60_outer_ways_three_rings(pipeline):
    outer = outer_way_ids(pipeline.relations.filter("rel_id = 203"))
    assert outer.count() == 60
    rings = _rings_for(pipeline, 203)
    assert sorted(r["n_ways"] for r in rings) == [1, 19, 40]


def test_nz_four_rings(pipeline):
    rings = _rings_for(pipeline, 204)
    assert len(rings) == 4


def test_circular_relation_rejected(pipeline, world):
    st = {r["rel_id"]: r for r in expansion_status(pipeline.relations).collect()}
    assert not st[205]["is_expandable"]
    assert not st[206]["is_expandable"]
    assert st[205]["hit_cycle"] and st[206]["hit_cycle"]
    for ok_rel in (200, 201, 202, 203, 204):
        assert st[ok_rel]["is_expandable"]
    # and no areas came out of the circular pair
    bad = pipeline.areas.filter(
        F.arrays_overlap("osm_ids", F.array(F.lit("205R"), F.lit("206R")))
    ).count()
    assert bad == 0


def test_open_and_unnamed_ways_excluded(pipeline):
    ids = [r["canonical_osm_id"] for r in
           pipeline.areas.select("canonical_osm_id").collect()]
    assert "300W" not in ids   # open named way dropped
    assert "301W" not in ids   # unnamed closed way filtered


def test_reversed_way_stitching(spark):
    # explicit mixed-direction mini case: 3 ways, middle reversed
    rows = [
        (1, 10, 0, [1, 2]),
        (1, 11, 1, [3, 2]),   # reversed: tail joins at node 2
        (1, 12, 2, [3, 1]),
    ]
    df = spark.createDataFrame(
        rows, "rel_id long, way_id long, pos long, node_ids array<long>")
    out = stitch_rings(df).collect()
    assert len(out) == 1
    assert out[0]["way_ids"] == [10, -11, 12]
    assert out[0]["node_ids"] == [1, 2, 2, 3, 3, 1]


REL_SCHEMA = ("rel_id long, members array<struct<kind:string, ref:long, "
              "role:string, pos:int>>, tags map<string,string>")


def _relation(rel_id, members):
    return (rel_id, [(kind, ref, "outer", i)
                     for i, (kind, ref) in enumerate(members)], {})


def _outer_order(spark, relations, root):
    df = spark.createDataFrame(relations, REL_SCHEMA)
    rows = outer_way_ids(df).filter(F.col("rel_id") == root).collect()
    assert len({r.pos for r in rows}) == len(rows), "pos collides"
    return [r.way_id for r in sorted(rows, key=lambda r: r.pos)]


def test_outer_way_order_is_depth_first_at_depth_two(spark):
    # root [wA, R1, wB, wE], R1 = [wC, R2], R2 = [wD]: a sub-sub-relation's
    # way must not share an order key with the root's later members
    wa, wb, wc, wd, we = 1, 2, 3, 4, 5
    rels = [
        _relation(10, [("way", wa), ("rel", 11), ("way", wb), ("way", we)]),
        _relation(11, [("way", wc), ("rel", 12)]),
        _relation(12, [("way", wd)]),
    ]
    assert _outer_order(spark, rels, 10) == [wa, wc, wd, wb, we]


def test_outer_way_order_past_10k_members(spark):
    # root [R1, wX]; R1 has 10,001 ways: its last way must still sort
    # before wX
    n = 10_001
    rels = [
        _relation(10, [("rel", 11), ("way", 99_999)]),
        _relation(11, [("way", 1 + i) for i in range(n)]),
    ]
    assert _outer_order(spark, rels, 10) == [1 + i for i in range(n)] + [99_999]


def test_stitch_carries_relations_across_arrow_batches(spark):
    """Two rows per Arrow batch splits every relation's ways across
    batches: the stitch must carry each split relation into the next batch
    and flush the last one, giving the same rings as the default batch
    size and as stitching each relation's ways in the driver."""
    from osm_jigsaw_spark.operators.rings import _stitch_one

    rows = []
    for rel_id, n in [(1, 5), (2, 6), (3, 7), (4, 1), (5, 9)]:
        base = 100 * rel_id
        chain = [base + i for i in range(n)] + [base]
        for i in range(n):
            a, b = chain[i], chain[i + 1]
            # every other way reversed; ways listed out of ring order
            seg = [a, base + 50 + i, b] if i % 2 == 0 else [b, base + 50 + i, a]
            rows.append((rel_id, base + i, (i * 3) % n, seg))
    df = spark.createDataFrame(
        rows, "rel_id long, way_id long, pos long, node_ids array<long>")

    def run():
        return sorted((r.rel_id, r.ring_index, r.n_ways, tuple(r.way_ids),
                       tuple(r.node_ids)) for r in stitch_rings(df).collect())

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    default = run()
    try:
        spark.conf.set(key, "2")
        small = run()
    finally:
        spark.conf.set(key, before)

    out: list = []
    for rel_id in sorted({r[0] for r in rows}):
        ways = sorted((r for r in rows if r[0] == rel_id), key=lambda r: r[2])
        _stitch_one(rel_id, [w[1] for w in ways], [w[3] for w in ways], out)
    want = sorted((a, b, c, tuple(d), tuple(e)) for a, b, c, d, e in out)
    assert small == default == want
    assert {r[0] for r in want} == {1, 2, 3, 4, 5}
    assert max(r[2] for r in want) >= 5
