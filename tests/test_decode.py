"""Decode layer + span-sequence round-trip invariant (input_hint contract)."""

from pyspark.sql import functions as F

from osm_jigsaw_spark.sources import documents as D


def test_entity_counts(pipeline, world):
    assert pipeline.nodes.count() == len(world.nodes)
    assert pipeline.ways.count() == len(world.ways)
    assert pipeline.relations.count() == len(world.relations)


def test_closed_predicate(pipeline):
    ways = {r["way_id"]: r["is_closed"] for r in
            pipeline.ways.select("way_id", "is_closed").collect()}
    assert ways[100] is True       # rectangle ring
    assert ways[300] is False      # open named way
    assert ways[301] is True       # unnamed but closed


def test_way_decode_matches_world(pipeline, world):
    """Every way's node refs decode in span-offset order (the fixture
    rotates each span array) and is_closed is AreaResolver's rule: more
    than 2 refs, first equal to last."""
    got = {r.way_id: (list(r.node_ids), r.is_closed) for r in
           pipeline.ways.select("way_id", "node_ids", "is_closed").collect()}
    want = {w.id: (w.node_ids, len(w.node_ids) > 2
                   and w.node_ids[0] == w.node_ids[-1]) for w in world.ways}
    assert got == want


def test_tags_decode(pipeline):
    tags = {r["osm_id"]: dict(r["tags"]) for r in pipeline.tags.collect()}
    assert tags["100W"] == {"name": "Large"}
    assert tags["201R"] == {"name": "Bournemouth"}
    assert tags["301W"] == {"highway": "residential"}  # nameless, still tagged
    assert "10001N" not in tags    # untagged entities emit no tags row


def test_member_roles(pipeline):
    rel = pipeline.relations.filter("rel_id = 201").collect()[0]
    roles = {m["role"] for m in rel["members"]}
    assert roles == {"outer", "subarea"}
    kinds = {m["kind"] for m in rel["members"]}
    assert kinds == {"way", "rel"}


def test_span_roundtrip(docs, pipeline):
    seq_in = D.span_sequence(docs).withColumnRenamed("seq", "seq_in")
    seq_out = D.reencode_documents(
        pipeline.nodes, pipeline.ways, pipeline.relations
    ).withColumnRenamed("seq", "seq_out")
    j = seq_in.join(seq_out, "doc_id", "left")
    bad = j.filter(
        F.col("seq_out").isNull() | (F.col("seq_in") != F.col("seq_out"))
    ).count()
    assert bad == 0
    assert seq_out.count() == seq_in.count()


def test_extract_named_nodes(docs):
    """S6 named-nodes writer (reference Main.scala:106-127): only nodes
    passing hasName, OutputNode(osm_id, lat, lon) shape, every predicate
    branch (name / name:* / addr:housename) hit and the unnamed node out."""
    rows = {r["osm_id"]: (r["lat"], r["lon"])
            for r in D.extract_named_nodes(docs).collect()}
    by_coord = {v: k for k, v in rows.items()}
    assert (51.5, -0.1) in by_coord          # plain name
    assert (48.86, 2.35) in by_coord         # name:fr
    assert (52.52, 13.4) in by_coord         # addr:housename
    assert (40.7, -74.0) not in by_coord     # unnamed bench excluded
    assert all(k.endswith("N") for k in rows)
