"""Decode the interleaved text+media documents table into typed entity tables.

Replaces the reference's osmosis PBF push-stream + typed sinks
(osm-jigsaw-parser input/OsmReader.scala:11-17, input/sinks/OsmEntitySink.scala:16-25,
steps/FindBoundaries.scala byte-offset slicing) with declarative DataFrame
decoding: the "entity-type boundary index" becomes a plain `kind` filter that
Catalyst pushes into the scan; the MapDB node/way volumes
(resolving/NodeResolver.scala:18-50, WayResolver.scala:17-48) become keyed
DataFrames — Spark's shuffle IS the index.

Input schema (BASELINE.json input_hint):
  documents(doc_id string,
            spans array<struct<kind string, text string,
                               media_ref string, offset int>>)

Encoding (FIXTURES.md §1): doc_id = "<num><N|W|R>"; text spans = "key=value"
tags; media spans = "geo:<lat>,<lon>" | "node:<id>" | "way:<id>#<role>" |
"rel:<id>#<role>" | "node:<id>#<role>". Spans are order-significant BY OFFSET
— we sort, never trust array order (per-row span-sequence invariant).

All functions are pure column expressions: zero Python in the decode path.
The span walks use `F.transform`/`F.filter`, higher-order functions whose
lambdas are interpreted rather than whole-stage codegen (README "Scale
design").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sorted_spans(spans: Column = None) -> Column:
    """Spans sorted by offset (offset first in the struct → array_sort)."""
    spans = F.col("spans") if spans is None else spans
    return F.array_sort(
        F.transform(
            spans,
            lambda s: F.struct(
                s["offset"].alias("offset"),
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
            ),
        )
    )


def with_entity_cols(documents: DataFrame) -> DataFrame:
    """doc_id → (osm_type char, osm_num long) + offset-sorted spans."""
    return documents.select(
        F.col("doc_id"),
        F.substring(F.col("doc_id"), -1, 1).alias("osm_type"),
        F.expr("try_cast(substring(doc_id, 1, length(doc_id)-1) as long)").alias("osm_num"),
        _sorted_spans().alias("spans"),
    )


def _tags_map(spans: Column) -> Column:
    """map<string,string> from 'key=value' text spans, in span order."""
    texts = F.filter(spans, lambda s: s["kind"] == F.lit("text"))
    # value may itself contain '=': split only on the first one
    return F.map_from_entries(
        F.transform(
            texts,
            lambda s: F.struct(
                F.substring_index(s["text"], "=", 1).alias("key"),
                F.substr(
                    s["text"],
                    F.length(F.substring_index(s["text"], "=", 1)) + F.lit(2),
                    F.length(s["text"]),
                ).alias("value"),
            ),
        )
    )


def decode_nodes(documents: DataFrame) -> DataFrame:
    """nodes(node_id long, lat double, lon double, tags map)."""
    e = with_entity_cols(documents).filter(F.col("osm_type") == "N")
    geo = F.element_at(
        F.filter(
            F.col("spans"),
            lambda s: (s["kind"] == F.lit("media"))
            & s["media_ref"].startswith("geo:"),
        ),
        1,
    )["media_ref"]
    coords = F.split(F.regexp_replace(geo, "^geo:", ""), ",")
    return e.select(
        F.col("osm_num").alias("node_id"),
        F.element_at(coords, 1).try_cast("double").alias("lat"),
        F.element_at(coords, 2).try_cast("double").alias("lon"),
        _tags_map(F.col("spans")).alias("tags"),
    )


def decode_ways(documents: DataFrame) -> DataFrame:
    """ways(way_id long, node_ids array<long> in span order, tags map,
    is_closed boolean) — closed-ring predicate is
    element_at(node_ids,1)=element_at(node_ids,-1)
    (reference resolving/AreaResolver.scala:26 `isClosed`)."""
    e = with_entity_cols(documents).filter(F.col("osm_type") == "W")
    node_ids = F.transform(
        F.filter(
            F.col("spans"),
            lambda s: (s["kind"] == F.lit("media"))
            & s["media_ref"].startswith("node:"),
        ),
        lambda s: F.regexp_replace(s["media_ref"], "^node:", "").try_cast("long"),
    )
    return e.select(
        F.col("osm_num").alias("way_id"),
        node_ids.alias("node_ids"),
        _tags_map(F.col("spans")).alias("tags"),
    ).withColumn(
        "is_closed",
        (F.size("node_ids") > 2)
        & (F.element_at("node_ids", 1) == F.element_at("node_ids", -1)),
    )


def decode_relations(documents: DataFrame) -> DataFrame:
    """relations(rel_id long, members array<struct<kind,ref,role,pos>>, tags).

    member kinds: 'way' | 'rel' | 'node' (reference osmosis EntityType)."""
    e = with_entity_cols(documents).filter(F.col("osm_type") == "R")
    media = F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("media"))
    members = F.transform(
        media,
        lambda s, i: F.struct(
            F.substring_index(s["media_ref"], ":", 1).alias("kind"),
            F.substring_index(
                F.substring_index(s["media_ref"], "#", 1), ":", -1
            ).try_cast("long").alias("ref"),
            F.when(
                s["media_ref"].contains("#"),
                F.substring_index(s["media_ref"], "#", -1),
            ).otherwise(F.lit("")).alias("role"),
            i.alias("pos"),
        ),
    )
    return e.select(
        F.col("osm_num").alias("rel_id"),
        members.alias("members"),
        _tags_map(F.col("spans")).alias("tags"),
    )


def decode_tags(documents: DataFrame) -> DataFrame:
    """tags(osm_id string, tags map) for every entity with ≥1 tag —
    reference OutputTagging parallel arrays (outputtagging.proto:3-7)."""
    e = with_entity_cols(documents)
    return e.select(
        F.col("doc_id").alias("osm_id"), _tags_map(F.col("spans")).alias("tags")
    ).filter(F.size(F.map_keys("tags")) > 0)


def has_name(tags: Column) -> Column:
    """Reference graphing/EntitiesToGraph.scala:16-18 hasName predicate:
    key == 'name' or startswith 'name:' or == 'addr:housename'."""
    return F.exists(
        F.map_keys(tags),
        lambda k: (k == F.lit("name"))
        | k.startswith("name:")
        | (k == F.lit("addr:housename")),
    )


def extract_named_nodes(documents: DataFrame) -> DataFrame:
    """(osm_id, lat, lon) for every NAMED node — the reference's
    extractNamedNodes pass (osm-jigsaw-parser Main.scala:106-127: filter
    hasName over the node stream, emit OutputNode(osmId, lat, lon),
    outputnode.proto:3-6). The last stage writer (S6): one filter the scan
    prunes on + a pure-codegen projection; no shuffle at any scale."""
    nodes = decode_nodes(documents)
    return nodes.filter(has_name(F.col("tags"))).select(
        F.concat(F.col("node_id").cast("string"), F.lit("N")).alias("osm_id"),
        "lat", "lon",
    )


def span_sequence(documents: DataFrame) -> DataFrame:
    """(doc_id, seq) with seq = offset-ordered (kind,text,media_ref) triples —
    the per-row invariant surface (input_hint: span-sequence equality)."""
    return documents.select(
        "doc_id",
        F.transform(
            _sorted_spans(),
            lambda s: F.struct(s["kind"], s["text"], s["media_ref"]),
        ).alias("seq"),
    )


def reencode_documents(nodes: DataFrame, ways: DataFrame,
                       relations: DataFrame) -> DataFrame:
    """Inverse of decode: rebuild (doc_id, seq) from the typed tables.

    Used to prove the round-trip span-sequence invariant. Tag spans first
    (map order = insertion order preserved by map_from_entries), then media
    spans in stored order — matching the fixture encoder.
    """
    def tag_spans(tags: Column) -> Column:
        return F.transform(
            F.map_entries(tags),
            lambda e: F.struct(
                F.lit("text").alias("kind"),
                F.concat(e["key"], F.lit("="), e["value"]).alias("text"),
                F.lit("").alias("media_ref"),
            ),
        )

    n = nodes.select(
        F.concat(F.col("node_id").cast("string"), F.lit("N")).alias("doc_id"),
        F.concat(
            tag_spans(F.col("tags")),
            F.array(
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit("").alias("text"),
                    F.concat(
                        F.lit("geo:"),
                        F.format_string("%s", F.col("lat")),
                        F.lit(","),
                        F.format_string("%s", F.col("lon")),
                    ).alias("media_ref"),
                )
            ),
        ).alias("seq"),
    )
    w = ways.select(
        F.concat(F.col("way_id").cast("string"), F.lit("W")).alias("doc_id"),
        F.concat(
            tag_spans(F.col("tags")),
            F.transform(
                F.col("node_ids"),
                lambda nid: F.struct(
                    F.lit("media").alias("kind"),
                    F.lit("").alias("text"),
                    F.concat(F.lit("node:"), nid.cast("string")).alias("media_ref"),
                ),
            ),
        ).alias("seq"),
    )
    r = relations.select(
        F.concat(F.col("rel_id").cast("string"), F.lit("R")).alias("doc_id"),
        F.concat(
            tag_spans(F.col("tags")),
            F.transform(
                F.col("members"),
                lambda m: F.struct(
                    F.lit("media").alias("kind"),
                    F.lit("").alias("text"),
                    F.concat(
                        m["kind"], F.lit(":"), m["ref"].cast("string"),
                        F.lit("#"), m["role"],
                    ).alias("media_ref"),
                ),
            ),
        ).alias("seq"),
    )
    return n.unionByName(w).unionByName(r)
