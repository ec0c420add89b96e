"""osm_jigsaw_spark — a PySpark-native area-geocoding, spatial-join and tiling engine.

A from-scratch re-expression of the query and data-processing capabilities of
tonytw1/osm-jigsaw (reference at /root/reference) in idiomatic Spark:

- the OSM entity stream becomes a ``documents`` table of interleaved text+media
  spans (doc_id, spans array<struct<kind,text,media_ref,offset>>), decoded with
  pure DataFrame ops (sources/documents.py);
- ring stitching (reference resolving/OutlineBuilder.scala) is one sorted
  Arrow/pandas pass over all relations (operators/rings.py);
- the containment DAG "graph sort" (reference graphing/GraphBuilder.scala) is a
  grid-cell-prefiltered spatial join + declarative transitive reduction
  (operators/containment.py) — no mutable object graph, no driver loop;
- geocode / tiling / kNN (reference osm-jigsaw-api + steps/Tiling.scala) are
  cell-indexed joins with vectorized point-in-polygon refinement;
- plus the large-scale training-data operators (dedup, similarity search,
  text analysis, multimodal plumbing) a 100 TB pipeline needs.

Everything is DataFrame-first: Catalyst handles pushdown/pruning/join
selection; custom code is confined to Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"
