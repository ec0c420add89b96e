"""End-to-end pipeline: documents → entities → areas → containment graph.

The reference chains separate JVMs through delimited-protobuf files
(go.bash:9-17: boundaries → extract → areaways → areas → graph → tags →
tile). Here each stage is a DataFrame, and `areas` is a localCheckpoint
barrier (plans/snapshots.py). The resumable variant, which persists each
stage as a fingerprinted parquet table, is
plans/checkpoints.run_checkpointed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..operators import areas as A
from ..operators import containment as G
from ..sources import documents as D
from .snapshots import snapshot


@dataclass
class PipelineResult:
    nodes: DataFrame
    ways: DataFrame
    relations: DataFrame
    tags: DataFrame
    areas: DataFrame
    graph_edges: DataFrame
    area_tags: DataFrame  # tags pruned to area-referenced osm ids (P7)


def run_pipeline(documents: DataFrame) -> PipelineResult:
    nodes = D.decode_nodes(documents)
    ways = D.decode_ways(documents)
    relations = D.decode_relations(documents)
    tags = D.decode_tags(documents)
    areas = A.build_areas(nodes, ways, relations)
    # areas feeds both sides of the containment join and the root
    # anti-join — materialize once (Iceberg snapshot on a cluster;
    # localCheckpoint barrier here, the measured round-5 A/B winner
    # over a disk-parquet barrier — plans/snapshots.py).
    areas = snapshot(areas, "areas")
    edges = G.graph_edges(areas)
    atags = A.area_tags(tags, areas)
    return PipelineResult(nodes, ways, relations, tags, areas, edges, atags)
