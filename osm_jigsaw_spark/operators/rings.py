"""Ring stitching: unordered, arbitrarily-directed ways → closed rings.

Re-expresses the reference's greedy `joinWays`
(resolving/OutlineBuilder.scala:18-66): start a ring from the first
available way, repeatedly attach the first remaining way sharing the
current tail node (reversing it when it attaches tail-to-tail), close the
ring when no attachment remains; unclosed leftovers are dropped
(OutlineBuilder.scala:52-59 closure test).

The greedy scan is sequential *within one relation* and independent across
relations. The stitch is one Arrow pass: ways are repartitioned by rel_id
and sorted by (rel_id, pos) within each partition, then one `mapInPandas`
worker stitches every relation of each Arrow batch
(functions/batches.whole_groups keeps a relation's ways in one chunk).
Grouped `applyInPandas` would pay Arrow batch overhead per relation. The
way membership arrives by a prior equi-join (no MapDB volume; the shuffle
is the index).

Determinism: ways are processed in member order (`pos`, an int rank or the
relation walk's member-position path), replacing the reference's
mutable-Set iteration order (its tests are order-insensitive on ring
counts/membership; ours are deterministic).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.batches import whole_groups

RING_SCHEMA = (
    "rel_id long, ring_index int, n_ways int, "
    "way_ids array<long>, node_ids array<long>"
)


def _stitch_one(rel_id, way_ids, node_lists, out) -> None:
    """Append one relation's closed rings to `out` as RING_SCHEMA tuples;
    ways arrive in member order."""
    available: list[tuple[int, list[int]]] = [
        (int(w), list(n)) for w, n in zip(way_ids, node_lists) if len(n) > 0
    ]
    ring_index = 0
    while available:
        way_id, nodes = available.pop(0)
        joined_ways = [way_id]
        joined_nodes = list(nodes)
        last = joined_nodes[-1]
        progressing = True
        while progressing and available:
            progressing = False
            for i, (wid, wn) in enumerate(available):
                if wn[0] == last or wn[-1] == last:
                    seq = wn if wn[0] == last else list(reversed(wn))
                    # signed-way-id encoding: negative = traversed reversed
                    # (reference steps/ExtractAreas.scala:55)
                    joined_ways.append(wid if wn[0] == last else -wid)
                    joined_nodes.extend(seq)
                    last = joined_nodes[-1]
                    available.pop(i)
                    progressing = True
                    break
        if joined_nodes[0] == joined_nodes[-1]:
            out.append((rel_id, ring_index, len(joined_ways), joined_ways,
                        joined_nodes))
            ring_index += 1
        # else: not closed — dropped (logged by the reference)


def _stitch_batches(batches):
    """mapInPandas worker: rows arrive sorted by (rel_id, pos) within the
    partition; stitches each relation once all its ways are in."""
    for pdf in whole_groups(batches, "rel_id"):
        out: list = []
        for rel_id, grp in pdf.groupby("rel_id", sort=False):
            _stitch_one(int(rel_id), grp["way_id"], grp["node_ids"], out)
        if out:
            yield pd.DataFrame(out, columns=[
                "rel_id", "ring_index", "n_ways", "way_ids", "node_ids"])


def stitch_rings(outer_ways_with_nodes: DataFrame) -> DataFrame:
    """Input: (rel_id, way_id, pos, node_ids array<long>) — one row per outer
    way of each relation; pos is any sortable member order. Output:
    RING_SCHEMA, one row per closed ring.
    """
    return (
        outer_ways_with_nodes.repartition("rel_id")
        .sortWithinPartitions("rel_id", "pos")
        .mapInPandas(_stitch_batches, schema=RING_SCHEMA)
    )
