"""Shape guarantees of the skew-stress world generator (FIXTURES.md §7)."""

from __future__ import annotations

import math

import pytest

from osm_jigsaw_spark.fixtures.scaled_docs import hot_node_rects

GRID = 720 * 320


def test_hot_node_rects_rejects_worlds_beyond_the_grid(spark):
    hot_node_rects(spark, GRID + 1)  # one rect per cell still fits
    with pytest.raises(ValueError):
        hot_node_rects(spark, GRID + 2)


def test_hot_node_rects_mega_directly_contains_disjoint_rects(spark):
    n = 2 * 720 + 3  # both edge columns, and a wrap into the third row
    rows = hot_node_rects(spark, n).collect()
    assert len(rows) == n
    mega = next(r for r in rows if r.area_idx == 0)
    cells = set()
    for r in rows:
        if r.area_idx == 0:
            continue
        assert mega.min_lat < r.min_lat < r.max_lat < mega.max_lat
        assert mega.min_lon < r.min_lon < r.max_lon < mega.max_lon
        # each rect sits inside one 0.5° cell, and no two share a cell
        cell = (math.floor((r.min_lat + 80) / 0.5),
                math.floor((r.min_lon + 180) / 0.5))
        assert cell == (math.floor((r.max_lat + 80) / 0.5),
                        math.floor((r.max_lon + 180) / 0.5))
        cells.add(cell)
    assert len(cells) == n - 1
