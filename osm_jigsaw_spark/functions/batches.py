"""Arrow-batch helpers for pandas UDFs and sorted `mapInPandas` streams.

A `repartition(key).sortWithinPartitions(key, ...)` + `mapInPandas` pass
processes thousands of per-key groups per Arrow batch — unlike
`applyInPandas`, which pays batch overhead per group. Batches are cut by
row count (`spark.sql.execution.arrow.maxRecordsPerBatch`), not by key, so
one key's rows can straddle two batches; `whole_groups` re-chunks the
stream so every chunk holds whole groups.

`per_ring` dispatches the one-ring-vs-many geometry kernels
(functions/geometry.py) inside a pandas UDF: one kernel call per ring.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def whole_groups(batches, key: str):
    """Re-chunk pandas batches sorted by `key` so no key's rows straddle two
    chunks: each batch's trailing key is held back and prepended to the next
    batch, and the last held-back key follows the final batch."""
    carry = None
    for pdf in batches:
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        if len(pdf) == 0:
            continue
        last = pdf[key] == pdf[key].iloc[-1]
        carry = pdf[last]
        yield pdf[~last]
    if carry is not None:
        yield carry


def per_ring(kernel, dtype, key: pd.Series, lats: pd.Series,
             lons: pd.Series, *rows: pd.Series) -> pd.Series:
    """`kernel(ring_lats, ring_lons, *row_values)` once per distinct `key`
    of a batch, over that key's rows of each `rows` column (its ring is read
    from its first row); the results come back as a `dtype` Series in input
    row order. Keys need not be sorted or contiguous."""
    out = np.empty(len(key), dtype=dtype)
    rows = [r.to_numpy() for r in rows]
    positions = pd.Series(range(len(key))).groupby(key.to_numpy()).indices
    for pos in positions.values():
        first = pos[0]
        out[pos] = kernel(np.asarray(lats.iloc[first]),
                          np.asarray(lons.iloc[first]),
                          *(r[pos] for r in rows))
    return pd.Series(out)
