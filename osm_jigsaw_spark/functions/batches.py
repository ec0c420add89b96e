"""Arrow-batch helpers for sorted `mapInPandas` streams.

A `repartition(key).sortWithinPartitions(key, ...)` + `mapInPandas` pass
processes thousands of per-key groups per Arrow batch — unlike
`applyInPandas`, which pays batch overhead per group. Batches are cut by
row count (`spark.sql.execution.arrow.maxRecordsPerBatch`), not by key, so
one key's rows can straddle two batches; `whole_groups` re-chunks the
stream so every chunk holds whole groups.
"""

from __future__ import annotations

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
