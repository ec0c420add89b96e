"""Physical-plan invariants over every driver query (VERDICT r4 task 7).

Mechanizes the anti-pattern audit the round verdicts did by hand: for each
`__spark_entry__.queries()` plan,

- no `CartesianProduct` (no all-pairs blowup can hide in any query);
- no `BatchEvalPython` (row-at-a-time Python UDF — the slow path; every
  Python kernel must be Arrow-batched: ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas);
- the known-small join sides actually broadcast (dimension tables,
  candidate-pair sets — the 100 TB plans where a shuffle join would be a
  scale bug).
"""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

#: queries whose plan must contain at least one BroadcastHashJoin — the
#: small side is a dimension table (nation/region), a semi-join id set, or
#: an LSH candidate-pair table, all far under the broadcast threshold
MUST_BROADCAST = ("revenue_by_nation", "semi_join_orders",
                  "minhash_near_dups", "tile_assignments")


def _plan_text(spark, df) -> str:
    try:
        return spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
    except Exception:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def test_registry_fits_the_gate_window():
    """The driver gates only the first 50 registered queries, each against
    its oracle_sql() twin."""
    assert len(E.queries()) <= 50
    assert set(E.queries()) == set(E.oracle_sql())


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_no_scale_antipatterns(spark, name):
    df = E.queries()[name](spark, SF_DIR)
    plan = _plan_text(spark, df)
    for marker in FORBIDDEN:
        assert marker not in plan, f"{name}: {marker} in physical plan"


@pytest.mark.parametrize("name", MUST_BROADCAST)
def test_small_sides_broadcast(spark, name):
    df = E.queries()[name](spark, SF_DIR)
    plan = _plan_text(spark, df)
    assert "BroadcastHashJoin" in plan, (
        f"{name}: expected a broadcast join on its small side")
