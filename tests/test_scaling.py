"""tools/scaling.py's summary over canned perfbench output lines (no Spark)."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "tools", "scaling.py")
_spec = importlib.util.spec_from_file_location("scaling", _PATH)
scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling)


def _lines(nproc: int, op_walls: list[float], lsh_wall: float,
           lsh_cpu: float, digest="08af50f5c859de32") -> tuple[str, str]:
    """perfbench's info and result lines for one near_dup run whose
    dedup.lsh layer summed to lsh_wall / lsh_cpu over len(op_walls) ops."""
    info = {"workload": "near_dup", "nproc": nproc, "digest": [digest],
            "osm_jigsaw_spark_tree": "ab12", "op_wall_s": op_walls,
            "op_cpu_s": [{"total": 2 * w} for w in op_walls]}
    metrics = {"dedup.lsh.wall_s": lsh_wall, "dedup.lsh.cpu_s": lsh_cpu,
               "dedup.lsh.jobs": 3.0, "geocode.paths.wall_s": 0.0,
               "geocode.paths.cpu_s": 0.0, "online.p50_ms": 0.0}
    result = {"correct": True, "attempted": len(op_walls), "failed": 0,
              "metrics": {k: {"value": v, "unit": "s"}
                          for k, v in metrics.items()}}
    return json.dumps({"info": info}), json.dumps(result)


def test_layers_are_divided_by_each_runs_op_count():
    one = scaling.per_op(*_lines(1, [14.3], 8.0, 9.0))
    four = scaling.per_op(*_lines(4, [4.1, 4.0], 5.0, 16.0))
    assert (one["ops"], four["ops"]) == (1, 2)
    assert one["layers"]["dedup.lsh"] == (8.0, 9.0)
    assert four["layers"]["dedup.lsh"] == (2.5, 8.0)
    assert four["layers"]["op (whole)"] == pytest.approx((4.05, 8.1))
    assert one["digest"] == four["digest"] == "08af50f5c859de32"


def test_efficiency_is_speedup_over_nproc():
    pairs = [(scaling.per_op(*_lines(1, [w1], 8.0 * k, 9.0)),
              scaling.per_op(*_lines(4, [4.0, 4.0], 4.0 * k, 16.0)))
             for w1, k in ((14.0, 1.0), (16.0, 1.5), (12.0, 0.5))]
    rows = scaling.summarize(pairs)
    assert "geocode.paths" not in rows  # a layer the workload never ran
    w1, c1, wn, cn, eff = rows["dedup.lsh"]
    assert (w1, c1, wn, cn) == (8.0, 9.0, 2.0, 8.0)
    assert eff == pytest.approx((8.0 / 2.0) / 4)
    assert rows["op (whole)"][4] == pytest.approx((14.0 / 4.0) / 4)


def test_refuses_when_digests_differ_between_levels():
    pairs = [(scaling.per_op(*_lines(1, [14.0], 8.0, 9.0)),
              scaling.per_op(*_lines(4, [4.0], 2.0, 8.0, digest="ffff")))]
    with pytest.raises(ValueError, match="digest"):
        scaling.summarize(pairs)


def test_refuses_a_run_with_failed_ops():
    info, result = _lines(4, [4.0], 2.0, 8.0)
    failed = json.dumps({**json.loads(result), "failed": 1})
    with pytest.raises(ValueError, match="failed"):
        scaling.per_op(info, failed)
