"""`python3 tools/scaling.py`: perfbench at local[1] vs local[nproc].

Runs `perfbench/run.py --trace 1` on each workload as PAIRS pairs, one run
under `taskset -c 0` (perfbench sizes Spark from the CPU affinity: local[1])
and one plain, the first level alternating; the single-thread baseline is
McSherry, Isard and Murray's (COST, HotOS 2015). Rewrites BENCH.md unless a
workload's output digest differs between the levels."""

from __future__ import annotations

import json
import os
import statistics
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("build_geocode", "near_dup")
SEED = 101
PAIRS = 3
HEAD = """# BENCH — strong scaling, local[1] vs local[nproc]

Written by `python3 tools/scaling.py`. Host nproc {n}; `osm_jigsaw_spark`
tree `{tree}`; perfbench `--trace 1`, seed {seed}, `--seconds {secs}`; {pairs}
interleaved pairs per workload. Per op (a run's layer sums / its op count),
median over the pairs; CPU is process-tree CPU (JVM, Python workers, driver);
efficiency is (T1/Tn)/n on wall. BASELINE.md's N→4N proxy is local[1]→
local[{n}] here. Older figures: [BENCH_APPENDIX.md](BENCH_APPENDIX.md).
"""


def per_op(info_line: str, result_line: str) -> dict:
    """One run from perfbench's last two stdout lines. perfbench sums a
    layer over every op in its time window, so each layer's wall and CPU
    are divided by the run's op count (online requests are not ops)."""
    info, result = json.loads(info_line)["info"], json.loads(result_line)
    if result["failed"]:
        raise ValueError(f"{info['workload']}: {result['failed']} failed ops")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    ops = len(info["op_wall_s"])
    layers = {k[:-7]: (m[k] / ops, m[k[:-7] + ".cpu_s"] / ops)
              for k in m if k.endswith(".wall_s")}
    layers["op (whole)"] = (sum(info["op_wall_s"]) / ops,
                            sum(c["total"] for c in info["op_cpu_s"]) / ops)
    digest = info["digest"]  # near_dup lists one digest per distinct pass
    return {"digest": " ".join(digest) if isinstance(digest, list) else digest,
            "nproc": info["nproc"], "tree": info["osm_jigsaw_spark_tree"],
            "ops": ops, "layers": layers}


def summarize(pairs: list[tuple[dict, dict]]) -> dict[str, tuple]:
    """layer -> (wall_1, cpu_1, wall_n, cpu_n, efficiency): medians over the
    (local[1], local[n]) pairs; efficiency (T1/Tn)/n on wall. Raises when
    the output digests differ: then the levels computed different things."""
    digests = {run["digest"] for pair in pairs for run in pair}
    if len(digests) != 1:
        raise ValueError(f"output digest differs between levels: {digests}")
    n, rows = pairs[0][1]["nproc"], {}
    for k in pairs[0][0]["layers"]:
        w1, c1, wn, cn = (statistics.median(p[i]["layers"][k][j]
                                            for p in pairs)
                          for i in (0, 1) for j in (0, 1))
        if w1 or wn:
            rows[k] = (w1, c1, wn, cn, w1 / wn / n if wn else 0.0)
    return rows


def run(workload: str, pinned: bool, spec: dict) -> dict:
    cmd = (["taskset", "-c", "0"] if pinned else []) + spec["command"] + [
        "--workload", workload, "--seed", str(SEED),
        "--seconds", str(spec["run_seconds"]), "--trace", "1"]
    done = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    if done.returncode:
        raise SystemExit(f"{' '.join(cmd)} failed:\n{done.stderr[-3000:]}")
    return per_op(*done.stdout.strip().splitlines()[-2:])


def main() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    body = []
    for w in WORKLOADS:
        got = [{pin: run(w, pin, spec) for pin in (i % 2 == 0, i % 2 == 1)}
               for i in range(PAIRS)]
        pairs = [(g[True], g[False]) for g in got]
        rows, top, n = summarize(pairs), pairs[0][1], pairs[0][1]["nproc"]
        ops = "; ".join(f"{a['ops']} vs {b['ops']}" for a, b in pairs)
        body += [f"\n## {w}\n\nDigest `{top['digest']}` at both levels. "
                 f"Ops per run, local[1] vs local[{n}], by pair: {ops}.\n",
                 f"| layer | local[1] wall s | local[1] CPU s | local[{n}] "
                 f"wall s | local[{n}] CPU s | efficiency |", "|---" * 6 + "|"]
        body += [f"| {k} | " + " | ".join(f"{v:.3f}" for v in r) + " |"
                 for k, r in rows.items()]
    head = HEAD.format(n=n, tree=top["tree"], seed=SEED,
                       secs=spec["run_seconds"], pairs=PAIRS)
    with open(os.path.join(REPO, "BENCH.md"), "w") as f:
        f.write(head + "\n".join(body) + "\n")


if __name__ == "__main__":
    main()
