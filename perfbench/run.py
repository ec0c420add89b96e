"""Benchmark of osm_jigsaw_spark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload build_geocode --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is
{"correct", "attempted", "failed", "metrics"}; the line before it holds
provenance, output digests and per-op figures. With --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones, and the spans go to .perfbench_out/spans-<workload>-<seed>.jsonl.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import sys
import time

from tracing import Tracer, tree_peak_rss_mb, tree_pids

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".perfbench_out")


def source_tree_hash(path: str) -> str:
    """git's tree-object hash of `path`, skipping bytecode caches: equal to
    `git rev-parse HEAD:<path>` for a clean checkout, without needing git."""
    def tree(p: str) -> bytes | None:
        entries = []
        for name in os.listdir(p):
            full = os.path.join(p, name)
            if name == "__pycache__" or name.endswith(".pyc"):
                continue
            if os.path.isdir(full):
                sha = tree(full)
                if sha is not None:
                    entries.append((name + "/", b"40000", name, sha))
            else:
                with open(full, "rb") as f:
                    data = f.read()
                mode = b"100755" if os.access(full, os.X_OK) else b"100644"
                sha = hashlib.sha1(b"blob %d\0" % len(data) + data).digest()
                entries.append((name, mode, name, sha))
        if not entries:
            return None
        body = b"".join(mode + b" " + name.encode() + b"\0" + sha
                        for _key, mode, name, sha in sorted(entries))
        return hashlib.sha1(b"tree %d\0" % len(body) + body).digest()

    return (tree(path) or b"").hex()


def host() -> dict:
    nproc = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2 ** 20
    # session.py defaults the driver heap to 32g; stay well below RAM
    return {"nproc": nproc, "ram_mb": round(ram_mb),
            "driver_mb": int(min(2048, ram_mb / 4))}


def start_spark(h: dict):
    from osm_jigsaw_spark.session import get_spark

    tmp = os.path.join(OUT, "tmp")
    spark = get_spark(
        app_name="perfbench", cores=h["nproc"],
        shuffle_partitions=h["nproc"],
        extra_conf={
            "spark.driver.memory": f"{h['driver_mb']}m",
            "spark.local.dir": os.path.join(OUT, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{h['driver_mb']}m",
            "spark.ui.showConsoleProgress": "false",
        })
    sc = spark.sparkContext
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if (sc.master != f"local[{h['nproc']}]" or parts != h["nproc"]
            or sc.defaultParallelism > h["nproc"]):
        stop_spark(spark)
        raise SystemExit(f"refusing to run: master {sc.master}, shuffle "
                         f"partitions {parts}, host nproc {h['nproc']}")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then wait until the JVM and every Python worker it
    started has exited (SIGKILL after 60 s)."""
    started = tree_pids()[1:]
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure: fall through to kill
            proc.kill()
            proc.wait()

    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + 60
    while any(alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.2)
    for p in started:
        if alive(p):
            os.kill(p, signal.SIGKILL)
    while any(alive(p) for p in started):
        time.sleep(0.2)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "osm_jigsaw_spark")):
        print("perfbench: osm_jigsaw_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    # set before numpy or the JVM start: workers inherit the environment
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path[:0] = [REPO, HERE]

    import pyspark

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    h = host()
    t0 = time.perf_counter()
    spark = start_spark(h)
    t1 = time.perf_counter()
    try:
        tracer = Tracer(spark.sparkContext, bool(args.trace))
        res = workloads.WORKLOADS[args.workload](
            spark, tracer, args.seed, args.seconds)
        peak_rss = tree_peak_rss_mb()
        t2 = time.perf_counter()
    finally:
        stop_spark(spark)
    t3 = time.perf_counter()

    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        **h, "pyspark": pyspark.__version__,
        "osm_jigsaw_spark_tree": source_tree_hash(
            os.path.join(REPO, "osm_jigsaw_spark")),
        **res.info,
        "setup_s_each": res.setup_s, "op_wall_s": res.op_wall_s,
        "op_cpu_s": res.op_cpu,
        "phase_s": {"session": t1 - t0, "workload": t2 - t1, "stop": t3 - t2},
    }
    if args.trace:
        path = os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(path)
        info["spans"] = os.path.relpath(path, REPO)
        values = {**res.layer_metrics,
                  "failed_ops_frac": res.failed / res.attempted}
    else:
        values = {
            "items_per_s": res.items / statistics.median(res.op_wall_s),
            "op_cpu_s": statistics.median(c["total"] for c in res.op_cpu),
            "setup_s": statistics.median(res.setup_s),
            "peak_rss_mb": peak_rss,
        }
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    undeclared = set(values) - {m["name"] for m in declared}
    if undeclared:
        raise SystemExit(f"perfbench: undeclared metrics {sorted(undeclared)}")
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        # a layer the workload does not exercise reads 0
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0),
                                "unit": m["unit"]} for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
