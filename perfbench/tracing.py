"""Spans, Spark status-store metrics and /proc process-tree CPU and memory.

- `Tracer.span(name)` records a span (name, start, end, parent, request id)
  in memory. Each span gets a job group no other span uses: reusing a group
  makes the status store return the earlier call's jobs too.
- `group_metrics` reads the group's jobs and their stages from the status
  store (`statusTracker` + `statusStore().lastStageAttempt`), dropping
  skipped stages, which report zeros.
- `tree_cpu` / `tree_peak_rss_mb` read /proc for this process and every
  descendant: the Spark JVM and the Python workers it forks. The JVM's task
  CPU in the status store misses Python UDF time, so both are reported.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1:s.rindex(")")]
    rest = s[s.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); utime, stime, cutime, cstime are 14-17
    return comm, int(rest[1]), sum(int(x) for x in rest[11:15]) / CLK_TCK


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(int(d))
            if st is not None:
                children.setdefault(st[1], []).append(int(d))
    out = [root]
    for pid in out:
        out.extend(children.get(pid, ()))
    return out


def tree_cpu() -> dict[str, float]:
    """CPU seconds of the process tree, split into the JVM, the Python
    workers (descendants of the JVM) and the driver-side Python process."""
    out = {"jvm": 0.0, "python_workers": 0.0, "driver": 0.0}
    me = os.getpid()
    for pid in tree_pids():
        st = _proc_stat(pid)
        if st is None:
            continue
        comm, _ppid, cpu = st
        if pid == me:
            out["driver"] += cpu
        elif comm == "java":
            out["jvm"] += cpu
        else:
            out["python_workers"] += cpu
    out["total"] = out["jvm"] + out["python_workers"] + out["driver"]
    return out


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak resident set
    (VmHWM)."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def group_metrics(sc, group: str) -> dict[str, float]:
    """Summed stage metrics of every job a job group ran; skew is max/median
    task run time of the group's longest-running stage."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    m = dict(jobs=0, stages=0, run_s=0.0, jvm_cpu_s=0.0, gc_s=0.0,
             shuffle_bytes=0, spill_bytes=0, task_skew=1.0)
    heaviest = None
    for job in tracker.getJobIdsForGroup(group):
        m["jobs"] += 1
        info = tracker.getJobInfo(job)
        for stage in (info.stageIds if info else ()):
            sd = store.lastStageAttempt(stage)
            if sd.status().toString() == "SKIPPED":
                continue
            m["stages"] += 1
            m["run_s"] += sd.executorRunTime() / 1e3
            m["jvm_cpu_s"] += sd.executorCpuTime() / 1e9
            m["gc_s"] += sd.jvmGcTime() / 1e3
            m["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
            m["spill_bytes"] += sd.diskBytesSpilled()
            if heaviest is None or sd.executorRunTime() > heaviest[0]:
                heaviest = (sd.executorRunTime(), stage, sd.attemptId())
    if heaviest is not None:
        gw = sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = store.taskSummary(heaviest[1], heaviest[2], q)
        if dist.isDefined():
            run = dist.get().executorRunTime()
            med, top = run.apply(0), run.apply(1)
            m["task_skew"] = top / med if med > 0 else 1.0
    return m


class Tracer:
    """In-memory spans; a disabled tracer's `span` does nothing at all, so
    an untraced run executes exactly the program calls a traced one does."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0  # metric reads and row counts inside spans
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "request": request if request is not None
               else (parent["request"] if parent else None),
               "group": f"perfbench-{os.getpid()}-{sid}", "rows_out": 0}
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        cpu0 = tree_cpu()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t0 = time.perf_counter()
            rec["cpu"] = {k: v - cpu0[k] for k, v in tree_cpu().items()}
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            rec.update(group_metrics(self.sc, rec["group"]))
            self.spans.append(rec)
            if parent is not None:  # only then inside another span's wall
                self.bookkeeping_s += time.perf_counter() - t0

    def rows(self, rec: dict | None, *dfs) -> None:
        """Record a span's output row count (count jobs outside the span)."""
        if rec is not None:
            t0 = time.perf_counter()
            rec["rows_out"] = sum(df.count() for df in dfs)
            self.bookkeeping_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def paused(self):
        """Run untraced, e.g. a warm-up that no layer should count."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def layer_metrics(self, layers: list[str]) -> dict[str, float]:
        """Per layer, summed over its spans; self time is the wall time
        minus the part covered by child spans."""
        out = {}
        for name in layers:
            spans = [s for s in self.spans if s["name"] == name]
            wall = sum(s["end"] - s["start"] - self._child_wall(s)
                       for s in spans)
            out.update({
                f"{name}.wall_s": wall,
                f"{name}.cpu_s": sum(s["cpu"]["total"] for s in spans),
                f"{name}.jvm_cpu_s": sum(s["jvm_cpu_s"] for s in spans),
                f"{name}.rows_out": sum(s["rows_out"] for s in spans),
                f"{name}.shuffle_bytes": sum(s["shuffle_bytes"] for s in spans),
                f"{name}.jobs": sum(s["jobs"] for s in spans),
                f"{name}.task_skew": max((s["task_skew"] for s in spans),
                                         default=0.0),
            })
        return out

    def _child_wall(self, span: dict) -> float:
        return sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == span["id"])

    def unattributed_s(self, root: str) -> float:
        """Wall time of `root` spans that no child span covers."""
        return sum(s["end"] - s["start"] - self._child_wall(s)
                   for s in self.spans if s["name"] == root)

    def totals(self, root: str) -> dict[str, float]:
        """gc and spill summed over every span under `root` spans."""
        ids = {s["id"] for s in self.spans if s["name"] == root}
        grown = True
        while grown:
            new = {s["id"] for s in self.spans if s["parent"] in ids}
            grown = not new <= ids
            ids |= new
        under = [s for s in self.spans if s["id"] in ids]
        return {"gc_s": sum(s["gc_s"] for s in under),
                "spill_bytes": sum(s["spill_bytes"] for s in under)}

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**s, "start": s["start"] - t0,
                                    "end": s["end"] - t0}) + "\n")
