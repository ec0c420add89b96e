"""The workloads. Each makes its inputs from the seed, times ops that call
the public functions of osm_jigsaw_spark, and checks every op's output.

- build_geocode: one cold batch per run, as a spark-submit of the batch
  side runs it: documents → areas → containment graph, then one bulk
  geocode of uniform points against that graph. Layers are the
  run_pipeline stages split at their module boundaries, each behind a
  barrier, then `geocode` (its eager containing probe) and its collect.
  It times exactly one batch, so `seconds` does not apply to it. After
  the batch, N_REQUESTS single-point requests measure per-request cost
  (reported by the traced run only).
- near_dup: warm, repeated `minhash_near_duplicates` passes over a corpus
  whose near-duplicate pairs are known. Layers are the function's own
  barriers (observed by wrapping the dedup module's `snapshot`) and the
  final collect; signatures are computed inside the LSH barrier's job.
"""

from __future__ import annotations

import random
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import world as W
from checks import World, digest, jaccard
from tracing import Tracer, tree_cpu

from osm_jigsaw_spark.operators import areas as A
from osm_jigsaw_spark.operators import dedup as dedup_mod
from osm_jigsaw_spark.operators.containment import (
    area_cell_index,
    contains_pairs,
    graph_edges,
)
from osm_jigsaw_spark.operators.geocode import geocode
from osm_jigsaw_spark.plans.snapshots import snapshot
from osm_jigsaw_spark.sources import documents as D

SETUP_REPS = 3
N_POINTS = 10_000
N_SAMPLE = 200  # bulk points checked against brute-force PIP
N_REQUESTS = 3  # online requests after the batch
N_DOCS = 40_000
WARMUP_PASSES = 2

BUILD_LAYERS = ["documents.decode", "relations.outlines", "areas.resolve",
                "areas.dedup", "containment.index", "containment.pairs",
                "containment.reduce", "geocode.containing", "geocode.paths"]
DEDUP_LAYERS = ["dedup.shingles", "dedup.lsh", "dedup.verify"]
DEDUP_BARRIERS = {"harr": "dedup.shingles", "cands": "dedup.lsh"}


@dataclass
class Result:
    items: int                     # input items per op
    setup_s: list[float] = field(default_factory=list)
    op_wall_s: list[float] = field(default_factory=list)
    op_cpu: list[dict] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    info: dict = field(default_factory=dict)
    layer_metrics: dict = field(default_factory=dict)


def _timed_setup(res: Result, make):
    """Run `make` SETUP_REPS times; keep the last inputs."""
    out = None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = make()
        res.setup_s.append(time.perf_counter() - t0)
    return out


def _op(res: Result, tr: Tracer, k: int, body):
    """One timed op under a root span; exceptions count as failed ops."""
    res.attempted += 1
    cpu0 = tree_cpu()
    t0 = time.perf_counter()
    try:
        with tr.span("op", request=k):
            out = body()
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        res.failed += 1
        res.info.setdefault("errors", []).append(repr(e)[:300])
        return None
    res.op_wall_s.append(time.perf_counter() - t0)
    res.op_cpu.append({k: v - cpu0[k] for k, v in tree_cpu().items()})
    return out


def _finish_trace(res: Result, tr: Tracer, layers: list[str]) -> None:
    if not tr.enabled:
        return
    ops = sum(res.op_wall_s)
    res.layer_metrics.update(tr.layer_metrics(layers))
    res.layer_metrics.update(tr.totals("op"))
    res.layer_metrics["unattributed_s"] = (
        tr.unattributed_s("op") - tr.bookkeeping_s)
    res.layer_metrics["trace.bookkeeping_s"] = tr.bookkeeping_s
    res.layer_metrics["trace.overhead_frac"] = (
        tr.bookkeeping_s / (ops - tr.bookkeeping_s))
    for part in ("jvm", "python_workers", "driver"):
        res.layer_metrics[f"op.{part}_cpu_s"] = sum(c[part] for c in res.op_cpu)


def build_geocode(spark, tr: Tracer, seed: int, seconds: float) -> Result:
    res = Result(items=W.n_areas())

    def make():
        expect = snapshot(W.world_areas(spark, seed))
        docs = snapshot(W.world_documents(expect))
        pts = snapshot(W.points(spark, seed, N_POINTS))
        return expect.collect(), docs, pts

    rows, docs, pts = _timed_setup(res, make)
    world = World(rows)
    n_docs = docs.count()
    state: dict = {}

    def batch():
        with tr.span("documents.decode") as s:
            nodes = snapshot(D.decode_nodes(docs))
            ways = snapshot(D.decode_ways(docs))
            rels = snapshot(D.decode_relations(docs))
        tr.rows(s, nodes, ways, rels)
        # build_areas, split at its module boundaries
        with tr.span("relations.outlines") as s:
            rel_out = snapshot(A.relation_outlines(rels, ways))
        tr.rows(s, rel_out)
        with tr.span("areas.resolve") as s:
            outlines = A.way_outlines(ways).unionByName(rel_out)
            rings = snapshot(A.with_area_and_bbox(
                A.resolve_outline_points(outlines, nodes)
                .filter(F.col("n_points") >= 3)))
        tr.rows(s, rings)
        with tr.span("areas.dedup") as s:
            areas = snapshot(A.dedup_areas(rings))
        tr.rows(s, areas)
        with tr.span("containment.index") as s:
            idx = snapshot(area_cell_index(areas))
        tr.rows(s, idx)
        with tr.span("containment.pairs") as s:
            pairs = snapshot(contains_pairs(areas, idx=idx))
        tr.rows(s, pairs)
        with tr.span("containment.reduce") as s:
            edges = snapshot(graph_edges(areas, pairs))
        tr.rows(s, edges)
        with tr.span("geocode.containing"):
            located = geocode(areas, edges, pts, idx=idx)
        with tr.span("geocode.paths") as s:
            paths = located.collect()
        if s is not None:
            s["rows_out"] = len(paths)
        state.update(areas=areas, edges=edges, pairs=pairs, idx=idx)
        return paths

    # one cold batch: a batch user pays JVM warm-up on every run
    paths = _op(res, tr, 0, batch)
    if paths is not None:
        edges = state["edges"].collect()
        merged = state["areas"].select("osm_ids").collect()
        bad = check_build(world, edges, merged, paths, pts, seed)
        res.failed += bool(bad)
        res.info["check_failures"] = bad
        res.info["digest"] = digest(
            [tuple(e) for e in edges] + [tuple(p) for p in paths])
        keys = {tuple(p.path_keys) for p in paths}
        res.layer_metrics.update({
            "containment.edges_per_pair":
                len(edges) / max(1, state["pairs"].count()),
            "geocode.distinct_set_ratio": len(keys) / N_POINTS,
            "geocode.rows_per_point":
                sum(len(p.path_keys) for p in paths) / N_POINTS,
        })
        online_requests(res, tr, state, pts, world, seed)
    res.info.update(inputs={"areas": W.n_areas(), "documents": n_docs,
                            "points": N_POINTS, "checked_points": N_SAMPLE,
                            "online_requests": N_REQUESTS},
                    shape=W.SHAPE, warmup="none: one cold batch per run")
    _finish_trace(res, tr, BUILD_LAYERS)
    return res


def check_build(world: World, edges, merged, paths, pts, seed: int) -> list:
    """Failures of the build and bulk geocode outputs, [] when correct."""
    bad = []
    got = {(e.parent_osm_id, e.child_osm_id) for e in edges}
    if got != world.edges or len(edges) != len(got):
        bad.append(f"edges: {len(got - world.edges)} unexpected, "
                   f"{len(world.edges - got)} missing")
    got_merged = {tuple(r.osm_ids) for r in merged}
    if got_merged != world.merged:
        bad.append(f"merges: {len(got_merged ^ world.merged)} differ")
    by_point = {p.point_id: list(p.path) for p in paths}
    if len(by_point) != N_POINTS or len(paths) != N_POINTS:
        bad.append(f"paths: {len(paths)} rows for {len(by_point)} points")
    ids = sorted(random.Random(seed).sample(range(N_POINTS), N_SAMPLE))
    sample = pts.filter(F.col("point_id").isin([f"p{i}" for i in ids]))
    for p in sample.collect():
        want = world.path(p.lat, p.lon)
        if by_point.get(p.point_id) != want:
            bad.append(f"path {p.point_id}: {by_point.get(p.point_id)} "
                       f"!= {want}")
    return bad[:20]


def online_requests(res: Result, tr: Tracer, state: dict, pts, world: World,
                    seed: int) -> None:
    """A closed loop with one client after the batch: single-point
    `geocode(...).collect()` requests, each sent when the previous one
    returned, against the graph just built. Per-request fixed cost
    dominates and no two requests share an answer. Every answer is checked
    against the brute-force path."""
    ids = [f"p{i}" for i in random.Random(seed + 1).sample(range(N_POINTS),
                                                           N_REQUESTS)]
    coords = {p.point_id: (p.lat, p.lon)
              for p in pts.filter(F.col("point_id").isin(ids)).collect()}
    latency_ms = []
    for k, pid in enumerate(ids, start=1):
        one = pts.filter(F.col("point_id") == pid)
        res.attempted += 1
        try:
            with tr.span("online.request", request=k):
                t0 = time.perf_counter()
                rows = geocode(state["areas"], state["edges"], one,
                               idx=state["idx"]).collect()
                latency_ms.append((time.perf_counter() - t0) * 1e3)
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            res.failed += 1
            res.info.setdefault("errors", []).append(repr(e)[:300])
            continue
        want = world.path(*coords[pid])
        if [list(r.path) for r in rows] != [want]:
            res.failed += 1
            res.info.setdefault("check_failures", []).append(
                f"request {pid}: {[list(r.path) for r in rows]} != {want}")
    res.info["online_ms"] = latency_ms
    spans = [s for s in tr.spans if s["name"] == "online.request"]
    if spans and latency_ms:
        res.layer_metrics.update({
            "online.p50_ms": statistics.median(latency_ms),
            "online.jobs_per_request":
                statistics.mean(s["jobs"] for s in spans),
            "online.shuffle_bytes_per_request":
                statistics.mean(s["shuffle_bytes"] for s in spans),
        })


def near_dup(spark, tr: Tracer, seed: int, seconds: float) -> Result:
    res = Result(items=N_DOCS)
    docs = _timed_setup(
        res, lambda: snapshot(W.corpus(spark, seed, N_DOCS)))
    texts = {r.doc_id: r.text for r in docs.collect()}
    expected = {(i - 1, i) for i in range(N_DOCS) if i % W.DUP_EVERY == 1}
    barriers: dict = {}
    original = dedup_mod.snapshot

    def observed_snapshot(df, name="snap", *a, **kw):
        with tr.span(DEDUP_BARRIERS.get(name, f"dedup.{name}")) as s:
            out = original(df, name, *a, **kw)
        tr.rows(s, out)
        barriers[name] = out
        return out

    def one_pass():
        # the call runs the barriers (child spans of the op); the verify
        # layer is the final collect
        located = dedup_mod.minhash_near_duplicates(docs, 0.5)
        with tr.span("dedup.verify") as s:
            found = located.collect()
        if s is not None:
            s["rows_out"] = len(found)
        return found

    dedup_mod.snapshot = observed_snapshot
    try:
        with tr.paused():
            for _ in range(WARMUP_PASSES):
                dedup_mod.minhash_near_duplicates(docs, 0.5).collect()
        digests, recall, found = set(), [], []
        t_end = time.perf_counter() + seconds
        k = 0
        while k == 0 or time.perf_counter() < t_end:
            out = _op(res, tr, k, one_pass)
            k += 1
            if out is None:
                continue
            found = out
            bad = check_near_dup(found, expected, texts)
            res.failed += bool(bad)
            res.info.setdefault("check_failures", []).extend(bad)
            got = {(r.doc_a, r.doc_b) for r in found}
            recall.append(len(got & expected) / len(expected))
            digests.add(digest([tuple(r) for r in found]))
        if len(digests) > 1:
            res.failed += 1
            res.info.setdefault("check_failures", []).append(
                f"{len(digests)} different outputs across passes")
        if tr.enabled and "harr" in barriers:
            sigs = dedup_mod.minhash_signatures(docs, h_arrays=barriers["harr"])
            res.layer_metrics.update({
                "dedup.verify_accept_ratio":
                    len(found) / max(1, barriers["cands"].count()),
                "dedup.lsh_oversized_buckets":
                    dedup_mod.lsh_oversized_buckets(sigs).count(),
            })
    finally:
        dedup_mod.snapshot = original
    if recall:
        res.layer_metrics["dedup.recall"] = statistics.median(recall)
    res.info.update(inputs={"documents": N_DOCS, "near_dup_pairs":
                            len(expected)},
                    shape=W.SHAPE, digest=sorted(digests),
                    recall=statistics.median(recall) if recall else None,
                    warmup=f"{WARMUP_PASSES} untimed passes")
    _finish_trace(res, tr, DEDUP_LAYERS)
    return res


def check_near_dup(found, expected: set, texts: dict) -> list:
    """Precision must be 1 and every reported Jaccard exact."""
    bad = []
    for r in found:
        if (r.doc_a, r.doc_b) not in expected:
            bad.append(f"false pair ({r.doc_a}, {r.doc_b})")
        elif abs(r.jaccard - jaccard(texts[r.doc_a], texts[r.doc_b])) > 1e-6:
            bad.append(f"jaccard ({r.doc_a}, {r.doc_b}) {r.jaccard}")
    return bad[:20]


WORKLOADS = {"build_geocode": build_geocode, "near_dup": near_dup}
