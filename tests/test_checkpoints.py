"""Checkpoint/resume semantics (north rule: resumable from snapshots with
per-partition lineage + metrics). Mirrors the reference's JVM-per-step
resume-at-last-completed-stage behavior (go.bash:9-17)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from osm_jigsaw_spark.plans.checkpoints import run_checkpointed

STAGES = ["nodes", "ways", "relations", "tags", "areas", "graph_edges"]


@pytest.fixture(scope="module")
def cp_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("ckpt"))


def test_first_run_computes_all_stages(spark, docs, cp_root):
    cp = run_checkpointed(spark, docs, cp_root)
    for s in STAGES:
        assert not cp.stages[s].resumed
        assert os.path.exists(os.path.join(cp_root, s, "_SUCCESS.json"))
    # graph matches the uncheckpointed pipeline
    assert cp.stages["graph_edges"].df.count() > 0


def test_second_run_resumes_every_stage(spark, docs, cp_root):
    cp = run_checkpointed(spark, docs, cp_root)
    assert all(cp.stages[s].resumed for s in STAGES)


def test_metrics_sidecar_covers_all_rows_with_lineage(spark, docs, cp_root):
    cp = run_checkpointed(spark, docs, cp_root)
    st = cp.stages["areas"]
    m = spark.read.parquet(st.metrics_path)
    assert m.agg(F.sum("n_rows")).first()[0] == st.df.count()
    lin = json.loads(m.select("lineage").first()[0])
    assert set(lin) == {"nodes", "ways", "relations"}
    assert lin["nodes"] == cp.stages["nodes"].fingerprint


def test_changed_documents_at_same_root_recompute_every_stage(spark, docs,
                                                             cp_root):
    """Stage fingerprints follow the documents' content, not the root path:
    new documents at the same root never resume stages built from the old."""
    run_checkpointed(spark, docs, cp_root)  # stages current for `docs`
    last = docs.agg(F.max("doc_id")).first()[0]
    changed = docs.filter(F.col("doc_id") != last)
    cp = run_checkpointed(spark, changed, cp_root)
    assert all(not cp.stages[s].resumed for s in STAGES)
    cp2 = run_checkpointed(spark, changed, cp_root)
    assert all(cp2.stages[s].resumed for s in STAGES)
    # and back to the original documents: recomputed again
    cp3 = run_checkpointed(spark, docs, cp_root)
    assert all(not cp3.stages[s].resumed for s in STAGES)


def test_source_edit_invalidates_every_stage(spark, docs, cp_root,
                                             monkeypatch):
    """A resume never reuses a stage computed by older code: any change to
    the package source changes every fingerprint."""
    from osm_jigsaw_spark.plans import checkpoints

    run_checkpointed(spark, docs, cp_root)  # stages current for this source
    monkeypatch.setattr(checkpoints, "source_hash", lambda: "edited")
    cp = run_checkpointed(spark, docs, cp_root)
    assert all(not cp.stages[s].resumed for s in STAGES)
    cp2 = run_checkpointed(spark, docs, cp_root)
    assert all(cp2.stages[s].resumed for s in STAGES)
