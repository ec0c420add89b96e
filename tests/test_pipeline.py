"""plans/pipeline.run_pipeline returns `areas` as a materialized barrier."""


def test_pipeline_areas_is_a_barrier(pipeline, plan_nodes):
    """Reading `areas` shuffles nothing: its executed plan scans the
    snapshotted RDD, so no caller checkpoints it a second time."""
    classes = [c for c, _t in plan_nodes(pipeline.areas)]
    assert "RDDScanExec" in classes
    assert not any("Exchange" in c for c in classes), classes
