"""Shared Spark session + pipeline fixtures (one JVM for the whole run)."""

from __future__ import annotations

import os

import pytest

from osm_jigsaw_spark.fixtures.osm_world import (
    build_world,
    documents_df,
    query_points_df,
)
from osm_jigsaw_spark.plans.pipeline import run_pipeline
from osm_jigsaw_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # the library default heap cap (32g) lets the one test JVM grow to
    # ~9.5 GB resident over the suite on a 4-CPU, 15 GB host; 4g keeps it
    # near 4 GB with the same run time
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    yield get_spark(app_name="osm-jigsaw-tests")


def _executed_plan_nodes(df) -> list:
    """Run `df`, then (class name, operator details incl. aggregate result
    expressions) of every node of its executed plan; under AQE only the
    final plan is walked, descending into each query stage."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    stack, out = [plan], []
    while stack:
        node = stack.pop()
        out.append((node.getClass().getSimpleName(),
                    node.verboseStringWithOperatorId()))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            stack.append(node.plan())
    return out


@pytest.fixture(scope="session")
def plan_nodes():
    """The executed-plan walker: plan_nodes(df) -> [(class, details)]."""
    return _executed_plan_nodes


@pytest.fixture(scope="session")
def world():
    return build_world()


@pytest.fixture(scope="session")
def docs(spark, world):
    return documents_df(spark, world).localCheckpoint()


@pytest.fixture(scope="session")
def pipeline(spark, docs):
    r = run_pipeline(docs)
    r.graph_edges = r.graph_edges.localCheckpoint()
    return r


@pytest.fixture(scope="session")
def qpoints(spark, world):
    return query_points_df(spark, world)
