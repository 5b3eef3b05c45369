from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("probabilistic-rs-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture
def map_in_arrow_rows():
    """``rows(df)``: the rows ``df``'s ``MapInArrow`` stages handed back
    to the JVM in the last action run on ``df``, read from the executed
    plan's SQL metrics (descending through the adaptive final plan and
    its query stages)."""

    def node_rows(plan) -> int:
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            kids = [plan.finalPhysicalPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [plan.plan()]
        else:
            seq = plan.children()
            kids = [seq.apply(i) for i in range(seq.size())]
        own = 0
        if plan.nodeName() == "MapInArrow":
            own = int(plan.metrics().apply("pythonNumRowsReceived").value())
        return own + sum(node_rows(k) for k in kids)

    return lambda df: node_rows(df._jdf.queryExecution().executedPlan())


@pytest.fixture
def jobs_during(spark):
    """``jobs_during(fn)``: ``(fn(), number of Spark jobs fn launched)``."""
    tracker = spark.sparkContext.statusTracker()

    def run(fn):
        last_job = max(tracker.getJobIdsForGroup(None), default=-1)
        out = fn()
        return out, max(tracker.getJobIdsForGroup(None), default=-1) - last_job

    return run


@pytest.fixture
def small_arrow_batches(spark):
    """Feed Python stages 64-row Arrow batches, so each task sees many."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    yield
    spark.conf.set(key, old)
