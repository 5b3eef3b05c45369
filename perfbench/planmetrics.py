"""Read per-operator SQL metrics and executor counters from outside the library.

Two sources, both reached through py4j after an action has run:

* the executed physical plan of the Dataset the action ran on
  (``df._jdf.queryExecution().executedPlan()``), descending through
  ``AdaptiveSparkPlanExec.finalPhysicalPlan()``, each ``*QueryStageExec.plan()``
  and each cached relation's ``cachedPlan()``;
* the application status store: its executor totals
  (``sc._jsc.sc().statusStore().executorList(True)``), taken as deltas
  around one job, and the stage data (``lastStageAttempt``) of every
  job run under one job group. The executor list's ``totalDuration``
  is not a sum of task times, so task time comes from the stages.

A ``noop`` write runs its own QueryExecution and leaves the walked
Dataset's upper Python nodes empty, so every job must end with
``toArrow()`` or ``collect()`` on the Dataset that is walked.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

PYTHON_NODES = (
    "MapInArrow",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "AggregateInPandas",
    "WindowInPandas",
)


@dataclass
class PlanNode:
    """One physical operator with its SQL metric values."""

    name: str
    metrics: dict
    metric_ids: tuple
    feeds_scan: bool = False  # reads a file scan with no Python node or Exchange between

    @property
    def is_python(self) -> bool:
        return self.name in PYTHON_NODES


def _node_metrics(plan) -> tuple[dict, tuple]:
    values, ids = {}, []
    it = plan.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metric = kv._2()
        values[kv._1()] = int(metric.value())
        ids.append(int(metric.id()))
    return values, tuple(ids)


def _children(plan) -> list:
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [plan.finalPhysicalPlan()]
    if cls.endswith("QueryStageExec"):
        return [plan.plan()]
    if cls == "InMemoryTableScanExec":
        return [plan.relation().cachedPlan()]
    if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        return [plan.child()]
    seq = plan.children()
    return [seq.apply(i) for i in range(seq.size())]


def walk_plan(df) -> list[PlanNode]:
    """Every operator of ``df``'s executed plan, root first."""
    out: list[PlanNode] = []

    def visit(plan) -> bool:
        # returns True when this subtree reaches a file scan without
        # crossing a Python node or a shuffle boundary
        name = plan.nodeName()
        values, ids = _node_metrics(plan)
        node = PlanNode(name, values, ids)
        out.append(node)
        reaches_scan = name.startswith("Scan ")
        for child in _children(plan):
            reaches_scan |= visit(child)
        node.feeds_scan = reaches_scan
        blocked = node.is_python or name == "Exchange" or name.endswith("QueryStage")
        return reaches_scan and not blocked

    visit(df._jdf.queryExecution().executedPlan())
    return out


@dataclass
class MetricLedger:
    """Attributes each SQL metric to the first action that reports it.

    A cached relation's plan is reachable from every later action that
    reads the cache, with its values from the run that filled it; the
    ledger keeps those values from being counted twice."""

    seen: set = field(default_factory=set)

    def fresh(self, nodes: list[PlanNode]) -> list[PlanNode]:
        keep = []
        for n in nodes:
            if n.metric_ids and n.metric_ids[0] in self.seen:
                continue
            self.seen.update(n.metric_ids)
            keep.append(n)
        return keep


def summarize(nodes: list[PlanNode]) -> dict:
    """Layer counters from one action's operators.

    ``scan.pipeline_ms`` is the WholeStageCodegen time of the stages that
    read the file scan, i.e. the JVM scan and value prep that feed the
    first Python boundary or shuffle."""
    s = {
        "scan.pipeline_ms": 0.0,
        "scan.input_bytes": 0,
        "python_nodes": 0,
        "python_ms": 0.0,
        "python_sent_bytes": 0,
        "python_received_bytes": 0,
        "shuffle.write_bytes": 0,
        "shuffle.records": 0,
        "shuffle.write_ms": 0.0,
        "sort_peak_bytes": 0,
    }
    for n in nodes:
        m = n.metrics
        if n.name.startswith("WholeStageCodegen") and n.feeds_scan:
            s["scan.pipeline_ms"] += m.get("pipelineTime", 0)
        if n.name.startswith("Scan "):
            s["scan.input_bytes"] += m.get("filesSize", 0)
        if n.is_python:
            s["python_nodes"] += 1
            s["python_ms"] += m.get("pythonTotalTime", 0)
            s["python_sent_bytes"] += m.get("pythonDataSent", 0)
            s["python_received_bytes"] += m.get("pythonDataReceived", 0)
        if n.name == "Exchange":
            s["shuffle.write_bytes"] += m.get("shuffleBytesWritten", 0)
            s["shuffle.records"] += m.get("shuffleRecordsWritten", 0)
            s["shuffle.write_ms"] += m.get("shuffleWriteTime", 0) / 1e6  # ns
        if n.name == "Sort":
            s["sort_peak_bytes"] = max(s["sort_peak_bytes"], m.get("peakMemory", 0))
    return s


EXECUTOR_FIELDS = {
    "gc_ms": "totalGCTime",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
    "input_bytes": "totalInputBytes",
    "tasks": "totalTasks",
    "failed_tasks": "failedTasks",
}

STAGE_FIELDS = {
    "busy_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "spill_bytes": "diskBytesSpilled",
    "tasks": "numCompleteTasks",
    "failed_tasks": "numFailedTasks",
}


def executor_totals(spark) -> dict:
    """Sum of the status store's executor totals (driver included)."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    out = {k: 0 for k in EXECUTOR_FIELDS}
    for i in range(execs.size()):
        e = execs.apply(i)
        for key, getter in EXECUTOR_FIELDS.items():
            out[key] += int(getattr(e, getter)())
    return out


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


STAGE_WAIT_S = 5.0


def stage_totals(spark, group: str) -> dict:
    """Sums of :data:`STAGE_FIELDS` over the stages of every job run under
    job group ``group``, each stage counted once (AQE and cache reuse put
    one stage in several jobs; a skipped stage reports zeros).

    The status store is filled from the listener bus, after the action
    has returned, so this waits up to ``STAGE_WAIT_S`` until every job of
    the group has ended."""
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    deadline = time.monotonic() + STAGE_WAIT_S
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        running = [i for i in infos if i is None or i.status not in ("SUCCEEDED", "FAILED")]
        if not running or time.monotonic() > deadline:
            break
        time.sleep(0.01)
    stages = {s for i in infos if i is not None for s in i.stageIds}
    out = {k: 0 for k in STAGE_FIELDS}
    for stage in stages:
        data = store.lastStageAttempt(stage)
        for key, getter in STAGE_FIELDS.items():
            out[key] += int(getattr(data, getter)())
    return out
