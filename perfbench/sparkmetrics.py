"""Spark-side layer reader: per-SQL-node metrics and job/stage/task counts.

Everything here reads Spark's own bookkeeping through the driver's py4j
gateway, so it needs no change to the program:

* ``SQLAppStatusStore`` (``spark._jsparkSession.sharedState().statusStore()``)
  holds, per SQL execution, the plan graph and the formatted value of
  every node metric (``time to run Python workers``, ``shuffle bytes
  written``, ``scan time``, ``number of written files`` ...).
* The status tracker and ``AppStatusStore`` hold the jobs of a job group
  and, per stage, its task count, executor run time and GC time.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}
_VALUE_RE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?\b")


@dataclass(frozen=True)
class NodeMetric:
    execution_id: int
    node: str
    desc: str
    metric: str
    total: float  # seconds, bytes or a count
    median: float | None  # per-task median when Spark reports one
    max: float | None


def parse_metric(text: str) -> tuple[float, float | None, float | None]:
    """Spark's formatted metric value → (total, task median, task max) in
    base units (seconds, bytes, counts). Distribution metrics read
    ``total (min, med, max (stageId: taskId))\\n9.5 s (176 ms, 444 ms, 2.2 s
    (stage 3.0: task 11))``; plain ones read ``2,011`` or ``4.2 MiB``."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    body = re.sub(r"\(stage [^)]*\)", "", body)
    vals = [
        float(num.replace(",", "")) * _UNITS.get(unit or "", 1.0)
        for num, unit in _VALUE_RE.findall(body)
    ]
    if not vals:
        return 0.0, None, None
    if len(vals) >= 4:
        return vals[0], vals[2], vals[3]
    return vals[0], None, None


def last_execution_id(spark) -> int:
    """Highest SQL execution id so far (-1 before the first one)."""
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = execs.size()
    return max((execs.apply(i).executionId() for i in range(n)), default=-1)


def node_metrics(spark, after_id: int) -> list[NodeMetric]:
    """Every node metric of the SQL executions with id > after_id, each
    accumulator once: a plan that reads a cached frame shows the cached
    plan's nodes again, with the same accumulators."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out: list[NodeMetric] = []
    seen: set[int] = set()
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if not v.isDefined() or m.accumulatorId() in seen:
                    continue
                seen.add(m.accumulatorId())
                total, med, mx = parse_metric(v.get())
                out.append(
                    NodeMetric(eid, node.name().strip(), node.desc(), m.name(), total, med, mx)
                )
    return out


def job_stats(spark, group: str) -> dict[str, float]:
    """Jobs, completed stages, tasks, executor run time and GC time of
    one job group (skipped stages are counted by neither)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    stats = {"jobs": float(len(jobs)), "stages": 0.0, "tasks": 0.0,
             "executor_run_s": 0.0, "gc_s": 0.0}
    for sid in stage_ids:
        try:
            data = store.lastStageAttempt(sid)
        except Exception:  # py4j: a stage skipped on shuffle reuse has no attempt
            continue
        if data.status().toString() != "COMPLETE":
            continue
        stats["stages"] += 1
        stats["tasks"] += data.numCompleteTasks()
        stats["executor_run_s"] += data.executorRunTime() / 1000.0
        stats["gc_s"] += data.jvmGcTime() / 1000.0
    return stats
