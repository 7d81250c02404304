"""Read Spark's own metrics for one job group back from an event log.

The benchmark enables ``spark.eventLog.enabled`` only in its traced
session, tags the jobs it wants to count with a job group, stops the
session (which finalizes the log) and then calls :func:`group_metrics`.

What is summed, over the Spark jobs of the group:

- task metrics from ``SparkListenerTaskEnd``: executor run time, executor
  CPU time, JVM GC time, shuffle bytes written and read;
- job, executed-stage and task counts;
- Spark's Python SQL metric "data sent to Python workers", and the rows
  that crossed with it. Spark has no row counter on the sending side, so
  the rows are the output-row metric of the Python node's input: the first
  node down its first-child chain that counts rows ("number of output
  rows", or "shuffle records written" when the input is a shuffle).
  AQE re-plans: a plan version whose Python node never ran is skipped, so
  a row counter shared with the executed version is not counted twice.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

PY_BYTES_SENT = "data sent to Python workers"
ROW_METRICS = ("number of output rows", "shuffle records written")

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _metric_ids(node: dict, name: str) -> list[int]:
    return [m["accumulatorId"] for m in node.get("metrics", []) if m["name"] == name]


def _python_nodes(plan: dict, out: set[tuple[int, int | None]]) -> None:
    """Add (bytes-sent accumulator, input-rows accumulator) for every Python
    node of one plan tree."""
    stack = [plan]
    while stack:
        node = stack.pop()
        for sent in _metric_ids(node, PY_BYTES_SENT):
            rows = None
            child = (node.get("children") or [None])[0]
            while child is not None and rows is None:
                ids = [i for name in ROW_METRICS for i in _metric_ids(child, name)]
                rows = ids[0] if ids else None
                child = (child.get("children") or [None])[0]
            out.add((sent, rows))
        stack.extend(node.get("children", []))


@contextmanager
def job_group(spark, group: str | None):
    """Tag the Spark jobs this thread starts inside the block."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def find_event_log(directory: str) -> str:
    files = [f for f in os.listdir(directory) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    return os.path.join(directory, files[0])


def group_metrics(path: str, group: str) -> dict[str, float]:
    """Totals for the Spark jobs whose ``spark.jobGroup.id`` is ``group``."""
    events = []
    with open(path) as fh:
        for line in fh:
            events.append(json.loads(line))

    stages: set[int] = set()
    executions: set[int] = set()
    jobs = 0
    for ev in events:
        if ev["Event"] != "SparkListenerJobStart":
            continue
        props = ev.get("Properties") or {}
        if props.get("spark.jobGroup.id") != group:
            continue
        jobs += 1
        stages.update(ev["Stage IDs"])
        if "spark.sql.execution.id" in props:
            executions.add(int(props["spark.sql.execution.id"]))

    py_nodes: set[tuple[int, int | None]] = set()
    for ev in events:
        if ev["Event"] in (_SQL_START, _SQL_AQE) and ev["executionId"] in executions:
            _python_nodes(ev["sparkPlanInfo"], py_nodes)
    wanted = {i for pair in py_nodes for i in pair if i is not None}
    acc: dict[int, int] = {}

    out = {
        "jobs": float(jobs),
        "stages": 0.0,
        "tasks": 0.0,
        "task_run_s": 0.0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0.0,
        "shuffle_read_bytes": 0.0,
        "python_bytes_sent": 0.0,
        "python_rows_sent": 0.0,
    }
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stages:
                out["stages"] += 1
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
            out["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            out["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            out["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                if a["ID"] in wanted:
                    acc[a["ID"]] = acc.get(a["ID"], 0) + int(a.get("Update", 0))
    ran = {(sent, rows) for sent, rows in py_nodes if acc.get(sent, 0) > 0}
    out["python_bytes_sent"] = float(sum(acc[sent] for sent in {s for s, _ in ran}))
    out["python_rows_sent"] = float(
        sum(acc.get(rows, 0) for rows in {r for _, r in ran if r is not None}))
    return out
