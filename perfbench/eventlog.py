"""Per-operation Spark layers from Spark's built-in event log.

The traced run enables the event log through session conf (uncompressed,
not rolling) and tags each operation with ``SparkContext.setJobGroup`` on
its own thread.  After the session stops, ``aggregate`` folds the log into
one record per job group: jobs, stages, tasks, file-listing jobs, executor
run/CPU/GC time, task queueing (task launch minus stage submission), input
and shuffle bytes, and the SQL metrics of the pandas/Arrow nodes (rows and
bytes into and out of Python, worker start/init/run time).
"""

from __future__ import annotations

import json
from collections import defaultdict

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

LISTING_JOB = "Listing leaf files and directories"

# SQL metric names of the Python evaluation nodes, summed over tasks
PY_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
    "time to start Python workers": "worker_start_ms",
    "time to initialize Python workers": "worker_init_ms",
    "time to run Python workers": "worker_run_ms",
}
ROW_METRICS = ("number of output rows", "records read")

FIELDS = (
    "jobs", "stages", "tasks", "listing_jobs", "executor_run_ms",
    "executor_cpu_ms", "gc_ms", "task_queue_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "rows_sent", "rows_returned",
    *PY_METRICS.values(),
)


def _walk(node):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _row_metric(node):
    for m in node.get("metrics", []):
        if m["name"] in ROW_METRICS:
            return m["accumulatorId"]
    return None


def _first_rows_below(node) -> list[int]:
    """Row-count accumulators of the nearest descendants that have one:
    the rows a Python node was fed (operators without a row metric, like
    a projection, pass rows through unchanged)."""
    out = []
    for c in node.get("children", []):
        acc = _row_metric(c)
        out.extend([acc] if acc is not None else _first_rows_below(c))
    return out


def _plan_accumulators(plan, sent, returned, scale) -> None:
    for node in _walk(plan):
        names = {m["name"] for m in node.get("metrics", [])}
        if "data sent to Python workers" not in names:
            continue
        for m in node["metrics"]:
            # timing SQL metrics are ms; "nsTiming" ones are ns
            if m["name"] in PY_METRICS and m.get("metricType") == "nsTiming":
                scale[m["accumulatorId"]] = 1e-6
        acc = _row_metric(node)
        if acc is not None:
            returned.add(acc)
        sent.update(_first_rows_below(node))


def aggregate(lines) -> dict[str, dict]:
    """``{job_group: {field: value}}`` from event-log JSON lines."""
    stage_group: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    sent_acc: set[int] = set()
    ret_acc: set[int] = set()
    scale: dict[int, float] = {}
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    tasks = []
    for line in lines:
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or "untagged"
            rec = out[group]
            rec["jobs"] += 1
            if LISTING_JOB in (props.get("spark.job.description") or ""):
                rec["listing_jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, group)
        elif ev == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if info.get("Submission Time") is not None:
                stage_submit[key] = info["Submission Time"]
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            group = stage_group.get(info["Stage ID"], "untagged")
            out[group]["stages"] += 1
            key = (info["Stage ID"], info["Stage Attempt ID"])
            if info.get("Submission Time") is not None:
                stage_submit.setdefault(key, info["Submission Time"])
        elif ev in (
            "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            _plan_accumulators(e["sparkPlanInfo"], sent_acc, ret_acc, scale)
        elif ev == "SparkListenerTaskEnd":
            tasks.append(e)
    for e in tasks:
        rec = out[stage_group.get(e["Stage ID"], "untagged")]
        info = e["Task Info"]
        rec["tasks"] += 1
        sub = stage_submit.get((e["Stage ID"], e["Stage Attempt ID"]))
        if sub is not None:
            rec["task_queue_ms"] += max(0, info["Launch Time"] - sub)
        m = e.get("Task Metrics") or {}
        rec["executor_run_ms"] += m.get("Executor Run Time", 0)
        rec["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        rec["gc_ms"] += m.get("JVM GC Time", 0)
        rec["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        for a in info.get("Accumulables", []):
            upd = a.get("Update")
            if not isinstance(upd, (int, float)):
                try:
                    upd = int(upd)
                except (TypeError, ValueError):
                    continue
            acc = a.get("ID")
            if a.get("Name") in PY_METRICS:
                rec[PY_METRICS[a["Name"]]] += upd * scale.get(acc, 1.0)
            if acc in sent_acc:
                rec["rows_sent"] += upd
            if acc in ret_acc:
                rec["rows_returned"] += upd
    return dict(out)


def read(path: str) -> dict[str, dict]:
    with open(path) as f:
        return aggregate(f)
