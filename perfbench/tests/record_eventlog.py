#!/usr/bin/env python3
"""Re-records ``data/calibration_eventlog.jsonl``, the small event log the
event-log reader test reads.

    python3 perfbench/tests/record_eventlog.py

Two job groups on one session: ``calibration`` (a no-op ``mapInPandas``
over 1,000 rows in 2 partitions) and ``other`` (a plain aggregate, no
Python).  Only the events and fields the reader uses are kept (no paths,
no host details).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def _pick(d: dict, *keys) -> dict:
    return {k: d[k] for k in keys if k in d}


def _plan(node: dict) -> dict:
    return {
        "nodeName": node["nodeName"],
        "metrics": [
            _pick(m, "name", "accumulatorId", "metricType")
            for m in node.get("metrics", [])
        ],
        "children": [_plan(c) for c in node.get("children", [])],
    }


def project(e: dict) -> dict | None:
    """The event reduced to what ``eventlog.aggregate`` reads."""
    ev = e["Event"]
    if ev == "SparkListenerJobStart":
        out = _pick(e, "Event", "Job ID", "Stage IDs")
        out["Properties"] = _pick(
            e.get("Properties") or {}, "spark.jobGroup.id", "spark.job.description"
        )
        return out
    if ev in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
        return {"Event": ev, "Stage Info": _pick(
            e["Stage Info"], "Stage ID", "Stage Attempt ID", "Submission Time"
        )}
    if ev == "SparkListenerTaskEnd":
        m = e.get("Task Metrics") or {}
        return {
            "Event": ev,
            "Stage ID": e["Stage ID"],
            "Stage Attempt ID": e["Stage Attempt ID"],
            "Task Info": {
                "Launch Time": e["Task Info"]["Launch Time"],
                "Accumulables": [
                    _pick(a, "ID", "Name", "Update")
                    for a in e["Task Info"].get("Accumulables", [])
                ],
            },
            "Task Metrics": {
                **_pick(m, "Executor Run Time", "Executor CPU Time", "JVM GC Time"),
                "Input Metrics": _pick(m.get("Input Metrics") or {}, "Bytes Read"),
                "Shuffle Read Metrics": _pick(
                    m.get("Shuffle Read Metrics") or {},
                    "Remote Bytes Read", "Local Bytes Read",
                ),
                "Shuffle Write Metrics": _pick(
                    m.get("Shuffle Write Metrics") or {}, "Shuffle Bytes Written"
                ),
            },
        }
    if ev in SQL_PLAN_EVENTS:
        return {"Event": ev, "sparkPlanInfo": _plan(e["sparkPlanInfo"])}
    return None


def main() -> None:
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = REPO
    from perfbench.eventlog import EVENT_LOG_CONF
    from vector_search_engine_spark.session import get_spark

    events = tempfile.mkdtemp(prefix="perfbench-events-")
    try:
        spark = get_spark(
            "perfbench-record", master="local[2]", shuffle_partitions=2,
            extra_conf={**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + events},
        )
        sc = spark.sparkContext

        def identity(batches):
            yield from batches

        sc.setJobGroup("calibration", "calibration")
        spark.range(0, 1000, 1, 2).selectExpr("id", "cast(id AS double) AS x") \
            .mapInPandas(identity, "id long, x double") \
            .write.format("noop").mode("overwrite").save()
        sc.setJobGroup("other", "other")
        spark.range(0, 1000, 1, 2).selectExpr("id % 7 AS g") \
            .groupBy("g").count().collect()
        spark.stop()
        (log,) = glob.glob(os.path.join(events, "*"))
        out = os.path.join(HERE, "data", "calibration_eventlog.jsonl")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(log) as src, open(out, "w") as dst:
            for line in src:
                kept = project(json.loads(line))
                if kept is not None:
                    dst.write(json.dumps(kept) + "\n")
    finally:
        shutil.rmtree(events, ignore_errors=True)


if __name__ == "__main__":
    main()
