"""Turns workload records into named metrics.

``E2E`` and ``LAYER`` are the metrics every run prints in its final JSON
line (they must match ``BENCHMARK.json``); ``serve_report`` and
``bulk_report`` give the named per-workload metrics of the report lines.
"""

from __future__ import annotations

import math
import re
from collections import defaultdict

import numpy as np

from perfbench import datagen, trace

# name -> unit; all of these are emitted by every workload
E2E = {
    "setup_s": "s",
    "request_p50_ms": "ms",
    "items_per_s": "1/s",
}
LAYER = {
    "driver.plan_ms": "ms",
    "driver.exec_ms": "ms",
    "ivf.search_ms": "ms",
    "ivf.probe_pairs_ms": "ms",
    "ivf.vectors_ms": "ms",
    "ivf.cells_probed_per_query": "count",
    "ivf.build_ms": "ms",
    "knn.knn_exact_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.listing_jobs": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.task_queue_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "python.rows_sent": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "python.worker_init_ms": "ms",
    "python.worker_run_ms": "ms",
    "python.rows_sent_per_result": "ratio",
}
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def tail(values) -> tuple[int, float, int]:
    """(percentile, value, samples): the highest percentile with at least
    ten samples beyond it; the maximum when there are ten or fewer."""
    n = len(values)
    p = math.floor(100 * (1 - 10 / n)) if n > 10 else 100
    return p, float(np.percentile(values, p)), n


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else float("nan")


def error_rate(checks) -> tuple[int, int]:
    """(attempted, failed) over every checked operation."""
    return len(checks), sum(1 for c in checks if not c[2])


def serve_report(res: dict) -> dict:
    s = [r for r in res["searches"] if r["ok"]]
    lat = [r["wall_s"] * 1e3 for r in s]
    p, tv, n = tail(lat)
    out = {
        "search_qps": len(s) * datagen.SERVE_QUERIES_PER_REQUEST / res["timed_s"],
        "search_p50_ms": _median(lat),
        "search_tail_ms": tv,
        "search_tail_percentile": p,
        "search_samples": n,
    }
    for tier in ("float", "sq8", "pq"):
        t = [r["wall_s"] * 1e3 for r in s if r["tier"] == tier]
        out[f"search_p50_ms.{tier}"] = _median(t)
    return out


def bulk_report(res: dict) -> dict:
    def med(op, scale=1.0):
        return _median([scale / p[op]["wall_s"] for p in res["passes"] if p[op]["ok"]])

    return {
        "build_s": _median([p["build"]["wall_s"] for p in res["passes"]]),
        "search_qps": med("search", datagen.BULK_QUERIES),
        "recall_at_10": res["extra"].get("recall_at_10", float("nan")),
        "dist_search_qps": med("dist_search", datagen.BULK_DIST_QUERIES),
        "exact_qps": med("exact", datagen.BULK_EXACT_QUERIES),
        "insert_rows_per_s": med("insert", datagen.INSERT_NEW + datagen.INSERT_UPSERTS),
        "insert_ms": _median([p["insert"]["wall_s"] * 1e3 for p in res["passes"]]),
        "delete_ms": _median([p["delete"]["wall_s"] * 1e3 for p in res["passes"]]),
        "compact_ms": _median([p["compact"]["wall_s"] * 1e3 for p in res["passes"]]),
        "bm25_qps": med("bm25", datagen.BM25_QUERIES),
        "docs_per_s": _median([
            datagen.DOCS_N / (p["lsh"]["wall_s"] + p["pipeline"]["wall_s"])
            for p in res["passes"]
        ]),
        "passes": len(res["passes"]),
    }


def requests(workload: str, res: dict) -> list[list[dict]]:
    """The timed requests, each as the list of operation records it is
    made of: one search (serve) or one full pass (bulk)."""
    if workload == "serve":
        return [[r] for r in res["searches"]]
    return [list(p.values()) for p in res["passes"]]


# input items one bulk pass consumes: query vectors, written rows, docs
BULK_ITEMS_PER_PASS = (
    datagen.BULK_QUERIES + datagen.BULK_DIST_QUERIES + datagen.BULK_EXACT_QUERIES
    + datagen.INSERT_NEW + datagen.INSERT_UPSERTS + datagen.DELETE_BATCH
    + datagen.BM25_QUERIES + 2 * datagen.DOCS_N
)


def e2e(workload: str, res: dict) -> dict:
    reqs = requests(workload, res)
    walls = [sum(r["wall_s"] for r in req) * 1e3 for req in reqs]
    if workload == "serve":
        items = len(res["searches"]) * datagen.SERVE_QUERIES_PER_REQUEST
    else:
        items = BULK_ITEMS_PER_PASS * len(res["passes"])
    return {
        "setup_s": res["setup_s"],
        "request_p50_ms": _median(walls),
        "items_per_s": items / res["timed_s"],
    }


def layers(workload: str, res: dict, spans: list[dict], groups: dict) -> dict:
    """Per-layer metrics: spans as mean ms per call over the run, Spark
    and Python figures per timed request."""
    reqs = requests(workload, res)
    result_rows = sum(r.get("out_rows", 0) for req in reqs for r in req)
    n = max(1, len(reqs))
    summ = trace.summarize(spans)

    def span_ms(name):
        return summ.get(name, {}).get("mean_ms", 0.0)

    spark = defaultdict(float)
    for req in reqs:
        for rec in req:
            for k, v in groups.get(rec["group"], {}).items():
                spark[k] += v
    pairs = sum(s.get("pairs", 0) for s in spans if s["name"] == "ivf.probe_pairs")
    queries = sum(s.get("queries", 0) for s in spans if s["name"] == "ivf.probe_pairs")
    out = {
        "driver.plan_ms": sum(r["plan_s"] for q in reqs for r in q) * 1e3 / n,
        "driver.exec_ms": sum(r["exec_s"] for q in reqs for r in q) * 1e3 / n,
        "ivf.search_ms": span_ms("ivf.search"),
        "ivf.probe_pairs_ms": span_ms("ivf.probe_pairs"),
        "ivf.vectors_ms": span_ms("ivf.vectors"),
        "ivf.cells_probed_per_query": pairs / queries if queries else 0.0,
        "ivf.build_ms": span_ms("ivf.build"),
        "knn.knn_exact_ms": span_ms("knn.knn_exact"),
    }
    # event-log fields: spark.<field> and python.<field> per request
    for name in LAYER:
        prefix, field = name.split(".", 1)
        if prefix in ("spark", "python"):
            out[name] = spark[field] / n
    out["python.rows_sent_per_result"] = (
        spark["rows_sent"] / result_rows if result_rows else 0.0
    )
    return out


def by_kind(groups: dict, records: list[dict], key: str) -> dict:
    """Mean event-log record per value of ``rec[key]`` over the records."""
    acc: dict = {}
    for rec in records:
        a = acc.setdefault(rec[key], {"ops": 0})
        a["ops"] += 1
        for k, v in groups.get(rec["group"], {}).items():
            a[k] = a.get(k, 0) + v
    return {
        kind: {k: (v / a["ops"] if k != "ops" else v) for k, v in a.items()}
        for kind, a in acc.items()
    }


def result_line(correct: bool, attempted: int, failed: int, values: dict,
                units: dict) -> dict:
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not produced: {sorted(missing)}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(values[k]), "unit": units[k]} for k in units
        },
    }
