#!/usr/bin/env python3
"""Layered engine benchmark.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

Generates seeded inputs, drives the engine's public API from this one
process on ``SPARK_GRAFT_CPUS = nproc`` cores, checks every output, and
prints report lines followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; ``--trace 1`` wraps each layer's public
functions, enables Spark's event log, and reports per-layer metrics.
``--overhead`` runs both modes for one seed and prints the difference of
the end-to-end metrics (the tracing overhead).  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
WORKLOADS = ("serve", "bulk")
OUT_DIR = os.path.join(REPO, ".perfbench_out")


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers it forks)."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True, name="perfbench-rss")
        self.interval = interval
        self.peak_bytes = 0
        self.peak_parts: dict = {}
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def descendants() -> list[int]:
        children: dict[int, list[int]] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append(
                int(stat.split("/")[2])
            )
        out, todo = [], list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> dict:
        """RSS bytes of the Python driver, the JVM and the other
        descendants (the Python workers), plus the worker count."""
        parts = {"driver": 0, "jvm": 0, "workers": 0, "n_workers": 0}
        for pid in [os.getpid(), *self.descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            if pid == os.getpid():
                parts["driver"] += rss
            elif comm == "java":
                parts["jvm"] += rss
            else:
                parts["workers"] += rss
                parts["n_workers"] += 1
        return parts

    def _take(self) -> None:
        parts = self.sample()
        total = parts["driver"] + parts["jvm"] + parts["workers"]
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_parts = total, parts

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._take()
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self._take()
        return self.peak_bytes / 2**20


def prepare_env(work: str) -> None:
    """Point every scratch location inside ``work`` and ship the repo
    root to the Python workers, so any working directory runs."""
    for sub in ("local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["VSE_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    # every JVM the session starts (the spark-submit launcher and the
    # driver): temp files inside ``work``, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + pp if pp else "")


def start_session(work: str, traced: bool):
    from perfbench.eventlog import EVENT_LOG_CONF
    from vector_search_engine_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if traced:
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
    return get_spark("perfbench", extra_conf=conf)


def stop_jvm(timeout: float = 60.0) -> None:
    """End the driver JVM (it exits when its stdin closes) and wait until
    it and the Python workers it forked are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while RssSampler.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def environment(spark, seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "seed": seed,
    }


def calibrate(spark, rows: int = 20_000) -> dict:
    """A no-op ``mapInPandas`` over known rows: the event-log reader must
    count exactly ``rows`` rows into and out of Python."""
    spark.sparkContext.setJobGroup("calibration", "calibration")

    def identity(batches):
        yield from batches

    df = spark.range(rows).selectExpr("id", "cast(id AS double) AS x")
    df.mapInPandas(identity, "id long, x double").write.format("noop").mode(
        "overwrite"
    ).save()
    return {"rows": rows}


def report(line: str) -> None:
    print(line, flush=True)


def run(args) -> int:
    from perfbench import metrics, trace, workloads

    work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    rss = RssSampler()
    rss.start()
    tracer = None
    spark = None
    try:
        spark = start_session(work, bool(args.trace))
        env = environment(spark, args.seed)
        report("env " + json.dumps(env, sort_keys=True))
        if args.trace:
            tracer = trace.Tracer()
            trace.install_engine_wrappers(tracer)
            calib = calibrate(spark)
        fn = getattr(workloads, args.workload)
        res = fn(spark, work, args.seed, args.seconds, tracer, T_START)
    finally:
        if tracer is not None:
            tracer.restore()
        t_stop = time.perf_counter()
        if spark is not None:
            spark.stop()
            stop_jvm()
        peak_mb = rss.stop()
        stop_s = time.perf_counter() - t_stop

    attempted, failed = metrics.error_rate(res["checks"])
    for kind, name, ok in res["checks"]:
        if not ok:
            report(f"check FAILED {kind} {name}")
    records = [r for req in metrics.requests(args.workload, res) for r in req]
    for rec in records:
        if rec.get("error"):
            report(f"op FAILED {rec['group']}: {rec['error']}")
    e2e = metrics.e2e(args.workload, res)
    named = (
        metrics.serve_report(res) if args.workload == "serve"
        else metrics.bulk_report(res)
    )
    named.update(
        setup_s=e2e["setup_s"], peak_rss_mb=peak_mb,
        error_rate=failed / attempted,
    )
    for k, v in named.items():
        report(f"metric {args.workload} {k} = {v:.6g}")
    report("phases " + " ".join(
        f"{k}={v:.2f}s" for k, v in res["setup_phases"].items()
    ) + f" timed={res['timed_s']:.2f}s checks={res['check_s']:.2f}s stop={stop_s:.2f}s")
    report("peak rss parts " + " ".join(
        f"{k}={v / 2**20:.0f}MB" if k != "n_workers" else f"{k}={v}"
        for k, v in rss.peak_parts.items()))
    for k, v in e2e.items():
        report(f"e2e {args.workload} {k} = {v:.6g} {metrics.E2E[k]}")

    details = {
        "env": env, "e2e": e2e, "named": named, "checks": res["checks"],
        "ops": records,
    }
    if args.trace:
        from perfbench import eventlog

        logs = glob.glob(os.path.join(work, "events", "*"))
        groups = eventlog.read(logs[0]) if logs else {}
        cal = groups.get("calibration", {})
        report(
            "calibration rows_sent={} rows_returned={} expected={} "
            "bytes_sent_per_row={:.2f}".format(
                cal.get("rows_sent"), cal.get("rows_returned"), calib["rows"],
                cal.get("bytes_sent", 0) / calib["rows"],
            )
        )
        if cal.get("rows_sent") != calib["rows"] or cal.get("rows_returned") != calib["rows"]:
            report("calibration FAILED: python.* row counts are not trustworthy")
        values = metrics.layers(args.workload, res, tracer.spans, groups)
        print_layer_report(args.workload, records, tracer.spans, groups)
        details.update(layers=values, groups=groups, spans=tracer.spans)
        units = metrics.LAYER
    else:
        values, units = e2e, metrics.E2E
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(
        OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as f:
        json.dump(details, f, default=str)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(
        metrics.result_line(failed == 0, attempted, failed, values, units)
    ), flush=True)
    return 0


def print_layer_report(workload: str, records, spans, groups) -> None:
    from perfbench import metrics, trace

    for name, agg in sorted(trace.summarize(spans).items()):
        report(
            f"layer {name}: calls={agg['calls']} mean_ms={agg['mean_ms']:.2f} "
            f"total_ms={agg['total_ms']:.1f} self_ms={agg['self_ms']:.1f}"
        )
    key = "tier" if workload == "serve" else "op"
    timed = {r["group"] for r in records}
    plan = trace.summarize(
        [s for s in spans if s["name"] == "engine.search.plan" and s["op"] in timed],
        key=lambda s: s.get("tier", "float"),
    )
    for kind, rec in metrics.by_kind(groups, records, key).items():
        mine = [r for r in records if r[key] == kind]
        line = (
            f"{key} {kind}: wall_ms={metrics._median([r['wall_s'] * 1e3 for r in mine]):.1f} "
            f"plan_ms={metrics._median([r['plan_s'] * 1e3 for r in mine]):.1f} "
            f"exec_ms={metrics._median([r['exec_s'] * 1e3 for r in mine]):.1f} "
        )
        if workload == "serve":
            line += f"engine.search.plan_ms={plan.get(kind, {}).get('mean_ms', 0.0):.1f} "
        line += " ".join(
            f"spark.{f}={rec.get(f, 0):.1f}" for f in (
                "jobs", "stages", "tasks", "listing_jobs", "task_queue_ms",
                "executor_run_ms", "executor_cpu_ms", "gc_ms", "input_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes")
        ) + " " + " ".join(
            f"python.{f}={rec.get(f, 0):.0f}" for f in (
                "rows_sent", "rows_returned", "bytes_sent", "bytes_returned",
                "worker_start_ms", "worker_init_ms", "worker_run_ms")
        ) + f" ops={rec['ops']}"
        report(line)
    if workload == "bulk":
        for layer, op in (
            ("engine.insert_ms", "insert"),
            ("engine.delete_ms", "delete"),
            ("engine.compact_ms", "compact"),
            ("retrieval.bm25_topk_ms", "bm25"),
            ("dedup.minhash_lsh_pairs_ms", "lsh"),
            ("text_ops.text_curation_pipeline_ms", "pipeline"),
        ):
            walls = [r["wall_s"] * 1e3 for r in records if r["op"] == op]
            report(f"layer {layer} = {metrics._median(walls):.1f} ms (op wall)")


def overhead(args) -> int:
    """Tracing overhead: the traced run's end-to-end figures minus the
    untraced run's, same workload and seed."""
    vals = {}
    for t in (0, 1):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(t)],
            capture_output=True, text=True, check=True,
        ).stdout.splitlines()
        vals[t] = {
            ln.split()[2]: float(ln.split()[4]) for ln in out if ln.startswith("e2e ")
        }
    for k in vals[0]:
        report(f"overhead {args.workload} {k}: traced={vals[1][k]:.6g} "
               f"untraced={vals[0][k]:.6g} diff={vals[1][k] - vals[0][k]:+.6g}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "vector_search_engine_spark")):
        print(f"engine package not found beside {HERE}", file=sys.stderr)
        return 2
    return overhead(args) if args.overhead else run(args)


if __name__ == "__main__":
    sys.exit(main())
