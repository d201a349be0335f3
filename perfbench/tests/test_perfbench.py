"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from perfbench import datagen, eventlog, metrics, oracle, trace  # noqa: E402


def _digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        if isinstance(a, np.ndarray):
            h.update(a.tobytes())
        else:
            h.update(json.dumps(a).encode())
    return h.hexdigest()


def _inputs_digest(seed: int) -> str:
    s = datagen.serve_inputs(seed)
    b = datagen.bulk_vectors(seed)
    d = datagen.documents(seed)
    return _digest(
        s.ids, s.vecs, *s.query_sets,
        b.vecs, b.queries, b.dist_queries, b.insert_ids, b.insert_vecs, b.delete_ids,
        d.text, d.lang, d.source, d.planted, d.term_queries,
    )


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs_digest(3) == _inputs_digest(3)
    assert _inputs_digest(3) != _inputs_digest(4)


def test_bulk_writes_upsert_and_delete_existing_ids():
    b = datagen.bulk_vectors(5)
    existing = set(b.ids.tolist())
    upserts = set(b.insert_ids[:datagen.INSERT_UPSERTS].tolist())
    new = set(b.insert_ids[datagen.INSERT_UPSERTS:].tolist())
    assert upserts <= existing and not new & existing
    assert set(b.delete_ids.tolist()) <= existing
    assert not set(b.delete_ids.tolist()) & upserts


def _benchmark_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_emitted_metrics():
    bj = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in bj["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bj["per_layer"]}
    assert e2e == metrics.E2E
    assert layer == metrics.LAYER
    assert {w["name"] for w in bj["workloads"]} == {"serve", "bulk"}
    for m in bj["end_to_end"] + bj["per_layer"]:
        assert metrics.NAME_RE.match(m["name"]), m["name"]
        assert metrics.UNIT_RE.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    assert all(0 < m["bound"] <= 0.25 for m in bj["end_to_end"])
    setup = next(m for m in bj["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bj["end_to_end"])


def _fake_results():
    def rec(group, wall, **kw):
        return {"group": group, "ok": True, "error": None, "start": 0.0,
                "plan_s": wall / 4, "exec_s": 3 * wall / 4, "wall_s": wall,
                "out_rows": 100, **kw}

    serve = {
        "setup_s": 40.0, "timed_s": 9.0, "checks": [("search", "x", True)],
        "searches": [rec(f"serve:{t}:{i}", 2.0 + i, tier=t)
                     for i, t in enumerate(("float", "sq8", "pq"))],
    }
    bulk = {
        "setup_s": 10.0, "timed_s": 30.0, "checks": [],
        "extra": {"recall_at_10": 0.98},
        "passes": [{op: rec(f"bulk:{op}:0", 2.0, op=op) for op in (
            "build", "search", "dist_search", "exact", "insert", "delete",
            "compact", "bm25", "lsh", "pipeline")}],
    }
    return {"serve": serve, "bulk": bulk}


@pytest.mark.parametrize("workload", ["serve", "bulk"])
def test_every_metric_is_emitted_with_its_unit(workload):
    res = _fake_results()[workload]
    spans = [
        {"id": 0, "name": "ivf.probe_pairs", "parent": None, "start": 0.0,
         "end": 0.01, "pairs": 80, "queries": 10},
    ]
    groups = {r["group"]: dict.fromkeys(eventlog.FIELDS, 1)
              for req in metrics.requests(workload, res) for r in req}
    report = (metrics.serve_report if workload == "serve" else metrics.bulk_report)(res)
    assert all(np.isfinite(v) for v in report.values())
    for values, units in (
        (metrics.e2e(workload, res), metrics.E2E),
        (metrics.layers(workload, res, spans, groups), metrics.LAYER),
    ):
        line = metrics.result_line(True, 3, 0, values, units)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["metrics"].keys() == units.keys()
        for name, m in line["metrics"].items():
            assert m["unit"] == units[name]
            assert isinstance(m["value"], float)
    with pytest.raises(KeyError):
        metrics.result_line(True, 1, 0, {}, metrics.E2E)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    p, v, n = metrics.tail(list(range(1, 101)))
    assert (p, n) == (90, 100)
    assert sum(1 for x in range(1, 101) if x > v) >= 10
    assert metrics.tail([5.0, 1.0, 3.0])[:2] == (100, 5.0)


def test_eventlog_reader_on_recorded_log():
    groups = eventlog.read(os.path.join(HERE, "data", "calibration_eventlog.jsonl"))
    cal = groups["calibration"]
    assert cal["rows_sent"] == 1000
    assert cal["rows_returned"] == 1000
    assert cal["tasks"] == 2
    assert cal["jobs"] >= 1 and cal["stages"] >= 1
    assert cal["bytes_sent"] > 1000 * 16  # payload plus Arrow framing
    assert cal["bytes_returned"] > 0
    assert cal["executor_run_ms"] >= 0 and cal["task_queue_ms"] >= 0
    other = groups["other"]
    assert other["rows_sent"] == 0 and other["bytes_sent"] == 0
    assert other["shuffle_write_bytes"] > 0 and other["shuffle_read_bytes"] > 0
    assert other["tasks"] >= 2


def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 1.0},
        {"id": 1, "name": "b", "parent": 0, "start": 0.1, "end": 0.4},
        {"id": 2, "name": "b", "parent": 0, "start": 0.5, "end": 0.7},
    ]
    s = trace.self_times(spans)
    assert s[0] == pytest.approx(0.5)
    summ = trace.summarize(spans)
    assert summ["b"]["calls"] == 2
    assert summ["b"]["total_ms"] == pytest.approx(500.0)


def test_tracer_wrap_records_nested_spans_and_restores():
    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    tr = trace.Tracer()
    tr.wrap(Layer, "outer", "outer")
    tr.wrap(Layer, "inner", "inner")
    tr.set_op("op-1")
    assert Layer().outer() == 2
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["inner"]["parent"] == by_name["outer"]["id"]
    assert by_name["inner"]["op"] == "op-1"
    tr.restore()
    Layer().outer()
    assert len(tr.spans) == 2


# ---- the output checker rejects perturbed results ----


def _corpus(seed=0, n=400, d=8):
    rng = np.random.default_rng(seed)
    return np.arange(n, dtype=np.int64), rng.normal(size=(n, d)).astype(np.float32)


def test_result_check_rejects_perturbed_topk():
    ids, V = _corpus()
    q = V[7] + 0.01
    exp = oracle.topk(ids, V, q, 10)
    assert oracle.result_matches(exp[0], np.round(exp[1], 4), exp)
    swapped = exp[0].copy()
    swapped[[2, 3]] = swapped[[3, 2]]
    assert not oracle.result_matches(swapped, exp[1], exp)
    assert not oracle.result_matches(exp[0], exp[1] + np.r_[0, 0, 1e-3, [0] * 7], exp)
    assert not oracle.result_matches(exp[0][:9], exp[1][:9], exp)


def test_ivf_expected_is_exact_inside_probed_cells():
    ids, V = _corpus(1)
    C = V[:16].astype(np.float64)
    cells = oracle.assign_cells(V, C)
    Q = V[100:103]
    full = oracle.ivf_expected(ids, V, cells, Q, C, nprobe=16, k=5)
    for qi in range(3):
        want = oracle.topk(ids, V, Q[qi], 5)
        assert oracle.result_matches(*full[qi], want)
    one = oracle.ivf_expected(ids, V, cells, Q, C, nprobe=1, k=5)
    probe = oracle.probed_cells(Q, C, 1)
    for qi in range(3):
        assert set(cells[np.isin(ids, one[qi][0])]) == {probe[qi, 0]}


def test_ingest_model_folds_upserts_and_deletes():
    ids, V = _corpus(2, n=200)
    C = V[:8].astype(np.float64)
    model = oracle.IngestModel(ids, V, C, oracle.assign_cells(V, C))
    new_vecs = V[:3] + 5.0
    model.apply(("insert", np.array([10, 11, 10_000]), new_vecs))
    model.apply(("delete", np.array([12, 13]), None))
    assert np.array_equal(model.indexed[10][0], V[10])  # not folded yet
    model.apply(("compact", None, None))
    assert 12 not in model.indexed and 13 not in model.indexed
    assert 10_000 in model.indexed and len(model.indexed) == 200 - 2 + 1
    want = oracle.assign_cells(new_vecs, C, fold=True)
    for j, i in enumerate((10, 11, 10_000)):
        vec, cell = model.indexed[i]
        assert np.array_equal(vec, new_vecs[j]) and cell == want[j]
    assert model.delta == {}


def test_frames_equal_rejects_perturbed_rows():
    want = pd.DataFrame({"query_id": [0, 0, 1], "doc_id": [4, 9, 2],
                         "rank": [1, 2, 1], "bm25": [2.5, 1.25, 0.5]})
    assert oracle.frames_equal(want.iloc[::-1].reset_index(drop=True), want)
    bad = want.copy()
    bad.loc[1, "doc_id"] = 8
    assert not oracle.frames_equal(bad, want)
    bad = want.copy()
    bad.loc[2, "bm25"] += 0.01
    assert not oracle.frames_equal(bad, want)
    assert not oracle.frames_equal(want.iloc[:2], want)


def test_lsh_check_rejects_false_pairs_and_low_recall():
    texts = ["a b c d e f", "a b c d e g", "x y z q r s", "a b c d e f"]
    planted = [(0, 1), (0, 3)]
    good = [(0, 1, oracle.jaccard3(texts[0], texts[1])), (0, 3, 1.0), (1, 3, 0.6)]
    assert oracle.check_lsh_pairs(good, texts, planted, 0.4, 0.9)[0]
    assert not oracle.check_lsh_pairs(good + [(0, 2, 0.0)], texts, planted, 0.4, 0.9)[0]
    assert not oracle.check_lsh_pairs(good[1:], texts, planted, 0.4, 0.9)[0]


def test_cluster_oracle_matches_repo_duckdb_oracle():
    duckdb = pytest.importorskip("duckdb")
    from vector_search_engine_spark.operators import dedup, graph

    orig = datagen.DOCS_N
    datagen.DOCS_N = 300
    try:
        d = datagen.documents(7)
    finally:
        datagen.DOCS_N = orig
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({
        "doc_id": d.doc_id, "text": d.text, "lang": d.lang,
        "source": d.source, "n_chars": d.n_chars,
    }))
    want = con.sql(graph.DEDUP_CLUSTERS_ORACLE).df()
    got = oracle.jaccard_clusters(d.text, d.n_chars, dedup.JACCARD_THRESHOLD,
                                  dedup.LENGTH_BAND)
    assert (got["cluster_size"] > 1).any()
    assert oracle.frames_equal(got, want.astype({"cluster_size": "int64"}))
