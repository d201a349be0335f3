"""The two workloads: ``serve`` and ``bulk``.

Each workload has a set-up phase (inputs, index and sidecar builds, warm
calls), a timed phase of ``seconds`` seconds, and a check phase after it.
Every operation is tagged with a Spark job group named
``<workload>:<op>:<n>`` so the traced run can split the event log per
operation.  The functions return plain records; ``metrics.py`` turns them
into metrics.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen, oracle

K = 10
SERVE_NPROBE = 8
SERVE_CELLS = 64
TIERS = ("float", "sq8", "pq")
BULK_NPROBE = 8
# the bulk engine step's writes (25 delta rows on 16k indexed) are folded
# by the one maybe_compact that follows them
MAX_DELTA_FRACTION = 0.001
LSH_MIN_PLANTED_RECALL = 0.9


def _list_column(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32())
    )


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    pq.write_table(
        pa.table({id_col: pa.array(ids), vec_col: _list_column(vecs)}), path
    )


def write_documents(path: str, docs: datagen.Documents) -> None:
    pq.write_table(
        pa.table({
            "doc_id": pa.array(docs.doc_id),
            "text": pa.array(docs.text),
            "lang": pa.array(docs.lang),
            "source": pa.array(docs.source),
            "n_chars": pa.array(docs.n_chars),
        }),
        path,
    )


class Ops:
    """Runs and times tagged operations: ``plan`` (call until the lazy
    DataFrame returns) and ``exec`` (the action)."""

    def __init__(self, spark, tracer=None):
        self.sc = spark.sparkContext
        self.tracer = tracer

    def run(self, group: str, plan, action=lambda df: df.toPandas(), **attrs):
        self.sc.setJobGroup(group, group)
        if self.tracer is not None:
            self.tracer.set_op(group)
        rec = {"group": group, **attrs, "ok": True, "error": None}
        t0 = time.perf_counter()
        try:
            df = plan()
            t1 = time.perf_counter()
            out = action(df) if action is not None else df
            t2 = time.perf_counter()
        except Exception as exc:  # an operation failure is a measured outcome
            t1 = t2 = time.perf_counter()
            out = None
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:500])
        rec.update(start=t0, plan_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
        if isinstance(out, pd.DataFrame):
            rec["out_rows"] = len(out)
        print(f"op {group} plan={rec['plan_s']:.3f}s exec={rec['exec_s']:.3f}s"
              f"{'' if rec['ok'] else ' FAILED'}", file=sys.stderr, flush=True)
        return rec, out


class Phases:
    """Wall time of each set-up phase, for the report."""

    def __init__(self, t_start: float):
        self.walls = {}
        self._lap = t_start

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        self.walls[name] = now - self._lap
        self._lap = now


def _grouped(res, qids):
    return oracle.group_result(
        res["qid"].to_numpy(), res["neighbor_id"].to_numpy(),
        res["rank"].to_numpy(), res["dist_sq"].to_numpy(), qids,
    )


def _topk_check(res, Q, want) -> bool:
    if res is None:
        return False
    got = _grouped(res, np.arange(len(Q)))
    return all(oracle.result_matches(*got[q], want[q]) for q in range(len(Q)))


def _layout_check(index, want_pos: dict) -> tuple:
    """The index's cell of every row must be the one NumPy assigns."""
    layout = index.vectors().select("vec_id", "centroid_id").toPandas()
    cids = index.centroid_ids
    want = {i: int(cids[c]) for i, c in want_pos.items()}
    got = dict(zip(layout["vec_id"].tolist(), layout["centroid_id"].tolist()))
    return ("check", "index cell layout", got == want)


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


def serve(spark, work: str, seed: int, seconds: float, tracer, t_start):
    from vector_search_engine_spark.streaming.engine import VectorEngine

    phase = Phases(t_start)
    phase("session")
    inp = datagen.serve_inputs(seed)
    ops = Ops(spark, tracer)
    spark.sparkContext.setJobGroup("setup", "setup")
    corpus = os.path.join(work, "serve_corpus.parquet")
    write_vectors(corpus, inp.ids, inp.vecs)
    phase("inputs")
    eng = VectorEngine.create(
        spark.read.parquet(corpus), os.path.join(work, "engine"),
        n_centroids=SERVE_CELLS,
    )
    phase("build")
    eng.index.ensure_sq8()
    phase("sq8")
    eng.index.ensure_pq()
    phase("pq")
    qids = np.arange(datagen.SERVE_QUERIES_PER_REQUEST, dtype=np.int64)

    def search(i, tier, qset):
        return ops.run(
            f"serve:{tier}:{i}",
            lambda: eng.search((qids, inp.query_sets[qset]), k=K,
                               nprobe=SERVE_NPROBE, tier=tier),
            tier=tier, qset=qset,
        )

    warm = [search(f"warm{i}", tier, i) for i, tier in enumerate(TIERS)]
    phase("warm")
    setup_s = time.perf_counter() - t_start

    searches = []
    t_timed = time.perf_counter()
    i = 0
    # whole rotations only, so every tier has the same share of the
    # samples and the median does not depend on where the clock stops
    while i % len(TIERS) or time.perf_counter() - t_timed < seconds:
        tier = TIERS[i % len(TIERS)]
        searches.append(search(i, tier, (i + len(TIERS)) % len(inp.query_sets)))
        i += 1
    timed_s = time.perf_counter() - t_timed
    t_check = time.perf_counter()

    # ---- checks (outside the timed region) ----
    spark.sparkContext.setJobGroup("check", "check")
    C = eng.index.centroids
    cells = oracle.assign_cells(inp.vecs, C)
    checks = [_layout_check(eng.index, dict(zip(inp.ids.tolist(), cells.tolist())))]
    want = {}
    for rec, res in warm + searches:
        q = rec["qset"]
        if q not in want:
            want[q] = oracle.ivf_expected(
                inp.ids, inp.vecs, cells, inp.query_sets[q], C, SERVE_NPROBE, K
            )
        checks.append(("search", rec["group"],
                       rec["ok"] and _topk_check(res, inp.query_sets[q], want[q])))
    return {
        "setup_s": setup_s,
        "setup_phases": phase.walls,
        "timed_s": timed_s,
        "searches": [rec for rec, _ in searches],
        "checks": checks,
        "check_s": time.perf_counter() - t_check,
    }


# ---------------------------------------------------------------------------
# bulk: ANN data work, an engine write step, corpus curation
# ---------------------------------------------------------------------------


def bulk(spark, work: str, seed: int, seconds: float, tracer, t_start):
    from vector_search_engine_spark.operators import dedup, knn, retrieval, text_ops
    from vector_search_engine_spark.operators.ivf import IVFIndex
    from vector_search_engine_spark.streaming.engine import VectorEngine

    phase = Phases(t_start)
    phase("session")
    bv = datagen.bulk_vectors(seed)
    docs = datagen.documents(seed)
    ops = Ops(spark, tracer)
    spark.sparkContext.setJobGroup("setup", "setup")
    vpath = os.path.join(work, "bulk_vectors.parquet")
    write_vectors(vpath, bv.ids, bv.vecs)
    dq_path = os.path.join(work, "bulk_dist_queries.parquet")
    write_vectors(dq_path, np.arange(len(bv.dist_queries), dtype=np.int64),
                  bv.dist_queries, "qid", "query")
    dpath = os.path.join(work, "documents.parquet")
    write_documents(dpath, docs)
    vectors = spark.read.parquet(vpath)
    dist_q = spark.read.parquet(dq_path)
    documents = spark.read.parquet(dpath)
    terms = spark.createDataFrame(docs.term_queries, "query_id long, term string")
    inserts = spark.createDataFrame(
        pd.DataFrame({"vec_id": bv.insert_ids, "embedding": list(bv.insert_vecs)}),
        "vec_id long, embedding array<float>",
    )
    qids = np.arange(len(bv.queries), dtype=np.int64)
    eq = datagen.BULK_EXACT_QUERIES
    phase("inputs")
    setup_s = time.perf_counter() - t_start

    passes: list[dict] = []
    outputs: dict = {}
    t_timed = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - t_timed < seconds:
        root = os.path.join(work, f"bulk_engine_{n}")
        p: dict = {}
        rec, _ = ops.run(
            f"bulk:build:{n}",
            lambda: IVFIndex.build(vectors, os.path.join(root, "index")),
            action=None, op="build",
        )
        p["build"] = rec
        idx = IVFIndex(spark, os.path.join(root, "index"))
        eng = VectorEngine(spark, root)
        steps = [
            ("search", lambda: idx.search((qids, bv.queries), k=K, nprobe=BULK_NPROBE), True),
            # per-cell cogroup: the shape search_distributed documents for
            # dataset-sized query tables (the join shape ships every
            # (query, candidate) pair through Arrow)
            ("dist_search", lambda: idx.search_distributed(
                dist_q, k=K, nprobe=BULK_NPROBE, scan="cogroup"), True),
            ("exact", lambda: knn.knn_exact(vectors, (qids[:eq], bv.queries[:eq]), k=K), True),
            ("insert", lambda: eng.insert(inserts), False),
            ("delete", lambda: eng.delete(bv.delete_ids.tolist()), False),
            ("compact", lambda: eng.maybe_compact(max_delta_fraction=MAX_DELTA_FRACTION), False),
            ("bm25", lambda: retrieval.bm25_topk(documents, terms, k=K), True),
            ("lsh", lambda: dedup.minhash_lsh_pairs(documents), True),
            ("pipeline", lambda: text_ops.text_curation_pipeline(documents), True),
        ]
        for name, plan, collect in steps:
            rec, out = ops.run(
                f"bulk:{name}:{n}", plan, op=name,
                **({} if collect else {"action": None}),
            )
            p[name] = rec
            if n == 0:
                outputs[name] = out
        passes.append(p)
        n += 1
    timed_s = time.perf_counter() - t_timed
    t_check = time.perf_counter()

    # ---- checks (outside the timed region), on the first pass ----
    spark.sparkContext.setJobGroup("check", "check")
    checks = [("op", r["group"], r["ok"]) for p in passes for r in p.values()]
    checks.append(("check", "compaction folded the writes",
                   bool(outputs.get("compact"))))
    root = os.path.join(work, "bulk_engine_0")
    C = IVFIndex(spark, os.path.join(root, "index")).centroids
    cells = oracle.assign_cells(bv.vecs, C)
    truth = oracle.exact_expected(bv.ids, bv.vecs, bv.queries, K)
    want = oracle.ivf_expected(bv.ids, bv.vecs, cells, bv.queries, C, BULK_NPROBE, K)
    checks.append(("check", "ivf search",
                   _topk_check(outputs.get("search"), bv.queries, want)))
    extra = {}
    if outputs.get("search") is not None:
        got = _grouped(outputs["search"], qids)
        extra["recall_at_10"] = oracle.recall_at_k(got, truth, qids)
    checks.append(("check", "knn exact",
                   _topk_check(outputs.get("exact"), bv.queries[:eq], truth[:eq])))
    want = oracle.ivf_expected(bv.ids, bv.vecs, cells, bv.dist_queries, C, BULK_NPROBE, K)
    checks.append(("check", "ivf search_distributed",
                   _topk_check(outputs.get("dist_search"), bv.dist_queries, want)))
    # after the fold the index holds the upserted and new rows in their
    # nearest cells, and neither the deleted ids nor the old versions
    model = oracle.IngestModel(bv.ids, bv.vecs, C, cells)
    model.apply(("insert", bv.insert_ids, bv.insert_vecs))
    model.apply(("delete", bv.delete_ids, None))
    model.apply(("compact", None, None))
    checks.append(_layout_check(
        VectorEngine(spark, root).index,
        {i: c for i, (_, c) in model.indexed.items()},
    ))
    checks.extend(_check_text(outputs, docs))
    return {
        "setup_s": setup_s,
        "setup_phases": phase.walls,
        "timed_s": timed_s,
        "passes": passes,
        "checks": checks,
        "check_s": time.perf_counter() - t_check,
        "extra": extra,
    }


def _check_text(outputs: dict, docs: datagen.Documents) -> list:
    import duckdb

    from vector_search_engine_spark.operators import dedup, retrieval, text_ops

    con = duckdb.connect()
    con.register("documents", pd.DataFrame({
        "doc_id": docs.doc_id, "text": docs.text, "lang": docs.lang,
        "source": docs.source, "n_chars": docs.n_chars,
    }))
    checks = []
    values = ", ".join(f"({q}, '{t}')" for q, t in docs.term_queries)
    want = con.sql(
        f"WITH {retrieval._dd_bm25_ranked(values)} "
        'SELECT query_id, doc_id, "rank", bm25 FROM ranked WHERE "rank" <= 10'
    ).df()
    got = outputs.get("bm25")
    checks.append(("check", "bm25 vs duckdb",
                   got is not None and oracle.frames_equal(got, want)))
    got = outputs.get("lsh")
    ok = False
    if got is not None:
        ok, _ = oracle.check_lsh_pairs(
            got[["doc_a", "doc_b", "jaccard"]].itertuples(index=False),
            docs.text, docs.planted, dedup.JACCARD_THRESHOLD,
            LSH_MIN_PLANTED_RECALL,
        )
    checks.append(("check", "minhash lsh vs planted", ok))
    # the repo's cluster oracle is a recursive CTE that takes minutes at
    # this size; the clusters come from exact pairs computed here instead
    # (pinned to the same output by the tests) and the rest of the
    # pipeline oracle runs in DuckDB unchanged
    con.register("bench_clusters", oracle.jaccard_clusters(
        docs.text, docs.n_chars, dedup.JACCARD_THRESHOLD, dedup.LENGTH_BAND
    ))
    want = con.sql(text_ops.text_curation_oracle(
        "SELECT doc_id, cluster_id, cluster_size, is_canonical FROM bench_clusters"
    )).df()
    got = outputs.get("pipeline")
    checks.append(("check", "curation pipeline vs duckdb",
                   got is not None and oracle.frames_equal(got, want)))
    con.close()
    return checks
