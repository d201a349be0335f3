"""N-generation time travel over the index manifest (generalizes the
one-commit EBR grace): ``commit_cells(retain=N)`` keeps the last N
superseded snapshots' files on disk and pins each snapshot's cell map AND
centroid geometry in a manifest ``history`` list, so ``vectors()`` and
``search()`` accept as-of snapshot specs (snapshot_id, negative offset,
"prev") — Delta-style VERSION AS OF, built from the same immutable-files
mechanism that protects in-flight readers during compaction."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from vector_search_engine_spark.operators import knn as knn_ops
from vector_search_engine_spark.streaming.engine import VectorEngine


def _table(df):
    return sorted(tuple(r) for r in df.select("vec_id", "centroid_id").collect())


def _ids(df):
    return sorted(r.vec_id for r in df.select("vec_id").collect())


@pytest.fixture()
def engine3(spark, embeddings, tmp_path):
    base = embeddings.filter(F.col("vec_id") < 200)
    return VectorEngine(
        spark,
        VectorEngine.create(
            base, str(tmp_path / "eng3"), n_centroids=8
        ).root_dir,
        snapshot_retain=3,
    )


def test_retained_snapshots_stay_readable(spark, embeddings, engine3):
    states = [_table(engine3.index.vectors())]
    for lo, hi in ((200, 300), (300, 400), (400, 500)):
        engine3.insert(
            embeddings.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
        assert engine3.compact() > 0
        states.append(_table(engine3.index.vectors()))
    snaps = engine3.index.snapshots()
    # retain=3 -> current + 3 previous
    assert len(snaps) == 4
    # negative offsets walk back exactly through the recorded states
    for back in (1, 2, 3):
        assert _table(engine3.index.vectors(snapshot=-back)) == states[-1 - back]
    # absolute snapshot_ids resolve to the same views
    for entry, want in zip(snaps, states):
        assert _table(engine3.index.vectors(snapshot=entry["snapshot_id"])) == want
    assert _table(engine3.index.vectors(snapshot="prev")) == states[-2]
    with pytest.raises(ValueError, match="out of retained history"):
        engine3.index.vectors(snapshot=-4)


def test_asof_search_is_exact_over_old_state(spark, embeddings, engine3):
    old = embeddings.filter(F.col("vec_id") < 200)
    engine3.insert(embeddings.filter(F.col("vec_id") >= 200))
    assert engine3.compact() > 0
    q = knn_ops.make_queries(embeddings, n=5)
    full = engine3.index.meta["n_centroids"]
    got = engine3.index.search(q, k=10, nprobe=full, snapshot=-1)
    exact = knn_ops.knn_exact(old, q, k=10)
    srt = lambda df: [tuple(r) for r in df.orderBy("qid", "rank").collect()]
    assert srt(got) == srt(exact)
    # distributed tier pins the same historical view
    got_d = engine3.index.search_distributed(q, k=10, nprobe=full, snapshot=-1)
    assert srt(got_d) == srt(exact)


def test_default_retention_gcs_beyond_one_cycle(spark, embeddings, tmp_path):
    """retain defaults to 1: after two compactions the oldest snapshot's
    exclusive files are gone and history holds exactly 2 entries."""
    eng = VectorEngine.create(
        embeddings.filter(F.col("vec_id") < 200),
        str(tmp_path / "eng1"),
        n_centroids=8,
    )
    for lo, hi in ((200, 300), (300, 400)):
        eng.insert(
            embeddings.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
        assert eng.compact() > 0
    assert len(eng.index.snapshots()) == 2
    with pytest.raises(ValueError):
        eng.index.vectors(snapshot=-2)
    # gen=0-exclusive dirs were GC'd by the second commit (cells written in
    # both later gens supersede them; only still-referenced dirs survive)
    live = {
        (int(os.path.basename(os.path.dirname(d)).split("=")[1]),
         int(os.path.basename(d).split("=")[1]))
        for d in glob.glob(
            os.path.join(eng.index.index_dir, "vectors", "gen=*", "centroid_id=*")
        )
    }
    referenced = {
        (int(g), int(c))
        for e in (eng.index._read_manifest() or {}).get("history", [])
        for c, g in e["cells"].items()
    }
    assert live == referenced


def test_retained_files_survive_and_old_geometry_pins(spark, embeddings, engine3):
    """With retain=3 every retained snapshot's files survive three
    further commits, and an as-of read equals the state it pinned even
    after a rebalance changed the centroid set."""
    s0 = _ids(engine3.index.vectors())
    for lo, hi in ((200, 300), (300, 400)):
        engine3.insert(
            embeddings.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
        assert engine3.compact() > 0
    # force a geometry change: split any cell over 40 rows
    engine3.index.rebalance(max_cell_rows=40)
    # oldest retained snapshot still reads exactly the original ids
    assert _ids(engine3.index.vectors(snapshot=-3)) == s0


def test_prehistory_manifest_offset_minus_one_matches_prev(
    spark, embeddings, engine3
):
    """Offset -1 must resolve on a manifest written before the history
    feature existed (prev_cells grace only): -1 ≡ "prev" (ADVICE r3
    item 4); deeper offsets still raise."""
    import json

    engine3.insert(
        embeddings.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 300))
    )
    assert engine3.compact() > 0
    idx = engine3.index
    p = idx._manifest_path()
    with open(p) as f:
        m = json.load(f)
    m.pop("history", None)
    with open(p, "w") as f:
        json.dump(m, f)
    assert idx.manifest_at(-1) == idx.manifest_at("prev")
    with pytest.raises(ValueError, match="out of retained history"):
        idx.manifest_at(-2)


def test_asof_search_through_quantized_tiers(spark, embeddings, engine3):
    """AS-OF search composes with the quantized tiers: generation-keyed
    sidecars are built from the historical snapshot's own files, so
    search_sq8/search_pq(snapshot="prev") must equal search(snapshot=
    "prev") bit-for-bit at full probe — and differ from the current
    state's result (the folded rows prove the pin is real)."""
    idx = engine3.index
    q = knn_ops.make_queries(embeddings.filter(F.col("vec_id") < 200), n=5)
    np_full = idx.meta["n_centroids"]
    engine3.insert(
        embeddings.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 350))
    )
    assert engine3.compact() > 0

    def rows(df):
        return [tuple(r) for r in df.orderBy("qid", "rank").collect()]

    asof_float = rows(idx.search(q, k=10, nprobe=np_full, snapshot="prev"))
    asof_sq8 = rows(idx.search_sq8(q, k=10, nprobe=np_full, snapshot="prev"))
    asof_pq = rows(idx.search_pq(q, k=10, nprobe=np_full, snapshot="prev"))
    assert asof_sq8 == asof_float
    assert asof_pq == asof_float
    # the pinned view excludes every folded row
    assert all(t[1] < 200 for t in asof_float)
    # current-state quantized search sees the folded rows (fresh sidecar
    # for the new generation, not the historical one)
    cur_pq = rows(idx.search_pq(q, k=10, nprobe=np_full))
    assert cur_pq == rows(idx.search(q, k=10, nprobe=np_full))
    assert any(t[1] >= 200 for t in cur_pq) or cur_pq != asof_pq


def test_broadcast_tiers_share_one_asof_pipeline(spark, embeddings, tmp_path):
    """The six broadcast tiers run one probed-search pipeline: at a
    partial nprobe, with an exclude_ids DataFrame, a predicate and an
    as-of snapshot all at once — the snapshot given both as "prev" and
    as its manifest_at dict — every lossless tier returns search()'s
    rows exactly, and bq returns exact distances over unexcluded,
    qualifying ids from its query's probed cells of the pinned view."""
    import numpy as np

    eng = VectorEngine.create(
        embeddings.filter(F.col("vec_id") < 300),
        str(tmp_path / "eng"),
        n_centroids=8,
        extra_cols=("label",),
    )
    idx = eng.index
    eng.insert(embeddings.filter(F.col("vec_id") >= 300))
    assert eng.compact() > 0
    q = knn_ops.make_queries(embeddings.filter(F.col("vec_id") < 300), n=6)
    kw = dict(
        k=10,
        nprobe=3,
        exclude_ids=embeddings.select("vec_id").filter(F.col("vec_id") % 5 == 0),
        predicate=F.col("label") < 6,
    )
    prev = idx.manifest_at("prev")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    want = rows(idx.search(q, snapshot="prev", **kw))
    assert want and all(t[1] < 300 and t[1] % 5 for t in want)
    # the ids/labels/vectors of the pinned view, and each query's cells
    view = {
        r.vec_id: (r.centroid_id, r.label, np.asarray(r.embedding, np.float64))
        for r in idx.vectors(snapshot=prev).collect()
    }
    qrows = q.collect()
    qvec = {r.qid: np.asarray(r.query, np.float64) for r in qrows}
    probed = set(
        idx.probe_pairs(
            np.array([r.qid for r in qrows], dtype=np.int64),
            np.array([r.query for r in qrows], dtype=np.float32),
            3,
            centroid_set=idx._centroids_for(prev),
        )
    )
    for snap in ("prev", prev):
        assert rows(idx.search(q, snapshot=snap, **kw)) == want
        for tier in (
            lambda **a: idx.search_prefix(prefix_dims=8, **a),
            lambda **a: idx.search_prefix_pca(prefix_dims=8, **a),
            idx.search_sq8,
            lambda **a: idx.search_sq8(bits=4, **a),
            idx.search_pq,
        ):
            assert rows(tier(queries=q, snapshot=snap, **kw)) == want
        got = rows(idx.search_bq(q, snapshot=snap, **kw))
        assert got
        for qid, nid, _, dist in got:
            cell, label, v = view[nid]
            assert (qid, cell) in probed and label < 6 and nid % 5
            assert abs(dist - float(((v - qvec[qid]) ** 2).sum())) <= 6e-5


def test_sidecar_read_memo_never_outlives_its_files(
    spark, embeddings, monkeypatch, tmp_path
):
    """Each sidecar's lazy read is memoized (a warm search re-lists
    nothing), so the memo must go wherever sidecar files are deleted:
    invalidate_sidecars(), and a compaction whose commit GCs the old
    sidecar generation.  The next search rebuilds what it needs and
    stays exact — it never scans a memoized listing of deleted files."""
    eng = VectorEngine.create(
        embeddings.filter(F.col("vec_id") < 200),
        str(tmp_path / "eng"),
        n_centroids=8,
    )
    idx = eng.index
    q = knn_ops.make_queries(embeddings.filter(F.col("vec_id") < 200), n=5)
    full = idx.meta["n_centroids"]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def memo_dirs():
        return [key[0] for key in idx._read_memo if isinstance(key[0], str)]

    def assert_tiers_exact(**kw):
        want = rows(idx.search(q, k=10, nprobe=full, **kw))
        assert rows(idx.search_sq8(q, k=10, nprobe=full, **kw)) == want
        assert rows(idx.search_pq(q, k=10, nprobe=full, **kw)) == want

    # invalidate_sidecars(): a pre-manifest raw layout keys its sidecars
    # "raw", which no retained snapshot references, so the GC deletes
    # them and the next search rebuilds them at the SAME paths
    monkeypatch.setattr(type(idx), "_read_manifest", lambda self: None)
    assert_tiers_exact()
    raw = os.path.join(idx.index_dir, "sq8_genraw")
    assert raw in memo_dirs()
    idx.invalidate_sidecars()
    assert not os.path.exists(raw) and not idx._read_memo
    assert_tiers_exact()
    monkeypatch.undo()

    # compaction: with the default retain=1 the second commit evicts
    # gen 0, and the engine's sidecar GC deletes gen 0's codes
    assert_tiers_exact()
    gen0 = [d for d in memo_dirs() if "_gen0" in d]
    assert len(gen0) == 2
    for lo, hi in ((200, 300), (300, 400)):
        eng.insert(
            embeddings.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
        assert eng.compact() > 0
    assert not any(os.path.exists(d) for d in gen0)
    assert_tiers_exact()
    assert_tiers_exact(snapshot="prev")
    assert len(memo_dirs()) == 4
    assert all(os.path.exists(d) for d in memo_dirs())
