"""The two IVF search shapes — broadcast serving (``_probed_search`` /
``_broadcast_scan``) and the per-cell cogroup for query tables too large
to collect (``_cogroup_search``) — run the same tier kernels, so every
cogroup form must equal its broadcast form row for row; plus the shared
kernel tiling and the bounded metadata memos both shapes read."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_search_engine_spark.operators import ivf
from vector_search_engine_spark.operators import knn as knn_ops
from vector_search_engine_spark.operators.ivf import IVFIndex

K = 5
NPROBE = 3
RADIUS_SQ = 1.5


@pytest.fixture(scope="module")
def index(spark, embeddings, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("shapes") / "index")
    return IVFIndex.build(embeddings, d, n_centroids=8, extra_cols=("label",))


def _shape_pairs(index, q, exclude_ids, predicate) -> dict:
    """(broadcast form, cogroup form) per tier, at nprobe 3 with the
    exclusion and the predicate applied together."""
    kw = dict(exclude_ids=exclude_ids, predicate=predicate)
    top = dict(k=K, nprobe=NPROBE, **kw)
    unbounded = dict(candidates_per_cell=10**9, **top)
    return {
        "float": (
            index.search(q, **top),
            index.search_distributed(q, scan="cogroup", **top),
        ),
        "sq8": (
            index.search_sq8(q, bits=8, **top),
            index.search_sq8_distributed(q, bits=8, **top),
        ),
        "sq4": (
            index.search_sq8(q, bits=4, **top),
            index.search_sq8_distributed(q, bits=4, **top),
        ),
        "cascade": (
            index.search_cascade(q, **unbounded),
            index.search_cascade_distributed(q, **unbounded),
        ),
        "radius": (
            index.radius_search(q, RADIUS_SQ, **kw),
            index.radius_search_distributed(q, RADIUS_SQ, **kw),
        ),
    }


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def _filters(embeddings):
    excl = embeddings.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    return excl, F.col("label") < 5


def test_cogroup_forms_equal_broadcast_forms(spark, embeddings, index):
    """Each cogroup form equals its broadcast form row for row under an
    exclude_ids DataFrame and a predicate together — and neither returns
    an excluded or non-qualifying id."""
    q = knn_ops.make_queries(embeddings, n=8)
    excl, pred = _filters(embeddings)
    banned = {r[0] for r in excl.collect()} | {
        r[0] for r in embeddings.filter(~pred).select("vec_id").collect()
    }
    for tier, (bcast, cogroup) in _shape_pairs(index, q, excl, pred).items():
        want = _rows(bcast)
        assert want, tier
        assert _rows(cogroup) == want, tier
        assert not {r[1] for r in want} & banned, tier


def test_kernel_query_tiling_changes_no_output(
    spark, embeddings, index, monkeypatch
):
    """A tiny tile bound makes every kernel call see one query column at
    a time; float, sq8, sq4, cascade and radius still return, in both
    shapes, exactly their untiled output."""
    q = knn_ops.make_queries(embeddings, n=8)
    excl, pred = _filters(embeddings)
    untiled = {
        tier: tuple(_rows(df) for df in dfs)
        for tier, dfs in _shape_pairs(index, q, excl, pred).items()
    }
    monkeypatch.setattr(ivf, "_TILE_CELLS", 1)
    for tier, dfs in _shape_pairs(index, q, excl, pred).items():
        assert tuple(_rows(df) for df in dfs) == untiled[tier], tier


def test_scan_cell_tiles_query_columns():
    """``_scan_cell`` hands the kernel at most ``tile // len(ids)``
    query columns per call and returns one result per query, in order."""
    calls = []

    def kernel(state, qidx, cell, ids, V):
        calls.append(list(qidx))
        return [(cell, int(j)) for j in qidx]

    ids = np.arange(4)
    got = ivf._scan_cell(kernel, None, list(range(7)), 3, ids, [ids], 8)
    assert got == [(3, j) for j in range(7)]
    assert calls == [[0, 1], [2, 3], [4, 5], [6]]
    calls.clear()
    ivf._scan_cell(kernel, None, list(range(7)), 3, ids, [ids], 1)
    assert calls == [[j] for j in range(7)]


def test_radius_memo_tracks_generations(spark, embeddings, tmp_path):
    """The per-cell radii behind every triangle prune are memoized per
    generation and shared by radius_search, radius_search_distributed and
    search_exact_bounded_distributed: two calls at one generation leave
    one memo entry, and after a compaction moves a row beyond its cell's
    old radius all three still equal brute force."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    base = embeddings.filter(F.col("vec_id") < 400)
    eng = VectorEngine.create(base, str(tmp_path / "eng"), n_centroids=4)
    index = eng.index
    moved_id = 7
    far = base.filter(F.col("vec_id") == moved_id).withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: x + F.lit(50.0)).cast(
            "array<float>"
        ),
    )
    q = far.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("query")
    ).unionByName(knn_ops.make_queries(base, n=4))

    def check_all():
        vecs = index.vectors()
        want_r = _rows(knn_ops.radius_search(vecs, q, RADIUS_SQ))
        assert _rows(index.radius_search(q, RADIUS_SQ)) == want_r
        assert _rows(index.radius_search_distributed(q, RADIUS_SQ)) == want_r
        want_k = _rows(knn_ops.knn_exact(vecs, q, k=3))
        got_k = index.search_exact_bounded_distributed(q, k=3, nprobe_seed=1)
        assert _rows(got_k) == want_k
        return want_r

    before = check_all()
    index.radius_search(q, RADIUS_SQ).count()
    assert len(index._radii_cache) == 1
    old_r = index._cell_radii(index._read_manifest())

    eng.insert(far)
    eng.compact()
    snap = index._read_manifest()
    row = (
        index.vectors()
        .filter(F.col("vec_id") == moved_id)
        .select("centroid_id", "dist_to_centroid")
        .first()
    )
    cids, _ = index._centroids_for(snap)
    cell = int(np.flatnonzero(cids == row["centroid_id"])[0])
    assert np.sqrt(row["dist_to_centroid"]) > old_r[cell]
    after = check_all()
    assert (moved_id, moved_id, 0.0) in after
    assert (moved_id, moved_id, 0.0) not in before
    assert len(index._radii_cache) == 2


def test_read_memo_keeps_hot_snapshot(spark, index):
    """The read memo evicts its least recently used entry: a snapshot
    that keeps being searched survives any number of colder keys, and
    the memo stays bounded."""
    idx = IVFIndex(spark, index.index_dir)
    hot = idx.vectors()
    for i in range(17):
        idx._memo_read(("cold", i), lambda: hot)
        assert idx.vectors() is hot
    assert idx.vectors() is hot
    assert len(idx._read_memo) == 16
    assert ("cold", 0) not in idx._read_memo
