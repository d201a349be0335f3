"""Physical-plan contracts (SURVEY.md §4): the properties that make these
plans survive a 100 TB scale-up, asserted on the actual executed plans so
a regression in plan shape fails CI even while results stay correct.

Covered here: no unbounded cartesian product anywhere in the batch
surface, predicate pushdown reaching the parquet scan for filtered kNN,
and broadcast (not shuffle) joins for the TPC-H dimension tables.
Partition-pruning INSET contracts live in tests/test_ivf.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_search_engine_spark import load_table, registry
from vector_search_engine_spark.operators import knn as knn_ops

# batch queries cheap enough to plan-audit wholesale; streaming/engine
# queries build real engines (their plan contracts are tested in their
# own suites)
AUDIT = [
    "knn_exact_l2_sql",
    "knn_filtered",
    "tpch_pricing_summary",
    "tpch_top_unshipped_orders",
    "tpch_regional_revenue",
    "top_orders_per_customer",
    "customers_without_orders",
    "orders_above_customer_avg",
    "events_hourly_stats",
    "events_sessionize",
    "events_user_funnel",
    "ann_ivf_cosine",
    "ann_ivf_ip",
    "doc_stats",
    "doc_pii_scrub",
    "doc_quality_filter",
    "doc_dup_span_stats",
    "doc_unigram_stats",
    "doc_chunks",
    "corpus_ngram_stats",
    "corpus_mixture_sample",
    "dedup_exact",
    "dedup_ngram_jaccard",
    # r8 surface
    "knn_truncated_rescore",
    "doc_bm25_topk",
    "hybrid_search_rrf",
    "hybrid_search_rrf_weighted",
    "hybrid_search_mmr",
    "hybrid_retrieval_eval",
    "doc_tfidf_vectors",
    "lineitem_column_profile",
    "ann_ivf_prefix_filtered",
    "dedup_semantic",
    "knn_bq_rescore",
    # r8 third wave
    "knn_parent_closest",
    "ann_ivf_parent_closest",
    "knn_maxsim",
    "ann_ivf_sq4",
    "ann_ivf_filtered_auto",
    # r9
    "ann_ivf_cascade",
    "doc_bm25_topk_capped",
    "dedup_incremental",
    "ann_ivf_cosine_sq8",
    "ann_ivf_cascade_filtered",
    # r10
    "ann_ivf_graph",
    "ann_ivf_graph_filtered",
    "knn_radius_pairs",
    "knn_label_classify",
    "embeddings_knn_outliers",
    "embeddings_lof",
    "ann_ivf_classify",
    "embeddings_knn_triangles",
    "embeddings_knn_communities",
    "corpus_source_kl",
    "doc_bigram_logprob",
    "ann_ivf_radius_filtered",
    "embeddings_dbscan_ivf",
    # r14 third wave
    "corpus_dsir_weights",
    "corpus_dsir_sample",
    "dedup_containment",
    "embeddings_cluster_quality",
    "embeddings_effective_rank",
    "doc_tfidf_knn",
    "corpus_curriculum_order",
    "embeddings_effective_rank_by_label",
    "dedup_containment_ppjoin",
]


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", AUDIT)
def test_no_unbounded_cartesian(spark, sf_dir, name):
    """CartesianProduct is the O(N*M) shuffle-free disaster; the only
    legitimate all-pairs shapes here are broadcast nested-loop joins
    against a bounded (query/dim) side."""
    plan = _executed_plan(registry.QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, name


def test_knn_filter_reaches_parquet_scan(spark, sf_dir):
    # other suites cache() the embeddings table; the cached InMemoryRelation
    # would substitute for the scan and hide the pushdown we're asserting
    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    df = knn_ops.knn_filtered(
        emb, knn_ops.make_queries(emb), F.col("label") < 5, k=10
    )
    plan = _executed_plan(df)
    assert "PushedFilters: [" in plan and "LessThan(label,5)" in plan


def test_tpch_dimension_joins_broadcast(spark, sf_dir):
    """Region/nation/customer dims must broadcast — a shuffle join on the
    fact table's key is the scale mistake AQE can't always undo."""
    plan = _executed_plan(registry.QUERIES["tpch_regional_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastHashJoin") >= 2


@pytest.mark.parametrize("name", ["doc_pii_scrub", "doc_quality_filter"])
def test_pure_scan_text_ops_have_no_exchange(spark, sf_dir, name):
    """The scrub/filter passes are single-scan column plans; any Exchange
    appearing here means someone added a shuffle to an embarrassingly
    parallel operator."""
    plan = _executed_plan(registry.QUERIES[name](spark, sf_dir))
    assert "Exchange" not in plan, name
    assert "Python" not in plan, name  # no UDF in the hot path either


def test_bm25_small_sides_broadcast(spark, sf_dir):
    """BM25's query-term set, df table and corpus stats are all tiny and
    must broadcast; a shuffle join keyed on term would co-partition the
    whole postings table against a handful of rows."""
    plan = _executed_plan(registry.QUERIES["doc_bm25_topk"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "posting-side shuffle join crept in"


def test_semantic_dedup_single_shuffle_no_pair_join(spark, sf_dir):
    """SemDeDup's plan contract: ONE exchange (the cluster grouping) into
    a grouped-pandas GEMM — candidate pairs must never materialize as a
    join (a pair join is |cluster|^2 rows of shuffled vector payload)."""
    plan = _executed_plan(registry.QUERIES["dedup_semantic"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan, "pairs materialized as a join"
    assert plan.count("Exchange") <= 1, plan


def test_prefix_rescore_scan_prunes_columns(spark, sf_dir):
    """The prefix tier reads exactly (id, vector): extra columns in the
    scan would pay real bytes at 100 TB for nothing."""
    spark.catalog.clearCache()
    plan = _executed_plan(
        registry.QUERIES["knn_truncated_rescore"](spark, sf_dir)
    )
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans
    assert all("label" not in ln.split("ReadSchema")[-1] for ln in scans)


def test_filtered_pq_metadata_read_prunes_vector_column(spark, sf_dir):
    """Filtered search at a quantized tier evaluates the predicate on a
    METADATA-ONLY read of the probed cells: if the vector column leaks
    into that scan's ReadSchema, the tier's scan-byte win is gone at
    100 TB.  Assert at least one parquet scan in the executed plan reads
    (id, predicate columns) without the embedding column."""
    from vector_search_engine_spark.operators import ivf

    spark.catalog.clearCache()
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    df = index.search_pq(
        knn_ops.make_queries(emb),
        k=10,
        nprobe=index.meta["n_centroids"],
        predicate=F.col("label") < 5,
    )
    plan = _executed_plan(df)
    scans = [
        ln
        for ln in plan.splitlines()
        if "ReadSchema" in ln and "label" in ln.split("ReadSchema")[-1]
    ]
    assert scans, "no scan reading the predicate column found"
    assert any(
        "embedding" not in ln.split("ReadSchema")[-1] for ln in scans
    ), f"predicate scan also reads vector bytes: {scans}"


def test_parent_closest_reduces_before_shuffle(spark, sf_dir):
    """The multi-vector operators' 100 TB contract: the only exchange
    after the child-table scan carries the REDUCED (parent × query)
    frame emitted by the per-partition GEMM — the child vectors
    themselves are never shuffled (no join on the scan side at all for
    the flat form)."""
    plan = _executed_plan(registry.QUERIES["knn_parent_closest"](spark, sf_dir))
    # per-partition reduce runs in Python (mapInPandas), aggregation after
    assert "MapInPandas" in plan
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan, "child vectors shuffled into a join"


def test_maxsim_broadcasts_query_map(spark, sf_dir):
    """MaxSim's qvec→qid map is |subvectors| rows and must broadcast; the
    two aggregations (max, then sum) are both partial-aggregated."""
    plan = _executed_plan(registry.QUERIES["knn_maxsim"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_joins_on_digest_only(spark, sf_dir):
    """The batch-vs-seen join must key on the md5 digest with no
    cartesian and no text bytes crossing the join — the rolling
    signature table is the 16-byte artifact, not the corpus."""
    plan = _executed_plan(registry.QUERIES["dedup_incremental"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the join keys on text_md5 (digest), never raw text
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines and all("text#" not in ln for ln in join_lines), plan


def test_cascade_stage2_broadcasts_candidates(spark, sf_dir):
    """The cascade's SQ8 stage must join the stage-1 candidate list into
    the (partition-pruned) code scan by BROADCAST — a shuffle join there
    would co-partition the whole int8 sidecar against a per-query
    candidate handful, defeating the staged-bytes design."""
    plan = _executed_plan(registry.QUERIES["ann_ivf_cascade"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "code-side shuffle join crept in"
    assert plan.count("MapInPandas") >= 2  # both cut stages are Arrow UDFs


def test_bm25_capped_guard_stays_broadcast(spark, sf_dir):
    """The df-capped BM25 keeps the same broadcast discipline as the
    uncapped plan: the kept-term set (df guard) and stats sides must
    broadcast into the postings scan, never shuffle it."""
    plan = _executed_plan(
        registry.QUERIES["doc_bm25_topk_capped"](spark, sf_dir)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "posting-side shuffle join crept in"


def test_graph_walk_prunes_sidecar_and_groups_per_cell(spark, sf_dir):
    """The graph tier's plan contract: the HNSW sidecar scan prunes to
    the probed cells (partition filter on centroid_id — Catalyst playing
    the reference's upper-layer routing role), and the beam walk runs as
    ONE grouped-pandas kernel per cell (the stateful walk is the only
    Python in the plan)."""
    plan = _executed_plan(registry.QUERIES["ann_ivf_graph"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert any(
        "PartitionFilters" in ln and "centroid_id" in ln
        for ln in plan.splitlines()
    ), plan


def test_filtered_auto_prefilter_scans_survivors_only(spark, sf_dir):
    """The planner's prefilter route must push the predicate into the
    parquet scan (survivors are selected AT the scan, not post-hoc) —
    that is the entire point of choosing the route."""
    from vector_search_engine_spark.operators import ivf

    spark.catalog.clearCache()
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    q = knn_ops.make_queries(emb, n=5)
    df = index.search_filtered(
        q,
        k=10,
        nprobe=1,
        predicate=(F.col("label") == 3) & (F.col("vec_id") % 10 == 0),
        strategy="prefilter",
    )
    plan = _executed_plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("label" in ln for ln in pushed), plan


def test_frequent_ngrams_recount_broadcasts_candidates(spark, sf_dir):
    """frequent_ngrams' exact recount must join the exploded grams
    against a BROADCAST candidate set (the Misra-Gries pass bounds it to
    ~2N/threshold) — a shuffle join here would re-shuffle the full
    posting list, which the operator exists to avoid.  The recount agg
    must stay partial (map-side) so the shuffle is <= |candidates| rows
    per partition."""
    from vector_search_engine_spark.operators import text_ops

    docs = load_table(spark, sf_dir, "documents")
    plan = _executed_plan(text_ops.frequent_ngrams(docs, threshold=5))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "posting-side shuffle join crept in"
    assert "partial_count" in plan, "recount lost map-side partial agg"


def test_pagerank_iteration_aggregates_before_shuffle(spark):
    """One PageRank step's contribution aggregation must be map-side
    partial (HashAggregate before the Exchange on dst): the per-edge
    contribution rows never shuffle raw."""
    import pandas as pd

    from vector_search_engine_spark.operators import graph as graph_ops

    edges = spark.createDataFrame(
        pd.DataFrame(
            [(i, (i + 1) % 50) for i in range(50)], columns=["src", "dst"]
        ),
        "src long, dst long",
    )
    pr = graph_ops.pagerank(edges, iterations=1)
    # ranks is localCheckpoint'ed; audit the step plan instead by
    # re-building one iteration symbolically
    nodes = edges.select(F.col("src").alias("node")).distinct()
    deg = edges.groupBy("src").agg(F.count("*").cast("double").alias("outdeg"))
    ranks = nodes.withColumn("pr", F.lit(1.0 / 50))
    step = (
        edges.join(deg, "src")
        .join(ranks.select(F.col("node").alias("src"), "pr"), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("c"))
    )
    plan = _executed_plan(step)
    assert "partial_sum" in plan, "contribution agg lost map-side partial"
    assert pr.count() == 50


def test_knn_classify_label_join_broadcasts(spark, sf_dir):
    """The label attach in knn_classify joins a TINY (|Q|*k rows)
    neighbor list against the full labeled table: the neighbor side
    must broadcast so the big table streams — a SortMergeJoin here
    would shuffle all N labeled rows for a 200-row lookup."""
    from vector_search_engine_spark.operators import knn as knn_ops

    emb = load_table(spark, sf_dir, "embeddings")
    df = knn_ops.knn_classify(emb, knn_ops.make_queries(emb), k=10)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "label join shuffled the big side"


def test_outlier_topn_is_take_ordered(spark, sf_dir):
    """knn_outlier_scores' global cut must be TakeOrderedAndProject
    (partial per-partition top-n, merge on driver) — a full Sort +
    GlobalLimit would shuffle every (point, score) row to one
    partition."""
    from vector_search_engine_spark.operators import knn as knn_ops

    emb = load_table(spark, sf_dir, "embeddings")
    df = knn_ops.knn_outlier_scores(emb, k=5, top_n=50)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_dbscan_degree_agg_is_partial(spark):
    """DBSCAN's density gate (neighbor degree count) must aggregate
    map-side before the node-key shuffle: the epsilon graph's edge rows
    never shuffle raw."""
    import pandas as pd

    edges = spark.createDataFrame(
        pd.DataFrame(
            [(i, (i + 1) % 40) for i in range(40)], columns=["id_a", "id_b"]
        ),
        "id_a long, id_b long",
    )
    sym = edges.select(
        F.col("id_a").alias("node"), F.col("id_b").alias("nbr")
    ).union(
        edges.select(F.col("id_b").alias("node"), F.col("id_a").alias("nbr"))
    )
    deg = sym.groupBy("node").agg(F.count("*").alias("_deg"))
    plan = _executed_plan(deg)
    assert "partial_count" in plan, "degree agg lost map-side partial"


def test_lpa_histogram_agg_is_partial(spark):
    """One label-propagation round's (node, label) histogram must
    aggregate map-side before the node shuffle — edge rows never
    shuffle raw."""
    import pandas as pd

    from vector_search_engine_spark.operators import graph as graph_ops

    edges = spark.createDataFrame(
        pd.DataFrame([(i, (i + 1) % 30) for i in range(30)],
                     columns=["src", "dst"]),
        "src long, dst long",
    )
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    hist = (
        sym.join(labels.select(F.col("node").alias("dst"), "lbl"), "dst")
        .groupBy(F.col("src").alias("node"), "lbl")
        .agg(F.count("*").alias("c"))
    )
    plan = _executed_plan(hist)
    assert "partial_count" in plan, "LPA histogram lost map-side partial"
    # the real operator converges this graph to one community
    out = graph_ops.label_propagation(edges, iterations=4)
    assert out.count() == 30


def test_source_overlap_joins_on_shingle_never_cartesian(spark, sf_dir):
    """The contamination matrix's pair generator must be the
    shingle-keyed equi-join (group size bounded by source count), never
    an all-pairs product; the sketch variant's only product is the
    broadcast S-row signature matrix."""
    plan = _executed_plan(
        registry.QUERIES["corpus_source_overlap"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    # equi-join on the shingle key: broadcast at fixture scale, shuffle
    # hash / sort-merge once AQE sees real postings volume
    assert any(
        j in plan
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    sketch = _executed_plan(
        registry.QUERIES["corpus_source_overlap_minhash"](spark, sf_dir)
    )
    assert "CartesianProduct" not in sketch
    assert "BroadcastNestedLoopJoin" in sketch  # the S-row matrix, bounded


def _sidecar_scan_pruned(plan: str, column: str) -> bool:
    """True when every parquet scan reading the sidecar-only ``column``
    carries a centroid_id partition filter (the plan string truncates
    long filter lists and scan paths, so the scan is found by its
    column and only the filter's head is checked)."""
    import re

    scans = [
        line for line in plan.splitlines()
        if "FileScan parquet" in line and re.search(rf"[\[,]{column}#\d", line)
    ]
    return bool(scans) and all(
        re.search(r"PartitionFilters: \[\s*centroid_", line) for line in scans
    )


def test_prefix_pca_sidecar_read_prunes_partitions(spark, sf_dir):
    """The rotated sidecar scan must prune to the probed cells (the
    tier rides the same centroid_id partitioning as the float cells)."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_mod.build_or_load(spark, sf_dir)
    q = knn_ops.make_queries(emb)
    plan = _executed_plan(idx.search_prefix_pca(q, k=10, nprobe=2))
    assert "CartesianProduct" not in plan
    assert _sidecar_scan_pruned(plan, "rotvec"), (
        "sidecar scan lost its centroid_id partition filter"
    )


@pytest.mark.parametrize(
    "method, column",
    [("search_sq8", "lo"), ("search_pq", "resid"), ("search_bq", "dim")],
)
def test_quantized_sidecar_reads_prune_partitions(spark, sf_dir, method, column):
    """Every code-sidecar scan goes through the shared memoized cell
    reader and must still read only the probed centroid_id cells —
    also on a warm search, which reuses the memoized DataFrame."""
    from vector_search_engine_spark.operators import ivf as ivf_mod

    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    idx = ivf_mod.build_or_load(spark, sf_dir)
    q = knn_ops.make_queries(emb)
    for _ in range(2):
        plan = _executed_plan(getattr(idx, method)(q, k=10, nprobe=2))
        assert "CartesianProduct" not in plan
        assert _sidecar_scan_pruned(plan, column), (
            f"{method}: sidecar scan lost its centroid_id partition filter"
        )


def test_k_core_rounds_aggregate_before_shuffle(spark, sf_dir):
    """Each peeling round's degree count must be a partial (map-side)
    aggregate feeding the exchange — the bounded-shuffle property every
    iterative operator here maintains."""
    from vector_search_engine_spark.operators.graph import k_core

    e = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            (F.col("vec_id") % 50).alias("src"),
            ((F.col("vec_id") * 7 + 3) % 50).alias("dst"),
        )
    )
    plan = _executed_plan(k_core(e, k=2, rounds=2))
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_sq8_distributed_prunes_code_scan_floats_only_at_rescore(
    spark, sf_dir
):
    """The bulk-query quantized tier's 100 TB contract (r12): the SQ8
    code sidecar scan is partition-pruned to the probed cells and reads
    only (id, code, lo, hi) — never the float vector; every INDEX float
    scan in the plan is likewise pruned AND appears only as the rescore
    join side (its columns carry no code bytes).  This is the scan-byte
    cut the r11 verdict named missing: candidates come from 4× fewer
    bytes, floats are read for survivors only."""
    from vector_search_engine_spark.operators import ivf

    spark.catalog.clearCache()
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    df = index.search_sq8_distributed(
        knn_ops.make_queries(emb), k=10, nprobe=2
    )
    df.collect()
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    code_scans = [ln for ln in scans if "code#" in ln]
    index_float_scans = [
        ln
        for ln in scans
        if "embedding" in ln.split("ReadSchema")[-1]
        and "centroid_id#" in ln
        and "code#" not in ln
    ]
    assert code_scans, "no code-sidecar scan found"
    for ln in code_scans:
        assert "INSET" in ln, f"code scan not pruned: {ln}"
        assert (
            "embedding" not in ln.split("ReadSchema")[-1]
        ), f"code scan reads float bytes: {ln}"
    assert index_float_scans, "no rescore float scan found"
    for ln in index_float_scans:
        assert "INSET" in ln, f"float scan not pruned: {ln}"


def test_cascade_distributed_bq_scan_pruned_no_cartesian(spark, sf_dir):
    """Bulk-query cascade: the 1-bit BQ scan (stage 1) and the int8 scan
    (stage 2) are both partition-pruned; all three stages are Arrow
    kernels (MapInPandas); no cartesian anywhere."""
    from vector_search_engine_spark.operators import ivf

    spark.catalog.clearCache()
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    df = index.search_cascade_distributed(
        knn_ops.make_queries(emb), k=10, nprobe=2, candidates_per_cell=40
    )
    df.collect()
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("MapInPandas") >= 3  # probes + bq_cut + sq_cut
    code_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "code#" in ln
    ]
    assert len(code_scans) >= 2, "expected both BQ and SQ8 code scans"
    for ln in code_scans:
        assert "INSET" in ln, f"code scan not pruned: {ln}"
        assert (
            "embedding" not in ln.split("ReadSchema")[-1]
        ), f"code scan reads float bytes: {ln}"


def test_engine_search_distributed_sq8_excludes_shadowed_pre_cut(
    spark, sf_dir, tmp_path
):
    """r13: the merged bulk-query contract's plan shape — shadowed ids
    leave the CODE side via an anti-join BEFORE the bound cut (LeftAnti
    in the executed plan), the code scan reads no float bytes, and no
    cartesian product appears anywhere (the delta side is the block
    cogroup, the query side the probe kernel)."""
    from vector_search_engine_spark.streaming.engine import VectorEngine

    spark.catalog.clearCache()
    emb = load_table(spark, sf_dir, "embeddings")
    eng = VectorEngine.create(
        emb.filter(F.col("vec_id") < 400),
        str(tmp_path / "eng"),
        n_centroids=8,
    )
    eng.insert(emb.filter(F.col("vec_id") >= 350))  # 50-id shadow overlap
    df = eng.search_distributed(
        knn_ops.make_queries(emb), k=10, nprobe=8, tier="sq8"
    )
    df.collect()
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan, "shadowed-id exclusion missing from plan"
    code_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln and "code#" in ln
    ]
    assert code_scans, "no code-sidecar scan found"
    for ln in code_scans:
        assert (
            "embedding" not in ln.split("ReadSchema")[-1]
        ), f"code scan reads float bytes: {ln}"


def test_radius_distributed_scan_pruned_no_cartesian(spark, sf_dir):
    """r13: the bulk-query RANGE path keeps the triangle-inequality
    prune as a partition filter (INSET on the index float scan) and
    joins probes to cells by equi-join, never cartesian."""
    from vector_search_engine_spark.operators import ivf
    from vector_search_engine_spark.registry.vectors import RADIUS_SQ

    spark.catalog.clearCache()
    index = ivf.build_or_load(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    df = index.radius_search_distributed(
        knn_ops.make_queries(emb), RADIUS_SQ
    )
    df.collect()
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    idx_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan parquet" in ln
        and "centroid_id#" in ln
        and "embedding" in ln.split("ReadSchema")[-1]
    ]
    assert idx_scans, "no index float scan found"
    for ln in idx_scans:
        assert "INSET" in ln, f"index scan not pruned: {ln}"


def test_hard_negatives_gemm_pass_single_exchange_no_nn_join(spark, sf_dir):
    """r14: the hard-negative candidate pass is a mapInPandas GEMM over
    the vector scan (no N x |Q| join anywhere), and the two finishing
    windows share ONE (qid)-hash exchange — row_number over
    (qid, is_same) and the per-qid radius max must not re-shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("query"),
        F.col("label").alias("qlabel"),
    )
    df = knn_ops.hard_negatives(emb, anchors)
    df.collect()
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes both plans
    n_exchanges = sum(
        1
        for ln in final.splitlines()
        if "Exchange hashpartitioning" in ln and "qid#" in ln
    )
    assert n_exchanges == 1, f"expected one qid exchange, saw {n_exchanges}"


def test_pipeline_embedding_curation_no_cartesian_pairs_blocked(spark, sf_dir):
    """r14: the cross-table pipeline joins embeddings to the quality
    survivors by id equi-join and generates near-dup pairs through the
    broadcast-GEMM similarity join — no cartesian product in the
    executed plan."""
    df = registry.QUERIES["pipeline_embedding_curation"](spark, sf_dir)
    df.collect()
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan


def test_dsir_single_corpus_scan_broadcast_ratio_join(spark, sf_dir):
    """r14 third wave: the DSIR weight plan must (a) scan+explode the
    corpus ONCE — the doc-bucket aggregate is pinned and all five model
    branches derive from the pin, not from re-scans — and (b) join the
    B-row log-ratio table back by BROADCAST, never a shuffle of the
    doc-bucket side on the bucket key."""
    from vector_search_engine_spark.operators import text_ops

    spark.catalog.clearCache()
    docs = load_table(spark, sf_dir, "documents")
    df = text_ops.dsir_weights(docs)
    df.collect()
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    # r15: the doc-bucket aggregate is pinned with an EAGER
    # localCheckpoint (ContextCleaner-tracked, unlike the r14 .cache()
    # the advisor flagged as never-unpersisted), so the single
    # corpus-scan+explode happened in the checkpoint's own job and the
    # weight plan derives every branch from the checkpoint RDD: the
    # executed plan must contain NO corpus FileScan and NO gram explode
    # at all — a model branch bypassing the pin would re-introduce both.
    assert "Scan ExistingRDD" in final, final
    assert "FileScan parquet" not in plan
    assert "Generate explode" not in plan
    assert "posexplode" not in final.lower()
    # the only bucket-keyed exchanges allowed are the MODEL aggregates
    # (map-side partial HashAggregate first, B-row output); the scoring
    # join itself must not shuffle the doc-bucket side — with the join
    # broadcast, every bucket exchange in the plan is preceded by a
    # partial aggregate
    for ln_no, ln in enumerate(lines := final.splitlines()):
        if "Exchange hashpartitioning(bucket" in ln:
            assert any(
                "HashAggregate" in prev for prev in lines[ln_no + 1 : ln_no + 3]
            ), f"bucket exchange without partial agg below it:\n{ln}"


def test_containment_single_scan_no_cartesian(spark, sf_dir):
    """r14 third wave: containment rides the single-scan inverted-index
    plan — one documents scan feeding the shingle-hash groupBy; pairs
    materialize only in-group (no join of postings against postings, no
    cartesian, no broadcast NL join)."""
    spark.catalog.clearCache()
    df = registry.QUERIES["dedup_containment"](spark, sf_dir)
    df.collect()
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert final.count("FileScan parquet") == 1
    assert "SortMergeJoin" not in final  # pairs come from in-group explode


def test_cluster_quality_centroids_broadcast_points_never_pair(spark, sf_dir):
    """r14 third wave: the per-point scatter join must broadcast the
    |labels|*d centroid table onto the exploded points (a shuffle of
    N*d point rows on (label, dim) is the scale mistake), and no
    point-point pair shape may appear anywhere."""
    spark.catalog.clearCache()
    df = registry.QUERIES["embeddings_cluster_quality"](spark, sf_dir)
    df.collect()
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastHashJoin" in final


def test_text_curation_pipeline_single_tokenization(spark, sf_dir):
    """r16 one-tokenization contract: the composed pipeline tokenizes
    the corpus ONCE into a pinned checkpoint, so the returned frame's
    optimized plan must contain ZERO parquet relations — every stage
    downstream reads the token checkpoint (LogicalRDD), never the raw
    documents table (pre-pin, three stage families each re-scanned and
    re-split the corpus; SCALING finding 43c measured the cut at 100k:
    162 s → 85 s)."""
    from vector_search_engine_spark.operators import text_ops

    docs = load_table(spark, sf_dir, "documents")
    out = text_ops.text_curation_pipeline(docs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "parquet" not in plan.lower(), plan[:2000]
    assert "LogicalRDD" in plan  # the pinned token checkpoint


def test_salted_md5_family_has_one_definition():
    """r15 (finding-28 lesson applied to hash discipline): every
    Spark-side 60-bit salted-md5 draw — the primitive ALL portable
    oracles replay — must route through functions.hashing.  An inline
    F.substring(F.md5(...), 1, 15) twin anywhere else can drift from
    the canonical definition without any oracle noticing until the salt
    or width diverges; this scan makes the single-definition contract
    structural.  (DuckDB oracle SQL strings legitimately carry the
    substr(md5(...), 1, 15) REPLAY of the same family, and simhash's
    two 32-bit conv halves are a different 64-bit derivation — neither
    matches this pattern.)"""
    import pathlib
    import re

    pkg = pathlib.Path(
        __file__
    ).resolve().parent.parent / "vector_search_engine_spark"
    # Non-greedy [\s\S] spans NESTED parens and newlines (r15's [^)]*
    # stopped at the first inner ')' and missed 3 of 4 historical
    # inline-twin shapes — r16 advisor fix); the trailing ", 1, 15"
    # still excludes simhash's width-8 halves.
    pat = re.compile(r"F\.substring\(\s*F\.md5\([\s\S]*?\)\s*,\s*1\s*,\s*15")
    # self-test: the pattern must catch every historical inline-twin
    # shape it was written for, and still skip the simhash width-8 form
    historical = [
        'F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 15)',
        'F.substring(F.md5(F.col("term")), 1, 15)',
        'F.substring(\n    F.md5(F.concat_ws("|", F.lit(s), F.col("doc_id"))),\n    1, 15)',
        'F.substring(F.md5(key), 1, 15)',
    ]
    for form in historical:
        assert pat.search(form), f"guard regex must match: {form}"
    assert not pat.search('F.substring(F.md5("tok"), 1, 8)')
    offenders = [
        str(p)
        for p in pkg.rglob("*.py")
        if p.name != "hashing.py" and pat.search(p.read_text())
    ]
    assert offenders == [], offenders
