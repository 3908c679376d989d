"""Physical-plan regression guards: the plans that make the engine
scale-safe must not silently regress into quadratic shapes."""

import re

import pytest

import __spark_entry__ as E

from conftest import SF_TINY

# representative queries per family; s1 is excluded (its BNLJ against a
# ~5-row broadcast query set is the intended plan); e5-e8 are excluded
# because building them EXECUTES a streaming query (their batch twins
# e1-e4 guard the same logical shapes)
GUARDED = [
    "g1_match_label",
    "g2_match_rel_where",
    "g3_two_hop",
    "g5_create_rel",
    "g9_create_node",
    "x5_asof_join",
    "x6_range_count",
    "x7_time_rollup",
    "x8_skew_agg",
    "x15_local_supplier_volume",
    "x16_small_order_revenue",
    "x18_promo_revenue",
    "t9_redact_pii",
    "t10_chunk_passages",
    "s6_label_centroids",
    "d6_passage_dups",
    "t3_token_shards",
    "s2_cosine_dups",
    "s4_knn_ivf",
    "d2_ngram_jaccard",
    "d3_minhash_lsh",
    "e1_event_window",
    "e2_sessionize",
    "e3_stream_dedup",
    "e4_stream_join",
    "x24_volume_shipping",
    "x25_waiting_suppliers",
    "x27_top_suppliers",
    "x28_order_priority",
    "x29_market_share",
    "x30_supplier_parts",
    "t14_stratified_sample",
    "a9_degree_histogram",
    "a10_clustering_coefficient",
    "x31_order_distribution",
    "x32_returned_items",
    "x33_forecast_revenue",
    "x34_late_shipments",
    "x35_funnel",
    "x36_retention",
    "t15_quality_filter",
    "e13_sliding_window",
    "d11_passage_fuzzy",
    "s9_lsh_cosine_dups",
    "m4_thumbnails",
    "x40_gap_fill",
    "x42_latest_per_key",
    "e18_daily_topk",
    "m5_audio_frames",
    "x43_scd2_intervals",
    "x44_price_histogram",
    "d13_bloom_incremental",
    "d14_containment",
    "x45_product_profit",
    "x46_excess_stock",
    "x51_window_ranks",
    "x52_snapshot_diff",
    "d16_source_dup_matrix",
    "m6_patch_grid",
    "m7_modality_interleave",
    "t22_decontaminated_train",
    "x53_segment_trend",
    "x54_revenue_unpivot",
    "x55_zorder_layout",
    "x57_copurchase_pairs",
    "e21_dimension_asof",
    "d17_dedup_weights",
    "x58_incremental_agg",
    "e24_watermark_audit",
    "g24_bulk_merge",
    "s14_similarity_histogram",
    "x59_dq_rules",
    "m8_contrastive_pairs",
    "a13_modularity",
    "a15_link_prediction",
    "x64_peak_open_orders",
    "t26_zipf_fit",
    "e25_changepoint",
    "d9_edit_verified_dups",
    "m9_augmentation_plan",
    "e27_chained_agg_stream",
    "x65_orc_roundtrip",
    "x66_hierarchy_rollup",
    "x67_spatial_join",
    "x68_target_encoding",
    "x69_order_streaks",
    "x70_twap",
    "x71_ohlc",
    "t28_blocklist_filter",
    "t29_sequence_packing",
    "a17_random_walks",
    "d20_prefix_filter_pairs",
    "x72_linear_attribution",
    "x73_conversion_delay",
    "x74_cdc_merge_apply",
    "x76_schema_evolution",
    "x78_csv_roundtrip",
    "x83_drill_across",
    "x84_null_semantics",
    "x85_semi_additive",
    "x86_weighted_sample",
    "x87_rolling_range_frame",
    "x88_skew_report",
    "x89_filter_clause",
    "x91_percent_of_parent",
    "t35_source_novelty",
    "d21_dedup_decisions",
    "d22_winnowing_pairs",
    "a26_assortativity",
    "g27_sql_surface",
    "g28_bind_params",
    "m11_alignment_plan",
    "m12_specaugment_plan",
    "s19_filtered_knn",
    "x96_cube_pricing",
]


def _plan(spark, name):
    df = E.queries()[name](spark, SF_TINY)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", GUARDED)
def test_no_quadratic_joins(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_pricing_summary_scan_pruned(spark):
    """x1 aggregates 4 of lineitem's 16 columns — the parquet scan must
    read only those (column pruning reached the reader)."""
    plan = _plan(spark, "x1_pricing_summary")
    # ReadSchema strings get truncated; the scan's output column list is
    # the reliable pruning witness
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    cols = [c.split("#")[0] for c in m.group(1).split(",") if c]
    assert set(cols) == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_linestatus",
    }, cols


def test_filter_pushed_to_scan(spark):
    """x6 filters event_type at the parquet reader, not post-scan only."""
    plan = _plan(spark, "x6_range_count")
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(event_type,", plan), plan


def test_x6_no_bnlj_at_sf01(spark):
    """The bucketed range join must stay an equi-join at the bench scale
    factor too — size-dependent planner fallbacks (a small side slipping
    under the broadcast threshold and turning the theta-filter into a
    BNLJ) would only show at sf0.1."""
    df = E.queries()["x6_range_count"](spark, "/root/testdata/sf0.1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_s2_no_corpus_broadcast(spark):
    """embedding_cosine_dups must shuffle on the salted block key; a
    broadcast HINT of the build side (the whole corpus) is the OOM
    anti-pattern.  (AQE may still pick a broadcast join when the corpus
    genuinely fits — that's runtime-size-based, not forced — so the
    guard checks the analyzed plan for the hint, not the physical op.)"""
    df = E.queries()["s2_cosine_dups"](spark, SF_TINY)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical, logical


def test_s2_block_size_guard(spark):
    """The quadratic in-block join must REFUSE oversized blocks (round-5
    rehearsal: 90× cost at 10× data when mis-used corpus-wide) unless the
    caller explicitly owns the cost with exact_ok=True."""
    from pyspark.sql import functions as F

    from projet_graphdb_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    one_block = emb.withColumn("label", F.lit(0))  # everything in one block
    with pytest.raises(ValueError, match="max_block_rows"):
        similarity.embedding_cosine_dups(one_block, threshold=0.9,
                                         max_block_rows=64)
    # explicit opt-in still runs (the documented exactness-baseline use)
    ok = similarity.embedding_cosine_dups(one_block, threshold=0.999,
                                          max_block_rows=64, exact_ok=True)
    assert {"id_a", "id_b", "sim"} == set(ok.columns)
    # default cap admits every real block at test scale: s2 unchanged
    assert E.queries()["s2_cosine_dups"](spark, SF_TINY).count() > 0


def test_x21_disjunction_pushed_to_scans(spark):
    """Q19's point: Catalyst distributes the OR so each scan receives
    its side's disjunctive filter instead of evaluating everything
    post-join."""
    plan = _plan(spark, "x21_disjunctive_revenue")
    li_scan = [s for s in plan.split("FileScan parquet") if "l_quantity" in s.split("]")[0]]
    assert li_scan, plan
    pushed = li_scan[0].split("PushedFilters:")[1].split("]")[0] if "PushedFilters:" in li_scan[0] else ""
    assert "Or" in pushed, plan


def test_x41_bucketed_join_has_no_exchange_before_join(spark):
    """The whole point of the bucketed layout: the orderkey join reads
    the persisted bucket partitioning, so the ONLY Exchange in the plan
    is the final small-key aggregate's."""
    # at sf0.001 Catalyst would broadcast the small side, which hides the
    # layout property under test — force the shuffle-join planning path
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "x41_bucketed_join")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    join_part = plan[plan.index("Join"):]
    assert "Exchange" not in join_part, plan
    # bucket layout visible on both scans
    assert plan.count("Bucketed: true") == 2, plan


def test_join_hint_forces_shuffled_hash(spark):
    plan = _plan(spark, "x82_join_hints")
    assert "ShuffledHashJoin" in plan


# Iterative algorithms: the final plan is just the last checkpoint's scan,
# so the per-SUPERSTEP plans (captured via graph_algos.PLAN_PROBE at the
# checkpoint funnel) carry the audit.  A nested-loop join inside a
# superstep is tolerated only if its measured build side is tiny (the
# pagerank dangling-mass 1-row broadcast), never by trust.
ITERATIVE = [
    "a1_bfs_levels",
    "a2_connected_components",
    "a3_pagerank",
    "a4_sssp",
    "a8_kcore",
    "a13_modularity",
]


@pytest.mark.parametrize("name", ITERATIVE)
def test_iterative_superstep_plans(spark, name):
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from explain_audit import audit_nl_build_sides

    from projet_graphdb_spark.functions import graph_algos as GA

    GA.PLAN_PROBE = steps = []
    try:
        E.queries()[name](spark, SF_TINY)
    finally:
        GA.PLAN_PROBE = None
    assert steps, f"{name} captured no supersteps"
    for i, sdf in enumerate(steps):
        plan = sdf._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            probs = audit_nl_build_sides(sdf, execute=False)
            assert not probs, f"{name} superstep {i}: {probs}"


def test_nl_allowed_build_sides_measured(spark):
    """The NL_ALLOWED exemption is a CLAIM that the nested-loop join's
    build side is tiny by construction; verify it from the executed
    plan's SQLMetrics for representative shapes of each allowance class
    (1-row aggregate, ~5 query vectors, calendar frame, binding seed)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from explain_audit import audit_nl_build_sides

    for name in [
        "s1_knn_bruteforce",
        "t23_corpus_card",
        "x79_ewma_revenue",
        "g29_mixed_varlength",
        "t34_keyword_extraction",
        "t41_temperature_mixing",
    ]:
        probs = audit_nl_build_sides(E.queries()[name](spark, SF_TINY))
        assert not probs, f"{name}: {probs}"


def test_partition_offset_rank_distributed_sink_backed(spark, both_modes):
    """A pinned ``num_partitions`` forces the distributed path, whose
    frozen range layout is a barrier: in sink-backed mode the ranks
    equal the default mode's and the exact global order."""
    from pyspark.sql import functions as F

    from projet_graphdb_spark.functions import relational

    df = spark.range(0, 2000).withColumn("_c", F.col("id") % 37).repartition(8)
    want = sorted(
        (i, c, r + 1)
        for r, (c, i) in enumerate(sorted((i % 37, i) for i in range(2000)))
    )

    def run():
        return sorted(
            tuple(r)
            for r in relational.partition_offset_rank(
                df, [F.asc("_c"), F.asc("id")], num_partitions=6
            ).collect()
        )

    default, sink = both_modes(run)
    assert sink == default == want


def test_partition_offset_rank_exact_and_distributed(spark):
    """partition_offset_rank must equal the global row_number it
    replaces (exact dense 1..N ranks under the same total order) while
    its plan contains NO unpartitioned Window — the round-8 funnel
    class (t38/x88/t36/m10) mechanically closed."""
    import os
    import sys

    from pyspark.sql import functions as F

    from projet_graphdb_spark.functions import relational

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from explain_audit import find_unpartitioned_windows

    # skewed counts with ties on _c (tiebreak on id) across many partitions
    df = (
        spark.range(0, 5000)
        .withColumn("_c", (F.col("id") % 97) + (F.col("id") % 13))
        .repartition(16)
    )
    from pyspark.sql.window import Window

    want = {
        r["id"]: r["_i"]
        for r in df.withColumn(
            "_i", F.row_number().over(Window.orderBy(F.asc("_c"), F.asc("id")))
        ).collect()
    }
    # both gate paths must agree with the global row_number and keep
    # the plan free of unpartitioned windows (round-9 item 6: the gate
    # picks small-vs-distributed, never reopens the funnel class)
    relational._POR_TRACE = trace = []
    try:
        for gate in (None, 0):  # None → small path here; 0 → distributed
            ranked = relational.partition_offset_rank(
                df, [F.asc("_c"), F.asc("id")], "_i", gate_bytes=gate
            )
            assert find_unpartitioned_windows(ranked) == []
            assert dict(ranked.dtypes)["_i"] == "bigint"  # schema-stable
            got = {r["id"]: r["_i"] for r in ranked.collect()}
            assert got == want
            assert sorted(got.values()) == list(range(1, 5001))  # dense 1..N
    finally:
        relational._POR_TRACE = None
    assert [t[1] for t in trace] == [True, False]  # the gate decided
    assert all(t[0] is not None for t in trace)  # from a measured estimate
    # round-12/13 advice: the 4x decompress margin follows the
    # ESTIMATE'S SOURCE.  This input is in-memory (Range leaf), so an
    # explicit gate_bytes is compared against the estimate as-is —
    # est-1 must go distributed, est small
    assert not relational.plan_reads_files(df)
    est = trace[0][0]
    relational._POR_TRACE = trace_m = []
    try:
        relational.partition_offset_rank(
            df, [F.asc("_c"), F.asc("id")], "_i", gate_bytes=est - 1
        ).count()
        relational.partition_offset_rank(
            df, [F.asc("_c"), F.asc("id")], "_i", gate_bytes=est
        ).count()
    finally:
        relational._POR_TRACE = None
    assert [t[1] for t in trace_m] == [False, True]
    # an explicit num_partitions pins the distributed path regardless
    relational._POR_TRACE = trace2 = []
    try:
        relational.partition_offset_rank(
            df, [F.asc("_c"), F.asc("id")], "_i", num_partitions=4
        ).count()
    finally:
        relational._POR_TRACE = None
    assert trace2 == []
    # empty input: no rows, no crash
    assert (
        relational.partition_offset_rank(
            df.where(F.lit(False)), [F.asc("id")], "_i"
        ).count()
        == 0
    )


def test_por_explicit_gate_charges_margin_on_file_scans(spark, tmp_path):
    """Round-13 advice: an EXPLICIT gate_bytes over a FILE source must
    still charge the 4x decompress margin — the estimate is compressed
    on-disk bytes, so comparing the caller's (decompressed-data)
    budget against it as-is would admit ~4x the intended data to the
    single-partition path."""
    from pyspark.sql import functions as F

    from projet_graphdb_spark.functions import relational

    path = str(tmp_path / "por_file")
    spark.range(0, 5000).withColumn(
        "_c", (F.col("id") % 97) + (F.col("id") % 13)
    ).write.parquet(path)
    df = spark.read.parquet(path)
    assert relational.plan_reads_files(df)
    est = relational.plan_size_bytes(df)
    m = relational.POR_DECOMPRESS_MARGIN
    relational._POR_TRACE = trace = []
    try:
        # budget just under est*margin -> distributed; at it -> small
        relational.partition_offset_rank(
            df, [F.asc("_c"), F.asc("id")], "_i", gate_bytes=est * m - 1
        ).count()
        relational.partition_offset_rank(
            df, [F.asc("_c"), F.asc("id")], "_i", gate_bytes=est * m
        ).count()
    finally:
        relational._POR_TRACE = None
    assert [t[1] for t in trace] == [False, True]
    # both paths still produce the same dense global rank
    want = list(range(1, 5001))
    got = sorted(
        r["_i"]
        for r in relational.partition_offset_rank(
            df, [F.asc("_c"), F.asc("id")], "_i", gate_bytes=est * m - 1
        ).collect()
    )
    assert got == want


def test_fixed_funnel_queries_have_no_unpartitioned_window(spark):
    """The four round-8 global-window funnels (t38 full-vocab
    row_number, x88 Gini rank, t36 ntile, m10 pairing rank) must stay
    dead: their plans may contain unpartitioned windows ONLY over
    bounded post-limit slices, verified by the measured input cap."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from explain_audit import audit_window_input_caps

    for name in [
        "t38_vocab_coverage",
        "x88_skew_report",
        "t36_dedup_length_bias",
        "m10_cutmix_plan",
    ]:
        probs = audit_window_input_caps(E.queries()[name](spark, SF_TINY))
        assert not probs, f"{name}: {probs}"


def test_ingest_cell_join_dynamic_partition_pruning(spark, tmp_path):
    """The incremental ingest join against a _cell-partitioned sink
    must carry a dynamicpruningexpression in the sink scan's
    PartitionFilters: at 100 TB the shard probes ~2·S distinct cells
    out of k = N/64, so DPP is the difference between reading those
    and reading the whole slim index.  The IMI and routed paths share
    the same join tail (_incremental_cells_pairs), so one pin covers
    the family."""
    import re

    from pyspark.sql import functions as F

    from projet_graphdb_spark.functions import similarity

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    cut = int(emb.count() * 0.9)
    corpus = emb.where(F.col("vec_id") < cut)
    shard = emb.where(F.col("vec_id") >= cut).limit(5)
    corp = corpus.select(
        F.col("vec_id").alias("_vid"), F.col("embedding").alias("_v")
    )
    cents = similarity.ivf_train(corp, cut, n_centroids=8, num_iter=2)
    path = str(tmp_path / "cells")
    similarity.ivf_cells_frame(corpus, cents, nprobe=2).write.partitionBy(
        "_cell"
    ).parquet(path)
    pairs = similarity.incremental_ivf_dups(
        corpus, shard, threshold=0.4, nprobe=2, centroids=cents,
        corpus_cells=spark.read.parquet(path),
    )
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    cell_scans = re.findall(
        r"FileScan parquet \[[^\]]*_cell[^\]]*\][^\n]*PartitionFilters: \[([^\]]*)\]",
        plan,
    )
    assert cell_scans, "cell-sink FileScan not found in the executed plan"
    assert any("dynamicpruning" in s for s in cell_scans), cell_scans


# Round-7 verdict "What's wrong #1": these forms used to FORCE
# F.broadcast on SF-linear sides (filtered customer / part / supplier,
# x57's unbounded per-part counts table, vocabulary-sized token tables).
# The hints now route through relational.maybe_broadcast, which plants
# the hint only while Catalyst's optimized-plan size estimate proves the
# side small — past the gate AQE keeps its size-based choice.
SIZE_GATED = [
    "x14_shipping_priority",
    "x15_local_supplier_volume",
    "x16_small_order_revenue",
    "x19_cheapest_supplier",
    "x20_large_volume_orders",
    "x24_volume_shipping",
    "x25_waiting_suppliers",
    "x29_market_share",
    "x30_supplier_parts",
    "x45_product_profit",
    "x46_excess_stock",
    "x57_copurchase_pairs",
    "t18_unigram_logprob",
    "t20_source_kl",
    "t24_bigram_pmi",
]


def test_maybe_broadcast_unit(spark):
    """The helper hints small frames, refuses when the gate is closed,
    and records its decisions when tracing is on."""
    from projet_graphdb_spark.functions import relational

    small = spark.range(10)
    hinted = relational.maybe_broadcast(small)
    logical = hinted._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in logical or "UnresolvedHint" in logical, logical

    refused = relational.maybe_broadcast(small, gate_bytes=-1)
    logical = refused._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical


@pytest.mark.parametrize("name", SIZE_GATED)
def test_sf_linear_hints_are_gated(spark, name, monkeypatch):
    """Simulate the SF10k+ regime (every size estimate exceeds the gate):
    NO broadcast hint may be planted on any maybe_broadcast side.  The
    schema-constant dims (nation/region, 1-row aggregates) keep their
    unconditional hints — the assertion is on the gate's decisions, not
    on the AQE-chosen physical strategy."""
    from projet_graphdb_spark.functions import relational

    monkeypatch.setattr(relational, "BROADCAST_GATE_BYTES", -1)
    monkeypatch.setattr(relational, "_GATE_TRACE", [])
    E.queries()[name](spark, SF_TINY)
    trace = relational._GATE_TRACE
    assert trace, f"{name} never consulted the size gate"
    assert all(hinted is False for _, hinted in trace), (name, trace)


@pytest.mark.parametrize("name", SIZE_GATED)
def test_sf_linear_hints_fire_at_small_sf(spark, name, monkeypatch):
    """At bench scale the estimates are KBs — the gate must still plant
    every hint (no perf regression from the gating).  Composite sides
    (customer ⋈ nation in x24/x29) pass their SF-linear base as the
    size probe because the size-only join estimate multiplies children."""
    from projet_graphdb_spark.functions import relational

    monkeypatch.setattr(relational, "_GATE_TRACE", [])
    E.queries()[name](spark, SF_TINY)
    trace = relational._GATE_TRACE
    assert trace and all(hinted for _, hinted in trace), (name, trace)
    assert all(size is not None and size >= 0 for size, _ in trace), trace


def test_plan_reads_files_treats_cached_input_as_in_memory(spark, tmp_path):
    """Round-14 advice: a cached DataFrame's sizeInBytes estimate is
    already the in-memory columnar size, so InMemoryRelation must
    count as in-memory — otherwise cached inputs pay the 4x decompress
    margin the file-scan path charges (the double tax round-12
    removed)."""
    from pyspark.sql import functions as F

    from projet_graphdb_spark.functions import relational

    path = str(tmp_path / "prf_cached")
    spark.range(0, 1000).withColumn("_c", F.col("id") % 7).write.parquet(path)
    assert relational.plan_reads_files(spark.read.parquet(path))
    # note: a DataFrame memoizes its QueryExecution, so the cache
    # substitution is visible on plans DERIVED after .cache(), not on
    # an object whose optimized plan was already computed pre-cache
    cached = spark.read.parquet(path).cache()
    try:
        cached.count()  # materialize so the cache substitutes the scan
        assert not relational.plan_reads_files(cached.select("*"))
        # downstream plans over the cached leaf inherit the verdict
        assert not relational.plan_reads_files(
            cached.where(F.col("_c") > 2).select("id")
        )
    finally:
        cached.unpersist()
