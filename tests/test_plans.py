"""Plan-contract tests: pin the physical strategy of the headline
queries, not just their results.

These are the 100 TB guarantees: a regression that turns a broadcast
join into a sort-merge join, loses a pushed filter, or widens a scan
still produces correct rows at sf0.001 — but dies on a cluster. The
plan IS the contract.
"""

from __future__ import annotations

import pytest

from game_data_etl_pipeline_spark import registry
from game_data_etl_pipeline_spark.plans import introspect as I

SPECS = registry.all_specs()
SF = "/root/testdata/sf0.01"


def test_flagship_broadcasts_all_dims(spark):
    """revenue-by-region: customer/nation/region are dimension tables —
    every join must be a broadcast, never a shuffle of lineitem."""
    f = I.facts(SPECS["q_revenue_by_region"].fn(spark, SF))
    assert f.joins, "no joins found in plan"
    assert set(f.joins) == {"BroadcastHashJoin"}, f.joins
    # the only shuffle allowed is the final group-by on r_name
    assert f.exchanges <= 1, f"flagship shuffles {f.exchanges}x"


def test_flagship_prunes_columns(spark):
    """The 5-table join must read only the columns it uses: lineitem
    has 16 columns, the query needs 3 of them."""
    f = I.facts(SPECS["q_revenue_by_region"].fn(spark, SF))
    read = f.all_read_columns
    assert "l_extendedprice" in read and "l_discount" in read
    for never_needed in ("l_comment", "l_shipinstruct", "o_comment", "c_comment"):
        assert never_needed not in read, f"scan reads unused column {never_needed}"


def test_filter_pushdown_reaches_scan(spark):
    """op_filter_pred's predicates must appear as PushedFilters on the
    parquet scan (row-group pruning), not only as a post-scan Filter."""
    f = I.facts(SPECS["op_filter_pred"].fn(spark, SF))
    assert any("o_totalprice" in p for p in f.pushed_filters), f.pushed_filters


def test_pricing_summary_partial_aggregation(spark):
    """The TPC-H-q1-style aggregate must combine map-side: the shuffle
    carries per-partition group states, not 600k rows."""
    f = I.facts(SPECS["q_pricing_summary"].fn(spark, SF))
    assert f.partial_agg
    assert f.exchanges <= 2  # agg shuffle + result sort


def test_pricing_summary_pushes_date_filter(spark):
    f = I.facts(SPECS["q_pricing_summary"].fn(spark, SF))
    assert any("l_shipdate" in p for p in f.pushed_filters), f.pushed_filters


def test_agg_group_single_shuffle(spark):
    f = I.facts(SPECS["op_agg_group"].fn(spark, SF))
    assert f.partial_agg
    assert f.exchanges <= 1


def test_dim_join_stays_broadcast(spark):
    """customer⋈nation⋈region: both dims ≤25 rows at every sf — a
    SortMergeJoin here means the broadcast threshold regressed."""
    f = I.facts(SPECS["op_join_broadcast"].fn(spark, SF))
    assert "SortMergeJoin" not in f.joins, f.joins
    assert f.broadcasts >= 2


def test_text_ops_scan_only_needed_columns(spark):
    """documents has 7 columns; per-doc text stats needs 3. Wide scans
    of a 100 TB corpus are the single most expensive plan bug."""
    f = I.facts(SPECS["op_text_stats"].fn(spark, SF))
    assert f.all_read_columns <= {"doc_id", "lang", "text"}, f.all_read_columns


def test_cosine_topk_broadcasts_queries(spark):
    """Brute-force top-k must broadcast the tiny query set against the
    big candidate scan — a shuffle or cartesian of candidates is the
    wrong side of the asymmetry."""
    f = I.facts(SPECS["op_sim_cosine_topk"].fn(spark, SF))
    assert f.broadcasts >= 1
    assert "CartesianProduct" not in f.joins, f.joins


def test_whole_stage_codegen_covers_relational_core(spark):
    """The scan→filter→project→agg spine must run fused JVM codegen.
    Codegen ids only materialize in the AQE final plan, so this one
    executes the query first."""
    f = I.executed_facts(SPECS["q_pricing_summary"].fn(spark, SF))
    assert f.codegen_spans >= 1, "no WholeStageCodegen span in pricing summary"


def test_asof_join_is_single_shuffle_no_join(spark):
    """The as-of join must compile to union + ONE shuffle on the key +
    window — zero join operators. A BNLJ/theta plan here would be the
    O(n·m) formulation that dies at scale."""
    f = I.facts(SPECS["op_join_asof"].fn(spark, SF))
    assert f.joins == [], f.joins
    assert f.exchanges == 1, f"asof shuffles {f.exchanges}x"


def test_salted_join_shuffles_on_salted_key(spark):
    """The salted join must actually shuffle-hash-join on the composite
    (key, salt) — a broadcast would silently bypass the technique the
    operator demonstrates."""
    f = I.facts(SPECS["op_join_salted"].fn(spark, SF))
    assert "ShuffledHashJoin" in f.joins, f.joins


def test_bucketed_join_has_no_join_side_exchange(spark):
    """Both join inputs are bucketed on the key: the SortMergeJoin must
    read co-located buckets with ZERO exchange on either side — the
    only shuffle in the plan is the post-join aggregation."""
    f = I.facts(SPECS["op_join_bucketed"].fn(spark, SF))
    assert "SortMergeJoin" in f.joins, f.joins
    assert f.exchanges <= 1, f"bucketed join still shuffles {f.exchanges}x"


def test_partitioned_sink_scan_prunes_partitions(spark):
    """Reading one event_type from the partitioned layout must prune at
    the directory level (PartitionFilters on the scan)."""
    import re

    plan = I.explain_str(SPECS["op_sink_partition_prune"].fn(spark, SF))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), "no partition filter on scan"


@pytest.mark.parametrize(
    "name",
    ["op_text_stats", "op_text_quality", "op_token_count", "op_doc_fingerprint"],
)
def test_text_family_no_shuffle(spark, name):
    """Per-document text ops are embarrassingly parallel: any Exchange
    in their plan is a bug."""
    f = I.facts(SPECS[name].fn(spark, SF))
    assert f.exchanges == 0, f"{name} shuffles {f.exchanges}x"


def test_range_binned_join_is_hash_not_nested_loop(spark):
    """The binned range join must plan as an equi-join on the bin key —
    any nested-loop operator means the rewrite regressed to O(n·m)."""
    f = I.facts(SPECS["op_join_range_binned"].fn(spark, SF))
    assert f.joins, "no joins found in plan"
    assert all("NestedLoop" not in j and "Cartesian" not in j for j in f.joins), f.joins


def test_subquery_decorrelation_no_nested_loop(spark):
    """q_small_qty_revenue (correlated scalar subquery) and
    q_top_supplier (uncorrelated scalar subquery) must decorrelate to
    hash joins — a nested-loop here is the per-row-subquery anti-plan."""
    for name in ("q_small_qty_revenue", "q_top_supplier"):
        f = I.facts(SPECS[name].fn(spark, SF))
        assert all("NestedLoop" not in j and "Cartesian" not in j for j in f.joins), (name, f.joins)


def test_embedding_cosine_is_single_exchange_blas_stage(spark):
    """r7 contract (replaces the round-2 pair-join shape): the near-dup
    pair stage is ONE hash exchange on cent_id feeding the blocked-BLAS
    Arrow stage (FlatMapGroupsInPandas) — no pair self-join at all, so
    no O(Σ|cell|²) rows ever shuffle. The only permissible nested-loop
    is the 1-row broadcast of the collect_list'd centroid set (argmax
    assignment — bounded by k centroids, not by n²)."""
    df = SPECS["op_dedup_embedding_cosine"].fn(spark, SF)
    f = I.facts(df)
    # 2 = the k-row SinglePartition fold of the centroid collect_list
    # + the one cent_id hash exchange (same shape as op_sim_knn_graph)
    assert f.exchanges == 2, f"expected centroid-fold + cent_id exchanges, got {f.exchanges}"
    assert "FlatMapGroupsInPandas" in I.explain_str(df, "simple")
    assert all("SortMergeJoin" not in j and "ShuffledHashJoin" not in j for j in f.joins), f.joins


def test_new_analytics_no_nested_loop(spark):
    """Round-2 TPC-H shapes must all decorrelate/compile to hash joins
    (the 1-row global-total broadcast in q_important_parts is the one
    sanctioned cross join — a single-row build side, not O(n·m))."""
    for name in ("q_product_profit", "q_supplier_part_counts", "q_promo_suppliers", "q_late_suppliers"):
        f = I.facts(SPECS[name].fn(spark, SF))
        assert all("NestedLoop" not in j and "Cartesian" not in j for j in f.joins), (name, f.joins)


def test_forecast_revenue_pushes_all_predicates(spark):
    """TPC-H-q6 shape: every predicate must reach the parquet scan."""
    f = I.facts(SPECS["q_forecast_revenue"].fn(spark, SF))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in p for p in f.pushed_filters), (col, f.pushed_filters)


def test_product_profit_broadcasts_dims(spark):
    """q9 shape: part/supplier/nation are broadcast; lineitem-orders is
    the only shuffled join."""
    f = I.facts(SPECS["q_product_profit"].fn(spark, SF))
    assert "BroadcastHashJoin" in f.joins, f.joins


def test_embedding_normalize_no_shuffle(spark):
    """Normalization+quantization is a narrow map — zero exchanges."""
    f = I.facts(SPECS["op_embedding_normalize"].fn(spark, SF))
    assert f.exchanges == 0, f.exchanges


def test_dpp_join_injects_runtime_partition_filter(spark):
    """op_join_dpp: the dim filter is on a non-join column, so the only
    way the fact scan skips partitions is a runtime
    dynamicpruningexpression — assert Catalyst injected one."""
    import contextlib
    import io

    df = SPECS["op_join_dpp"].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(True)
    assert "dynamicpruning" in buf.getvalue().lower()


def test_bloom_filter_injected_in_shuffle_join_regime(spark):
    """op_join_bloom: force the 100 TB regime (no broadcast, bloom
    thresholds at zero) and assert Catalyst injects the runtime bloom
    filter (bloom_filter_agg build + might_contain probe) that kills
    fact rows before the shuffle."""
    import contextlib
    import io

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # creation threshold is a MAXIMUM build-side size; application
        # threshold is a MINIMUM probe-side size — relax both so the
        # sf0.01 fixture falls inside the injection window.
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = SPECS["op_join_bloom"].fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(True)
        plan = buf.getvalue().lower()
        assert "bloomfilter" in plan or "might_contain" in plan, plan[-2000:]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """op_join_skew_aqe: force the shuffle-join regime with tiny skew
    thresholds and assert AQE's OptimizeSkewedJoin marks the hot
    partition split (skew=true) in the final adaptive plan."""
    import contextlib
    import io

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = SPECS["op_join_skew_aqe"].fn(spark, SF)
        df.collect()  # AQE finalizes the plan only after execution
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain()
        plan = buf.getvalue()
        assert "skew=true" in plan, plan[-2000:]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_compaction_reduces_file_count(spark):
    """op_sink_compaction: 64 fragment files in, <= target files out,
    zero row loss."""
    from game_data_etl_pipeline_spark.operators import scale

    _, n_small, n_compacted = scale._compacted_dir(spark, SF)
    assert n_small == 64, n_small
    assert n_compacted <= scale._COMPACT_TARGET, n_compacted


def test_zorder_layout_narrows_file_spans(spark):
    """op_sink_zorder: after z-order clustering, each parquet file's
    footer [min, max] covers a small fraction of BOTH dimensions, so
    a selective 2-D filter can skip most files on stats alone. The
    unclustered source (written in event order ~ ts order) has
    near-full user_id span in every file — the layout is the win."""
    import os

    import pyarrow.parquet as pq

    from game_data_etl_pipeline_spark.operators import scale

    zdir = scale.zorder_events_dir(spark, SF)
    files = [os.path.join(zdir, f) for f in os.listdir(zdir) if f.endswith(".parquet")]
    assert len(files) >= scale._ZORDER_FILES // 2, files

    spans_u, spans_m, bounds = [], [], []
    glob_lo, glob_hi = None, None
    for path in files:
        md = pq.read_metadata(path)
        lo_u = hi_u = lo_m = hi_m = None
        for rg in range(md.num_row_groups):
            for ci in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(ci)
                st = col.statistics
                if st is None:
                    continue
                if col.path_in_schema == "user_id":
                    lo_u = st.min if lo_u is None else min(lo_u, st.min)
                    hi_u = st.max if hi_u is None else max(hi_u, st.max)
                if col.path_in_schema == "ts":
                    mn = st.min.hour * 60 + st.min.minute
                    mx = st.max.hour * 60 + st.max.minute
                    lo_m = mn if lo_m is None else min(lo_m, mn)
                    hi_m = mx if hi_m is None else max(hi_m, mx)
        assert lo_u is not None and lo_m is not None
        spans_u.append(hi_u - lo_u)
        spans_m.append(hi_m - lo_m)
        bounds.append((lo_u, hi_u))
        glob_lo = lo_u if glob_lo is None else min(glob_lo, lo_u)
        glob_hi = hi_u if glob_hi is None else max(glob_hi, hi_u)

    full_u = max(glob_hi - glob_lo, 1)
    avg_u = sum(spans_u) / len(spans_u) / full_u
    avg_m = sum(spans_m) / len(spans_m) / 1439
    # 16 z-range files over a 20-bit z-value: ~2 leading bits per
    # dimension -> each file should cover well under the full range
    assert avg_u < 0.6, f"user_id spans not narrowed: {avg_u:.2f}"
    assert avg_m < 0.6, f"minute spans not narrowed: {avg_m:.2f}"

    # footer-level pruning: a 1/4-range user_id predicate must be
    # excludable (no [min,max] overlap) for at least half the files.
    # The layout write now uses a dense range-exchange sample
    # (sampleSizePerPartition=50000 in zorder_events_dir), making the
    # split points near-exact and run-stable, so the tight len//2 bar
    # holds without absorbing sampling variance.
    q_lo, q_hi = glob_lo, glob_lo + full_u // 4
    skipped = sum(1 for lo, hi in bounds if hi < q_lo or lo > q_hi)
    assert skipped >= len(files) // 2, f"only {skipped}/{len(files)} files skippable"


def test_exchange_reuse_unifies_shared_subplan(spark):
    """op_plan_exchange_reuse: the top-3 and bottom-3 branches must
    share ONE aggregation exchange — the final (AQE) plan contains a
    ReusedExchange, proving the scan + partial agg ran once."""
    import contextlib
    import io

    df = SPECS["op_plan_exchange_reuse"].fn(spark, SF)
    df.collect()  # AQE finalizes the plan at execution
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "ReusedExchange" in plan, plan


def test_fuzzy_blocked_join_is_hash_not_cross(spark):
    """op_join_fuzzy_blocked: the blocking key must make the pair
    generation an equi (hash/sort-merge) join — a nested-loop or
    cartesian plan means blocking regressed to all-pairs."""
    f = I.facts(SPECS["op_join_fuzzy_blocked"].fn(spark, SF))
    assert f.joins, "no joins in plan"
    assert "BroadcastNestedLoopJoin" not in f.joins, f.joins
    assert "CartesianProduct" not in f.joins, f.joins


def test_triangle_join_is_equi_not_cross(spark):
    """op_graph_triangles: both closing joins are equi-joins on the
    oriented edge endpoints."""
    f = I.facts(SPECS["op_graph_triangles"].fn(spark, SF))
    assert "CartesianProduct" not in f.joins, f.joins


def test_funnel_pushes_type_filters(spark):
    """op_funnel_steps: each stage scans one event-type slice — the
    type predicate must reach the parquet scan."""
    f = I.facts(SPECS["op_funnel_steps"].fn(spark, SF))
    assert any("event_type" in p for p in f.pushed_filters), f.pushed_filters


def test_merge_upsert_no_nested_loop(spark):
    """op_merge_upsert: the snapshot/changes full outer join must stay
    a keyed join (SMJ/SHJ) — BNLJ on a 100 TB snapshot is fatal."""
    f = I.facts(SPECS["op_merge_upsert"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in f.joins, f.joins
    assert "CartesianProduct" not in f.joins, f.joins


def test_unigram_logprob_broadcasts_vocab(spark):
    """op_text_unigram_logprob: the Zipf-bounded vocab joins back to
    the token stream by broadcast — reshuffling the whole token
    stream to meet the vocab would double the corpus shuffle."""
    f = I.facts(SPECS["op_text_unigram_logprob"].fn(spark, SF))
    assert f.broadcasts >= 1, f.joins


def test_sim_rerank_is_hash_join_not_bnlj(spark):
    """Two-stage retrieval: probes meet candidates on a cell-id
    equi-join — hash join plan, never an all-pairs nested loop
    (the centroid-assignment broadcast NLJ over the tiny centroid
    set is the one allowed exception)."""
    f = I.facts(SPECS["op_sim_rerank"].fn(spark, SF))
    assert any("BroadcastHashJoin" in j or "ShuffledHashJoin" in j or "SortMergeJoin" in j for j in f.joins), f.joins
    # the candidate join must not be cartesian; only the k-centroid
    # assignment pass may use a nested loop
    assert not any("Cartesian" in j for j in f.joins), f.joins


def test_quantize_and_snapshot_diff_shapes(spark):
    """Quantization is a pure per-row map: zero exchanges. Snapshot
    diff joins two key-sized aggregates: every wide row shuffles at
    most once into its snapshot aggregate."""
    f = I.facts(SPECS["op_embedding_quantize"].fn(spark, SF))
    assert f.exchanges == 0, f"quantize shuffles {f.exchanges}x"
    f2 = I.facts(SPECS["op_snapshot_diff"].fn(spark, SF))
    assert f2.partial_agg, "snapshot aggregates must combine map-side"


def test_length_filter_broadcasts_bounds(spark):
    """The [p05, p95] bounds are a 2-double aggregate that must reach
    the filter as a broadcast, not a shuffle of documents."""
    f = I.facts(SPECS["op_length_filter_quantile"].fn(spark, SF))
    assert any("BroadcastHashJoin" in j or "BroadcastNestedLoopJoin" in j for j in f.joins), f.joins


def test_cache_reuse_reads_in_memory_relation(spark):
    """Both aggregation branches must consume the cached join — the
    plan shows InMemoryTableScan, and the join executes zero times in
    the aggregate subtrees."""
    import io
    from contextlib import redirect_stdout

    df = SPECS["op_cache_reuse"].fn(spark, SF)
    df.count()  # materialize the cache
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "InMemoryTableScan" in buf.getvalue()


def test_recursive_cte_executes(spark):
    """WITH RECURSIVE terminates at the data-bounded depth: max depth
    == floor(log2(max custkey))."""
    import math

    rows = SPECS["op_recursive_cte"].fn(spark, SF).collect()
    max_key = max(r.c_custkey for r in rows)
    assert max(r.depth for r in rows) == int(math.log2(max_key))


def test_islands_windows_share_one_shuffle(spark):
    """op_window_islands computes two row_numbers over the same
    (user_id, ts) clustering plus one aggregate; Catalyst must reuse a
    single Exchange for all of it — run detection costs ONE shuffle."""
    f = I.facts(SPECS["op_window_islands"].fn(spark, SF))
    assert f.exchanges == 1, f"islands shuffles {f.exchanges}x"


def test_ohlc_is_pure_hash_aggregate(spark):
    """op_timeseries_ohlc's min_by/max_by formulation must stay a hash
    aggregate with map-side combine — no window sort of the raw event
    stream, one shuffle of O(buckets) partials."""
    f = I.facts(SPECS["op_timeseries_ohlc"].fn(spark, SF))
    assert f.exchanges == 1, f"ohlc shuffles {f.exchanges}x"
    assert f.partial_agg, "ohlc lost map-side combine"
    plan = I.explain_str(SPECS["op_timeseries_ohlc"].fn(spark, SF))
    assert "Window" not in plan, "ohlc regressed to a window formulation"


def test_interleave_has_no_full_table_global_sort(spark):
    """op_corpus_interleave's position is arithmetic: the only
    SinglePartition exchange allowed is the tiny distinct-source dim,
    never the documents table itself."""
    df = SPECS["op_corpus_interleave"].fn(spark, SF)
    plan = I.explain_str(df)
    # the global-sort form this test forbids would put the documents
    # table itself through a SinglePartition exchange; the arithmetic
    # form's only serial piece is the 5-row distinct-source dim
    assert plan.count("Exchange SinglePartition") <= 1, plan[:2000]
    f = I.facts(df)
    assert f.joins and "BroadcastHashJoin" in f.joins, f.joins


def test_skew_kurtosis_broadcasts_group_stats(spark):
    """The two-pass moment computation must broadcast the O(groups)
    first-pass stats, never shuffle lineitem twice for a join."""
    f = I.facts(SPECS["op_agg_skew_kurtosis"].fn(spark, SF))
    assert f.joins == ["BroadcastHashJoin"] or set(f.joins) == {"BroadcastHashJoin"}, f.joins


def test_multimodal_pipeline_single_exchange(spark):
    """Composed multimodal ingest: decode, gate, resize, patch budget
    are all narrow — the checksum-dedup window is the ONLY shuffle."""
    f = I.facts(SPECS["op_multimodal_pipeline"].fn(spark, SF))
    assert f.exchanges == 1, f"multimodal pipeline shuffles {f.exchanges}x"


def test_rolling_corr_single_shuffle(spark):
    """Rolling correlation: one shuffle on user_id, one sorted pass."""
    f = I.facts(SPECS["op_window_rolling_corr"].fn(spark, SF))
    assert f.exchanges == 1, f"rolling corr shuffles {f.exchanges}x"


def test_text_topk_is_take_ordered_not_global_sort(spark):
    """op_text_ngrams / op_text_boilerplate cut their top-20 with
    orderBy+limit (TakeOrderedAndProject: per-partition heaps), never a
    row_number window over the full trigram/sentence vocabulary — the
    global-rank form serializes the whole vocabulary into one
    partition at scale."""
    for name in ("op_text_ngrams", "op_text_boilerplate"):
        plan = I.explain_str(SPECS[name].fn(spark, SF))
        assert "TakeOrderedAndProject" in plan, f"{name} lost the top-k heap"
        # the only Sort permitted is the 20-row rank window's, which sits
        # above the TakeOrderedAndProject cut, never below the aggregate
        agg_part = plan.split("TakeOrderedAndProject")[-1]
        assert "Exchange SinglePartition" not in agg_part, (
            f"{name} single-partitions the pre-cut vocabulary"
        )


def test_countmin_heavy_cut_is_take_ordered(spark):
    """op_agg_countmin's heavy-hitter cut is orderBy+limit(10)
    (TakeOrderedAndProject), not a rank window over the full term
    vocabulary — the pre-limit form single-partitioned the whole
    vocab at scale (round-4 verdict item 2; same rewrite as
    op_text_ngrams)."""
    plan = I.explain_str(SPECS["op_agg_countmin"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, "countmin lost the top-k heap"


def test_rfm_scores_has_no_window(spark):
    """op_rfm_scores assigns quintile scores from broadcast cut
    points — the plan must contain NO window operator at all (the
    pre-fix form ran three unpartitioned ntile(5) windows over the
    per-user table, a single-task sort at 100 TB; round-4 verdict
    item 3)."""
    plan = I.explain_str(SPECS["op_rfm_scores"].fn(spark, SF))
    assert "Window" not in plan, "rfm_scores reintroduced a global window"
    assert "BroadcastExchange" in plan, "cut points are not broadcast"


def test_knn_graph_and_keeplist_pair_joins_are_hash(spark):
    """The all-pairs stages of op_sim_knn_graph and
    op_dedup_semantic_keeplist are the blocked-BLAS Arrow form (r6):
    ONE cell-id hash exchange into FlatMapGroupsInPandas — no cell
    self-join at all, and in knn's case no vec_id rank window over
    Σ|cell|² pair rows either (only top-3 rows per vector leave the
    stage). The only nested loop allowed anywhere is the k-bounded
    broadcast centroid-assignment pass; keeplist keeps its final
    vec_id-keyed hash join of the verdicts."""
    knn_plan = I.explain_str(SPECS["op_sim_knn_graph"].fn(spark, SF))
    assert "FlatMapGroupsInPandas" in knn_plan, "knn_graph lost its Arrow cell stage"
    fknn = I.facts(SPECS["op_sim_knn_graph"].fn(spark, SF))
    assert "SortMergeJoin" not in fknn.joins and "ShuffledHashJoin" not in fknn.joins, (
        f"knn_graph regressed to a cell self-join: {fknn.joins}"
    )

    keep_plan = I.explain_str(SPECS["op_dedup_semantic_keeplist"].fn(spark, SF))
    assert "FlatMapGroupsInPandas" in keep_plan, "keeplist lost its Arrow cell stage"
    fk = I.facts(SPECS["op_dedup_semantic_keeplist"].fn(spark, SF))
    hash_joins = [j for j in fk.joins if j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")]
    assert hash_joins, f"keeplist: verdict join is not a hash join: {fk.joins}"


def test_substring_spans_single_fingerprint_shuffle(spark):
    """op_dedup_substring_spans shuffles span FINGERPRINTS (xxhash64
    longs), never raw span strings, and exactly TWICE: the fp-keyed
    min/max window and the per-doc aggregate. The earlier
    countDistinct-aggregate + rejoin form shuffled the span stream
    three times and computed the explode twice."""
    df = SPECS["op_dedup_substring_spans"].fn(spark, SF)
    plan = I.explain_str(df)
    assert "xxhash64" in plan, "span fingerprinting disappeared from the plan"
    f = I.facts(df)
    assert not f.joins, f"span profile regressed to agg+rejoin: {f.joins}"
    assert f.exchanges == 2, f"expected fp window + doc agg shuffles, got {f.exchanges}"


def test_sql_udfs_inline_into_plan(spark):
    """SQL UDFs must cost nothing at runtime: no Python eval operator
    anywhere (the body inlines into codegen), and the table-function's
    lang equality pushes through the function body to the parquet scan."""
    plan_udf = I.explain_str(SPECS["op_sql_udf"].fn(spark, SF))
    assert "Python" not in plan_udf, "scalar SQL UDF fell back to Python evaluation"
    plan_tvf = I.explain_str(SPECS["op_sql_tvf"].fn(spark, SF))
    assert "Python" not in plan_tvf
    assert "PushedFilters" in plan_tvf and "EqualTo(lang,fr)" in plan_tvf, (
        "TVF argument filter did not reach the scan"
    )


def test_ops_dashboard_two_shuffles(spark):
    """q_ops_dashboard: the user_id exchange must feed both windows AND
    the per-session aggregate (subset-key clustering satisfies the
    group-by); only the final O(days) rollup adds a second shuffle."""
    f = I.facts(SPECS["q_ops_dashboard"].fn(spark, SF))
    assert f.exchanges == 2, f"ops dashboard shuffles {f.exchanges}x"
    assert not f.joins, f.joins


def test_global_window_inventory(spark):
    """Full-registry audit of the single-task window class the round-4
    verdict flagged: any plan whose simple form contains Window ->
    Sort -> Exchange SinglePartition must be on this allowlist, and
    each allowlisted site must be bounded-input by construction:

    - op_agg_quantile_sketch: cumulative window over 64 histogram bins.
    - op_corpus_interleave: dense_rank over the distinct source list.
    - op_pareto_concentration: prefix window over 32 revenue bins.

    (op_agg_equidepth left this list in round 6: rewritten both-sides
    to broadcast cut points, the op_rfm_scores recipe.)

    A NEW name appearing here means an unpartitioned window was added
    over a potentially unbounded input — fix it like op_agg_countmin
    (orderBy+limit heap) or op_rfm_scores (broadcast cut points)."""
    allowed = {
        "op_agg_quantile_sketch",
        "op_corpus_interleave",
        "op_pareto_concentration",
    }
    flagged = set()
    explain_errors = {}
    for name, spec in SPECS.items():
        if "streaming" in spec.tags:
            continue
        try:
            plan = I.explain_str(spec.fn(spark, SF), "simple")
        except Exception as e:  # noqa: BLE001
            # an op that cannot even explain would silently escape the
            # audit (ADVICE r5) — surface it as a failure instead
            explain_errors[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
            continue
        if I.num_global_window_sorts(plan):
            flagged.add(name)
    assert not explain_errors, f"ops escaped the window audit (explain failed): {explain_errors}"
    assert flagged <= allowed, f"new unbounded-input global windows: {flagged - allowed}"
    assert allowed <= flagged, f"allowlist stale (sites fixed?): {allowed - flagged}"


def test_global_window_matcher_tolerates_intermediate_nodes():
    """ADVICE r5: the Window->Sort->Exchange SinglePartition scan must
    also catch shapes where Spark interposes a narrow node (Project,
    Filter) between the Sort and its feeding exchange — and must NOT
    count hash-partitioned windows or unrelated exchanges."""
    adjacent = (
        "Window [row_number()], [x ASC]\n"
        "+- Sort [x ASC], false, 0\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
    )
    separated = (
        "Window [ntile(10)], [y ASC]\n"
        "+- Sort [y ASC], false, 0\n"
        "   +- Project [y]\n"
        "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
    )
    partitioned = (
        "Window [rank()], [k], [v ASC]\n"
        "+- Sort [k ASC, v ASC], false, 0\n"
        "   +- Exchange hashpartitioning(k, 32), ENSURE_REQUIREMENTS\n"
    )
    # a Project below the Sort fed by a HASH exchange must not count,
    # even though an unrelated SinglePartition exchange appears later
    unrelated = (
        "Window [rank()], [k], [v ASC]\n"
        "+- Sort [k ASC, v ASC], false, 0\n"
        "   +- Exchange hashpartitioning(k, 32), ENSURE_REQUIREMENTS\n"
        "      +- HashAggregate\n"
        "         +- Exchange SinglePartition, ENSURE_REQUIREMENTS\n"
    )
    assert I.num_global_window_sorts(adjacent) == 1
    assert I.num_global_window_sorts(separated) == 1
    assert I.num_global_window_sorts(partitioned) == 0
    assert I.num_global_window_sorts(unrelated) == 0
    assert I.num_global_window_sorts(adjacent + separated) == 2


def test_vocab_coverage_broadcasts_vocab_and_keeps_topk_heap(spark):
    """op_text_vocab_coverage: the 500-term vocabulary cut must be
    orderBy+limit (TakeOrderedAndProject heap, never a global rank
    sort) and its membership join against the token stream must be a
    broadcast — a shuffled join there would re-shuffle the full token
    stream on the term key for a 500-row build side."""
    plan = I.explain_str(SPECS["op_text_vocab_coverage"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, "vocab cut lost the top-k heap"
    assert "BroadcastHashJoin" in plan, "vocab membership join is not broadcast"
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "token stream shuffled into the vocab join"
    )


def test_copurchase_generates_pairs_without_a_join(spark):
    """q_copurchase_lift: pair generation is a per-row combination
    explode over per-order sorted part arrays — the plan must contain
    NO shuffled join at all (the only joins allowed are the broadcast
    survivor/count joins and the 1-row n_orders nested loop), no cross
    product, and the top-20 cut must stay a heap. The basket subtree
    is shared across the pairs / part-count / order-total branches by
    an eager localCheckpoint (r6 measurement: materializing the
    per-order array table once beats ReuseExchange 6.39 s → 2.84 s —
    the reused exchange still re-ran the collect_set agg above it in
    every branch), so the plan reads from checkpointed scans with no
    lineitem scan and no wide exchange at all."""
    df = SPECS["q_copurchase_lift"].fn(spark, SF)
    plan = I.explain_str(df)
    assert "CartesianProduct" not in plan, "pair generation degenerated to a cross product"
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        "pair generation reintroduced a shuffled join"
    )
    assert "TakeOrderedAndProject" in plan, "top-20 cut lost the heap"
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, (
        "basket subtree is no longer checkpoint-materialized"
    )
    assert "parquet" not in plan.lower(), (
        "a branch re-reads lineitem instead of the checkpointed baskets"
    )


def test_bpe_is_one_arrow_stage_no_scoring_shuffle(spark):
    """r7 contract: op_text_bpe_tokens applies the trained tokenizer in
    ONE Arrow-batched python stage over the scan; the only exchanges
    permitted are the local widen_narrow_scan round-robin (absent at
    cluster scale by construction) and the bounded word-count training
    aggregate that happens before the plan is built (driver collect —
    not in this plan at all). No join of any kind: the merge table
    travels in the UDF closure."""
    df = SPECS["op_text_bpe_tokens"].fn(spark, SF)
    plan = I.explain_str(df, "simple")
    f = I.facts(df)
    assert plan.count("ArrowEvalPython") == 1, "expected exactly one Arrow stage"
    assert f.joins == [], f.joins
    assert f.exchanges <= 1, f"only the local widen may shuffle, got {f.exchanges}"


def test_bigram_logprob_single_broadcast_no_wide_join(spark):
    """r7 contract: scoring joins ONE single-row broadcast model (the
    folded count maps) — never a sort-merge/shuffled-hash join, and
    the training side's exchanges are the bounded count aggregates
    plus the local widens."""
    df = SPECS["op_text_bigram_logprob"].fn(spark, SF)
    f = I.facts(df)
    assert all(
        "SortMergeJoin" not in j and "ShuffledHashJoin" not in j for j in f.joins
    ), f.joins
    assert f.broadcasts == 1, f"expected the single model broadcast, got {f.broadcasts}"


def test_pq_family_never_sort_merge_joins(spark):
    """r7 contract: op_sim_pq_adc / op_sim_ivfpq move only codes, cell
    ids, LUT maps and shortlists between stages — every join is a
    broadcast (1-row codebook/query folds or the tiny shortlist); a
    SortMergeJoin anywhere means an unbounded side started shuffling."""
    for name in ("op_sim_pq_adc", "op_sim_ivfpq"):
        f = I.facts(SPECS[name].fn(spark, SF))
        assert all(
            "SortMergeJoin" not in j and "ShuffledHashJoin" not in j for j in f.joins
        ), (name, f.joins)


def test_pack_greedy_is_single_exchange_grouped_stage(spark):
    """r7 contract: true greedy packing is ONE hash exchange on the
    shard key feeding a grouped Arrow stage (FlatMapGroupsInPandas) —
    the sequential recurrence runs inside each shard; nothing else
    shuffles and no join exists."""
    df = SPECS["op_pack_greedy"].fn(spark, SF)
    f = I.facts(df)
    assert f.exchanges == 1, f"expected one shard exchange, got {f.exchanges}"
    assert "FlatMapGroupsInPandas" in I.explain_str(df, "simple")
    assert f.joins == [], f.joins


def test_retrieval_ops_plan_contracts(spark):
    """r7 retrieval additions. op_text_bm25 collapses the corpus scan
    to a materialized narrow (doc_id, dl, query-hits) projection —
    Catalyst does not reuse scan subtrees across its tf / df / stats
    consumers (no ReusedExchange appears), so without the barrier the
    100 TB text column would be read three times: the final plan must
    therefore contain NO parquet scan at all. op_sim_hybrid_rrf must
    reduce both ranker sides with TakeOrderedAndProject K-heaps (never
    a global sort) and assign ranks without any single-partition
    window (the sort_array/posexplode form over the K survivors)."""
    bm = I.explain_str(SPECS["op_text_bm25"].fn(spark, SF))
    assert "Scan parquet" not in bm, "bm25 re-scans the corpus past the barrier"
    rrf = I.explain_str(SPECS["op_sim_hybrid_rrf"].fn(spark, SF), "simple")
    assert rrf.count("TakeOrderedAndProject") == 2, rrf.count("TakeOrderedAndProject")
    assert I.num_global_window_sorts(rrf) == 0
    # the fusion is union + group-by, NOT a full outer join: Spark
    # cannot broadcast a full outer side, so the join form would
    # compile to a SortMergeJoin
    assert "SortMergeJoin" not in rrf
    pmi = I.explain_str(SPECS["op_text_pmi_bigrams"].fn(spark, SF))
    assert "Scan parquet" not in pmi, "pmi re-scans the corpus past the count tables"


def test_ivfpq_serve_plan_contract(spark):
    """op_sim_ivfpq_serve must be PURE serving: every input is a
    parquet read (the persisted ann_index artifacts + the embeddings
    table for queries/rerank/audit) — no ExistingRDD operator may
    appear, because that is how a localCheckpoint'd training frame
    (Lloyd centroids, driver-trained codebooks) enters a plan. The
    postings read must target the ann_index warehouse path, and the
    build must not re-run for a second serve in the same process."""
    from game_data_etl_pipeline_spark.llmdata import artifacts

    before = artifacts.BUILD_COUNT
    plan = I.explain_str(SPECS["op_sim_ivfpq_serve"].fn(spark, SF), "simple")
    assert "ExistingRDD" not in plan, "training frame leaked into the serve plan"
    assert "ann_index" in plan, "serve plan does not read the persisted index"
    SPECS["op_sim_ivfpq_serve"].fn(spark, SF)
    assert artifacts.BUILD_COUNT == before or artifacts.BUILD_COUNT == before + 1
    SPECS["op_sim_ivfpq_serve"].fn(spark, SF)
    # at most one build per fixture per process, however many serves
    assert artifacts.BUILD_COUNT <= before + 1


def test_decontaminate_bloom_plan_contract(spark):
    """op_corpus_decontaminate_bloom is the barrier-free 100 TB form
    of the exact screen: NO materialized shingle projection may appear
    (no ExistingRDD — the exact op's localCheckpoint barrier is what
    this op exists to remove), the bitmap words table and the bench
    rescreen side must reach the probe side as broadcasts (containment
    is map-side; the training corpus never shuffles by shingle), and
    the plan must contain no SortMergeJoin of corpus-sized sides."""
    df = SPECS["op_corpus_decontaminate_bloom"].fn(spark, SF)
    plan = I.explain_str(df, "simple")
    assert "ExistingRDD" not in plan, "shingle materialization barrier leaked in"
    f = I.facts(df)
    assert "SortMergeJoin" not in f.joins, f.joins
    assert f.broadcasts >= 2, f"words + rescreen must broadcast, got {f.broadcasts}"


def test_ivfpq_serve_compacted_plan_contract(spark):
    """op_sim_ivfpq_serve_compacted is the same pure-serving contract
    as op_sim_ivfpq_serve, pointed at the post-delete tree: no
    ExistingRDD (no training frame — the compacted path serves with
    the FROZEN coarse/codebook artifacts), and the postings scan must
    target the compact_v tree, not the live build."""
    plan = I.explain_str(SPECS["op_sim_ivfpq_serve_compacted"].fn(spark, SF), "simple")
    assert "ExistingRDD" not in plan, "training frame leaked into the serve plan"
    assert "compact_v" in plan, "serve plan does not read the compacted tree"


def test_retrieval_pipeline_plan_contract(spark):
    """q_retrieval_pipeline's fused stage (everything before the
    bounded MMR frames are materialized) must preserve each stage op's
    scale contract THROUGH the composition: zero documents scans (the
    BM25 materialize-once barrier holds), embeddings read at most 3
    times — the 1-row query lookup, the corpus scoring scan, and the
    lexical semi-join which must be column-pruned to vec_id alone —
    two TakeOrderedAndProject K-heaps (never a global sort), rank
    assignment without a single-partition window, and union+groupBy
    fusion (no SortMergeJoin from a full-outer form)."""
    import re

    from game_data_etl_pipeline_spark.catalog import load_table
    from game_data_etl_pipeline_spark.llmdata.retrieval import (
        K_EACH,
        _ranked,
        fuse_rrf,
        lex_ranked,
    )
    from game_data_etl_pipeline_spark.llmdata.similarity import _cosine_to_query0
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")
    lex = lex_ranked(spark, SF)
    sem = _ranked(
        _cosine_to_query0(emb).drop("embedding").orderBy(F.desc("cos"), "doc_id").limit(K_EACH),
        "cos",
        "sem_rank",
    )
    fused = fuse_rrf(lex, sem)
    plan = I.explain_str(fused, "formatted")
    simple = I.explain_str(fused, "simple")
    assert not re.findall(r"Scan parquet[^\n]*documents", plan), "bm25 barrier lost"
    schemas = I.read_schemas(plan)
    assert len(schemas) <= 3, schemas
    assert ["vec_id"] in schemas, f"semi-join scan not pruned: {schemas}"
    assert simple.count("TakeOrderedAndProject") == 2
    assert I.num_global_window_sorts(simple) == 0
    assert "SortMergeJoin" not in simple


def test_bm25_serve_plan_contract(spark):
    """op_text_bm25_serve must touch ZERO corpus at query time: no
    documents scan anywhere in the plan, and the postings read must
    prune to the query terms' bucket directories (a term_bucket
    PartitionFilter on the scan). The value oracle already holds the
    path to bit-equality with the corpus-scan form; this pins that
    the equality is achieved the cheap way."""
    import re

    from game_data_etl_pipeline_spark.llmdata import artifacts

    before = artifacts.BUILD_COUNT
    plan = I.explain_str(SPECS["op_text_bm25_serve"].fn(spark, SF), "formatted")
    assert not re.findall(r"Scan parquet[^\n]*documents", plan), "corpus scan at serve time"
    assert "lex_index" in plan
    assert re.search(r"PartitionFilters: \[[^\]]*term_bucket", plan), "no bucket pruning"
    SPECS["op_text_bm25_serve"].fn(spark, SF)
    assert artifacts.BUILD_COUNT <= before + 1, "rebuilt per serve"


def test_batch_pipeline_plan_contract(spark):
    """q_retrieval_pipeline_batch's fused stage must hold the
    single-query contracts ACROSS the batch: zero documents scans
    (the batch BM25 barrier covers all queries from one scan), the
    lexical semi-join pruned to vec_id, no SortMergeJoin, and no
    GLOBAL window — the per-query ranks run as windows PARTITIONED BY
    query_id, which is the one shape allowed to replace the
    single-query TakeOrderedAndProject heaps."""
    import re

    from game_data_etl_pipeline_spark.catalog import load_table
    from game_data_etl_pipeline_spark.llmdata.retrieval import (
        K_EACH,
        N_BATCH_QUERIES,
        fuse_rrf_grouped,
        lex_ranked_batch,
    )
    from game_data_etl_pipeline_spark.llmdata.similarity import dot_expr, norm_expr
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")
    lex = lex_ranked_batch(spark, SF)
    qs = emb.filter(F.col("vec_id") < N_BATCH_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        norm_expr(F.col("embedding")).alias("qn"),
    )
    cos = F.round(
        dot_expr(F.col("embedding"), F.col("qe"))
        / (norm_expr(F.col("embedding")) * F.col("qn")),
        4,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "doc_id")
    sem = (
        emb.join(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("doc_id"), cos.alias("cos"))
        .withColumn("sem_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sem_rank") <= K_EACH)
        .select("query_id", "doc_id", "sem_rank")
    )
    fused = fuse_rrf_grouped(lex, sem)
    plan = I.explain_str(fused, "formatted")
    simple = I.explain_str(fused, "simple")
    assert not re.findall(r"Scan parquet[^\n]*documents", plan), "batch bm25 barrier lost"
    assert ["vec_id"] in I.read_schemas(plan), "semi-join scan not pruned"
    assert I.num_global_window_sorts(simple) == 0
    assert "SortMergeJoin" not in simple


def test_batch_served_plan_contract(spark):
    """q_retrieval_pipeline_batch_served removes the last corpus-text
    read from the query-time plan: the un-checkpointed served lexical
    frame must contain NO documents scan (it reads the lex_index tree,
    bucket-pruned), and the full op plan must likewise be
    documents-free — the unserved batch contract allows one scan
    behind the barrier; this one allows none."""
    import re

    from game_data_etl_pipeline_spark.llmdata.retrieval import (
        BATCH_QUERY_TERMS,
        lex_ranked_batch_served,
    )

    lex_plan = I.explain_str(
        lex_ranked_batch_served(spark, SF, BATCH_QUERY_TERMS), "formatted"
    )
    assert not re.findall(r"Scan parquet[^\n]*documents", lex_plan), (
        "served lexical side scans the corpus"
    )
    assert "lex_index" in lex_plan
    assert re.search(r"PartitionFilters: \[[^\]]*term_bucket", lex_plan), (
        "no bucket pruning on the served batch postings read"
    )
    full = SPECS["q_retrieval_pipeline_batch_served"].fn(spark, SF)
    plan = I.explain_str(full, "formatted")
    simple = I.explain_str(full, "simple")
    assert not re.findall(r"Scan parquet[^\n]*documents", plan), (
        "documents scan leaked into the served batch plan"
    )
    assert I.num_global_window_sorts(simple) == 0
    assert "SortMergeJoin" not in simple


def test_bloom_served_plan_contract(spark):
    """op_corpus_decontaminate_bloom_served reads the PERSISTED filter:
    the plan must read the bloom_index tree and contain ZERO documents
    scans — the benchmark corpus is never read at screen time, and the
    training side's single read happened at the one shingle-projection
    materialization (probe chain + audit both consume the checkpoint;
    a documents scan in the served plan would mean a consumer is
    re-scanning the corpus). Serving twice in one process must never
    rebuild the artifact (the ann/lex build-count discipline)."""
    import re

    from game_data_etl_pipeline_spark.llmdata import artifacts

    df = SPECS["op_corpus_decontaminate_bloom_served"].fn(spark, SF)
    plan = I.explain_str(df, "simple")
    assert "bloom_index" in plan, "served screen does not read the persisted filter"
    n_doc_scans = len(re.findall(r"FileScan parquet[^\n]*documents", plan))
    assert n_doc_scans == 0, f"corpus re-scan leaked into the served plan: {n_doc_scans}"
    before = artifacts.BUILD_COUNT
    SPECS["op_corpus_decontaminate_bloom_served"].fn(spark, SF)
    assert artifacts.BUILD_COUNT == before, "rebuilt the filter per screen"


def test_batch_ann_plan_contract(spark):
    """q_retrieval_pipeline_batch_ann is the fully-served batch: both
    candidate generators read persisted indexes, so NO documents scan
    may appear anywhere, the pre-checkpoint ANN side must read the
    ann_index tree (not train inline — no ExistingRDD beyond the
    bounded checkpointed frames in the final op is tolerable, but the
    candidate generator itself must be pure), and the final plan must
    hold the batch discipline: no global windows, no SortMergeJoin."""
    import re

    from game_data_etl_pipeline_spark.llmdata.retrieval import (
        BATCH_QUERY_TERMS,
        ann_sem_ranked_batch,
    )

    sem_plan = I.explain_str(
        ann_sem_ranked_batch(spark, SF, BATCH_QUERY_TERMS), "formatted"
    )
    assert "ann_index" in sem_plan, "batch ANN side does not read the persisted index"
    assert "ExistingRDD" not in sem_plan, "training frame leaked into batch ANN serve"
    assert not re.findall(r"Scan parquet[^\n]*documents", sem_plan)
    full = SPECS["q_retrieval_pipeline_batch_ann"].fn(spark, SF)
    plan = I.explain_str(full, "formatted")
    simple = I.explain_str(full, "simple")
    assert not re.findall(r"Scan parquet[^\n]*documents", plan), (
        "documents scan leaked into the fully-served batch plan"
    )
    assert I.num_global_window_sorts(simple) == 0
    assert "SortMergeJoin" not in simple


def test_lex_upsert_serve_plan_contract(spark):
    """op_lex_index_upsert serves from the POST-UPSERT tree with the
    same query-time contract as op_text_bm25_serve: no documents scan
    in the serve plan, postings read from the upsert tree, pruned to
    the query terms' buckets."""
    import re

    plan = I.explain_str(SPECS["op_lex_index_upsert"].fn(spark, SF), "formatted")
    assert not re.findall(r"Scan parquet[^\n]*documents", plan), "corpus scan at serve time"
    assert "upsert_v" in plan, "serve plan does not read the upsert tree"
    assert re.search(r"PartitionFilters: \[[^\]]*term_bucket", plan), "no bucket pruning"


def test_batch_served8_plan_contract(spark):
    """q_retrieval_pipeline_batch_served8 must hold the served-batch
    contract at N=8 exactly as at N=3 — the amortization claim rests
    on the plan NOT growing with the batch: zero documents scans
    anywhere, bucket-pruned postings reads on the served lexical side,
    per-query windows only, no SortMergeJoin."""
    import re

    from game_data_etl_pipeline_spark.llmdata.retrieval import (
        BATCH_QUERY_TERMS_8,
        lex_ranked_batch_served,
    )

    lex_plan = I.explain_str(
        lex_ranked_batch_served(spark, SF, BATCH_QUERY_TERMS_8), "formatted"
    )
    assert not re.findall(r"Scan parquet[^\n]*documents", lex_plan)
    assert "lex_index" in lex_plan
    assert re.search(r"PartitionFilters: \[[^\]]*term_bucket", lex_plan), (
        "no bucket pruning on the N=8 served postings read"
    )
    full = SPECS["q_retrieval_pipeline_batch_served8"].fn(spark, SF)
    plan = I.explain_str(full, "formatted")
    simple = I.explain_str(full, "simple")
    assert not re.findall(r"Scan parquet[^\n]*documents", plan), (
        "documents scan leaked into the N=8 served batch plan"
    )
    assert I.num_global_window_sorts(simple) == 0
    assert "SortMergeJoin" not in simple


def test_bloom_upsert_plan_contract(spark):
    """op_bloom_index_upsert serves the screen from the UPSERTED
    filter and referees it against the rebuilt one: the plan must
    read the bloom_index artifact trees (upsert + full), scan the
    corpus text exactly ONCE (the training shingling — the benchmark
    side comes entirely from the persisted pair set), and never
    SortMergeJoin (every frame in the referee joins is a <=65k-row
    words table or a broadcast). Re-running the op must rebuild
    neither tree."""
    import re

    from game_data_etl_pipeline_spark.llmdata import artifacts

    df = SPECS["op_bloom_index_upsert"].fn(spark, SF)
    plan = I.explain_str(df, "simple")
    assert "bloom_index" in plan, "upsert op does not read the persisted trees"
    n_doc_scans = len(re.findall(r"FileScan parquet[^\n]*documents", plan))
    assert n_doc_scans == 1, (
        f"expected exactly one training-corpus scan, found {n_doc_scans}"
    )
    assert "SortMergeJoin" not in plan
    before = artifacts.BUILD_COUNT
    SPECS["op_bloom_index_upsert"].fn(spark, SF)
    assert artifacts.BUILD_COUNT == before, "re-serving rebuilt the full filter"


def test_lifecycle_e2e_plan_contracts(spark):
    """The composed-lifecycle serve gates must serve from their
    lineage END-STATE trees with the per-transition ops' scale
    contracts intact: the lexical side touches ZERO corpus at query
    time (postings/df/stats from the e2e tree, bucket-pruned); the
    ANN side serves with the frozen persisted structure (no
    ExistingRDD training frame) and reads the e2e_v tree — its
    fresh-encode referee deliberately reads raw embeddings (the
    yardstick must not touch the lineage's bytes), so embeddings
    scans ARE expected there."""
    import re

    lex_plan = I.explain_str(SPECS["op_lex_lifecycle_e2e"].fn(spark, SF), "formatted")
    assert not re.findall(r"Scan parquet[^\n]*documents", lex_plan), (
        "corpus scan in the lex e2e serve plan"
    )
    assert "e2e_v" in lex_plan, "lex serve does not read the e2e lineage tree"
    assert re.search(r"PartitionFilters: \[[^\]]*term_bucket", lex_plan), (
        "no bucket pruning in the e2e serve"
    )

    ann_plan = I.explain_str(SPECS["op_sim_lifecycle_e2e"].fn(spark, SF), "simple")
    assert "e2e_v" in ann_plan, "ANN serve does not read the e2e lineage tree"
    assert "ExistingRDD" not in ann_plan, "training frame leaked into the e2e serve"


def test_bloom_registry_plan_contract(spark):
    """op_bloom_registry_screen must scan the corpus text exactly ONCE
    (the training side; every benchmark byte comes from the persisted
    registry artifacts), read the registry_v tree, and never
    SortMergeJoin (the probe is a broadcast containment, the rescreen
    a broadcast join of the bounded candidate set, the referees
    <=65k-row words folds). Screening twice must not rebuild."""
    import re

    from game_data_etl_pipeline_spark.llmdata import artifacts

    df = SPECS["op_bloom_registry_screen"].fn(spark, SF)
    plan = I.explain_str(df, "simple")
    assert "registry_v" in plan, "screen does not read the registry tree"
    n_doc_scans = len(re.findall(r"FileScan parquet[^\n]*documents", plan))
    assert n_doc_scans == 1, (
        f"expected exactly one training-corpus scan, found {n_doc_scans}"
    )
    assert "SortMergeJoin" not in plan
    before = artifacts.BUILD_COUNT
    SPECS["op_bloom_registry_screen"].fn(spark, SF)
    assert artifacts.BUILD_COUNT == before, "re-screening rebuilt the full filter"


def test_bloom_registry_refresh_plan_contract(spark):
    """op_bloom_registry_refresh serves from the refresh-demo tree's
    post-refresh union with the registry screen's contract: exactly
    one training-corpus text scan (every benchmark byte from the
    persisted refresh_v tree), no SortMergeJoin, and re-running must
    rebuild nothing (the demo lineage and the full filter are both
    persisted)."""
    import re

    from game_data_etl_pipeline_spark.llmdata import artifacts

    df = SPECS["op_bloom_registry_refresh"].fn(spark, SF)
    plan = I.explain_str(df, "simple")
    assert "refresh_v" in plan, "screen does not read the refresh-demo tree"
    n_doc_scans = len(re.findall(r"FileScan parquet[^\n]*documents", plan))
    assert n_doc_scans == 1, (
        f"expected exactly one training-corpus scan, found {n_doc_scans}"
    )
    assert "SortMergeJoin" not in plan
    before = artifacts.BUILD_COUNT
    SPECS["op_bloom_registry_refresh"].fn(spark, SF)
    assert artifacts.BUILD_COUNT == before, "re-screening rebuilt the full filter"


def test_bloom_registry_retire_plan_contract(spark):
    """op_bloom_registry_retire serves from the retire-demo tree's
    survivor union with the registry screen's contract: exactly one
    training-corpus text scan (the survivor's benchmark bytes come
    from the persisted retire_v tree; the union yardstick folds fresh
    from the tree's own PAIR sets, never a document), no
    SortMergeJoin, and — stronger than screen/refresh — it must never
    build the full single-benchmark filter at all (the survivors no
    longer cover the full benchmark, so that yardstick would be wrong
    by construction)."""
    import re

    from game_data_etl_pipeline_spark.llmdata import artifacts

    before = artifacts.BUILD_COUNT
    df = SPECS["op_bloom_registry_retire"].fn(spark, SF)
    plan = I.explain_str(df, "simple")
    assert "retire_v" in plan, "screen does not read the retire-demo tree"
    n_doc_scans = len(re.findall(r"FileScan parquet[^\n]*documents", plan))
    assert n_doc_scans == 1, (
        f"expected exactly one training-corpus scan, found {n_doc_scans}"
    )
    assert "SortMergeJoin" not in plan
    SPECS["op_bloom_registry_retire"].fn(spark, SF)
    assert artifacts.BUILD_COUNT == before, (
        "the retire screen built the full-benchmark filter"
    )


def test_bloom_registry_lifecycle_plan_contract(spark):
    """op_bloom_registry_lifecycle_e2e serves from the lifecycle-demo
    tree's end-state union with the registry screen's contract:
    exactly one training-corpus text scan (every benchmark byte comes
    from the persisted lifecycle_v tree), no SortMergeJoin (broadcast
    probe + bounded rescreen + <=65k-row words folds), and re-running
    must rebuild nothing — the lineage is persisted, so the benched
    number measures the SCREEN, not the register/refresh/retire
    history."""
    import re

    from game_data_etl_pipeline_spark.llmdata import artifacts

    df = SPECS["op_bloom_registry_lifecycle_e2e"].fn(spark, SF)
    plan = I.explain_str(df, "simple")
    assert "lifecycle_v" in plan, "screen does not read the lifecycle-demo tree"
    n_doc_scans = len(re.findall(r"FileScan parquet[^\n]*documents", plan))
    assert n_doc_scans == 1, (
        f"expected exactly one training-corpus scan, found {n_doc_scans}"
    )
    assert "SortMergeJoin" not in plan
    before = artifacts.BUILD_COUNT
    SPECS["op_bloom_registry_lifecycle_e2e"].fn(spark, SF)
    assert artifacts.BUILD_COUNT == before, "re-screening rebuilt the full filter"


def test_late_interaction_no_cartesian(spark):
    """op_sim_late_interaction: candidate gen is the inverted-list
    equi-join on the term and the MaxSim rerank meets the corpus
    postings on doc_id with the bounded shortlist side broadcast — a
    nested-loop or cartesian anywhere means a stage regressed to
    all-pairs token scoring (the plan that dies at 100 TB)."""
    f = I.facts(SPECS["op_sim_late_interaction"].fn(spark, SF))
    assert f.joins, "no joins in plan"
    assert all(
        "NestedLoop" not in j and "Cartesian" not in j for j in f.joins
    ), f.joins
    assert "BroadcastHashJoin" in f.joins, f.joins


def test_late_interaction_served_plan_contract(spark):
    """op_sim_late_interaction_served must be PURE serving: the plan
    reads the persisted late_index artifacts (bucket-pruned unigrams,
    ctx postings, vocab vectors) and NEVER the documents parquet — a
    documents scan means the serve path re-tokenized the corpus. No
    ExistingRDD (query literals are JVM-side explodes), and a second
    serve in-process must not rebuild the index."""
    from game_data_etl_pipeline_spark.llmdata import artifacts

    plan = I.explain_str(
        SPECS["op_sim_late_interaction_served"].fn(spark, SF), "simple"
    )
    assert "late_index" in plan, "serve plan does not read the persisted index"
    assert "documents.parquet" not in plan, "serve plan re-tokenizes the corpus"
    assert "ExistingRDD" not in plan, "local-relation frame leaked into the plan"
    before = artifacts.BUILD_COUNT
    SPECS["op_sim_late_interaction_served"].fn(spark, SF)
    assert artifacts.BUILD_COUNT == before, "second serve rebuilt the index"
