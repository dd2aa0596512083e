"""Physical-plan regression tests — the 100 TB contract.

Correctness tests prove the small-SF answer; these prove the PLAN —
that filters reach the parquet scan (row-group skipping), projections
prune columns (ReadSchema), dimension joins broadcast instead of
shuffling the fact table, and nothing degenerates into a cartesian
product. A regression here is invisible at sf0.01 and catastrophic at
100 TB, which is why the plan text itself is under test.
"""

from __future__ import annotations

import pytest

from calaveras_uniteus_etl_spark.plans import REGISTRY
from calaveras_uniteus_etl_spark.plans.tables import events_in_range, table

SF = "/root/testdata/sf0.001"


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_events_range_predicate_reaches_scan(spark):
    df = events_in_range(spark, SF, "2024-01-10", "2024-01-20")
    plan = physical(df)
    # The bound must appear as a parquet PushedFilters entry on the raw
    # epoch-nanos long — not as a post-scan Filter over a converted
    # timestamp (which would defeat row-group min/max skipping).
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("GreaterThanOrEqual(ts" in ln for ln in pushed), pushed


def test_projection_prunes_parquet_schema(spark):
    df = table(spark, SF, "documents").select("doc_id", "lang")
    plan = physical(df)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    assert "text" not in read[0], read[0]  # widest column must be pruned


def test_filter_pushdown_on_documents(spark):
    df = table(spark, SF, "documents").filter("lang = 'en'").select("doc_id")
    plan = physical(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


@pytest.mark.parametrize("name", ["e3_chain_join", "e7_dim_enrich_join",
                                  "f21_rollup_revenue", "h3_shipping_priority",
                                  "h4_local_supplier_volume"])
def test_dim_joins_broadcast_not_shuffle(spark, name):
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    # the fact table must never be shuffled for a dimension lookup
    assert "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "f21_rollup_revenue",
        "f22_pivot_status",
        "g1_event_gap_stats",
        "h2_topk_per_group",
        "x25_unigram_logprob",
        "f20_length_profile_by_lang",
        "e11_salted_skew_join",
        "c7_scd2_intervals",
        "c8_incremental_agg_merge",
        "f23_equidepth_histogram",
        "f24_cube_margins",
        "s3_replay_dedup",
        "m3_zorder_layout",
        "x26_minhash_error",
        "x27_doc_chunking",
        "h3_shipping_priority",
        "h4_local_supplier_volume",
        "h5_big_order_customers",
        "g2_session_windows",
        "x29_semdedup_prune",
        "x30_weighted_sample",
        "r6_provider_performance",
        "x31_dsir_weights",
        "g3_user_growth",
        "x33_source_overlap",
        "x34_bloom_membership",
        "g4_activity_heatmap",
        "x35_lsh_threshold_sweep",
        "x36_cluster_size_dist",
        "c9_snapshot_diff",
        "x37_source_cap",
        "x38_ann_recall_audit",
        "x39_media_resize_plan",
        "x40_frame_sample",
        "x41_ivf_recall_audit",
        "h6_returned_items",
        "g5_rolling_7d_users",
        "e12_link_rank",
        "x42_ivf_nprobe_sweep",
        "x43_countmin_freq",
        "x44_chunk_dup_census",
        "f27_bounded_conversion",
        "x45_split_leakage",
        "x46_template_mining",
        "g6_engagement_ratios",
        "x47_bm25_search",
        "g7_transition_matrix",
        "x48_exact_contamination",
        "h8_forecast_revenue",
        "x49_token_budget_fill",
        "x50_curation_manifest",
        "e13_range_dim_join",
        "d9_keyset_pagination",
        "x51_embedding_health",
        "f28_yoy_revenue",
        "x52_quality_dup_matrix",
        "f29_pareto_revenue",
        "x53_incremental_neardup",
        "f30_drift_monitor",
        "x54_shard_balance",
        "h13_volume_shipping",
        "h14_market_share",
        "h15_custdist",
        "h16_promo_effect",
        "h18_small_qty_avg",
        "h19_large_volume_orders",
        "h20_supplier_variety",
        "h21_waiting_orders",
        "h22_min_cost_supplier",
        "i2_set_ops",
        "g8_spend_deciles",
        "x56_pq_codes",
        "x57_pq_ann_topk",
    ],
)
def test_new_queries_have_no_cartesian_product(spark, name):
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize("name", ["f21_rollup_revenue", "f24_cube_margins"])
def test_grouping_sets_are_single_aggregate_pass(spark, name):
    # ROLLUP/CUBE must compile to Expand + hash aggregate, not one job
    # per grouping level (the reference's per-level-query workaround).
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "Expand" in plan, plan


@pytest.mark.parametrize("name", ["f3_topk_group_count", "h3_shipping_priority",
                                  "h5_big_order_customers"])
def test_global_topk_is_take_ordered(spark, name):
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject (per-
    # partition top-k + merge), never a global sort materialization.
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize(
    "name", ["h14_market_share", "h16_promo_effect", "h20_supplier_variety"]
)
def test_tpch_dim_prunes_broadcast(spark, name):
    # The Q8/Q14/Q16 shapes hinge on part/supplier/customer pruning the
    # fact scan via broadcast BEFORE any shuffle; a SortMergeJoin against
    # a dimension here means the prune regressed to a fact-sized shuffle.
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_h19_aggregates_before_join(spark):
    # Q18's contract: the HAVING rollup must run on lineitem ALONE and
    # only surviving orderkeys reach the orders⋈customer join — i.e. the
    # plan contains an aggregate whose input is the bare lineitem scan,
    # below every join. If the rollup sat above a join, 100 TB of
    # payload would shuffle before the 1% gate.
    lines = physical(REGISTRY["h19_large_volume_orders"].fn(spark, SF)).splitlines()
    gate = next(i for i, ln in enumerate(lines) if "qty_sum" in ln and "Filter" in ln)
    scan = next(
        i for i, ln in enumerate(lines[gate:], gate) if "lineitem.parquet" in ln
    )
    below_gate = "\n".join(lines[gate:scan])
    assert "HashAggregate" in below_gate, below_gate
    assert "Join" not in below_gate, below_gate


def test_h19_topk_is_take_ordered(spark):
    plan = physical(REGISTRY["h19_large_volume_orders"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_bloom_probe_join_is_broadcast(spark):
    # x34's point at scale: the filter is 4096 rows, so probing must be
    # a broadcast join — shuffling probes against the filter would make
    # the sketch pointless.
    plan = physical(REGISTRY["x34_bloom_membership"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "x58_bigram_logprob",
        "h23_product_profit",
        "h24_late_priority_lines",
        "h25_dominant_part_suppliers",
        "s4_interval_join",
        "x59_hybrid_rrf",
        "x60_bpe_pair_counts",
        "x61_media_phash_neardup",
        "x62_hard_negatives",
        "x63_embed_covariance",
    ],
)
def test_round3_queries_have_no_cartesian_product(spark, name):
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize("name", ["h23_product_profit", "h25_dominant_part_suppliers"])
def test_round3_tpch_dim_prunes_broadcast(spark, name):
    # Q9/Q20 hinge on the part filter broadcast-pruning lineitem before
    # any shuffle; a SortMergeJoin against part means the prune
    # regressed to a fact-sized shuffle.
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_x59_rank_windows_are_candidate_bounded(spark):
    # The fusion rankers must take their top-N via TakeOrderedAndProject
    # BEFORE the global ROW_NUMBER window — a Window whose child is a
    # full single-partition Exchange of the corpus is the 100 TB
    # regression this guards against.
    plan = physical(REGISTRY["x59_hybrid_rrf"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_h24_shipdate_range_reaches_scan(spark):
    # The cross-table lateness predicate cannot push down, but the
    # shipdate RANGE must — it is what prunes the fact scan.
    plan = physical(REGISTRY["h24_late_priority_lines"].fn(spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln and "GreaterThanOrEqual" in ln for ln in pushed), pushed


@pytest.mark.parametrize(
    "name",
    [
        "x64_ivfpq_adc",
        "x65_ngram_containment",
        "x66_shingle_novelty",
        "g9_group_percent_rank",
        "m5_join_key_skew_audit",
        "d10_facet_grid",
        "s6_windowed_topk",
        "x68_vocab_coverage",
        "j3_string_suite",
        "x69_knn_label_eval",
    ],
)
def test_round4_queries_have_no_cartesian_product(spark, name):
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_x64_corpus_side_joins_broadcast(spark):
    """IVFADC's constant-size relations (centroids C=8, codebook K·M=128,
    probe LUT ≤1024) must broadcast; the corpus-sized code relation must
    never be the build side of a shuffle join."""
    plan = physical(REGISTRY["x64_ivfpq_adc"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # the only acceptable SMJ would be corpus-corpus; there is none here
    assert "SortMergeJoin" not in plan, plan


def test_d10_facet_grid_is_single_scan(spark):
    """The whole point of the fused facet grid: ONE scan of events, not
    one per facet."""
    plan = physical(REGISTRY["d10_facet_grid"].fn(spark, SF))
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln]
    assert len(scans) == 1, scans


def test_g9_window_is_partitioned(spark):
    """g9's window must partition on nation (parallel across groups) —
    no unpartitioned windowspec anywhere in the plan."""
    plan = physical(REGISTRY["g9_group_percent_rank"].fn(spark, SF))
    specs = [
        ln for ln in plan.splitlines() if "windowspecdefinition(" in ln
    ]
    assert specs, plan
    for ln in specs:
        head = ln.split("windowspecdefinition(", 1)[1]
        first = head.split(",", 1)[0]
        assert " ASC" not in first and " DESC" not in first, ln


@pytest.mark.parametrize("name", ["g10_activity_streaks", "s7_ewma_drift"])
def test_new_user_windows_are_partitioned(spark, name):
    """g10/s7 sort per user, never globally: every windowspec must
    open with a PARTITION BY column (no sort-direction marker), and no
    SinglePartition exchange may feed a Window."""
    plan = physical(REGISTRY[name].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert specs, plan
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        assert " ASC" not in first and " DESC" not in first, ln
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            below = "\n".join(lines[i + 1 : i + 3])
            assert "Window" not in below, plan


@pytest.mark.parametrize(
    "name",
    [
        "f34_chi_square",
        "f35_gini_revenue",
        "e14_entity_resolution",
        "e15_basket_lift",
        "g11_anomaly_flags",
        "x82_ks_test",
        "x83_adamic_adar",
        "m7_compaction_plan",
        "f36_dow_seasonality",
        "g12_rolling_correlation",
        "e16_nearest_event_join",
        "f37_benford_audit",
        "x84_rank_biased_overlap",
        "x85_poisson_bootstrap",
        "g13_decile_profile",
        "f38_mutual_information",
    ],
)
def test_round4b_queries_have_no_cartesian_product(spark, name):
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_e14_blocking_join_is_equi_join(spark):
    """Deletion-neighborhood ER hinges on the candidate join being a
    hash/merge EQUI-join on (variant, nation) — a nested-loop join
    here means the blocking key fell out of the condition and the
    plan degenerated to the O(n^2) scan the operator exists to avoid."""
    plan = physical(REGISTRY["e14_entity_resolution"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_e15_part_counts_broadcast(spark):
    """The per-part support lookup is dim-sized and must broadcast onto
    the pair relation; shuffling pairs against part counts would add
    two needless fact-sized exchanges."""
    plan = physical(REGISTRY["e15_basket_lift"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_g11_topk_is_take_ordered(spark):
    plan = physical(REGISTRY["g11_anomaly_flags"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_x84_topk_lists_are_take_ordered(spark):
    """RBO's two K-deep lists must come from TakeOrderedAndProject —
    a global sort materialization of the corpus per ranker is the
    regression this guards against."""
    plan = physical(REGISTRY["x84_rank_biased_overlap"].fn(spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 2, plan


def test_e16_probe_join_is_equi_join(spark):
    """The nearest-event join must stay an equi-join on
    (user, bucket) — a nested-loop range join over events x events is
    the O(n^2) shape the bucketing exists to avoid."""
    plan = physical(REGISTRY["e16_nearest_event_join"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "f39_kaplan_meier",
        "f40_linear_attribution",
        "g14_gap_fill_ffill",
        "g15_trailing_range_window",
        "g16_event_precedence",
        "m8_k_anonymity",
    ],
)
def test_lifecycle_queries_have_no_cartesian_product(spark, name):
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "name", ["g14_gap_fill_ffill", "g15_trailing_range_window"]
)
def test_lifecycle_user_windows_are_partitioned(spark, name):
    """g14's forward-fill and g15's RANGE frame sort per user/customer,
    never globally: every windowspec opens with a PARTITION BY column
    and no SinglePartition exchange feeds a Window."""
    plan = physical(REGISTRY[name].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert specs, plan
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        assert " ASC" not in first and " DESC" not in first, ln
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            below = "\n".join(lines[i + 1 : i + 3])
            assert "Window" not in below, plan


def test_g16_pair_join_is_equi_join(spark):
    """The precedence self-join must hash/merge on user_id — a
    nested-loop over the firsts relation squares the user count."""
    plan = physical(REGISTRY["g16_event_precedence"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_m8_is_pure_aggregation(spark):
    """The privacy audit is two hash aggregates — any join or window
    in the plan means the QI census picked up accidental complexity."""
    plan = physical(REGISTRY["m8_k_anonymity"].fn(spark, SF))
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_x86_gram_join_is_equi_join(spark):
    """Count filtering hinges on the candidate join being a hash/merge
    EQUI-join on (gram, occurrence) — nested-loop here means the whole
    inverted index degenerated to the quadratic scan."""
    plan = physical(REGISTRY["x86_editdist_join"].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_x87_head_is_take_ordered(spark):
    """The Zipf head must come from TakeOrderedAndProject — a global
    sort of the full vocabulary is the regression this guards."""
    plan = physical(REGISTRY["x87_zipf_slope"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_x88_sampling_window_is_partitioned(spark):
    """The sampler's row_number must partition by the stratum key —
    parallel across strata, no SinglePartition exchange feeding it."""
    plan = physical(REGISTRY["x88_stratified_sample"].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert specs, plan
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        assert " ASC" not in first and " DESC" not in first, ln


@pytest.mark.parametrize(
    "name",
    [
        "c11_delta_join_view",
        "f41_winsorized_stats",
        "f42_forecast_backtest",
        "g17_rfm_segments",
    ],
)
def test_round4c_queries_have_no_cartesian_product(spark, name):
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan


def test_c11_delta_joins_are_equi_joins(spark):
    """All four view terms must stay hash/merge equi-joins on the
    order key — the delta algebra buys nothing if a term degenerates
    to a nested loop."""
    plan = physical(REGISTRY["c11_delta_join_view"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_g17_has_no_single_partition_ntile(spark):
    """Three quintile cuts over a data-sized customer relation: each
    must come from the distributed prefix operator. Every windowspec
    in the plan must therefore either PARTITION BY a column (the
    partition-local rank) or operate on the __prefix_pid offsets
    relation — which is cluster-sized (≤ one row per shuffle
    partition, sits above a pid-keyed HashAggregate), never the
    customer relation. A bare data-column global window here means a
    quintile regressed to single-partition NTILE."""
    plan = physical(REGISTRY["g17_rfm_segments"].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert specs, plan
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        unpartitioned = " ASC" in first or " DESC" in first
        assert not unpartitioned or "__prefix_pid" in first, ln


def test_e17_bloom_is_broadcast_probe(spark):
    """The whole point of the bloom pre-join: the fact side must be
    probed via a BROADCAST of the kilobyte filter — a shuffle of the
    fact table before the prune would erase the saving."""
    plan = physical(REGISTRY["e17_bloom_prejoin"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_m9_is_pure_aggregation(spark):
    plan = physical(REGISTRY["m9_zone_map_pruning"].fn(spark, SF))
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_d11_rank_window_is_prefix_partitioned(spark):
    plan = physical(REGISTRY["d11_prefix_suggest"].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert specs, plan
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        assert " ASC" not in first and " DESC" not in first, ln


def test_f43_cohort_window_is_partitioned_and_size_broadcast(spark):
    plan = physical(REGISTRY["f43_cohort_ltv"].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert specs, plan
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        assert " ASC" not in first and " DESC" not in first, ln
    assert "BroadcastHashJoin" in plan, plan


def test_g18_running_sum_uses_prefix_operator(spark):
    """The sweep-line running sum runs over a session-count-sized
    relation: every unpartitioned windowspec in the plan must be the
    cluster-sized __prefix_pid offsets branch, never the boundary
    relation itself."""
    plan = physical(REGISTRY["g18_concurrency_curve"].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        unpartitioned = " ASC" in first or " DESC" in first
        assert not unpartitioned or "__prefix_pid" in first, ln


def test_h29_rollup_is_single_expand_pass(spark):
    """Both grains must come from ONE ROLLUP (Expand) pass — a union
    of two aggregates would scan the fact join twice."""
    plan = physical(REGISTRY["h29_ranked_rollup"].fn(spark, SF))
    assert "Expand" in plan, plan
    scans = [ln for ln in plan.splitlines() if "orders.parquet" in ln]
    assert len(scans) == 1, scans


def test_x102_resample_prefix_is_distributed(spark):
    """The cumulative-weight axis spans EVERY document, so its running
    sum must ride the two-phase prefix operator: any unpartitioned
    windowspec in the plan is only allowed on the cluster-sized
    __prefix_pid offsets branch."""
    plan = physical(REGISTRY["x102_systematic_resample"].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert specs, plan
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        unpartitioned = " ASC" in first or " DESC" in first
        assert not unpartitioned or "__prefix_pid" in first, ln


def test_g21_windows_partition_by_user(spark):
    """Island detection must stay user-partitioned end to end — an
    unpartitioned window would funnel the whole events table through
    one task."""
    plan = physical(REGISTRY["g21_interval_union_coverage"].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert specs, plan
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        assert " ASC" not in first and " DESC" not in first, ln


def test_x100_gram_mode_is_relational(spark):
    """The top-n-gram mode must come from explode→count→max (hash
    aggregates over (doc_id, gram)), never a per-doc in-memory
    hashmap; and the gram fan-out must not produce a cartesian
    product."""
    plan = physical(REGISTRY["x100_repetition_gate"].fn(spark, SF))
    assert "Generate explode" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_f57_topk_is_take_ordered(spark):
    """The top-(k+1) cut must plan as TakeOrderedAndProject (parallel
    partial top-k), not a global sort of the orders table."""
    plan = physical(REGISTRY["f57_hill_tail_index"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "x106_ccnet_terciles",
        "x107_distinct_ngram_diversity",
        "x108_term_adaptation",
        "x109_padding_waste",
        "x110_lsh_band_planner",
        "x112_contamination_n_sweep",
        "x113_minhash_k_sweep",
        "f60_mann_kendall",
        "f61_spearman_rank_corr",
        "f62_tukey_outliers",
        "f63_revenue_var_cvar",
        "f64_monthly_revenue_bands",
        "j6_conditional_suite",
    ],
)
def test_round5_queries_have_no_cartesian_product(spark, name):
    plan = physical(REGISTRY[name].fn(spark, SF))
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize(
    "name", ["x106_ccnet_terciles", "f61_spearman_rank_corr"]
)
def test_round5_ranks_use_prefix_operator(spark, name):
    """x106's global tercile rank and f61's average ranks run over
    data-sized relations (documents / customer values): every
    unpartitioned windowspec must be the cluster-sized __prefix_pid
    offsets branch, never the data relation itself."""
    plan = physical(REGISTRY[name].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert specs, plan
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        unpartitioned = " ASC" in first or " DESC" in first
        assert not unpartitioned or "__prefix_pid" in first, ln


def test_f62_windows_are_prefix_or_group_grain(spark):
    """f62's quartiles ride the prefix operator over the (group, value)
    order; the only other window is the 5-row group-offset rollup
    (keyed on prio alone) — nothing data-sized may sort in one task.

    The prefix output is pinned (r11: three consumers), so the final
    plan normally reads the checkpoint leaf and carries NO windows at
    all — that shape is the optimized one. Any window that DOES appear
    must still be prefix- or group-grain."""
    plan = physical(REGISTRY["f62_tukey_outliers"].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    if not specs:
        # Optimized shape: quartiles ride the pinned prefix output, so
        # the final plan must read a checkpoint leaf and the ONLY Sort
        # allowed is the trailing orderBy of the ≤5-row fence census —
        # a second Sort means a data-sized total order crept back
        # without a window node (which the loop below would catch).
        assert "Scan ExistingRDD" in plan, plan
        n_sorts = sum(
            1 for ln in plan.splitlines() if ln.strip().startswith("Sort ")
        ) or plan.count(") Sort")
        assert n_sorts <= 1, plan
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        unpartitioned = " ASC" in first or " DESC" in first
        assert (
            not unpartitioned
            or "__prefix_pid" in first
            or first.split(" ")[0].split("#")[0] == "prio"
        ), ln


def test_f64_windows_partition_by_month(spark):
    plan = physical(REGISTRY["f64_monthly_revenue_bands"].fn(spark, SF))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
    assert specs, plan
    for ln in specs:
        first = ln.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        assert " ASC" not in first and " DESC" not in first, ln


def test_e12_fixpoint_is_one_lazy_broadcast_chain(spark):
    """e12's rank iterations run over the nation-grain edge graph as a
    single lazy broadcast-join chain — the returned plan must contain
    the full iteration chain (2 broadcast joins per iteration: contrib
    + rank join-back) above exactly one checkpointed edges leaf. A plan
    that is just a leaf means per-iteration eager checkpoints crept
    back (3 barrier jobs for 25-row states); a SortMergeJoin means a
    rank state stopped broadcasting."""
    from calaveras_uniteus_etl_spark.plans.queries_joins import _RANK_ITERS

    plan = physical(REGISTRY["e12_link_rank"].fn(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2 * _RANK_ITERS, plan
    assert "SortMergeJoin" not in plan, plan
    # the fact-sized work happened ONCE, in the eager edge-graph build:
    # the returned iteration plan must read only the materialized graph
    # (checkpoint leaves), never re-scan the fact tables
    assert "lineitem.parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_x108_topk_is_take_ordered(spark):
    plan = physical(REGISTRY["x108_term_adaptation"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_x110_is_one_signature_pass(spark):
    """All five band configs must come from ONE signature derivation —
    a per-config union re-scanning documents five times is the
    regression the exploded-configs design avoids. x110 reads the
    session-indexed signature relation, so its own plan shows at most
    one scan (zero when the index leaf stands in for it); the companion
    assertion pins the index BUILD plan to exactly one scan, so the
    single-pass property survives the indexing layer."""
    plan = physical(REGISTRY["x110_lsh_band_planner"].fn(spark, SF))
    scans = [ln for ln in plan.splitlines() if "documents.parquet" in ln]
    assert len(scans) <= 1, scans

    from calaveras_uniteus_etl_spark.plans.queries_dedup import _spark_sigs

    build = physical(_spark_sigs(spark, SF))
    build_scans = [
        ln for ln in build.splitlines() if "documents.parquet" in ln
    ]
    assert len(build_scans) == 1, build_scans
