"""The correctness gate, self-run: every corpus query vs its DuckDB oracle
at sf0.01 (the driver's t2 scale), exact value comparison."""

from __future__ import annotations

import pytest

from project_crypto_data_engineering_gcp_spark.plans import all_queries

from .conftest import SF_ORACLE, SF_SMOKE
from .oracle_harness import assert_frames_match, run_duckdb

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    q = QUERIES[name]
    df = q.fn(spark, SF_ORACLE)
    if q.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors driver fallback
        return
    duck = run_duckdb(q.oracle, SF_ORACLE)
    assert_frames_match(df, duck, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_at_smoke_sf(spark, name):
    """Every query also runs (rows >= 0, stable schema) at sf0.001."""
    df = QUERIES[name].fn(spark, SF_SMOKE)
    assert df.columns, name
    assert df.count() >= 0


# Every query named in at least one driver correctness report
# (CORRECTNESS_r01..r13.json, kept in git history): the union of their keys.
DRIVER_CHECKED = frozenset({
    "a11_revenue_trend", "a12_incremental_merge", "a13_correlation_moments",
    "a14_share_of_parent", "a15_cusum_drift", "a16_rfm_segments",
    "a17_mad_by_priority", "a18_winsorized_stats", "a19_gini_by_nation",
    "a1_global_stats", "a20_exact_percentiles", "a21_retention_cohorts",
    "a22_sales_cube", "a23_bootstrap_ci", "a24_roc_auc", "a25_ks_test",
    "a26_calibration_bins", "a27_pr_auc", "a28_chi_square", "a29_welch_ttest",
    "a30_mann_whitney_u", "a31_spearman_spend_orders", "a32_cramers_v_sq",
    "a33_user_hhi_deciles", "a34_benford_first_digit",
    "a36_gini_drift_by_nation", "a37_hhi_supplier_by_brand",
    "a38_atkinson_by_nation", "a39_tail_shares_by_nation",
    "a40_bitmap_distinct_users", "a4_customer_market_dominance",
    "a5_rollup_revenue", "a6_salted_skew_aggregate", "a7_order_price_histogram",
    "a8_exact_quantiles_by_priority", "a9_grouping_sets_revenue",
    "approx_countmin_tokens", "approx_distinct_parts", "approx_heavy_tokens",
    "approx_percentile_orders", "approx_quantiles_totalprice",
    "asof_forward_error_tolerance", "asof_purchase_last_view",
    "basket_frequent_pairs", "bloom_semi_revenue", "cluster_kmeans_embeddings",
    "crypto_daily_overview", "crypto_dashboard", "crypto_market_dominance",
    "crypto_merge_upsert", "crypto_scd2_history", "crypto_silver_assets",
    "crypto_supply_dynamics", "crypto_top_gainers_losers", "cube_revenue",
    "curate_chunk_overlap", "curate_contrastive_pairs", "curate_corpus_report",
    "curate_decontaminate", "curate_hash_split", "curate_length_buckets",
    "curate_mix_sources", "curate_ngram_decontaminate", "curate_pack_offsets",
    "curate_pack_sequences", "curate_quality_cut", "curate_quota_per_lang",
    "curate_reservoir_per_source", "curate_sample_rates",
    "curate_shuffle_shards", "curate_stratified_sample",
    "curate_temperature_mix", "curate_weighted_sample", "curate_zorder_layout",
    "d1_date_functions", "dedup_apply_keep_first", "dedup_clusters_transitive",
    "dedup_containment", "dedup_embedding_cosine", "dedup_exact",
    "dedup_fingerprint", "dedup_fuzzy_names", "dedup_keep_best_quality",
    "dedup_minhash_incremental", "dedup_minhash_lsh",
    "dedup_minhash_lsh_capped", "dedup_minhash_recall", "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped", "dedup_semantic_blocked",
    "dedup_semantic_blocked_capped", "dedup_semantic_blocked_scaled_k",
    "dedup_simhash", "dedup_time_bucketed", "dedup_within_watermark_batch",
    "dq_benford_leading_digit", "dq_column_profile", "dq_constraint_violations",
    "dq_embedding_mean_drift", "dq_histogram_drift",
    "dq_order_total_reconciliation", "dq_referential_integrity",
    "dq_table_checksum", "dq_table_diff", "dq_version_quantile_drift",
    "events_category_drift", "events_funnel_conversion",
    "events_hourly_gapfill", "events_hourly_rollup",
    "events_interarrival_stats", "events_markov_transitions",
    "events_peak_concurrency", "events_retention_cohorts",
    "events_rolling_anomaly", "events_rolling_distinct_users",
    "events_sessionized", "events_survival_curve", "events_time_to_convert",
    "events_user_journey", "feat_hashing_trick", "feat_target_encoding",
    "feat_user_activity", "graph_bfs_distances", "graph_kcore",
    "graph_label_propagation", "graph_link_prediction", "graph_pagerank",
    "graph_triangles", "graph_two_hop_reach", "j1_customer_dashboard",
    "j3_customers_without_orders", "j4_customers_with_orders_semi",
    "j5_nation_activity_full_outer", "j6_correlated_scalar",
    "j7_salted_skew_join", "mm_byte_histogram", "mm_frame_fingerprint_match",
    "mm_frame_sample", "mm_media_meta_stub", "mm_payload_meta",
    "mm_resize_meta", "mm_simhash_payload", "o10_weighted_p90_prices",
    "o1_ranked_orders", "o3_top_bottom_orders", "o4_topk_per_group",
    "o5_set_ops_customers", "o6_orders_global_rank", "o7_pareto_skyline_orders",
    "o8_weighted_median_prices", "o9_weighted_median_skewed",
    "p11_quantity_classification", "p13_string_functions", "p14_map_json_ops",
    "p15_variant_extract", "p1_event_json_projection", "p9_round_family",
    "pandas_grouped_zscore", "pandas_scalar_price_tier",
    "percentiles_acctbal_by_nation", "pivot_status_by_priority",
    "profile_orders", "q10_returned_revenue_topk", "q11_important_parts",
    "q12_priority_by_linestatus", "q13_order_count_distribution",
    "q14_promo_revenue_by_month", "q15_top_supplier", "q16_suppliers_not_in",
    "q17_small_quantity_revenue", "q18_large_volume_customers",
    "q19_disjunctive_predicates", "q1_pricing_summary",
    "q20_parts_with_surplus_stock", "q21_sole_returning_supplier",
    "q22_dormant_rich_customers", "q2_cheapest_supplier",
    "q3_shipping_priority", "q4_priority_with_returns", "q5_nation_volume",
    "q6_forecast_revenue", "q7_nation_trade_flows", "q8_market_share",
    "q9_product_profit", "range_join_event_pairs", "set_ops_orderkeys",
    "sim_ann_ivf_incremental", "sim_ann_ivf_indexed", "sim_ann_ivf_kmeans",
    "sim_ann_ivf_recall", "sim_ann_ivf_topk", "sim_ann_lsh_recall",
    "sim_ann_lsh_topk", "sim_binary_hamming_topk", "sim_binary_recall",
    "sim_binary_refined", "sim_cosine_pairs", "sim_dimension_stats",
    "sim_embedding_norms", "sim_ivf_cell_stats", "sim_ivfpq_recall",
    "sim_ivfpq_topk", "sim_knn_classify", "sim_mmr_rerank", "sim_pq_indexed",
    "sim_pq_refined", "sim_pq_topk", "sim_quant_recall",
    "sim_radius_search_ivf", "sim_sq8_topk", "sim_topk_neighbors",
    "skyline_pareto_parts", "streaming_hourly_rollup",
    "streaming_incremental_dedup", "streaming_interval_join",
    "streaming_interval_join_outer", "streaming_sessionized",
    "streaming_snapshot_datasource", "streaming_static_enrichment",
    "text_bm25_topk", "text_boilerplate_ngrams", "text_bpe_encode_stats",
    "text_bpe_pair_counts", "text_bpe_train_merges", "text_distinctive_terms",
    "text_fingerprint", "text_hapax_ratio_by_source", "text_hash_embedding",
    "text_lang_id", "text_quality_by_lang", "text_quality_score",
    "text_redacted", "text_repetition_ratio", "text_rolling_hash",
    "text_tfidf_topk", "text_token_diversity", "text_token_explode",
    "text_token_rank_curve", "text_token_stats", "text_top_bigrams",
    "text_trigram_novelty", "text_ttr_by_lang", "text_vocab_growth_curve",
    "unpivot_lineitem_amounts", "w1_latest_event_per_user",
    "w1b_latest_via_max_by", "w2_acctbal_rank_in_nation",
    "w3_running_order_total", "w4_event_navigation", "w5_sliding_hour_total",
    "w6_forward_fill", "w7_cumulative_distinct_users", "w8_ema_customer_spend",
    "w9_session_window_native",
})


def test_check_window_priority_order():
    """The driver's correctness gate reads ~50 entries in dict order; the
    window ROTATES per round so every query accumulates a driver row. Pin
    that the priority list (a) names only real queries, (b) leads the
    registry, and (c) every registered query that no recorded driver
    report names (``DRIVER_CHECKED``) sits inside the 50-entry window —
    i.e. after this round's check, cumulative coverage is total."""
    from project_crypto_data_engineering_gcp_spark.plans.corpus import (
        CHECK_WINDOW_PRIORITY,
    )

    names = list(QUERIES)
    missing = [n for n in CHECK_WINDOW_PRIORITY if n not in QUERIES]
    assert not missing, f"priority names not in registry: {missing}"
    assert names[: len(CHECK_WINDOW_PRIORITY)] == list(CHECK_WINDOW_PRIORITY)
    # the sanctioned never-checked set = the 50-entry window plus the
    # explicit rollover queue (priority entries 51+, first in line for
    # the next round's window)
    window = set(names[: max(50, len(CHECK_WINDOW_PRIORITY))])

    never_checked = {n for n in QUERIES if n not in DRIVER_CHECKED}
    uncovered = sorted(never_checked - window)
    assert not uncovered, f"never driver-checked AND outside window: {uncovered}"


def test_no_hugeint_oracle_columns():
    """DuckDB SUM(integer) yields HUGEINT, which the driver's type-sensitive
    value hash treats differently from Spark's bigint (round-1 red rows
    events_sessionized / text_quality_by_lang). Mechanically DESCRIBE every
    oracle and reject HUGEINT output columns — they must be CAST AS BIGINT."""
    import duckdb

    from project_crypto_data_engineering_gcp_spark.sources.tables import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    offenders = {}
    for name, q in QUERIES.items():
        if q.oracle is None:
            continue
        cols = [
            (c, t)
            for c, t, *_ in con.execute(f"DESCRIBE {q.oracle}").fetchall()
            if t in ("HUGEINT", "UHUGEINT")
        ]
        if cols:
            offenders[name] = cols
    assert not offenders, f"uncast HUGEINT oracle columns: {offenders}"


def test_harness_detects_corruption(spark):
    """Meta-test: the differential harness must actually FAIL on a value,
    row-count, or column-name corruption (guards against a silently-weak
    comparator making every parity test vacuous)."""
    import pandas as pd
    import pytest as _pytest

    from .oracle_harness import assert_frames_match

    df = spark.createDataFrame([(1, 2.5), (2, 3.5)], "k int, v double")
    good = pd.DataFrame({"k": [1, 2], "v": [2.5, 3.5]})
    assert_frames_match(df, good, "sanity")
    with _pytest.raises(AssertionError):
        assert_frames_match(df, good.assign(v=[2.5, 3.500001]), "value")
    with _pytest.raises(AssertionError):
        assert_frames_match(df, good.iloc[:1], "rows")
    with _pytest.raises(AssertionError):
        assert_frames_match(df, good.rename(columns={"v": "w"}), "cols")
