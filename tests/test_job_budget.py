"""Job-budget gate: the number of Spark jobs each catalog entry starts
while it is BUILT (``CATALOG[name].fn(spark, sf_dir)``, before anything
executes the returned DataFrame).

A builder that runs eager actions pays a job-scheduling floor per action
before the query even starts, and opening a parquet table used to cost
one schema-inference job per read.  Each budget is the count measured on
the sf0.001 fixtures (the larger of a cold and a warm build in one
session), so a new eager action or a direct schema-inferring read fails
here.  Lower a budget when a change removes jobs.  Jobs are counted as
``StageLog.run`` counts them: a job group around the call, read back
through the StatusTracker (``conftest.jobs_started``).  The exchange-budget
pass (``test_exchange_budget.py``) builds every entry once and records
this count, so a full run builds each entry once for both budgets.

Counts of builders with eager multi-stage actions can differ by one
between builds: AQE materializes the shuffle stages of an action as
separate jobs, and how many it submits depends on which stage finishes
first.  ``neardup_bfs_hops`` measures 21 or 22 in the same state.
"""

from __future__ import annotations

import os

import pytest

from big_data_table_spark.catalog import CATALOG

from .conftest import jobs_started
from .test_exchange_budget import BUDGET as EXCHANGE_BUDGET

# name -> max Spark jobs started while building the entry
JOB_BUDGET = {
    "agg_all_sd": 0,
    "ann_ivf_expire_retention": 16,
    "ann_ivf_persisted_topk": 12,
    "ann_ivf_requantize": 37,
    "ann_ivf_topk": 0,
    "ann_ivf_trained_topk": 11,
    "ann_ivfpq_persisted_topk": 35,
    "ann_ivfpq_requantize": 73,
    "ann_ivfpq_residual_topk": 33,
    "ann_ivfpq_topk": 0,
    "ann_lsh_pairs": 0,
    "ann_pq_persisted_topk": 15,
    "ann_pq_requantize": 32,
    "ann_pq_topk": 0,
    "ann_pq_trained_topk": 14,
    "ann_recall_report": 0,
    "ann_topk_cosine": 0,
    "anti_join_customers": 0,
    "approx_distinct_diag": 0,
    "approx_percentile_audit": 0,
    "array_functions": 0,
    "balanced_sample_per_group": 0,
    "benford_deviation_report": 0,
    "binary_source_blob_stats": 2,
    "bitmap_audience_jaccard": 2,
    "bitmap_delete_compliance": 10,
    "bitmap_presence_retention": 2,
    "bitmap_rolling_reach": 2,
    "bitmap_rollup_grouped_range": 2,
    "bitmap_rollup_persisted": 13,
    "bloom_index_persisted": 14,
    "bloom_membership_audience": 0,
    "bloom_rolling_membership": 16,
    "bm25_delete_compliance": 26,
    "bm25_expire_retention": 20,
    "bm25_index_persisted": 24,
    "bm25_topk_retrieval": 7,
    "boilerplate_ngram_top": 0,
    "brand_return_rate_wilson": 0,
    "bucketed_etl_revenue": 2,
    "candidate_graph_pagerank": 35,
    "capture_recapture_estimate": 0,
    "clean_corpus_pipeline": 0,
    "cms_chunk_retention": 42,
    "cms_heavy_hitters": 0,
    "cms_heavy_hitters_by_type": 0,
    "cms_rolling_heavy_hitters": 10,
    "cms_rollup_grouped_range": 9,
    "cms_rollup_persisted": 22,
    "cohort_retention": 0,
    "conversion_latency_profile": 0,
    "corpus_burstiness": 0,
    "corpus_data_card": 0,
    "corpus_filter_cascade": 0,
    "corpus_source_mix": 0,
    "count_distinct": 0,
    "cross_join_region_nation": 0,
    "csv_roundtrip": 1,
    "cube_agg": 0,
    "curriculum_packed_batches": 7,
    "curriculum_serving_order": 7,
    "customer_ltv_cohort": 0,
    "customer_order_gaps": 0,
    "customer_spend_migration": 0,
    "customer_survival_km": 0,
    "daily_revenue_runs_test": 0,
    "daily_series_crosscorr": 0,
    "date_functions": 0,
    "decontamination_curve": 0,
    "decontamination_report": 0,
    "dedup_cascade": 12,
    "dedup_chunk_passages": 0,
    "dedup_components": 21,  # 20 measured, +1 for AQE stage timing (24 before: see _minhash_lsh_pairs_fn)
    "dedup_containment_pairs": 7,
    "dedup_crosslingual_pairs": 0,
    "dedup_exact": 0,
    "dedup_keep_best_quality": 21,  # 20 measured, +1 for AQE stage timing (same band table)
    "dedup_lsh_recall_report": 16,
    "dedup_minhash_lsh_pairs": 0,
    "dedup_minhash_signature": 0,
    "dedup_ngram_jaccard": 5,
    "dedup_pipeline_summary": 20,
    "dedup_rate_trend": 0,
    "dedup_simhash": 0,
    "dedup_simhash_candidates": 0,
    "dedup_substring_fraction": 0,
    "dedup_substring_scrub": 0,
    "distinct_segments": 0,
    "doc_length_histogram": 0,
    "docs_equidepth_bands": 0,
    "dup_cluster_histogram": 0,
    "embedding_anisotropy_report": 0,
    "embedding_centroid_confusion": 3,
    "embedding_centroid_margin": 5,
    "embedding_drift_by_label": 0,
    "embedding_hof_stats": 0,
    "embedding_label_centroids": 0,
    "embedding_neardup": 1,
    "embedding_norm_outliers": 4,
    "embedding_pca_power": 45,
    "embedding_pq_distortion": 0,
    "embedding_quantize_int8": 0,
    "embedding_threshold_curve": 5,
    "events_anomaly_zscore": 0,
    "events_asof_forward": 0,
    "events_asof_purchase": 0,
    "events_asof_tolerance": 0,
    "events_attribution_last_touch": 0,
    "events_audience_overlap": 0,
    "events_bounce_rate": 0,
    "events_cumulative_reach": 0,
    "events_cusum_changepoint": 0,
    "events_dau_wau": 0,
    "events_ewma_daily": 0,
    "events_forward_fill": 0,
    "events_funnel": 0,
    "events_funnel_windowed": 2,
    "events_heatmap": 0,
    "events_interarrival_profile": 0,
    "events_json_extract": 0,
    "events_markov_transitions": 0,
    "events_peak_concurrency": 3,
    "events_retention_curve": 4,
    "events_rfm_segments": 4,
    "events_rolling_median_exact": 0,
    "events_score_auc": 0,
    "events_sessionize": 0,
    "events_streak_histogram": 0,
    "events_top_paths": 0,
    "events_transition_entropy": 3,
    "events_tumbling_5min": 0,
    "events_user_gini": 6,
    "except_custkeys": 0,
    "filter_project": 0,
    "generator_source": 0,
    "group_count": 0,
    "groupby_all_sugar": 0,
    "grouped_correlation": 0,
    "grouped_mad_outliers": 0,
    "grouped_mean": 0,
    "grouped_mode_exact": 0,
    "grouped_moments_profile": 0,
    "grouped_sum_by_year": 0,
    "grouping_id_report": 0,
    "grouping_sets": 0,
    "hll_cardinality_grouped": 0,
    "hll_daily_rollup_range": 2,
    "hll_monthly_from_daily": 2,
    "hll_rolling_7day": 0,
    "hll_rollup_compacted": 10,
    "hll_rollup_grouped_range": 2,
    "hll_rollup_incremental": 6,
    "hll_rollup_persisted": 2,
    "hll_union_audience": 4,
    "hybrid_retrieval_rerank": 21,
    "incremental_dedup": 0,
    "incremental_dedup_persisted": 5,
    "intersect_custkeys": 0,
    "ivm_revenue_maintenance": 0,
    "jackknife_mean_variance": 2,
    "join3_revenue_by_segment": 0,
    "join_key_skew_report": 0,
    "json_roundtrip": 1,
    "keyby_sorted": 0,
    "kmeans_ivf_train": 10,
    "lang_id_calibration": 0,
    "lateral_recent_orders": 0,
    "lookup_join_nation_region": 0,
    "lsh_capture_curve": 18,
    "lsh_delete_compliance": 9,
    "lsh_expire_retention": 7,
    "media_dedup_digest": 0,
    "merge_upsert": 0,
    "mg_chunk_retention": 20,
    "mg_heavy_hitters": 0,
    "mg_rollup_grouped_range": 8,
    "mg_rollup_persisted": 33,
    "minhash_estimate_report": 18,
    "mixture_resample": 0,
    "mixture_resample_epochs": 0,
    "mixture_token_plan": 0,
    "multi_key_group": 0,
    "multimodal_features": 0,
    "multimodal_frame_sample": 0,
    "multimodal_jpeg12_decode": 0,
    "multimodal_jpeg_decode": 0,
    "multimodal_jpeg_progressive": 0,
    "multimodal_png16_decode": 0,
    "multimodal_png_color_types": 0,
    "multimodal_png_decode": 0,
    "multimodal_ppm_decode": 0,
    "multimodal_resize_meta": 0,
    "multimodal_resize_pipeline": 0,
    "multimodal_wav_decode": 0,
    "nation_balance_report": 0,
    "neardup_bfs_hops": 22,  # 21 or 22: AQE stage timing in the BFS rounds, not session state
    "neardup_kcore": 35,
    "neardup_source_matrix": 5,
    "neardup_triangle_count": 12,
    "neyman_allocation_sample": 0,
    "not_in_null_semantics": 0,
    "orders_backlog_profile": 3,
    "orders_by_month": 0,
    "orders_flag_aggregates": 0,
    "orders_market_basket": 2,
    "orders_seasonality_index": 2,
    "packing_boundaries": 0,
    "packing_efficiency_curve": 0,
    "pandas_udaf_quantiles": 0,
    "part_brand_stats": 0,
    "part_name_fuzzy_pairs": 0,
    "partials_diag": 0,
    "partitioned_etl_rollup": 1,
    "parts_abc_analysis": 4,
    "parts_pareto_frontier": 0,
    "percentile_exact": 0,
    "pii_scrub_audit": 0,
    "pivot_linestatus": 0,
    "posexplode_positions": 0,
    "q10_returned_items": 0,
    "q11_important_stock": 0,
    "q12_late_shipment_priority": 0,
    "q13_customer_distribution": 0,
    "q14_promo_revenue": 0,
    "q15_top_supplier": 0,
    "q16_parts_supplier_relationship": 0,
    "q17_small_quantity_revenue": 0,
    "q18_large_orders": 0,
    "q19_disjunctive_revenue": 0,
    "q1_pricing_summary": 0,
    "q20_potential_promotion": 0,
    "q21_suppliers_kept_waiting": 0,
    "q22_sales_opportunity": 0,
    "q2_min_cost_supplier": 0,
    "q3_shipping_priority": 0,
    "q4_order_priority": 0,
    "q5_local_supplier_volume": 0,
    "q6_revenue": 0,
    "q7_volume_shipping": 0,
    "q8_market_share": 0,
    "q9_product_type_profit": 0,
    "quality_decile_curve": 0,
    "quality_dedup_interaction": 3,
    "quality_drift_ks": 2,
    "quantile_sketch_grouped": 0,
    "range_join_prices": 0,
    "region_nation_namelist": 0,
    "rollup_agg": 0,
    "rollup_day_retention": 30,
    "sample_by_hash": 0,
    "sample_fixed_k": 0,
    "schema_evolution_read": 3,
    "segment_interval_coverage": 0,
    "segment_monthly_trend": 0,
    "segment_theilsen_trend": 3,
    "semantic_dedup_clusters": 7,
    "semantic_delete_compliance": 18,
    "semantic_expire_retention": 16,
    "semantic_requantize_recall": 24,
    "semantic_requantize_trained": 28,
    "semi_join_orders": 0,
    "sequence_packing": 0,
    "sequence_packing_by_lang": 0,
    "sequence_packing_subword": 26,
    "setjoin_delete_compliance": 33,
    "setjoin_expire_retention": 17,
    "setjoin_index_persisted": 50,
    "setjoin_index_probe": 26,
    "setjoin_prefix_filter_pairs": 5,
    "setops_all_multiset": 0,
    "shingle_df_profile": 4,
    "shipping_delay_profile": 0,
    "simhash_bit_balance": 3,
    "simhash_delete_compliance": 17,
    "simhash_hamming_histogram": 3,
    "simhash_index_probe": 14,
    "source_kl_drift": 0,
    "source_lang_chisq": 2,
    "source_lang_entropy": 2,
    "source_mixture_weights": 0,
    "source_overlap_matrix": 5,
    "source_token_diversity": 0,
    "split_balance_report": 0,
    "stratified_sample": 0,
    "stream_asof_enrich": 0,
    "stream_bitmap_rollup_store": 7,
    "stream_bloom_seen_index": 4,
    "stream_bm25_index_store": 35,
    "stream_click_purchase_join": 0,
    "stream_cms_heavy_hitters": 4,
    "stream_cms_rollup_store": 11,
    "stream_crawl_dedup": 25,
    "stream_dedup_counts": 0,
    "stream_dedup_watermark": 0,
    "stream_foreachbatch_sink": 0,
    "stream_full_outer_join": 0,
    "stream_hll_cardinality": 0,
    "stream_hll_daily": 3,
    "stream_ivf_index_store": 5,
    "stream_late_data_accounting": 3,
    "stream_left_outer_join": 0,
    "stream_mg_grouped_store": 18,
    "stream_mg_rollup_store": 11,
    "stream_packing_ledger": 2,
    "stream_quality_monitor": 5,
    "stream_semantic_crawl": 3,
    "stream_session_30min": 0,
    "stream_setjoin_crawl": 17,
    "stream_simhash_crawl": 3,
    "stream_sliding_10x5": 0,
    "stream_stateful_counts": 0,
    "stream_static_enrich": 0,
    "stream_tdigest_daily": 0,
    "stream_tumbling_5min": 0,
    "string_functions": 0,
    "supplier_chain": 0,
    "supplier_concentration_hhi": 0,
    "survival_logrank_test": 7,
    "table_profile": 0,
    "tdigest_quantiles_grouped": 0,
    "tdigest_rolling_quantiles": 2,
    "tdigest_rollup_compacted": 8,
    "tdigest_rollup_grouped_range": 2,
    "tdigest_rollup_range": 2,
    "text_bigram_cross_entropy": 0,
    "text_collocations_pmi": 2,
    "text_fingerprint": 0,
    "text_lang_id": 0,
    "text_lang_id_confusion": 0,
    "text_quality_score": 0,
    "text_repetition_ratio": 0,
    "text_source_log_parse": 1,
    "text_token_count": 0,
    "text_token_count_subword": 26,
    "text_top_bigrams": 0,
    "text_winnow_fingerprint": 0,
    "text_zipf_fit": 0,
    "tfidf_top_terms": 0,
    "theta_overlap_by_source": 8,
    "theta_rolling_churn": 8,
    "theta_rollup_grouped_range": 7,
    "theta_rollup_persisted": 19,
    "theta_sketch_intersection": 14,
    "tokenizer_fertility": 26,
    "topk_orders": 0,
    "tpch_refresh_cycle": 0,
    "train_val_test_split": 0,
    "training_order_shuffle": 0,
    "try_cast_quality_gate": 0,
    "two_phase_agg": 0,
    "udtf_order_schedule": 0,
    "union_all_counts": 0,
    "unpivot_quarter_revenue": 0,
    "user_clamped_ledger": 0,
    "user_customer_full_outer_recon": 0,
    "user_decay_scores": 0,
    "vocab_growth_curve": 0,
    "vocab_oov_curve": 2,
    "weighted_median_price": 8,
    "weighted_sample_per_group": 0,
    "weighted_sample_topk": 0,
    "window_lag_lead": 0,
    "window_rank_family": 0,
    "window_running_sum": 0,
    "window_time_range_trailing": 0,
    "window_topk_per_group": 0,
    "winnow_attribution": 8,
    "winsorized_mean_report": 0,
    "zorder_locality_report": 0,
}


def test_job_budget_covers_exchange_budget():
    assert set(JOB_BUDGET) == set(EXCHANGE_BUDGET), sorted(
        set(JOB_BUDGET) ^ set(EXCHANGE_BUDGET)
    )


def test_fixture_scans_build_without_jobs():
    """The three benchmarked scan/join/window entries open their tables
    through footers alone, so building them starts nothing."""
    for name in ("q1_pricing_summary", "join3_revenue_by_segment", "events_sessionize"):
        assert JOB_BUDGET[name] == 0, name


@pytest.mark.parametrize("name", sorted(JOB_BUDGET))
def test_build_job_budget(spark, sf_dir, build_jobs, name):
    """Checks the jobs the exchange-budget pass counted while building
    the entry; builds it here only when that pass did not run."""
    n = build_jobs.get(name)
    if n is None:
        _, n = jobs_started(spark, lambda: CATALOG[name].fn(spark, sf_dir))
    assert n <= JOB_BUDGET[name], (
        f"{name}: building started {n} Spark jobs > budget {JOB_BUDGET[name]}"
    )


def test_register_views_fresh_dir_starts_no_job(spark, sf_dir, tmp_path):
    """Registering all fixture views of a directory this session has not
    seen yet lists files and reads footers on the driver only."""
    from big_data_table_spark.catalog_base import register_views
    from big_data_table_spark.sources.readers import FIXTURE_TABLES

    for name in FIXTURE_TABLES:
        os.symlink(os.path.join(sf_dir, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    try:
        _, n = jobs_started(spark, lambda: register_views(spark, str(tmp_path)))
        assert n == 0
        assert str(tmp_path) in spark.table("lineitem").inputFiles()[0]
    finally:
        register_views(spark, sf_dir)


def test_hll_range_estimate_builds_without_jobs(spark, sf_dir, tmp_path):
    from big_data_table_spark.functions import sketches as SK
    from big_data_table_spark.sources.readers import load_table

    path = str(tmp_path / "hll")
    SK.hll_rollup_build(load_table(spark, sf_dir, "events"), path)
    df, n = jobs_started(
        spark,
        lambda: SK.hll_rollup_range_estimate(spark, path, "2024-01-01", "2024-01-31"),
    )
    assert n == 0
    assert df.first()["n_days"] > 0
