"""Query catalog — the operator inventory (SURVEY.md §2) as runnable,
oracle-checked queries.

Each :class:`QuerySpec` pairs a Spark callable ``(spark, sf_dir) ->
DataFrame`` with the ANSI-SQL DuckDB oracle computing the same result on
the same parquet tables.  Conventions that make the comparison exact:

* every computed column is aliased identically on both sides;
* double aggregates go through exact decimal accumulation
  (``CAST(x AS DECIMAL(18,6))`` → SUM → ``CAST AS DOUBLE``) so results are
  independent of partition count / accumulation order — bit-identical
  across engines (operators/aggregate.py:dsum);
* integer SUMs are CAST to BIGINT on both sides (DuckDB sums to HUGEINT,
  Spark to BIGINT);
* ROW_NUMBER ranks are CAST to BIGINT (Spark emits INT, DuckDB BIGINT);
* timestamps are emitted as epoch-second BIGINTs or extracted INT fields
  (the events fixture is nanos; Spark reads micros — epoch output
  sidesteps the precision mismatch);
* hash-based operators (MinHash/SimHash/fingerprints) are dual-dialect SQL
  built from shared md5 primitives (functions/portable.py) so the
  algorithm is common by construction.

Queries tagged ``oracle=None`` are partition-diagnostic or approximate
operators whose output is not SQL-expressible; the driver records a
rows-only check for them.
"""


from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .functions import dedup as D
from .functions.portable import DUCK, SPARK
from .catalog_base import QuerySpec, _dual, _sql_query, register_views
from .catalog_oracles import CORE_CATALOG
from .catalog_r4 import (
    _BUCKETED_ETL_ORACLE, _hll_cardinality_oracle,
    _hll_union_audience_oracle, _ppm_decode_oracle, bucketed_etl_revenue_q,
    hll_cardinality_q, hll_union_audience_q, multimodal_ppm_decode_q,
)
from .catalog_r5 import (
    _MG_TOPK_ORACLE, _TRAINING_ORDER_ORACLE, _bloom_index_persisted_oracle,
    _bloom_membership_builder, _bloom_rolling_oracle, _cms_by_type_builder,
    _cms_heavy_hitters_builder, _cms_rolling_builder,
    _curriculum_serving_order_oracle, _dedup_chunk_passages_builder,
    _dedup_containment_oracle, _hll_daily_rollup_oracle,
    _hll_rolling_7day_oracle, _hll_rollup_grouped_oracle,
    _hll_rollup_persisted_oracle, _mixture_resample_builder,
    _mixture_resample_epochs_builder, _mixture_token_plan_builder,
    _pii_scrub_audit_builder, _png_decode_oracle,
    _sequence_packing_by_lang_oracle, _sequence_packing_oracle,
    _sequence_packing_subword_oracle, _source_mixture_weights_builder,
    _stream_bloom_seen_oracle, _stream_hll_daily_oracle, _stream_hll_oracle,
    _table_profile_oracle, _tdigest_rolling_oracle,
    _tdigest_rollup_compacted_oracle, _tdigest_rollup_grouped_oracle,
    _tdigest_rollup_oracle, _text_token_count_subword_oracle,
    _theta_intersection_oracle, _theta_overlap_by_source_oracle,
    _theta_rolling_churn_oracle, _wav_decode_oracle,
    _winnow_attribution_oracle, bloom_index_persisted_q,
    bloom_rolling_membership_q, cms_rolling_heavy_hitters_q,
    curriculum_serving_order_q, dedup_containment_pairs_q,
    hll_daily_rollup_q, hll_rolling_7day_q, hll_rollup_compacted_q,
    hll_rollup_grouped_q, hll_rollup_incremental_q, hll_rollup_persisted_q,
    mg_heavy_hitters_q, multimodal_png_decode_q, multimodal_wav_decode_q,
    packing_boundaries_q, quality_decile_curve_q, sequence_packing_by_lang_q,
    sequence_packing_q, sequence_packing_subword_q, table_profile_q,
    tdigest_rolling_q, tdigest_rollup_compacted_q, tdigest_rollup_grouped_q,
    tdigest_rollup_range_q, text_token_count_subword_q,
    theta_overlap_by_source_q, theta_rolling_churn_q,
    theta_sketch_intersection_q, training_order_shuffle_q,
    winnow_attribution_q,
)
from .catalog_r67 import (
    _GROUPED_MAD_ORACLE, _abc_analysis_sql, _ann_recall_builder,
    _curriculum_packed_batches_oracle, _dedup_cascade_builder,
    _dedup_lsh_recall_oracle, _embedding_threshold_curve_sql,
    _events_ewma_builder, _events_markov_builder, _events_top_paths_builder,
    _hll_monthly_from_daily_oracle, _order_gaps_builder,
    _packing_efficiency_curve_oracle, _quality_dedup_interaction_builder,
    _rfm_segments_sql, _shipping_delay_profile_builder,
    _stream_crawl_dedup_oracle, _stream_quality_monitor_oracle,
    _substring_dedup_builder, _substring_scrub_builder,
    _theta_rollup_grouped_oracle, _theta_rollup_persisted_oracle,
    _tokenizer_fertility_oracle, _window_rank_family_builder,
    curriculum_packed_batches_q, dedup_cascade_q, dedup_lsh_recall_q,
    embedding_threshold_curve_q, grouped_mad_q, hll_monthly_from_daily_q,
    packing_efficiency_curve_q, parts_abc_analysis_q,
    quality_dedup_interaction_q, rfm_segments_q, theta_rollup_grouped_q,
    theta_rollup_persisted_q, tokenizer_fertility_q,
)
from .catalog_r8 import (
    _cms_rollup_grouped_range_oracle, _cms_rollup_persisted_oracle,
    _corpus_burstiness_builder, _events_funnel_windowed_oracle,
    _last_touch_builder, _ltv_cohort_builder,
    _minhash_estimate_report_oracle, _orders_backlog_oracle,
    _orders_market_basket_oracle, _vocab_oov_curve_oracle,
    _conversion_latency_builder, _decontamination_curve_oracle,
    _doc_length_histogram_builder, _brand_return_rate_builder,
    _dup_cluster_histogram_builder, _embedding_centroid_margin_oracle,
    _shingle_df_profile_builder, embedding_centroid_margin_q,
    shingle_df_profile_q, _events_bounce_rate_builder,
    _lang_id_calibration_builder, _supplier_hhi_builder,
    _embedding_norm_outliers_oracle, _events_user_gini_oracle,
    _pq_distortion_builder, _source_kl_drift_builder, _text_zipf_fit_oracle,
    events_user_gini_q, text_zipf_fit_q, cms_rollup_grouped_range_q,
    cms_rollup_persisted_q, decontamination_curve_q,
    embedding_norm_outliers_q, events_funnel_windowed_q,
    minhash_estimate_report_q, orders_backlog_q, orders_market_basket_q,
    vocab_oov_curve_q,
)
from .catalog_r9 import (
    _anisotropy_builder, _boilerplate_ngram_builder, _interarrival_builder,
    _orders_seasonality_oracle, _peak_concurrency_oracle,
    _simhash_hamming_histogram_oracle, _source_lang_entropy_oracle,
    _spend_migration_builder, _token_diversity_builder,
    _transition_entropy_oracle, _mg_rollup_grouped_range_oracle,
    _mg_rollup_persisted_oracle, _stream_mg_rollup_store_oracle,
    _embedding_centroid_confusion_oracle, _events_retention_curve_oracle,
    _lsh_capture_curve_oracle, _neardup_source_matrix_builder,
    _quality_drift_ks_oracle, _simhash_bit_balance_oracle,
    _time_range_window_builder, _tpch_refresh_cycle_oracle,
    embedding_centroid_confusion_q, lsh_capture_curve_q,
    neardup_source_matrix_q, tpch_refresh_cycle_q, events_peak_concurrency_q,
    events_retention_curve_q, events_transition_entropy_q,
    mg_rollup_grouped_range_q, mg_rollup_persisted_q,
    orders_seasonality_index_q, quality_drift_ks_q, simhash_bit_balance_q,
    simhash_hamming_histogram_q, source_lang_entropy_q,
)
from .catalog_r9b import (
    embedding_hof_builder, events_cumulative_reach_builder,
    events_forward_fill_builder, grouping_id_report_builder,
    ivm_revenue_maintenance_builder, ivm_revenue_maintenance_oracle,
    lateral_recent_orders_oracle, lateral_recent_orders_q,
    zorder_locality_builder, events_streak_histogram_builder,
    grouped_mode_builder, grouped_moments_builder, neyman_allocation_builder,
    schema_evolution_read_oracle, schema_evolution_read_q,
    join_key_skew_builder, neardup_bfs_hops_q, neardup_bfs_oracle,
    neardup_triangle_count_q, neardup_triangle_oracle,
    part_name_fuzzy_builder, parts_pareto_frontier_oracle,
    parts_pareto_frontier_q, source_lang_chisq_oracle, source_lang_chisq_q,
    stream_left_outer_oracle, stream_left_outer_q,
    unpivot_quarter_revenue_builder, user_clamped_ledger_builder,
    user_decay_scores_builder, weighted_median_oracle, weighted_median_q,
)
from .catalog_r9c import (
    _bitmap_rollup_grouped_range_oracle, _bitmap_rollup_persisted_oracle,
    benford_deviation_report_builder, bitmap_audience_jaccard_oracle,
    bitmap_audience_jaccard_q, bitmap_presence_retention_oracle,
    bitmap_presence_retention_q, bitmap_rollup_grouped_range_q,
    bitmap_rollup_persisted_q, candidate_graph_pagerank_oracle,
    candidate_graph_pagerank_q, customer_survival_km_builder,
    daily_series_crosscorr_builder, docs_equidepth_bands_builder,
    events_cusum_changepoint_builder, nation_balance_report_builder,
    segment_monthly_trend_builder, _approx_percentile_audit_oracle,
    approx_percentile_audit_q, neardup_kcore_oracle, neardup_kcore_q,
    not_in_null_semantics_builder, _binary_source_blob_stats_oracle,
    _text_source_log_parse_oracle, binary_source_blob_stats_q,
    events_score_auc_builder, text_source_log_parse_q,
    _udtf_order_schedule_oracle, events_rolling_median_exact_builder,
    segment_interval_coverage_builder, setops_all_multiset_builder,
    udtf_order_schedule_q, orders_flag_aggregates_builder,
    region_nation_namelist_builder, bitmap_rolling_reach_oracle,
    bitmap_rolling_reach_q, groupby_all_sugar_builder,
    user_customer_full_outer_builder, winsorized_mean_builder,
    daily_revenue_runs_test_builder, posexplode_positions_builder,
    stream_full_outer_oracle, stream_full_outer_q,
    try_cast_quality_gate_builder, capture_recapture_builder,
    jackknife_mean_variance_oracle, jackknife_mean_variance_q,
    survival_logrank_oracle, survival_logrank_q,
    segment_theilsen_trend_oracle, segment_theilsen_trend_q,
    text_collocations_pmi_oracle, text_collocations_pmi_q,
)
from .catalog_r10 import r10_specs
from .catalog_r11 import r11_specs
from .catalog_r12 import r12_specs
from .catalog_r13 import r13_specs
from .catalog_r14 import r14_specs
from .catalog_r15 import r15_specs

# ------------------------------------------------------------------ #
# catalog assembly
# ------------------------------------------------------------------ #

CATALOG: dict[str, QuerySpec] = dict(CORE_CATALOG)

CATALOG.update(
    {
        "hll_cardinality_grouped": QuerySpec(
            hll_cardinality_q,
            _hll_cardinality_oracle(),
            doc="Mergeable HLL distinct-count sketch, estimate hash-matched "
            "cross-engine (functions/sketches.py).",
        ),
        "hll_union_audience": QuerySpec(
            hll_union_audience_q,
            _hll_union_audience_oracle(),
            doc="HLL register-MAX union + inclusion-exclusion intersection.",
        ),
        "multimodal_ppm_decode": QuerySpec(
            multimodal_ppm_decode_q,
            _ppm_decode_oracle(),
            doc="Real pure-Python PPM decode, raster statistics vs "
            "closed-form pixel-model oracle.",
        ),
        "bucketed_etl_revenue": QuerySpec(
            bucketed_etl_revenue_q,
            _BUCKETED_ETL_ORACLE,
            doc="Co-bucketed write + zero-join-exchange read.",
        ),
    }
)


CATALOG.update(
    {
        "cms_heavy_hitters": _dual(
            _cms_heavy_hitters_builder,
            doc="Count-Min frequency sketch: top-20 user estimates vs "
            "exact, overestimate audit pinned.",
        ),
        "cms_rolling_heavy_hitters": QuerySpec(
            cms_rolling_heavy_hitters_q,
            _cms_rolling_builder(DUCK),
            doc="Rolling 2-week heavy hitters from per-week CMS tables "
            "summed per window — exact sketch merge, per-window top-5 "
            "audit.",
        ),
        "cms_heavy_hitters_by_type": _dual(
            _cms_by_type_builder,
            doc="Grouped Count-Min: one counter table per event_type, "
            "per-group top-5 audit — the frequency sketch's group "
            "dimension.",
        ),
        "source_mixture_weights": _dual(
            _source_mixture_weights_builder,
            doc="Temperature-weighted (count^0.5) domain-mixing table — "
            "the per-source sampling weights a training run consumes.",
        ),
        "mixture_resample": _dual(
            _mixture_resample_builder,
            doc="Deterministic weighted resample consuming the mixture "
            "weights: per-source targets drawn in content-hash order, "
            "target-vs-achieved audit.",
        ),
        "mixture_resample_epochs": _dual(
            _mixture_resample_epochs_builder,
            doc="Epoch-aware oversampling: targets beyond source size "
            "cycle the source in content-hash order; n_sampled == "
            "target exactly, epochs-used audit.",
        ),
        "curriculum_serving_order": QuerySpec(
            curriculum_serving_order_q,
            _curriculum_serving_order_oracle(),
            doc="The data-loader stream: epoch-resampled mixture "
            "globally shuffled with the epoch in the hash key; per "
            "(source, epoch) draw counts + serving-position spans "
            "(interleaving evidence), two-phase rank.",
        ),
        "pii_scrub_audit": _dual(
            _pii_scrub_audit_builder,
            doc="Regex redaction audit over the event payload: matched "
            "runs and redacted-character counts per event_type.",
        ),
        "dedup_chunk_passages": _dual(
            _dedup_chunk_passages_builder,
            doc="Passage-level dedup: non-overlapping 3-word chunks, "
            "corpus-wide repeated-passage ratio per source.",
        ),
        "hll_daily_rollup_range": QuerySpec(
            hll_daily_rollup_q,
            _hll_daily_rollup_oracle(),
            doc="Hypertable-style daily HLL rollup: range query answered "
            "by sketch merge, equal to the direct estimate by the merge "
            "law.",
        ),
        "hll_rollup_persisted": QuerySpec(
            hll_rollup_persisted_q,
            _hll_rollup_persisted_oracle(),
            doc="Persisted incremental daily-HLL sketch table: range "
            "query reads only partition-pruned sketch files, never the "
            "events.",
        ),
        "hll_rollup_incremental": QuerySpec(
            hll_rollup_incremental_q,
            _hll_rollup_persisted_oracle(),
            doc="The rollup's append path through the catalog: build "
            "all-but-last day, append the last, range-query the merged "
            "sketch table — equals the full rescan.",
        ),
        "tdigest_rollup_range": QuerySpec(
            tdigest_rollup_range_q,
            _tdigest_rollup_oracle(),
            doc="Persisted per-day t-digest rollup: range p50/p90/p99 "
            "merged from stored digest rows alone, rank-bound audit "
            "vs the raw range.",
        ),
        "tdigest_rolling_quantiles": QuerySpec(
            tdigest_rolling_q,
            _tdigest_rolling_oracle(),
            doc="Rolling 7-day quantiles from the persisted day digests "
            "alone — the quantile member of the rolling-sketch family; "
            "per-window rank band + exact day count driver-hashed.",
        ),
        "training_order_shuffle": QuerySpec(
            training_order_shuffle_q,
            _TRAINING_ORDER_ORACLE,
            doc="Deterministic content-hash training-order permutation: "
            "two-phase bucket rank == the global ROW_NUMBER, no "
            "single-partition sort.",
        ),
        "bloom_index_persisted": QuerySpec(
            bloom_index_persisted_q,
            _bloom_index_persisted_oracle(),
            doc="Persisted seen-keys Bloom index: build/append/replay/"
            "compact lifecycle, then a broadcast probe of a mixed batch "
            "— decisions equal the in-query filter bit-for-bit.",
        ),
        "tdigest_rollup_compacted": QuerySpec(
            tdigest_rollup_compacted_q,
            _tdigest_rollup_compacted_oracle(),
            doc="The quantile store's build/append/compact/range cycle: "
            "split-day appends compacted to one file per day; rank band, "
            "file count, and exact weight conservation driver-hashed.",
        ),
        "hll_rollup_compacted": QuerySpec(
            hll_rollup_compacted_q,
            _hll_rollup_persisted_oracle(),
            doc="The rollup's compaction verb: replayed appends + "
            "compact-to-one-file-per-day, range query from the "
            "compacted store — equals the full rescan.",
        ),
        "hll_rolling_7day": QuerySpec(
            hll_rolling_7day_q,
            _hll_rolling_7day_oracle(),
            doc="Rolling 7-day distinct users from daily sketches alone "
            "(offset fan-out + per-window register MAX) — equals the "
            "direct per-window estimates by the merge law.",
        ),
        "sequence_packing_by_lang": QuerySpec(
            sequence_packing_by_lang_q,
            _sequence_packing_by_lang_oracle(),
            doc="Per-language context-window packing — grouped two-phase "
            "prefix sum, no unpartitioned window anywhere.",
        ),
        "stream_hll_cardinality": QuerySpec(
            lambda spark, sf_dir: __import__(
                "big_data_table_spark.streaming.events", fromlist=["x"]
            ).stream_hll_cardinality(spark, sf_dir),
            _stream_hll_oracle(),
            doc="Incremental HLL over micro-batches: per-batch register "
            "checkpoints, distributed MAX-merge — equals the batch "
            "estimate by the merge law.",
        ),
        "stream_hll_daily": QuerySpec(
            lambda spark, sf_dir: __import__(
                "big_data_table_spark.streaming.events", fromlist=["x"]
            ).stream_hll_daily(spark, sf_dir),
            _stream_hll_daily_oracle(),
            doc="Per-day streaming sketch maintenance: micro-batches "
            "append day-grouped registers; MAX-merge per day equals the "
            "batch per-day estimates.",
        ),
        "stream_cms_heavy_hitters": QuerySpec(
            lambda spark, sf_dir: __import__(
                "big_data_table_spark.streaming.events", fromlist=["x"]
            ).stream_cms_heavy_hitters(spark, sf_dir),
            _cms_heavy_hitters_builder(DUCK),
            doc="Streaming CMS maintenance: per-batch counter tables "
            "SUM-merge to the one-shot sketch bit-for-bit (additive-"
            "exact merge); same output and oracle as the batch entry.",
        ),
        "stream_tdigest_daily": QuerySpec(
            lambda spark, sf_dir: __import__(
                "big_data_table_spark.streaming.events", fromlist=["x"]
            ).stream_tdigest_daily(spark, sf_dir),
            """
WITH ev AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
    CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL),
cnt AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_values
        FROM ev GROUP BY day)
SELECT day, q, TRUE AS ok, n_values
FROM cnt CROSS JOIN (SELECT UNNEST([0.5, 0.9, 0.99]) AS q) _q
""",
            doc="Streaming writer of the quantile store: per-batch "
            "exactly-once digest appends; per-day rank band + exact "
            "weight conservation through micro-batch boundaries.",
        ),
        "stream_bloom_seen_index": QuerySpec(
            lambda spark, sf_dir: __import__(
                "big_data_table_spark.streaming.events", fromlist=["x"]
            ).stream_bloom_seen_index(spark, sf_dir),
            _stream_bloom_seen_oracle(),
            doc="Streaming writer of the Bloom seen-keys store — set "
            "union is replay-safe with no guard; compacted store's "
            "probe decisions equal the in-query filter bit-for-bit.",
        ),
        "mg_heavy_hitters": QuerySpec(
            mg_heavy_hitters_q,
            _MG_TOPK_ORACLE,
            doc="Misra-Gries two-pass exact top-k: map-side candidate "
            "summaries + broadcast recount, no full-key shuffle.",
        ),
        "theta_sketch_intersection": QuerySpec(
            theta_sketch_intersection_q,
            _theta_intersection_oracle(),
            doc="Theta (KMV) sketch: direct intersection estimate from "
            "common samples — no inclusion-exclusion blow-up.",
        ),
        "theta_rolling_churn": QuerySpec(
            theta_rolling_churn_q,
            _theta_rolling_churn_oracle(),
            doc="Week-over-week retention/churn from per-week KMV "
            "samples: consecutive-pair overlap estimates from the "
            "sketches alone, exact audit alongside.",
        ),
        "theta_overlap_by_source": QuerySpec(
            theta_overlap_by_source_q,
            _theta_overlap_by_source_oracle(),
            doc="Per-group theta sketches: pairwise audience-overlap "
            "matrix from one ≤k-row sample per group, exact audit "
            "alongside.",
        ),
        "text_token_count_subword": QuerySpec(
            text_token_count_subword_q,
            _text_token_count_subword_oracle(),
            doc="Learned-vocabulary greedy subword tokenizer: per-doc "
            "counts via bounded iterative walk, oracle re-derives the "
            "same vocabulary.",
        ),
        "sequence_packing_subword": QuerySpec(
            sequence_packing_subword_q,
            _sequence_packing_subword_oracle(),
            doc="Context-window packing charged in learned subword "
            "tokens — the packer parameterized by the tokenizer.",
        ),
        "bloom_membership_audience": _dual(
            _bloom_membership_builder,
            doc="Bloom set-membership sketch: high-value-order filter "
            "(o_totalprice > 400000) probed with every orderkey, "
            "false-positive count pinned vs exact.",
        ),
        "multimodal_wav_decode": QuerySpec(
            multimodal_wav_decode_q,
            _wav_decode_oracle(),
            doc="Real pure-Python RIFF/PCM decode, sample statistics vs "
            "closed-form amplitude-model oracle.",
        ),
        "multimodal_png_decode": QuerySpec(
            multimodal_png_decode_q,
            _png_decode_oracle(),
            doc="Real zlib-inflate + 5-filter-unfilter PNG decode, "
            "channel sums vs closed-form pixel-model oracle.",
        ),
        "sequence_packing": QuerySpec(
            sequence_packing_q,
            _sequence_packing_oracle(),
            doc="Document→context-window bin packing, two-phase "
            "distributed prefix sum vs global-window oracle.",
        ),
        "packing_boundaries": QuerySpec(
            packing_boundaries_q,
            __import__(
                "big_data_table_spark.functions.packing", fromlist=["x"]
            ).pack_boundaries_sql(2048, DUCK),
            doc="Per-bin sorted document start offsets (attention-mask "
            "metadata) from the same two-phase packing prefix.",
        ),
        "quality_decile_curve": QuerySpec(
            quality_decile_curve_q,
            __import__(
                "big_data_table_spark.functions.text", fromlist=["x"]
            ).quality_decile_curve_sql(DUCK),
            doc="Quality-threshold calibration deciles: score landscape "
            "+ other-filter drop share per band; two-phase rank, no "
            "global sort.",
        ),
        "table_profile": QuerySpec(
            table_profile_q,
            _table_profile_oracle(),
            doc="ANALYZE-style column profile (nulls/distinct/range/"
            "exact mean per measure column) from ONE wide aggregate — "
            "the reference's str metadata surface at scale.",
        ),
        "dedup_containment_pairs": QuerySpec(
            dedup_containment_pairs_q,
            _dedup_containment_oracle(),
            doc="Asymmetric containment (both directions) + Jaccard for "
            "every LSH candidate pair — the quotation/boilerplate "
            "inclusion measure symmetric Jaccard dilutes.",
        ),
        "bloom_rolling_membership": QuerySpec(
            bloom_rolling_membership_q,
            _bloom_rolling_oracle(),
            doc="Rolling 7-day Bloom membership: per-day position sets "
            "union per window; top-key + disjoint-twin probes audited "
            "per window.",
        ),
        "hll_rollup_grouped_range": QuerySpec(
            hll_rollup_grouped_q,
            _hll_rollup_grouped_oracle(),
            doc="Grouped HLL rollup store: per-(group, day) registers, "
            "per-group range distinct counts — equals the direct "
            "per-group estimates by the merge law.",
        ),
        "tdigest_rollup_grouped_range": QuerySpec(
            tdigest_rollup_grouped_q,
            _tdigest_rollup_grouped_oracle(),
            doc="Grouped quantile rollup: one digest row per (group, "
            "day); per-group range p50/p90/p99 with rank band + exact "
            "weight conservation per group.",
        ),
        "winnow_attribution": QuerySpec(
            winnow_attribution_q,
            _winnow_attribution_oracle(),
            doc="Persisted winnowing-fingerprint index: per batch doc, "
            "the best-matching corpus doc and shared-fingerprint counts "
            "— the provenance/plagiarism query.",
        ),
    }
)
CATALOG.update(
    {
        "stream_packing_ledger": QuerySpec(
            lambda spark, sf_dir: __import__(
                "big_data_table_spark.streaming.events", fromlist=["x"]
            ).stream_packing_ledger(spark, sf_dir),
            _sequence_packing_oracle(),
            doc="Streaming token ledger (4 real micro-batches) + "
            "deterministic packing from the ledger SET — shares the "
            "batch packing oracle verbatim: batching changed nothing.",
        ),
        "curriculum_packed_batches": QuerySpec(
            curriculum_packed_batches_q,
            _curriculum_packed_batches_oracle(),
            doc="Epoch-resampled mixture, curriculum-interleaved and "
            "packed into 2048-token windows — per-bin fill + distinct "
            "sources: the loader's final product.",
        ),
        "hll_monthly_from_daily": QuerySpec(
            hll_monthly_from_daily_q,
            _hll_monthly_from_daily_oracle(),
            doc="Monthly distinct counts derived from the per-day "
            "register store alone — the hierarchical merge-law proof "
            "(month-from-days == month-from-raw).",
        ),
        "theta_rollup_grouped_range": QuerySpec(
            theta_rollup_grouped_q,
            _theta_rollup_grouped_oracle(),
            doc="Grouped theta/KMV store: per-(event_type, day) samples, "
            "per-group range distinct estimates + exact audit — the "
            "overlap-capable grouped sketch store.",
        ),
        "theta_rollup_persisted": QuerySpec(
            theta_rollup_persisted_q,
            _theta_rollup_persisted_oracle(),
            doc="Persisted theta/KMV day store: build + replayed append "
            "+ compact + range distinct via the theta-union estimator, "
            "exact audit — the overlap-capable sketch store.",
        ),
        "tokenizer_fertility": QuerySpec(
            tokenizer_fertility_q,
            _tokenizer_fertility_oracle(),
            doc="Per-language subword fertility + chars/token of the "
            "learned tokenizer — the multilingual budget report.",
        ),
        "dedup_substring_fraction": _dual(
            _substring_dedup_builder,
            doc="Sliding 8-word-window substring-duplication fraction "
            "per source — the distributed form of suffix-array "
            "substring dedup.",
        ),
        "ann_recall_report": _dual(
            _ann_recall_builder,
            doc="Recall@5 of IVF vs exact cosine on the same query set "
            "— the ANN honesty metric as a driver-hashed result.",
        ),
        "embedding_threshold_curve": QuerySpec(
            embedding_threshold_curve_q,
            _embedding_threshold_curve_sql(DUCK),
            doc="Pairs and docs touched per cosine threshold — the "
            "calibration landscape behind the embedding-dedup cutoff.",
        ),
        "dedup_lsh_recall_report": QuerySpec(
            dedup_lsh_recall_q,
            _dedup_lsh_recall_oracle(),
            doc="LSH candidate recall vs exact Jaccard per threshold — "
            "the measurable S-curve that sizes the band/row split.",
        ),
        "mixture_token_plan": _dual(
            _mixture_token_plan_builder,
            doc="Token-budget allocation across sources by temperature "
            "weight, with epochs-needed — the planning table before a "
            "mixture run.",
        ),
        "window_rank_family": _dual(
            _window_rank_family_builder,
            doc="NTILE/PERCENT_RANK/CUME_DIST per order priority, "
            "quartile summaries — the remaining rank-family windows.",
        ),
        "parts_abc_analysis": QuerySpec(
            parts_abc_analysis_q,
            _abc_analysis_sql(DUCK),
            doc="ABC/Pareto revenue classification of parts (80/95% "
            "cuts) via the banded two-phase cumsum — exact decimal, "
            "no global sort.",
        ),
        "events_rfm_segments": QuerySpec(
            rfm_segments_q,
            _rfm_segments_sql(DUCK),
            doc="RFM quintile segmentation of purchasing users via "
            "three two-phase banded rank scans — no global sort.",
        ),
        "packing_efficiency_curve": QuerySpec(
            packing_efficiency_curve_q,
            _packing_efficiency_curve_oracle(),
            doc="Bins, mean fill, and overflow count per candidate "
            "context budget — the packing calibration table.",
        ),
        "shipping_delay_profile": _dual(
            _shipping_delay_profile_builder,
            doc="Order-to-ship latency distribution per priority "
            "(count, mean, exact p50/p90, over-90-day share) — Q12 "
            "widened to the full logistics profile.",
        ),
        "customer_order_gaps": _dual(
            _order_gaps_builder,
            doc="Inter-order gap distribution per market segment "
            "(mean, exact p50/p90, 30-day repeat share) — the "
            "repurchase-cadence table.",
        ),
        "events_top_paths": _dual(
            _events_top_paths_builder,
            doc="Top-15 session event-type paths (30-min sessionize + "
            "ordered path serialization) with session counts and "
            "average length — clickstream path analysis.",
        ),
        "events_markov_transitions": _dual(
            _events_markov_builder,
            doc="Within-session event-type transition matrix with "
            "row-normalized probabilities — the next-event model table.",
        ),
        "events_ewma_daily": _dual(
            _events_ewma_builder,
            doc="Daily EWMA trend (half-life 1 day) with exact dyadic "
            "weights and decimal accumulation — order-independent "
            "smoothing.",
        ),
        "grouped_mad_outliers": QuerySpec(
            grouped_mad_q,
            _GROUPED_MAD_ORACLE,
            doc="Exact median + MAD + robust-z outlier counts per event "
            "type — the dispersion measure a fat-fingered value cannot "
            "drag.",
        ),
        "dedup_cascade": QuerySpec(
            dedup_cascade_q,
            _dedup_cascade_builder(DUCK),
            doc="Dedup stage attribution per source — exact > near-dup "
            "> substring-majority > keep, the dedup-side mirror of the "
            "quality cascade.",
        ),
        "stream_quality_monitor": QuerySpec(
            lambda spark, sf_dir: __import__(
                "big_data_table_spark.streaming.events", fromlist=["x"]
            ).stream_quality_monitor(spark, sf_dir),
            _stream_quality_monitor_oracle(),
            doc="Streaming data-quality monitor: per-micro-batch mean "
            "quality and below-threshold share appended to a monitor "
            "sink — every row oracle-reconstructed.",
        ),
        "stream_crawl_dedup": QuerySpec(
            lambda spark, sf_dir: __import__(
                "big_data_table_spark.streaming.events", fromlist=["x"]
            ).stream_crawl_dedup(spark, sf_dir),
            _stream_crawl_dedup_oracle(),
            doc="Crawl-frontier dedup as a stream: per-micro-batch "
            "probe-then-append against the persisted LSH index, every "
            "per-batch decision count oracle-reconstructed.",
        ),
        "quality_dedup_interaction": QuerySpec(
            quality_dedup_interaction_q,
            _quality_dedup_interaction_builder(DUCK),
            doc="Cascade decision × LSH near-dup candidacy cross-tab — "
            "the stage-ordering evidence for dedup-before-quality.",
        ),
        "dedup_substring_scrub": _dual(
            _substring_scrub_builder,
            doc="All-but-one substring removal: non-owner occurrences "
            "of shared 8-grams scrubbed, rebuilt text fingerprinted "
            "per affected doc.",
        ),
    }
)

# ------------------------------------------------------------------ #
# round 8 additions (builders in catalog_r8.py)
# ------------------------------------------------------------------ #
CATALOG.update(
    {
        "cms_rollup_persisted": QuerySpec(
            cms_rollup_persisted_q,
            _cms_rollup_persisted_oracle(),
            doc="Persisted CMS day store, full verb cycle: build + "
            "chunked append (idempotent overwrite — the ADDITIVE "
            "replay contract) + replay + compact + range top-20 from "
            "counters alone; completes the five-sketch store matrix.",
        ),
        "cms_rollup_grouped_range": QuerySpec(
            cms_rollup_grouped_range_q,
            _cms_rollup_grouped_range_oracle(),
            doc="CMS store group dimension: per-event-type range heavy "
            "hitters from (day, type) counter tables + shared "
            "rollup_expire retention before the read.",
        ),
        "orders_market_basket": QuerySpec(
            orders_market_basket_q,
            _orders_market_basket_oracle(),
            doc="Market-basket affinity: top-20 co-purchased part pairs "
            "with lift; orderkey-bounded self-join, never a part "
            "cartesian.",
        ),
        "orders_backlog_profile": QuerySpec(
            orders_backlog_q,
            _orders_backlog_oracle(),
            doc="Interval-overlap backlog: monthly peak/trough of "
            "simultaneously open orders via +1/-1 boundary deltas and "
            "a calendar-bounded running sum.",
        ),
        "customer_ltv_cohort": _dual(
            _ltv_cohort_builder,
            doc="Cohort LTV triangle: first-order-month cohorts x month "
            "offset, active customers + exact-decimal revenue.",
        ),
        "events_attribution_last_touch": _dual(
            _last_touch_builder,
            doc="Last-touch attribution: purchases credited to the "
            "latest prior non-purchase event within 7 days via one "
            "encoded-string window MAX (no self-join, no IGNORE NULLS "
            "dialect drift).",
        ),
        "events_funnel_windowed": QuerySpec(
            events_funnel_windowed_q,
            _events_funnel_windowed_oracle(),
            doc="Strict-order gap-bounded funnel (view->click->purchase, "
            "30-min steps) via two chained per-user window passes — the "
            "MATCH_RECOGNIZE-shaped sequence query.",
        ),
        "minhash_estimate_report": QuerySpec(
            minhash_estimate_report_q,
            _minhash_estimate_report_oracle(),
            doc="MinHash estimator calibration: signature-estimated vs "
            "exact Jaccard per agreement count over the LSH candidate "
            "set — the third honesty report.",
        ),
        "corpus_burstiness": _dual(
            _corpus_burstiness_builder,
            doc="Church-Gale term burstiness (VMR of per-doc counts, "
            "zeros included) for the top-df terms; exact integer "
            "moments, closed-form double.",
        ),
        "vocab_oov_curve": QuerySpec(
            vocab_oov_curve_q,
            _vocab_oov_curve_oracle(),
            doc="Held-out OOV rate vs vocabulary size (top-N train "
            "types) + never-seen type count; two-phase rank == the "
            "oracle's global ROW_NUMBER.",
        ),
        "decontamination_curve": QuerySpec(
            decontamination_curve_q,
            _decontamination_curve_oracle(),
            doc="Decontamination width calibration: corpus overlap "
            "summary at 2/3/5-gram shingles — flag counts + mean "
            "contamination per width.",
        ),
        "embedding_norm_outliers": QuerySpec(
            embedding_norm_outliers_q,
            _embedding_norm_outliers_oracle(),
            doc="Per-label L2-norm median/MAD profile with robust-z "
            "outlier counts — grouped_mad lifted to embeddings.",
        ),
        "embedding_pq_distortion": _dual(
            _pq_distortion_builder,
            doc="PQ codebook-quality report: per-subspace reconstruction "
            "MSE, energy, relative distortion, and live-code count — "
            "measured ~0.75 relative distortion on the uniform-random "
            "fixtures with the untrained first-16 codebook (honest; the "
            "trained variants are the production path).",
        ),
        "events_user_gini": QuerySpec(
            events_user_gini_q,
            _events_user_gini_oracle(),
            doc="Gini coefficient of events per user via two-phase "
            "global rank — exact integer arithmetic to the final ratio.",
        ),
        "text_zipf_fit": QuerySpec(
            text_zipf_fit_q,
            _text_zipf_fit_oracle(),
            doc="Zipf slope/intercept over the top-1000 terms: two-phase "
            "rank + decimal-exact regression moments.",
        ),
        "doc_length_histogram": _dual(
            _doc_length_histogram_builder,
            doc="Per-source decimal-magnitude length histogram (digit "
            "count bucket — exact in both engines).",
        ),
        "source_kl_drift": _dual(
            _source_kl_drift_builder,
            doc="KL divergence (both directions) between corpus-half "
            "source mixtures, add-1 smoothed; rounded-ln decimal sums.",
        ),
        "stream_cms_rollup_store": QuerySpec(
            lambda spark, sf_dir: __import__(
                "big_data_table_spark.streaming.events", fromlist=["x"]
            ).stream_cms_rollup_store(spark, sf_dir),
            _cms_rollup_persisted_oracle(),
            doc="Streaming writer INTO the persisted CMS day store: 3 "
            "real micro-batches append (day, chunk=batch_id) counter "
            "partitions, batch 1 replayed (idempotent dynamic "
            "overwrite), range top-20 from the store — shares the "
            "batch store oracle verbatim.",
        ),
        "lang_id_calibration": _dual(
            _lang_id_calibration_builder,
            doc="Language-ID calibration: accuracy vs gold lang per "
            "marker-hit-count band — the confidence-vs-accuracy "
            "honesty report for the shared lang_select_sql classifier.",
        ),
        "events_bounce_rate": _dual(
            _events_bounce_rate_builder,
            doc="Bounce rate by session entry type (30-min sessions, "
            "encoded-MIN first event, single-event bounce rule).",
        ),
        "conversion_latency_profile": _dual(
            _conversion_latency_builder,
            doc="First-view to first-purchase latency: count, exact "
            "p50/p90, exact-integer mean — the activation-funnel "
            "timing table.",
        ),
        "supplier_concentration_hhi": _dual(
            _supplier_hhi_builder,
            doc="Herfindahl index of supplier revenue shares per part "
            "type (x10000) — procurement-concentration risk; "
            "decimal-exact share-squared sums.",
        ),
        "dup_cluster_histogram": _dual(
            _dup_cluster_histogram_builder,
            doc="Exact-dup cluster-size histogram (1/2/3-4/5-8/9+ "
            "buckets): cluster count, doc count, corpus share — the "
            "crawl-duplication shape table.",
        ),
        "brand_return_rate_wilson": _dual(
            _brand_return_rate_builder,
            doc="Return rate per brand with the Wilson 95% lower bound "
            "— volume-honest ranking; closed form over exact counts, "
            "IEEE-exact sqrt.",
        ),
        "shingle_df_profile": QuerySpec(
            shingle_df_profile_q,
            _shingle_df_profile_builder(DUCK),
            doc="Shingle document-frequency histogram — the max_df "
            "calibration for the n-gram Jaccard verifier; the 51+ "
            "bucket is exactly the evidence the verifier drops; "
            "DF aggregate checkpointed once.",
        ),
        "embedding_centroid_margin": QuerySpec(
            embedding_centroid_margin_q,
            _embedding_centroid_margin_oracle(),
            doc="Label separability: nearest other centroid by cosine "
            "per label — decimal-exact centroid dot products, the "
            "label-noise / collapsed-embedding early warning.",
        ),
    }
)

# ------------------------------------------------------------------ #
# round 9 — interval/grid analytics, entropy reports, corpus-health
# calibration tables (builders in catalog_r9.py)
# ------------------------------------------------------------------ #
CATALOG.update(
    {
        "events_peak_concurrency": QuerySpec(
            events_peak_concurrency_q,
            _peak_concurrency_oracle(),
            doc="Peak concurrent sessions per day on a 5-min grid: "
            "sessionize, explode session intervals onto grid cells, "
            "max cell per day with earliest-cell witness; cell table "
            "checkpointed (feeds day-max + witness join).",
        ),
        "events_interarrival_profile": _dual(
            _interarrival_builder,
            doc="Inter-arrival gaps per event type (per-user lag): "
            "count, total, exact p50/p90 via the percentile ≡ "
            "quantile_cont bit-identical pair.",
        ),
        "events_transition_entropy": QuerySpec(
            events_transition_entropy_q,
            _transition_entropy_oracle(),
            doc="Successor-distribution Shannon entropy per event type "
            "+ modal successor; ROUND-before-sum ln discipline over "
            "the bounded |types|^2 pair table (checkpointed — 3 flat "
            "references re-inline the per-user lead window).",
        ),
        "source_lang_entropy": QuerySpec(
            source_lang_entropy_q,
            _source_lang_entropy_oracle(),
            doc="Language-mix entropy per source with dominant lang + "
            "share — each source's own composition (vs source_kl_drift "
            "against a reference mix); count table checkpointed.",
        ),
        "orders_seasonality_index": QuerySpec(
            orders_seasonality_index_q,
            _orders_seasonality_oracle(),
            doc="Month-of-year seasonality index: average monthly "
            "revenue vs overall monthly average, exact decimal sums; "
            "months-grain frame checkpointed.",
        ),
        "customer_spend_migration": _dual(
            _spend_migration_builder,
            doc="Spend-tier migration matrix H1 vs H2 of the order "
            "range: digit-count tiers (0 = inactive), full outer join "
            "carries churn/new rows.",
        ),
        "source_token_diversity": _dual(
            _token_diversity_builder,
            doc="Type-token ratio + Herdan's C per source — the "
            "template-farm detector; rounded-ln ratio discipline.",
        ),
        "boilerplate_ngram_top": _dual(
            _boilerplate_ngram_builder,
            doc="Top-20 3-gram shingles by document frequency — the "
            "offender list behind shingle_df_profile's 51+ bucket; "
            "TakeOrderedAndProject top-k.",
        ),
        "simhash_hamming_histogram": QuerySpec(
            simhash_hamming_histogram_q,
            _simhash_hamming_histogram_oracle(),
            doc="Hamming-distance histogram over SimHash band "
            "candidates — the accept-threshold calibration table; "
            "Spark form checkpoints the thrice-referenced signature "
            "frame (CTE-inlining trap).",
        ),
        "embedding_anisotropy_report": _dual(
            _anisotropy_builder,
            doc="Pairwise-cosine distribution over id-hash-bucketed "
            "pair sample (no n^2): bin, count, share — the collapsed-"
            "embedding early warning.",
        ),
        "mg_rollup_persisted": QuerySpec(
            mg_rollup_persisted_q,
            _mg_rollup_persisted_oracle(),
            doc="Persisted SpaceSaving day store (sixth store family, "
            "SUMMARY-PRUNE class): build/append-chunk/replay/compact/"
            "range top-20 with provable [lower, upper] bounds audited "
            "against exact counts; compaction is bit-neutral by the "
            "merge law.",
        ),
        "stream_mg_rollup_store": QuerySpec(
            lambda spark, sf_dir: __import__(
                "big_data_table_spark.streaming.events", fromlist=["x"]
            ).stream_mg_rollup_store(spark, sf_dir),
            _stream_mg_rollup_store_oracle(),
            doc="Streaming writer INTO the SpaceSaving store: 3 "
            "micro-batches append chunk summaries, batch-1 replayed "
            "(SET-class at-least-once absorbed by DISTINCT); range "
            "bounds audited vs exact — oracle models the batch "
            "slicing via user_id % 3.",
        ),
        "mg_rollup_grouped_range": QuerySpec(
            mg_rollup_grouped_range_q,
            _mg_rollup_grouped_range_oracle(),
            doc="Grouped SpaceSaving store: per-(day, event_type) "
            "summaries, rollup_expire retention before the read, "
            "per-type top-5 by exact lower bound with in-row exact "
            "audit — completes grouped-range symmetry across all six "
            "store families.",
        ),
        "events_retention_curve": QuerySpec(
            events_retention_curve_q,
            _events_retention_curve_oracle(),
            doc="Day-grain retention triangle: cohort = first-seen "
            "day, day-N retention for N in 0..7 (the events-side "
            "companion to the orders-side cohort_retention); one "
            "distinct user-day pass, user-grain joins after, shared "
            "frames checkpointed.",
        ),
        "neardup_source_matrix": QuerySpec(
            neardup_source_matrix_q,
            _neardup_source_matrix_builder(DUCK),
            doc="Near-dup SOURCE matrix: verified (Jaccard >= 0.5) doc "
            "pairs aggregated to unordered source pairs with mean "
            "verified Jaccard — which corpora leak near-identical "
            "documents into which, at doc grain (vs "
            "source_overlap_matrix's corpus-level vocabulary overlap); "
            "Spark form rides the checkpointed verifier DF.",
        ),
        "simhash_bit_balance": QuerySpec(
            simhash_bit_balance_q,
            _simhash_bit_balance_oracle(),
            doc="Per-bit one-share of the SimHash signatures — the "
            "hyperplane balance assumption behind the banding, "
            "measured (companion to simhash_hamming_histogram); "
            "signature frame checkpointed.",
        ),
        "quality_drift_ks": QuerySpec(
            quality_drift_ks_q,
            _quality_drift_ks_oracle(),
            doc="Quality-score drift: both corpus halves' decile CDFs "
            "+ the KS max-gap statistic (the quality-side sibling of "
            "source_kl_drift); scorer pass aggregated to <=20 rows "
            "and checkpointed, all windows over the 10-row spine.",
        ),
        "embedding_centroid_confusion": QuerySpec(
            embedding_centroid_confusion_q,
            _embedding_centroid_confusion_oracle(),
            doc="Nearest-centroid confusion matrix (vector-grain "
            "separability eval beside the centroid-grain margin "
            "report): decimal-exact cosine assignment over the shared "
            "centroid_means_sql stage; per-vector rank windows over "
            "<=|labels| rows.",
        ),
        "lsh_capture_curve": QuerySpec(
            lsh_capture_curve_q,
            _lsh_capture_curve_oracle(),
            doc="The LSH S-curve measured vs its own theory: per "
            "Jaccard decile the band-capture rate beside the "
            "closed-form 1-(1-J^3)^4 of the shipped 4x3 banding — "
            "the fourth LSH honesty report; truth rides the "
            "checkpointed verifier DF.",
        ),
        "window_time_range_trailing": _dual(
            _time_range_window_builder,
            doc="RANGE BETWEEN value frames — the rolling-TIME-window "
            "idiom (pandas rolling('1h') / kdb wj): per event the "
            "trailing-3600s same-user count + exact-decimal sum; "
            "RANGE includes peers, so duplicate timestamps need no "
            "tie-break.",
        ),
        "tpch_refresh_cycle": QuerySpec(
            tpch_refresh_cycle_q,
            _tpch_refresh_cycle_oracle(),
            doc="TPC-H RF1/RF2 as one auditable cycle: upsert shifted "
            "insert batch (merge machinery, keys broadcast) + "
            "anti-join delete, proven by the Q1 summary over the "
            "refreshed table vs the oracle's UNION/EXCEPT algebra.",
        ),
    }
)

# ------------------------------------------------------------------ #
# round 9 wave 5 — relational-surface gaps, moments sketch, exact
# prefix-filter similarity join, imputation, outer stream-stream join
# (builders in catalog_r9b.py; prefix filter in functions/dedup.py)
# ------------------------------------------------------------------ #
CATALOG.update(
    {
        "unpivot_quarter_revenue": _dual(
            unpivot_quarter_revenue_builder,
            doc="UNPIVOT surface: wide quarterly-revenue columns melted "
            "to long form — the inverse of pivot_linestatus (reference "
            "dcast/melt pairing); zero-shuffle flatMap over one "
            "exact-decimal conditional aggregation.",
        ),
        "grouped_moments_profile": _dual(
            grouped_moments_builder,
            doc="Mergeable moments sketch: mean/stddev/skewness/excess "
            "kurtosis per event type from EXACT decimal power sums "
            "S1..S4 (additive, map-side-combinable partials); the one "
            "dialect split (4th-power operand width) keeps both "
            "engines on exact multiply paths.",
        ),
        "parts_pareto_frontier": QuerySpec(
            parts_pareto_frontier_q,
            parts_pareto_frontier_oracle(),
            doc="Per-brand skyline (maximize size, minimize price): "
            "Spark = brand-partitioned strict-preceding running MIN "
            "over the bounded (brand,size) grain; oracle = NOT EXISTS "
            "dominance — algorithm-diverse pairing.",
        ),
        "part_name_fuzzy_pairs": _dual(
            part_name_fuzzy_builder,
            doc="Blocked fuzzy matching: same-brand part-name pairs "
            "within edit distance 2; length-difference pruning before "
            "the quadratic levenshtein — block-then-verify, the "
            "entity-resolution sibling of the LSH candidate rule.",
        ),
        "events_forward_fill": _dual(
            events_forward_fill_builder,
            doc="Forward-fill imputation (pandas ffill / kdb fills): "
            "deterministic NULL mask, last_value IGNORE NULLS over "
            "per-user time order (dialect-split spelling), per-type "
            "masked/filled/unfillable audit with exact imputed sum.",
        ),
        "setjoin_prefix_filter_pairs": QuerySpec(
            lambda spark, sf_dir: (
                register_views(spark, sf_dir),
                D.prefix_filter_jaccard_pairs(spark),
            )[1],
            D.prefix_filter_jaccard_oracle_sql(DUCK),
            doc="EXACT Jaccard >= 1/2 set-similarity join via prefix "
            "filtering (AllPairs/PPJoin): rarest-shingle prefixes "
            "self-join for candidates (lossless), integer-threshold "
            "verify; the scalable exact alternative to MinHash-LSH — "
            "oracle is the brute shared-shingle formulation.",
        ),
        "stream_left_outer_join": QuerySpec(
            stream_left_outer_q,
            stream_left_outer_oracle(),
            doc="Stream-stream LEFT OUTER join with dual watermarks: "
            "matched rows emit immediately, NULL-extensions emit when "
            "the min-of-both-sides watermark passes the join-window "
            "end; oracle models the two-sided horizon (calibrated at "
            "both SFs).",
        ),
        "embedding_hof_stats": _dual(
            embedding_hof_builder,
            doc="Higher-order array lambdas (transform/filter/fold) for "
            "per-vector stats — map-only, explode-free, zero-shuffle; "
            "both engines run the identical left-fold IEEE sequence.",
        ),
        "user_decay_scores": _dual(
            user_decay_scores_builder,
            doc="Exponential time-decay engagement scores (feature-"
            "store recency aggregate): integer day ages, ROUND(exp,4) "
            "decimal weights (exp under the ln rounding discipline), "
            "exact decimal sums; top-20 via ORDER BY+LIMIT "
            "(TakeOrderedAndProject).",
        ),
        "neardup_triangle_count": QuerySpec(
            neardup_triangle_count_q,
            neardup_triangle_oracle(),
            doc="Triangle count + clustering coefficient of the LSH "
            "candidate graph via the DEGREE-ORIENTED algorithm (every "
            "wedge generated at its lowest-degree apex — hub-proof); "
            "oracle is the id-ordered brute enumeration, pinning "
            "orientation invariance.",
        ),
        "weighted_median_price": QuerySpec(
            weighted_median_q,
            weighted_median_oracle(),
            doc="EXACT weighted median per group via the TWO-PHASE "
            "bucket algorithm (route to 64 value buckets, finish "
            "inside the median bucket) vs the oracle's one-shot "
            "cumulative window — exact decimal 2*cw >= tw test in "
            "both.",
        ),
        "neardup_bfs_hops": QuerySpec(
            neardup_bfs_hops_q,
            neardup_bfs_oracle(),
            doc="BFS min-hop histogram from one source across the LSH "
            "candidate graph (contamination reach): Spark iterates "
            "checkpointed frontiers with anti-join dedup; oracle is "
            "DuckDB's recursive CTE — fixpoint recursion vs frontier "
            "expansion, algorithm-diverse.",
        ),
        "events_streak_histogram": _dual(
            events_streak_histogram_builder,
            doc="Gaps-and-islands: consecutive-active-day streaks per "
            "user (island id = day minus per-user day rank), "
            "aggregated to a streak-length histogram; one distinct "
            "(user, day) pass, calendar-bounded user windows.",
        ),
        "source_lang_chisq": QuerySpec(
            source_lang_chisq_q,
            source_lang_chisq_oracle(),
            doc="Pearson chi-square independence test source x lang "
            "with per-source contributions; zero cells included via "
            "the marginal cross join; cell terms under the "
            "ROUND-before-sum decimal discipline; observed-count "
            "frame checkpointed (4 consumers).",
        ),
        "user_clamped_ledger": _dual(
            user_clamped_ledger_builder,
            doc="Floor-clamped running balance (inventory recursion "
            "b=max(0,b+delta)) via the closed form S - min(0, running "
            "min S): two stacked per-user windows replace the "
            "sequential scan; CASE not LEAST on the decimal clamp "
            "(DuckDB LEAST returns DOUBLE).",
        ),
        "join_key_skew_report": _dual(
            join_key_skew_builder,
            doc="Key-distribution diagnostic for the three hottest "
            "join keys: rows, keys, max/p99 rows-per-key, top-1 share "
            "- the report behind salting / AQE-skew decisions; one "
            "map-side-combinable aggregate per key column.",
        ),
        "events_cumulative_reach": _dual(
            events_cumulative_reach_builder,
            doc="EXACT running distinct users per day: first-seen-day "
            "counts + a running sum over the calendar-bounded day "
            "spine — no day-over-day distinct rescans; the exact "
            "companion to hll_rolling_7day.",
        ),
        "neyman_allocation_sample": _dual(
            neyman_allocation_builder,
            doc="Neyman-optimal stratified allocation (n_h ~ N_h*S_h) "
            "with largest-remainder integerization summing EXACTLY to "
            "the budget; stds from exact decimal moments, weights "
            "decimal-summed (order-independent denominator).",
        ),
        "schema_evolution_read": QuerySpec(
            schema_evolution_read_q,
            schema_evolution_read_oracle(),
            doc="Parquet schema evolution end-to-end: v1 files without "
            "a column + v2 files with it, one mergeSchema=true read "
            "NULL-fills the gap; oracle models the merged read "
            "relationally (UNION ALL + NULL literal).",
        ),
        "grouped_mode_exact": _dual(
            grouped_mode_builder,
            doc="Exact grouped MODE with deterministic tie-break "
            "(smallest value wins) — explicit grain-count + bounded "
            "rank formulation instead of engine-defined native "
            "mode() tie-breaking.",
        ),
        "lateral_recent_orders": QuerySpec(
            lateral_recent_orders_q,
            lateral_recent_orders_oracle(),
            doc="Correlated LATERAL join (per-row ORDER BY + LIMIT "
            "subquery) for top-2 recent orders of the 10-customer "
            "spine; oracle is the rank-window formulation — LATERAL "
            "semantics pinned against window semantics.",
        ),
        "grouping_id_report": _dual(
            grouping_id_report_builder,
            doc="GROUPING SETS with GROUPING() markers distinguishing "
            "rollup-total NULLs from data NULLs — per-year, "
            "per-priority, and grand-total sets in one exchange.",
        ),
        "zorder_locality_report": _dual(
            zorder_locality_builder,
            doc="Morton/Z-order bit interleaving as a layout operator "
            "with its locality MEASURED: every z>>10 bucket is an "
            "aligned 32x32 tile (x/y spans provably <= 31) — the "
            "multi-dimensional file-pruning story, spans pinned.",
        ),
        "ivm_revenue_maintenance": QuerySpec(
            _sql_query(ivm_revenue_maintenance_builder(SPARK)),
            ivm_revenue_maintenance_oracle(),
            doc="Incremental view maintenance through the RF1/RF2 "
            "refresh: the MV updates by APPLYING DELTAS (add the "
            "insert batch's partial aggregate, subtract the delete "
            "batch's, drop zero-count groups) — O(changed groups), "
            "never rescanning base for the apply; oracle is the "
            "O(base) recompute IVM exists to avoid.",
        ),
    }
)

# ------------------------------------------------------------------ #
# round-9 wave-11 entries: exact bitmap presence index, PageRank,
# Kaplan-Meier survival, cross-correlation, CUSUM, OLS trend,
# correlated scalar subqueries, exact equi-depth, Benford audit
# (builders in catalog_r9c.py; power iteration in operators/graph.py)
# ------------------------------------------------------------------ #
CATALOG.update(
    {
        "bitmap_presence_retention": QuerySpec(
            bitmap_presence_retention_q,
            bitmap_presence_retention_oracle(),
            doc="EXACT day-over-day retention from a bit-packed user "
            "presence bitmap index (62 ids per BIGINT word, BIT_OR "
            "build, popcount(AND) compare): the fact table collapses "
            "to |days|*|words| bitmap rows, checkpointed once (4 "
            "references); exact counterpart of the HLL rolling "
            "surface.",
        ),
        "bitmap_audience_jaccard": QuerySpec(
            bitmap_audience_jaccard_q,
            bitmap_audience_jaccard_oracle(),
            doc="EXACT pairwise audience Jaccard between event types "
            "via word-aligned bitmap popcounts + inclusion-exclusion "
            "— the exact counterpart of theta_sketch_intersection; "
            "bitmap build checkpointed once; zero-intersection pairs "
            "emit exact 0 via the totals spine.",
        ),
        "candidate_graph_pagerank": QuerySpec(
            candidate_graph_pagerank_q,
            candidate_graph_pagerank_oracle(),
            doc="Decimal-exact PageRank (3 power iterations, damping "
            "0.85) over the LSH candidate graph: ROUND-before-sum "
            "quantization makes every shuffle-order-sensitive sum "
            "exact, so the DuckDB unrolled-CTE oracle matches each "
            "iteration bit-for-bit; top-20 via "
            "TakeOrderedAndProject.",
        ),
        "customer_survival_km": _dual(
            customer_survival_km_builder,
            doc="Kaplan-Meier repurchase survival with right-censored "
            "customer tails: exact running sum of ROUND(ln(1-d/n),9) "
            "decimals under one shared window exchange; the "
            "survival-0 ln-divergence carried as a flag window.",
        ),
        "daily_series_crosscorr": _dual(
            daily_series_crosscorr_builder,
            doc="Lagged cross-correlation (k=-3..3) between the click "
            "and purchase daily series from exact integer moment "
            "sums; the lag fan-out is a 7-row spine on the "
            "calendar-bounded daily table.",
        ),
        "events_cusum_changepoint": _dual(
            events_cusum_changepoint_builder,
            doc="CUSUM changepoint scan over daily event counts: "
            "quantized-mean deviations summed in exact decimal, "
            "top-5 |CUSUM| days via ORDER BY + LIMIT.",
        ),
        "segment_monthly_trend": _dual(
            segment_monthly_trend_builder,
            doc="Per-segment OLS revenue trend (slope/intercept/R^2) "
            "from exact dollar-quantized decimal power sums — widths "
            "chosen so y*y stays on both engines' exact multiply "
            "paths at any SF.",
        ),
        "nation_balance_report": _dual(
            nation_balance_report_builder,
            doc="Correlated-scalar-subquery surface: per-nation count/"
            "max/region-share, identical text both engines; Catalyst "
            "rewrites each subquery into an aggregate + left join "
            "(no per-row probes).",
        ),
        "docs_equidepth_bands": _dual(
            docs_equidepth_bands_builder,
            doc="EXACT equi-depth quartile histogram of document "
            "length per source at the distinct-VALUE grain (pure "
            "integer band assignment; cumulative window bounded by "
            "the value domain, never row count — the scalable exact "
            "alternative to raw-row NTILE).",
        ),
        "benford_deviation_report": _dual(
            benford_deviation_report_builder,
            doc="Benford leading-digit audit of order totals per "
            "priority: digit-spine LEFT JOIN gives absent digits "
            "exact 0, shares/expectations quantized to 9 dp so the "
            "per-group TVD window sum is exact.",
        ),
        # --- persisted EXACT bitmap store: the SEVENTH store family ---
        "bitmap_rollup_persisted": QuerySpec(
            bitmap_rollup_persisted_q,
            _bitmap_rollup_persisted_oracle(),
            doc="Persisted exact-bitmap day store (SEVENTH family, "
            "IDEMPOTENT-MERGE class — BIT_OR absorbs replays with "
            "zero choreography): build / append two chunks / replay "
            "one / compact / per-day DAU + range distinct from the "
            "store alone; oracle is the plain COUNT(DISTINCT) — "
            "oracle simplicity IS the exactness proof.",
        ),
        "bitmap_rollup_grouped_range": QuerySpec(
            bitmap_rollup_grouped_range_q,
            _bitmap_rollup_grouped_range_oracle(),
            doc="Grouped bitmap store: per-(day, event_type, word) "
            "bitmaps, rollup_expire retention before the read, "
            "per-type EXACT range audiences from one (g, word) "
            "BIT_OR over the pruned store.",
        ),
        "stream_bitmap_rollup_store": QuerySpec(
            lambda spark, sf_dir: __import__(
                "big_data_table_spark.streaming.events", fromlist=["x"]
            ).stream_bitmap_rollup_store(spark, sf_dir),
            _bitmap_rollup_persisted_oracle(),
            doc="Streaming writer INTO the bitmap store: 3 "
            "micro-batches append per-day bitmap chunks, batch-1 "
            "replayed and absorbed by the read path's BIT_OR itself "
            "(idempotent merge — the strongest at-least-once "
            "contract in the matrix); oracle needs NO chunk model.",
        ),
        "approx_percentile_audit": QuerySpec(
            approx_percentile_audit_q,
            _approx_percentile_audit_oracle(),
            doc="Built-in approx_percentile (GK sketch) with an "
            "exact-side RANK audit: the approx value's rank must sit "
            "within eps*n of target (the published guarantee, "
            "asserted on data) — the percentile sibling of "
            "approx_distinct_diag; exact values via the pinned "
            "percentile==quantile_cont pair.",
        ),
        "neardup_kcore": QuerySpec(
            neardup_kcore_q,
            neardup_kcore_oracle(),
            doc="2-core degree histogram of the LSH candidate graph "
            "via bounded-round degree peeling (fixed 6 rounds, "
            "per-round checkpoints) vs the oracle's unrolled CTE "
            "chain — monotone peeling makes both truncations agree; "
            "fixpoint-within-budget pinned.",
        ),
        "not_in_null_semantics": _dual(
            not_in_null_semantics_builder,
            doc="Three-valued-logic surface: NOT IN over a "
            "NULL-bearing subquery returns 0 rows while NOT EXISTS / "
            "null-filtered NOT IN return the real complement — "
            "identical counts both engines; Spark plans the "
            "null-aware case as a NullAwareAntiJoin.",
        ),
        "events_score_auc": _dual(
            events_score_auc_builder,
            doc="EXACT tie-aware ROC-AUC + Gini for two class pairs "
            "via the Mann-Whitney rank statistic at the distinct-"
            "VALUE grain — integer-exact numerator (2x carried), "
            "cumulative window bounded by the score domain, never "
            "raw rows; the ML-eval companion to quality_drift_ks.",
        ),
        "text_source_log_parse": QuerySpec(
            text_source_log_parse_q,
            _text_source_log_parse_oracle(),
            doc="Raw-TEXT source end-to-end (log-parsing surface): "
            "deterministic pipe-delimited lines written with the "
            "text writer, read via spark.read.text, regexp-parsed, "
            "aggregated; DECIMAL string render makes the round-trip "
            "lossless, oracle aggregates the base table.",
        ),
        "binary_source_blob_stats": QuerySpec(
            binary_source_blob_stats_q,
            _binary_source_blob_stats_oracle(),
            doc="binaryFile source end-to-end (the multimodal ingest "
            "path): one file per doc, whole-file bytes + PATH "
            "metadata read back, blobs fingerprinted (length + md5); "
            "oracle fingerprints encode(text || newline) from the "
            "base table — byte-identical by construction.",
        ),
        "setops_all_multiset": _dual(
            setops_all_multiset_builder,
            doc="EXCEPT ALL / INTERSECT ALL multiset semantics "
            "(duplicate-preserving) — the set-op surface the "
            "DISTINCT-semantics entries don't touch; results "
            "re-aggregated so the hash pins multiplicities.",
        ),
        "events_rolling_median_exact": _dual(
            events_rolling_median_exact_builder,
            doc="EXACT 7-day rolling median of daily counts — the "
            "percentile aggregate AS a window function over the "
            "calendar-bounded daily table; exact companion of "
            "tdigest_rolling_quantiles.",
        ),
        "segment_interval_coverage": _dual(
            segment_interval_coverage_builder,
            doc="Merged-interval union length: 7-day order windows "
            "merge into islands per customer (running-max flag + "
            "running flag sum, one per-customer exchange), union "
            "days aggregated per segment — the interval-algebra "
            "classic in pure integer arithmetic.",
        ),
        "udtf_order_schedule": QuerySpec(
            udtf_order_schedule_q,
            _udtf_order_schedule_oracle(),
            doc="Python UDTF surface (Spark 4 @udtf): 4-installment "
            "schedule in pure integer cents expanded by a table "
            "function and re-aggregated; the oracle is the "
            "relational lateral form — the production rewrite the "
            "parity row documents.",
        ),
        "region_nation_namelist": _dual(
            region_nation_namelist_builder,
            doc="Ordered string aggregation (LISTAGG): Spark = "
            "array_join(array_sort(collect_list)) vs DuckDB "
            "string_agg ORDER BY — the explicit sort is what makes "
            "a collect_list aggregate deterministic at all.",
        ),
        "orders_flag_aggregates": _dual(
            orders_flag_aggregates_builder,
            doc="Boolean-aggregate surface: bool_and / bool_or / "
            "count_if (identical names both engines, probed), cast "
            "to BIGINT for a stable hash.",
        ),
        "bitmap_rolling_reach": QuerySpec(
            bitmap_rolling_reach_q,
            bitmap_rolling_reach_oracle(),
            doc="EXACT 7-day rolling reach (OR popcount) + every-day-"
            "active counts (AND popcount, full-presence guarded) "
            "from the checkpointed bitmap index — both merge laws in "
            "one report; the exact counterpart of hll_rolling_7day "
            "plus a question sketches cannot answer.",
        ),
        "winsorized_mean_report": _dual(
            winsorized_mean_builder,
            doc="Winsorized (5/95) means per event type beside raw "
            "means: clip bounds from the pinned percentile pair, "
            "ROUND->DECIMAL quantized so the clipped sum is exact; "
            "CASE not LEAST (the DuckDB decimal-LEAST trap).",
        ),
        "user_customer_full_outer_recon": _dual(
            user_customer_full_outer_builder,
            doc="FULL OUTER surface as an id-space reconciliation: "
            "distinct event users vs the customer dimension counted "
            "by side; identical text both engines.",
        ),
        "groupby_all_sugar": _dual(
            groupby_all_sugar_builder,
            doc="Modern sugar pinned: star-exclusion (* EXCEPT vs "
            "* EXCLUDE) + GROUP BY ALL inferring grouping keys — "
            "identical semantics both engines (probed).",
        ),
        "stream_full_outer_join": QuerySpec(
            stream_full_outer_q,
            stream_full_outer_oracle(),
            doc="Stream-stream FULL OUTER join completing the outer "
            "family: both sides NULL-extend on their own state-expiry "
            "horizon (click window end vs purchase event time), "
            "oracle models both against the two-sided LEAST() "
            "watermark.",
        ),
        "posexplode_positions": _dual(
            posexplode_positions_builder,
            doc="Position-preserving explode surface: Spark "
            "posexplode vs DuckDB range-indexed lateral (no WITH "
            "ORDINALITY there, probed) — same (doc, pos, token) rows "
            "by construction.",
        ),
        "try_cast_quality_gate": _dual(
            try_cast_quality_gate_builder,
            doc="TRY_CAST ingest-validation gate: deterministically "
            "corrupted price strings, NULL-on-failure counted and "
            "the parsed remainder summed — identical semantics both "
            "engines (probed).",
        ),
        "daily_revenue_runs_test": _dual(
            daily_revenue_runs_test_builder,
            doc="Wald-Wolfowitz runs test on daily revenue vs the "
            "series median: runs via LAG over the calendar-bounded "
            "spine, closed-form z-statistic in IEEE on identical "
            "operands.",
        ),
        "jackknife_mean_variance": QuerySpec(
            jackknife_mean_variance_q,
            jackknife_mean_variance_oracle(),
            doc="Delete-one-day jackknife SE of the mean event value: "
            "every leave-one-out estimate is the closed form "
            "(S - s_i)/(n - n_i) over exact decimal totals — "
            "resampling inference with no resampling, no recompute, "
            "no RNG; ROUND->DECIMAL before the order-sensitive sums.",
        ),
        "capture_recapture_estimate": _dual(
            capture_recapture_builder,
            doc="Lincoln-Petersen/Chapman capture-recapture over the "
            "click (capture) and purchase (recapture) audiences — "
            "exact overlap in, estimator out, audited against the "
            "known true population.",
        ),
        "survival_logrank_test": QuerySpec(
            survival_logrank_q,
            survival_logrank_oracle(),
            doc="Two-sample log-rank test (BUILDING vs MACHINERY "
            "repurchase survival): hypergeometric E/V terms "
            "ROUND->DECIMAL before summing, per-segment at-risk "
            "windows over the value-grain duration table — the "
            "hypothesis-test companion of customer_survival_km.",
        ),
        "segment_theilsen_trend": QuerySpec(
            segment_theilsen_trend_q,
            segment_theilsen_trend_oracle(),
            doc="Theil-Sen robust slope per segment: median of all "
            "pairwise monthly slopes over the SAME dollar-quantized "
            "series as the OLS entry — bounded C(|months|,2) "
            "self-join, median via the pinned percentile pair.",
        ),
        "text_collocations_pmi": QuerySpec(
            text_collocations_pmi_q,
            text_collocations_pmi_oracle(),
            doc="PMI-ranked collocations (min support 5, top-15 via "
            "ORDER BY + LIMIT): per-row ln over exact integer "
            "counts — nothing ln-valued is summed, one ROUND makes "
            "the ranking engine-identical; marginals from the bigram "
            "table itself.",
        ),
    }
)

# ------------------------------------------------------------------ #
# round-10+ registrations (builders AND specs in the catalog_rNN
# chunks — the chunk convention)
# ------------------------------------------------------------------ #
CATALOG.update(r10_specs())
CATALOG.update(r11_specs())
CATALOG.update(r12_specs())
CATALOG.update(r13_specs())
CATALOG.update(r14_specs())
CATALOG.update(r15_specs())

# The correctness driver samples the first 50 ``queries()`` keys; this
# is that window, and every other entry follows in registration order.
DRIVER_HEAD = (
    "dedup_minhash_signature",
    "dedup_minhash_lsh_pairs",
    "dedup_components",
    "dedup_simhash",
    "dedup_simhash_candidates",
    "dedup_ngram_jaccard",
    "text_winnow_fingerprint",
    "text_token_count",
    "text_lang_id",
    "text_quality_score",
    "text_fingerprint",
    "embedding_neardup",
    "ann_topk_cosine",
    "ann_lsh_pairs",
    "ann_ivf_topk",
    "multimodal_jpeg_progressive",
    "cms_rolling_heavy_hitters",
    "ann_pq_persisted_topk",
    "corpus_filter_cascade",
    "tdigest_rollup_range",
    "tdigest_rollup_compacted",
    "tdigest_rolling_quantiles",
    "bloom_index_persisted",
    "training_order_shuffle",
    "corpus_data_card",
    "stream_cms_heavy_hitters",
    "stream_tdigest_daily",
    "ann_ivfpq_topk",
    "dedup_keep_best_quality",
    "stream_bloom_seen_index",
    "source_overlap_matrix",
    "embedding_drift_by_label",
    "packing_boundaries",
    "quality_decile_curve",
    "table_profile",
    "dedup_containment_pairs",
    "winnow_attribution",
    "events_asof_tolerance",
    "tdigest_rollup_grouped_range",
    "hll_rollup_grouped_range",
    "bloom_rolling_membership",
    "ann_ivfpq_residual_topk",
    "ann_ivfpq_persisted_topk",
    "curriculum_serving_order",
    "tokenizer_fertility",
    "dedup_substring_fraction",
    "theta_rollup_persisted",
    "hll_monthly_from_daily",
    "stream_packing_ledger",
    "theta_rollup_grouped_range",
)
CATALOG = {
    n: CATALOG[n]
    for n in (*DRIVER_HEAD, *(k for k in CATALOG if k not in DRIVER_HEAD))
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in CATALOG.items() if spec.oracle}
