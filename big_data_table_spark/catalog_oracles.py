"""Core-catalog registration — the early relational + breadth QuerySpec
blocks with their inline oracle SQL, split out of catalog.py (r9 VERDICT
#2 / the repo's 2.5k-line module budget).  catalog.py re-exports this as
the seed of ``CATALOG`` and keeps the round registration blocks and
``DRIVER_HEAD``."""

from __future__ import annotations

from .functions import analytics as A
from .functions import dedup as D
from .functions import similarity as S
from .functions import text as X
from .functions.portable import DUCK
from .catalog_base import QuerySpec, _dual, register_views
from .catalog_relational import (
    _ANTI_ORACLE, _EVASOF_ORACLE, _EVASOF_TOL_ORACLE, _EVJSON_ORACLE,
    _EVSESS_ORACLE, _EVTUMBLE_ORACLE, _GEN_ORACLE, _JOIN3_ORACLE,
    _PIVOT_ORACLE, _Q1_ORACLE, _Q6_ORACLE, _ROLLUP_ORACLE, _SEMI_ORACLE,
    _STREAM_SSJOIN_ORACLE, _STREAM_STATEFUL_ORACLE, _STREAM_TUMBLE_ORACLE,
    _TWOPHASE_ORACLE, _UNION_ORACLE, _WRUN_ORACLE, _WTOPK_ORACLE,
    _partials_diag_builder, agg_all_sd, anti_join_q, count_distinct_q,
    cross_join_q, cube_q, distinct_q, events_asof_purchase,
    events_asof_tolerance, events_json_extract, events_sessionize,
    events_tumbling, except_q, filter_project, generator_source_q,
    group_count, grouped_mean, grouped_sum_by_year, intersect_q,
    join3_revenue_by_segment, lookup_join_nation_region, multi_key_group,
    pivot_q, q1_pricing_summary, q6_revenue, rollup_q, semi_join_q,
    stream_click_purchase, stream_stateful, stream_tumbling, topk_orders,
    two_phase_q, union_all_q, window_running_sum, window_topk_per_group,
)
from .catalog_breadth import (
    _ANOMALY_ORACLE, _APPROX_DISTINCT_ORACLE, _ARRAYF_ORACLE,
    _BALANCED_ORACLE, _BIGRAMS_ORACLE, _CSV_ORACLE, _DATEF_ORACLE,
    _EVASOF_FWD_ORACLE, _FRAME_SAMPLE_ORACLE, _FUNNEL_ORACLE,
    _GROUPING_SETS_SQL, _HEATMAP_ORACLE, _JSON_ORACLE, _KEYBY_ORACLE,
    _MEDIA_DEDUP_ORACLE, _MERGE_ORACLE, _MONTH_ORACLE, _MULTIMODAL_ORACLE,
    _PART_ETL_ORACLE, _PART_ORACLE, _PD_UDAF_ORACLE, _PERCENTILE_ORACLE,
    _Q14_ORACLE, _Q18_ORACLE, _Q3_ORACLE, _Q4_ORACLE, _QSKETCH_ORACLE,
    _QUANT_ORACLE, _RANGE_ORACLE, _SAMPLE_K_ORACLE, _STREAM_ASOF_ORACLE,
    _STREAM_LATE_ORACLE, _STREAM_SESSION_ORACLE, _STREAM_SLIDING_ORACLE,
    _STRINGF_ORACLE, _SUPPLIER_CHAIN_ORACLE, _TDIGEST_ORACLE, _WLAG_ORACLE,
    _ann_ivf_trained_oracle, _ann_ivfpq_residual_oracle,
    _ann_pq_trained_oracle, _clean_corpus_oracle, _crosslingual_pairs_fn,
    _dedup_components_oracle, _dedup_keep_best_quality_oracle,
    _dedup_pipeline_oracle, _embedding_pca_oracle, _kmeans_oracle,
    _minhash_lsh_pairs_fn, _sample_oracle, _stratified_oracle,
    _stream_asof_enrich, _stream_late_data, _stream_static_enrich,
    _train_split_oracle, ann_ivf_persisted_q, ann_ivf_trained_q,
    ann_ivfpq_persisted_q, ann_ivfpq_residual_q, ann_pq_persisted_q,
    ann_pq_trained_q, approx_distinct_diag, array_functions_q,
    balanced_sample_q, csv_roundtrip, date_functions_q, dedup_components_fn,
    dedup_keep_best_quality_q, dedup_pipeline_q, embedding_neardup_q,
    embedding_pca_q, embedding_quantize_q, events_anomaly_q,
    events_asof_forward, events_funnel_q, events_heatmap_q, grouping_sets_q,
    json_roundtrip, keyby_sorted, kmeans_ivf_q, media_dedup_digest_q,
    merge_upsert_q, multimodal_features, multimodal_frame_sample,
    multimodal_resize_meta, orders_by_month, pandas_udaf_quantiles,
    part_brand_stats, partitioned_etl_rollup, percentile_q,
    q14_promo_revenue, q18_large_orders, q3_shipping_priority,
    q4_order_priority, quantile_sketch_q, range_join_prices,
    sample_by_hash_q, sample_fixed_k_q, stratified_sample_q, stream_session,
    stream_sliding, string_functions_q, supplier_chain, tdigest_quantiles_q,
    text_top_bigrams_q, train_split_q, window_lag_lead_q,
)
from .catalog_r5 import incremental_dedup_persisted_q


CORE_CATALOG: dict[str, QuerySpec] = {
    # --- core relational (reference Layer B parity) ---
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, _Q1_ORACLE),
    "q6_revenue": QuerySpec(q6_revenue, _Q6_ORACLE),
    "grouped_sum_by_year": QuerySpec(
        grouped_sum_by_year,
        """SELECT CAST(year(l_shipdate) AS INT) AS year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS value
           FROM lineitem GROUP BY 1""",
    ),
    "group_count": QuerySpec(
        group_count,
        "SELECT l_returnflag, COUNT(*) AS N FROM lineitem GROUP BY l_returnflag",
    ),
    "grouped_mean": QuerySpec(
        grouped_mean,
        """SELECT l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           COUNT(*) AS n FROM lineitem GROUP BY l_linestatus""",
    ),
    "agg_all_sd": QuerySpec(
        agg_all_sd,
        """SELECT l_returnflag,
           CAST(SUM(l_linenumber) AS BIGINT) AS sum_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_quantity,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_extendedprice,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_discount,
           CAST(SUM(CAST(l_tax AS DECIMAL(18,6))) AS DOUBLE) AS sum_tax
           FROM lineitem GROUP BY l_returnflag""",
    ),
    "multi_key_group": QuerySpec(
        multi_key_group,
        """SELECT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS INT) AS year,
           CAST(l_partkey % 10 AS BIGINT) AS pk,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS value,
           COUNT(*) AS N
           FROM lineitem GROUP BY 1, 2, 3, 4""",
    ),
    "filter_project": QuerySpec(
        filter_project,
        """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
           WHERE l_quantity > 45""",
    ),
    "topk_orders": QuerySpec(
        topk_orders,
        """SELECT o_orderkey, o_totalprice FROM orders
           ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    ),
    "lookup_join_nation_region": QuerySpec(
        lookup_join_nation_region,
        """SELECT n_nationkey, n_name, r_name
           FROM nation LEFT JOIN region ON n_regionkey = r_regionkey""",
    ),
    "join3_revenue_by_segment": QuerySpec(join3_revenue_by_segment, _JOIN3_ORACLE),
    "semi_join_orders": QuerySpec(semi_join_q, _SEMI_ORACLE),
    "anti_join_customers": QuerySpec(anti_join_q, _ANTI_ORACLE),
    "cross_join_region_nation": QuerySpec(
        cross_join_q,
        "SELECT r_name, n_name FROM region CROSS JOIN nation",
    ),
    "distinct_segments": QuerySpec(
        distinct_q,
        "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    ),
    "union_all_counts": QuerySpec(union_all_q, _UNION_ORACLE),
    "intersect_custkeys": QuerySpec(
        intersect_q,
        """SELECT c_custkey AS k FROM customer
           INTERSECT SELECT o_custkey AS k FROM orders""",
    ),
    "except_custkeys": QuerySpec(
        except_q,
        """SELECT c_custkey AS k FROM customer
           EXCEPT SELECT o_custkey AS k FROM orders""",
    ),
    "window_topk_per_group": QuerySpec(window_topk_per_group, _WTOPK_ORACLE),
    "window_running_sum": QuerySpec(window_running_sum, _WRUN_ORACLE),
    "rollup_agg": QuerySpec(rollup_q, _ROLLUP_ORACLE),
    "cube_agg": QuerySpec(
        cube_q,
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
           FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    ),
    "pivot_linestatus": QuerySpec(pivot_q, _PIVOT_ORACLE),
    "two_phase_agg": QuerySpec(two_phase_q, _TWOPHASE_ORACLE),
    "count_distinct": QuerySpec(
        count_distinct_q,
        """SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
           FROM lineitem GROUP BY l_returnflag""",
    ),
    "partials_diag": _dual(
        _partials_diag_builder,
        doc="Per-shard partials (outer.aggregate=FALSE shape): explicit "
        "portable node-assignment makes the shards×groups law "
        "value-hash-checkable.",
    ),
    "merge_upsert": QuerySpec(merge_upsert_q, _MERGE_ORACLE),
    "sample_by_hash": QuerySpec(sample_by_hash_q, _sample_oracle()),
    "train_val_test_split": QuerySpec(train_split_q, _train_split_oracle()),
    "generator_source": QuerySpec(generator_source_q, _GEN_ORACLE),
    # --- sources / SQL surface / dims (batch 2) ---
    "csv_roundtrip": QuerySpec(csv_roundtrip, _CSV_ORACLE),
    "json_roundtrip": QuerySpec(json_roundtrip, _JSON_ORACLE),
    "grouping_sets": QuerySpec(grouping_sets_q, _GROUPING_SETS_SQL),
    "percentile_exact": QuerySpec(percentile_q, _PERCENTILE_ORACLE),
    "approx_distinct_diag": QuerySpec(
        approx_distinct_diag,
        _APPROX_DISTINCT_ORACLE,
        doc="Built-in HLL++ count-distinct with an exact-side tolerance "
        "audit: the oracle asserts the 3·rsd accuracy band.",
    ),
    "range_join_prices": QuerySpec(range_join_prices, _RANGE_ORACLE),
    "orders_by_month": QuerySpec(orders_by_month, _MONTH_ORACLE),
    "part_brand_stats": QuerySpec(part_brand_stats, _PART_ORACLE),
    "supplier_chain": QuerySpec(supplier_chain, _SUPPLIER_CHAIN_ORACLE),
    "keyby_sorted": QuerySpec(keyby_sorted, _KEYBY_ORACLE),
    "multimodal_features": QuerySpec(multimodal_features, _MULTIMODAL_ORACLE),
    "multimodal_frame_sample": QuerySpec(multimodal_frame_sample, _FRAME_SAMPLE_ORACLE),
    "media_dedup_digest": QuerySpec(media_dedup_digest_q, _MEDIA_DEDUP_ORACLE),
    "multimodal_resize_meta": QuerySpec(
        multimodal_resize_meta,
        """SELECT doc_id AS media_id, CAST(224 AS INT) AS out_w,
           CAST(224 AS INT) AS out_h,
           CAST(224 * 224 * 3 + octet_length(encode(text)) // 8 AS BIGINT) AS est_bytes,
           md5(text) AS digest
           FROM documents""",
    ),
    # --- events ---
    "events_json_extract": QuerySpec(events_json_extract, _EVJSON_ORACLE),
    "events_asof_forward": QuerySpec(events_asof_forward, _EVASOF_FWD_ORACLE),
    "stream_sliding_10x5": QuerySpec(stream_sliding, _STREAM_SLIDING_ORACLE),
    "stream_session_30min": QuerySpec(stream_session, _STREAM_SESSION_ORACLE),
    "events_tumbling_5min": QuerySpec(events_tumbling, _EVTUMBLE_ORACLE),
    "events_sessionize": QuerySpec(events_sessionize, _EVSESS_ORACLE),
    "events_asof_purchase": QuerySpec(events_asof_purchase, _EVASOF_ORACLE),
    "events_asof_tolerance": QuerySpec(
        events_asof_tolerance,
        _EVASOF_TOL_ORACLE,
        doc="As-of join with a 1-hour gap cap (merge_asof tolerance): "
        "matches beyond the attribution window null atomically; pure "
        "projection, zero extra shuffles.",
    ),
    "stream_tumbling_5min": QuerySpec(stream_tumbling, _STREAM_TUMBLE_ORACLE),
    "stream_stateful_counts": QuerySpec(stream_stateful, _STREAM_STATEFUL_ORACLE),
    "stream_click_purchase_join": QuerySpec(stream_click_purchase, _STREAM_SSJOIN_ORACLE),
    "stream_static_enrich": QuerySpec(
        lambda spark, sf_dir: _stream_static_enrich(spark, sf_dir),
        """SELECT n_name, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
           FROM events LEFT JOIN nation ON user_id % 25 = n_nationkey
           GROUP BY n_name""",
    ),
    "stream_late_data_accounting": QuerySpec(
        _stream_late_data,
        _STREAM_LATE_ORACLE,
        "watermark drop + append-mode emission semantics, pinned",
    ),
    "stream_asof_enrich": QuerySpec(
        _stream_asof_enrich,
        _STREAM_ASOF_ORACLE,
        "stateless streaming as-of via interval-ized SCD2 dim",
    ),
    "stream_dedup_counts": QuerySpec(
        lambda spark, sf_dir: __import__(
            "big_data_table_spark.streaming.events", fromlist=["x"]
        ).deduped_counts(spark, sf_dir),
        """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
           FROM events GROUP BY event_type""",
    ),
    "stream_foreachbatch_sink": QuerySpec(
        lambda spark, sf_dir: __import__(
            "big_data_table_spark.streaming.events", fromlist=["x"]
        ).foreachbatch_sink_counts(spark, sf_dir),
        """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
           FROM events GROUP BY event_type""",
    ),
    "stream_dedup_watermark": QuerySpec(
        lambda spark, sf_dir: __import__(
            "big_data_table_spark.streaming.events", fromlist=["x"]
        ).deduped_counts_watermarked(spark, sf_dir),
        """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
           FROM events GROUP BY event_type""",
    ),
    "pandas_udaf_quantiles": QuerySpec(pandas_udaf_quantiles, _PD_UDAF_ORACLE),
    "stratified_sample": QuerySpec(stratified_sample_q, _stratified_oracle()),
    "sample_fixed_k": QuerySpec(sample_fixed_k_q, _SAMPLE_K_ORACLE),
    "balanced_sample_per_group": QuerySpec(balanced_sample_q, _BALANCED_ORACLE),
    "events_anomaly_zscore": QuerySpec(events_anomaly_q, _ANOMALY_ORACLE),
    "weighted_sample_topk": _dual(
        lambda d: __import__(
            "big_data_table_spark.operators.sampling", fromlist=["x"]
        ).weighted_sample_sql(d),
        doc="Efraimidis-Spirtes weighted sample (operators/sampling.py): "
        "deterministic content-hash exponential keys, TakeOrderedAndProject "
        "plan (no global sort).",
    ),
    "weighted_sample_per_group": _dual(
        lambda d: __import__(
            "big_data_table_spark.operators.sampling", fromlist=["x"]
        ).weighted_sample_per_group_sql(d),
        doc="Per-group A-ES weighted sample (operators/sampling.py): "
        "k smallest content-hash exponential keys per group, one "
        "group-keyed shuffle.",
    ),
    "embedding_label_centroids": _dual(
        S.label_centroids_sql,
        doc="Per-label decimal-exact centroid + count + checksum "
        "(functions/similarity.py:label_centroids_sql).",
    ),
    "embedding_drift_by_label": _dual(
        S.embedding_drift_sql,
        doc="Per-label centroid cosine between two corpus halves — the "
        "crawl/encoder drift monitor; decimal-exact accumulation ladder "
        "(functions/similarity.py:embedding_drift_sql).",
    ),
    "embedding_pca_power": QuerySpec(
        embedding_pca_q,
        _embedding_pca_oracle(),
        doc="Top principal component: distributed decimal-exact "
        "covariance + 8 unrolled power iterations.",
    ),
    "dedup_pipeline_summary": QuerySpec(dedup_pipeline_q, _dedup_pipeline_oracle()),
    # --- documents: dedup + text analysis (dual-dialect) ---
    "dedup_exact": _dual(D.exact_dedup_sql),
    "incremental_dedup": _dual(
        D.incremental_dedup_sql,
        doc="New-batch vs corpus dedup adjudication with reasons.",
    ),
    "incremental_dedup_persisted": QuerySpec(
        lambda spark, sf_dir: incremental_dedup_persisted_q(spark, sf_dir),
        D.incremental_dedup_sql(DUCK),
        doc="The same adjudication answered from a PERSISTED LSH index: "
        "digest + band-bucket stores, no corpus rescan on the probe "
        "path.",
    ),
    "decontamination_report": _dual(
        D.decontamination_sql,
        doc="Per-doc n-gram overlap vs a held-out eval source, with flag.",
    ),
    "source_overlap_matrix": QuerySpec(
        lambda spark, sf_dir: (
            register_views(spark, sf_dir),
            D.source_overlap_matrix(spark),
        )[1],
        D.source_overlap_matrix_sql(DUCK),
        doc="Pairwise cross-source shingle contamination matrix: exact "
        "intersections + Jaccard per source pair, digest-only shuffles; "
        "DataFrame form checkpoints the shared shingle set once "
        "(functions/dedup.py:source_overlap_matrix).",
    ),
    "dedup_rate_trend": _dual(
        D.dedup_rate_trend_sql,
        doc="Per-(source, crawl-day) duplication-rate trend (events x documents).",
    ),
    "dedup_minhash_signature": _dual(D.minhash_signature_sql),
    "dedup_minhash_lsh_pairs": QuerySpec(
        _minhash_lsh_pairs_fn, D.minhash_lsh_pairs_sql(DUCK)
    ),
    "dedup_components": QuerySpec(dedup_components_fn, _dedup_components_oracle()),
    "dedup_keep_best_quality": QuerySpec(
        dedup_keep_best_quality_q,
        _dedup_keep_best_quality_oracle(),
        doc="Quality-aware keeper per near-dup cluster: highest shared "
        "quality score wins, full per-doc adjudication table.",
    ),
    "dedup_crosslingual_pairs": QuerySpec(
        _crosslingual_pairs_fn,
        D.crosslingual_lsh_pairs_sql(DUCK),
        doc="MinHash-LSH with language as an extra blocking key "
        "(functions/dedup.py:crosslingual_lsh_pairs_sql).",
    ),
    "dedup_simhash": _dual(D.simhash_sql),
    "dedup_simhash_candidates": _dual(D.simhash_candidates_sql),
    "dedup_ngram_jaccard": QuerySpec(
        lambda spark, sf_dir: (
            register_views(spark, sf_dir),
            D.ngram_jaccard_pairs(spark),
        )[1],
        D.ngram_jaccard_pairs_sql(DUCK),
        doc="Exact n-gram Jaccard verify pairs; DataFrame form "
        "checkpoints the filtered-shingle set once (the flat SQL "
        "re-runs the shingle explode ~5x per evaluation — "
        "functions/dedup.py:ngram_jaccard_pairs).",
    ),
    "text_winnow_fingerprint": _dual(X.winnow_fingerprint_sql),
    "text_token_count": _dual(X.token_count_sql),
    "text_lang_id": _dual(X.lang_id_sql),
    "text_quality_score": _dual(X.quality_score_sql),
    "corpus_filter_cascade": _dual(
        X.filter_cascade_sql,
        doc="C4/Gopher-style keep/drop cascade: one prioritized decision "
        "per doc (short > repetition > lang > quality), per-source "
        "share report.",
    ),
    "corpus_data_card": _dual(
        X.corpus_data_card_sql,
        doc="Per-source data card: volume, composition, redundancy, "
        "quality, and the cascade's keep share in one pass — the "
        "datasheet table a training run publishes.",
    ),
    "text_repetition_ratio": _dual(
        X.repetition_ratio_sql,
        doc="Gopher-style intra-doc duplicate-3-gram fraction.",
    ),
    "text_lang_id_confusion": _dual(
        X.lang_id_confusion_sql,
        doc="Lang-ID (gold, pred) confusion counts vs the fixture lang column.",
    ),
    "grouped_correlation": _dual(
        A.grouped_corr_sql,
        doc="Per-group Pearson r + OLS slope via exact-decimal moments.",
    ),
    "split_balance_report": _dual(
        A.split_balance_sql,
        doc="Per-(split, lang) share-vs-corpus drift audit of the hash splitter.",
    ),
    "vocab_growth_curve": _dual(
        A.vocab_growth_sql,
        doc="Cumulative distinct vocabulary per corpus decile (Heaps-law).",
    ),
    "events_audience_overlap": _dual(
        A.audience_overlap_sql,
        doc="Distinct-user overlap + Jaccard per event-type pair.",
    ),
    "events_dau_wau": _dual(
        A.dau_wau_sql,
        doc="Rolling DAU/WAU distinct users + stickiness per day.",
    ),
    "cohort_retention": _dual(
        A.cohort_retention_sql,
        doc="Customer cohort-retention matrix (first-order-month cohorts).",
    ),
    "text_bigram_cross_entropy": _dual(
        X.bigram_cross_entropy_sql,
        doc="Per-doc bigram-LM cross-entropy (perplexity-style quality signal).",
    ),
    "tfidf_top_terms": _dual(
        X.tfidf_top_terms_sql,
        doc="Top-5 TF-IDF terms per source (vocabulary fingerprint).",
    ),
    "corpus_source_mix": _dual(
        X.source_mix_sql,
        doc="Per-(source, lang) doc/char/distinct-content mixture report.",
    ),
    "text_fingerprint": _dual(X.fingerprint_sql),
    # --- embeddings: similarity search (dual-dialect) ---
    "embedding_neardup": QuerySpec(embedding_neardup_q, S.embedding_neardup_sql(DUCK)),
    "ann_topk_cosine": _dual(S.ann_topk_sql),
    "ann_lsh_pairs": _dual(S.ann_lsh_pairs_sql),
    "ann_ivf_topk": _dual(S.ann_ivf_topk_sql),
    "ann_pq_topk": _dual(
        S.ann_pq_topk_sql,
        doc="Product-quantization ADC top-k: 8 one-byte codes per vector, "
        "query scores via a broadcast distance table "
        "(functions/similarity.py:ann_pq_topk_sql).",
    ),
    "ann_ivfpq_topk": _dual(
        S.ann_ivfpq_topk_sql,
        doc="IVF-PQ (IVFADC): inverted-file cell pruning composed with "
        "product-quantized ADC scoring — the billion-vector search "
        "shape (functions/similarity.py:ann_ivfpq_topk_sql).",
    ),
    "ann_pq_persisted_topk": QuerySpec(
        ann_pq_persisted_q,
        _ann_pq_trained_oracle(),
        doc="PQ/ADC search from a persisted codebook + compressed-code "
        "store: same seed, same top-k as the in-query trained variant, "
        "no Lloyd and no raw floats on the query path.",
    ),
    "ann_pq_trained_topk": QuerySpec(
        ann_pq_trained_q,
        _ann_pq_trained_oracle(),
        doc="PQ-ADC with per-subspace k-means codebook "
        "(functions/clustering.py:pq_fit).",
    ),
    "kmeans_ivf_train": QuerySpec(kmeans_ivf_q, _kmeans_oracle()),
    "ann_ivf_trained_topk": QuerySpec(ann_ivf_trained_q, _ann_ivf_trained_oracle()),
    "ann_ivfpq_residual_topk": QuerySpec(
        ann_ivfpq_residual_q,
        _ann_ivfpq_residual_oracle(),
        doc="Residual-encoded trained IVF-PQ (full IVFADC): k-means "
        "cells, codebooks trained on residuals, per-(query, cell) "
        "residual distance tables — both Lloyd chains unrolled in the "
        "oracle.",
    ),
    "ann_ivfpq_persisted_topk": QuerySpec(
        ann_ivfpq_persisted_q,
        _ann_ivfpq_residual_oracle(),
        doc="The residual IVF-PQ from a persisted index (centroids + "
        "residual codebook + cid-partitioned codes): store-backed == "
        "train-per-query via the shared oracle, no Lloyd on the query "
        "path.",
    ),
    "ann_ivf_persisted_topk": QuerySpec(
        ann_ivf_persisted_q,
        _ann_ivf_trained_oracle(),
        doc="IVF search from a persisted index: same seed, same top-k "
        "as the in-query trained variant, no Lloyd on the query path.",
    ),
    "quantile_sketch_grouped": QuerySpec(quantile_sketch_q, _QSKETCH_ORACLE),
    "tdigest_quantiles_grouped": QuerySpec(tdigest_quantiles_q, _TDIGEST_ORACLE),
    "clean_corpus_pipeline": QuerySpec(
        lambda spark, sf_dir: __import__(
            "big_data_table_spark.pipelines", fromlist=["x"]
        ).clean_corpus(spark, sf_dir, min_quality=0.55),
        _clean_corpus_oracle(),
    ),
    # --- TPC-H shapes (batch 3) ---
    "q3_shipping_priority": QuerySpec(q3_shipping_priority, _Q3_ORACLE),
    "q4_order_priority": QuerySpec(q4_order_priority, _Q4_ORACLE),
    "q14_promo_revenue": QuerySpec(q14_promo_revenue, _Q14_ORACLE),
    "q18_large_orders": QuerySpec(q18_large_orders, _Q18_ORACLE),
    # TPC-H batch 4 (tpch.py): Q5/Q7/Q8/Q10/Q12/Q13/Q15/Q17/Q19/Q21/Q22
    **{
        name: QuerySpec(fn, oracle)
        for name, (fn, oracle) in __import__(
            "big_data_table_spark.tpch", fromlist=["TPCH_SPECS"]
        ).TPCH_SPECS.items()
    },
    "window_lag_lead": QuerySpec(window_lag_lead_q, _WLAG_ORACLE),
    "string_functions": QuerySpec(string_functions_q, _STRINGF_ORACLE),
    "array_functions": QuerySpec(array_functions_q, _ARRAYF_ORACLE),
    "date_functions": QuerySpec(date_functions_q, _DATEF_ORACLE),
    "partitioned_etl_rollup": QuerySpec(partitioned_etl_rollup, _PART_ETL_ORACLE),
    "text_top_bigrams": QuerySpec(text_top_bigrams_q, _BIGRAMS_ORACLE),
    "events_funnel": QuerySpec(events_funnel_q, _FUNNEL_ORACLE),
    "embedding_quantize_int8": QuerySpec(embedding_quantize_q, _QUANT_ORACLE),
    "events_heatmap": QuerySpec(events_heatmap_q, _HEATMAP_ORACLE),
}

