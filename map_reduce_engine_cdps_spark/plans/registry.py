"""Query registry: name → ((spark, sf_dir) -> DataFrame, oracle SQL).

Single source of truth for `__spark_entry__.queries()` / `oracle_sql()`
and for bench.py. Oracle SQL of None ⇒ non-SQL-expressible operator
(driver records a rows-only check).

A name in `_PRIORITY_ORDER` resolves by convention to `module.name`
and `module.NAME_SQL` in the one module of `_MODULES` defining both;
`_EXPLICIT` binds the names that deviate from the convention.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from map_reduce_engine_cdps_spark.multimodal import binary
from map_reduce_engine_cdps_spark.operators import mlpipeline
from map_reduce_engine_cdps_spark.streaming import stateful as streaming_stateful
from map_reduce_engine_cdps_spark.streaming import windows as streaming_windows
from map_reduce_engine_cdps_spark.plans import (
    analytics, curation, dedup, graph, relational, semistructured, similarity,
    textops, tpch, workloads,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES = (
    relational, tpch, workloads, textops, curation, dedup, similarity, analytics,
    graph, semistructured, binary, mlpipeline, streaming_windows, streaming_stateful,
)

# name: (callable, oracle_sql | None)
_EXPLICIT: dict[str, tuple[QueryFn, str | None]] = {
    # formulation twins sharing one oracle → both execution paths must agree
    # (cogroup merge_asof, 4-hook shim, Python UDTF, treeReduce merge)
    "click_asof_cogroup": (relational.click_asof_cogroup, relational.CLICK_ASOF_PURCHASE_SQL),
    "wordcount_shim": (workloads.wordcount_shim, textops.WORDCOUNT_SQL),
    "udtf_doc_chunks": (semistructured.udtf_doc_chunks, curation.DOC_CHUNKS_SQL),
    "tree_covariance": (similarity.tree_covariance, similarity.EMBEDDING_COVARIANCE_SQL),
    # ML pipeline: PROBE_ITERS-step GD probes whose unrolled DuckDB replays
    # certify the full pipeline; production n_iters=GD_ITERS stays the API
    "one_vs_one_training": (mlpipeline.one_vs_one_metrics, mlpipeline.ONE_VS_ONE_GD2_SQL),
    "ensemble_vote_accuracy": (mlpipeline.ensemble_vote_probe, mlpipeline.ENSEMBLE_VOTE_GD2_SQL),
    "one_vs_one_shim": (mlpipeline.one_vs_one_shim_probe, mlpipeline.ONE_VS_ONE_GD2_SQL),
    # memoized variant, so dbscan_clusters reuses the pair front (ADVICE r7)
    "embedding_near_dup": (similarity.embedding_near_dup_cached, similarity.EMBEDDING_NEAR_DUP_SQL),
    # Structured Streaming twins: streaming ≡ batch ≡ DuckDB
    "streaming_window_counts": (
        streaming_windows.streaming_window_counts, relational.TUMBLING_WINDOW_COUNTS_SQL,
    ),
    "streaming_sliding_distinct": (
        streaming_windows.streaming_sliding_distinct, relational.SLIDING_DISTINCT_USERS_SQL,
    ),
    "streaming_click_purchase_join": (
        streaming_windows.streaming_click_purchase_join, relational.CLICK_PURCHASE_WITHIN_1H_SQL,
    ),
    # eigendecomposition is not one-query SQL; the distributed half is
    # certified by pca_variance_identity (VERDICT r6 item 2)
    "pca_explained_variance": (similarity.pca_explained_variance, None),
}


# ---------------------------------------------------------------------------
# Registry ordering. The driver's correctness gate walks entries in
# order and may stop at a count/time cap (round 1 stopped at entry 50),
# so the order IS the certification priority: first the queries that
# certify SURVEY §2 operator rows (engine primitives, scans/sinks,
# expressions, aggregations/joins/sampling, UDF surface), then the
# LLM-data-pipeline headliners (dedup, ANN/embeddings, text analysis,
# curation, multimodal), then streaming/semistructured, then the
# long-tail analytics extras. Names are stable; only iteration order
# changes.
# ---------------------------------------------------------------------------
# The window ROTATES per round: rounds 2-3 certified the first 50 of the
# round-2 ordering (SURVEY §2 core + shims + scans + dedup + similarity
# head — all green in CORRECTNESS_r02/_r03). Round 4 keeps a small canary
# set from that window and promotes the next oracle-backed tranche (text
# analysis, curation, event-time/as-of, streaming twins) into positions
# 8-50. Rows-only (no-oracle) queries are kept OUT of the first 50 — the
# driver records err:"no_oracle" for them, wasting a certification slot.
_PRIORITY_ORDER = [
    # --- round-13 certification window (driver gate = first 50) ---
    # Positions 1-9: every query whose plan changed in round 13
    # (knn grouped kernel; lsh/ann_recall eqNullSafe bucket keys;
    # CC fused round -> near_dup_clusters + near_dup_prune) plus the
    # four round-12-touched paths the r12 rotation left externally
    # un-re-certified (VERDICT r12 items 1-2: touched queries go
    # AHEAD of the receipt-refresh rotation).
    "knn_bruteforce",
    "lsh_ann_topk",
    "ann_recall_eval",
    "near_dup_clusters",
    "near_dup_prune",
    "simhash_buckets",
    "simhash_hamming_pairs",
    "quality_filter_flags",
    "ivf_nprobe_sweep_eval",
    # Positions 10-25: one canary per family (streaming, multimodal,
    # compat shims, dedup, ANN, text, curation, graph, grouped-map
    # training - the same coverage set as the r9-r12 rotations).
    "danger_topk",
    "wordcount_shim",
    "danger_shim",
    "one_vs_one_shim_pairs",
    "streaming_window_counts",
    "streaming_click_purchase_join",
    "ppm_image_features",
    "media_features",
    "dedup_exact",
    "minhash_lsh_pairs",
    "ivf_ann_topk",
    "wordcount",
    "tfidf_top_terms",
    "decontamination",
    "bfs_hops",
    "one_vs_one_training",
    # Positions 26-50: the 25 longest-unrefreshed receipts (oldest
    # driver certification first - r03/r04 receipts - alphabetical
    # among equals; computed from CORRECTNESS_r01..r12).
    "label_pairs",
    "lsh_bucket_stats",
    "mode_per_user_bucket",
    "multi_format_union",
    "ngram_jaccard_topk",
    "partitioned_pruned_stats",
    "returnflag_accuracy",
    "sampled_docs_per_source",
    "schema_drift_union",
    "segments_per_nation",
    "stable_row_ids",
    "systematic_sample",
    "top_orders",
    "train_test_split",
    "union_slices",
    "xml_roundtrip_stats",
    "click_asof_cogroup",
    "click_asof_purchase",
    "doc_chunks",
    "doc_fingerprints",
    "doc_repetition_stats",
    "epoch_shuffle",
    "inverted_index_stats",
    "kwic_snippets",
    "latest_event_per_user",
    # --- below the gate window: prior-round order preserved ---
    "skew_remediation_eval",
    "compaction_plan_eval",
    "click_purchase_within_1h",
    "cohort_retention",
    "count_distinct_parts",
    "data_quality_audit",
    "dense_event_timeline",
    "grouping_sets_counts",
    "json_props_extract",
    "quantity_percentiles",
    "quantity_price_corr",
    "rolling_1h_user_value",
    "rollup_counts",
    "salted_type_stats",
    "segment_set_ops",
    "status_pivot",
    "status_unpivot",
    "user_funnel",
    "value_histogram",
    "cross_source_leakage",
    "csv_roundtrip_counts",
    "customers_with_orders",
    "customers_without_orders",
    "dedup_on_agg",
    "distinct_segments",
    "edit_distance_pairs",
    "embedding_covariance",
    "embedding_dim_stats",
    "event_type_counts",
    "file_provenance_stats",
    "incremental_dedup",
    "jsonl_roundtrip_stats",
    "minmax_file_skipping_eval",
    "monthly_gapfill_revenue",
    "sql_variable_pricey_parts",
    "revenue_gini",
    "winsorized_price_stats",
    "theil_sen_trend",
    "token_stats",
    "reservoir_sample_per_source",
    "customer_upsert",
    "order_status_runs",
    "listagg_status_profile",
    "try_arith_audit",
    "holt_winters_revenue",
    "segment_nation_mi",
    "ab_proportion_ztest",
    "psi_value_shift",
    "neyman_allocation",
    "key_skew_profile",
    "length_emd_by_source",
    "ppm_shot_boundaries",
    "quantile_normalized_quality",
    "conformal_revenue_interval",
    "bloom_fpr_eval",
    "wav_silence_segments",
    "zorder_layout_stats",
    "copurchase_part_pairs",
    "decayed_user_value",
    "markov_next_event_accuracy",
    "twap_user_value",
    "sax_revenue_symbols",
    "cusum_control_chart",
    "lsh_pair_precision_eval",
    "cross_dup_source_matrix",
    "pricing_summary",
    "revenue_by_nation",
    "cube_counts",
    "running_order_totals",
    "monthly_revenue_yoy",
    "status_pivot_multi",
    "kfold_assignments",
    "shipping_priority",
    "small_qty_revenue",
    "top_return_customers",
    "nation_market_share",
    "promo_revenue_share",
    "disjunctive_part_revenue",
    "forecast_revenue",
    "top_revenue_supplier",
    "idle_rich_customers",
    "waiting_suppliers",
    "order_status_map_roundtrip",
    "mv_revenue_maintenance",
    "rfm_segments",
    "ltv_by_order_index",
    "seasonal_decompose_revenue",
    "rolling_zscore_anomalies",
    "salted_above_type_mean",
    "balance_deciles",
    "geo_mean_price",
    "price_qty_heatmap",
    "orc_roundtrip_stats",
    "bucketed_join_stats",
    "hard_negative_mining",
    "duplicate_spans_sampled",
    "boilerplate_span_topk",
    "temporal_split_stats",
    "span_sample_error_eval",
    "t_closeness_audit",
    "retrieval_ndcg_eval",
    "group_holdout_split",
    "lsh_pair_recall_eval",
    "customer_record_linkage",
    "embedding_near_dup",
    "streaming_user_sessions",
    "streaming_trending_topk",
    "ppm_cnn_embeddings",
    "wav_audio_windows",
    "image_dhash_dedup",
    "dedup_keep_best",
    "duplicate_spans",
    "minhash_signatures",
    "kmeans_lloyd",
    "dbscan_clusters",
    "bm25_scores",
    "lang_id_accuracy",
    "token_budget_sample",
    "kanon_release_stats",
    "dup_graph_triangles",
    "aqp_sample_accuracy",
    "revenue_topshare_curve",
    "pareto_orders",
    "mad_value_outliers",
    "interpolated_event_values",
    "cms_user_event_counts",
    "event_transition_matrix",
    "priority_price_position",
    "event_interarrival_stats",
    "frequent_type_pairs",
    "top_session_paths",
    "rolling_median_value",
    "event_type_trigrams",
    "order_gap_stats",
    "pii_redaction_stats",
    "ccnet_perplexity_buckets",
    "dsir_importance_weights",
    "nb_lang_confusion",
    "customer_scd2_history",
    "length_bucket_batches",
    "doc_embeddings",
    "bootstrap_revenue_ci",
    "rolling_revenue_qty_corr",
    "hurst_exponent_revenue",
    "max_concurrent_sessions",
    "frequent_event_subsequences",
    "quality_score_auc",
    "chi2_term_selection",
    "mcnemar_lang_models",
    "knn_hubness_stats",
    "l_diversity_audit",
    "video_frame_samples",
    "one_vs_one_shim",
    "ensemble_vote_accuracy",
    "pca_variance_identity",
    "lsh_band_tuning_eval",
    "shingle_size_sensitivity",
    "dup_length_bias",
    "bbit_minhash_eval",
    "blocking_overlap_eval",
    "incremental_near_dup",
    "minhash_containment",
    "customer_golden_records",
    "sorted_neighborhood_pairs",
    "cdc_chunk_stats",
    "adamic_adar_links",
    "clustering_coefficients",
    "label_propagation_communities",
    "ktruss_edges",
    "kcore_membership",
    "degree_assortativity",
    "jl_distance_distortion",
    "kcenter_seeds",
    "submodular_coverage_sample",
    "semdedup_prune",
    "pq_quantize_stats",
    "rake_keyword_scores",
    "ngram_novelty_scores",
    "source_vocab_jaccard",
    "rrf_fusion_topk",
    "wand_pruned_retrieval",
    "query_expansion_pmi",
    "term_burstiness",
    "text_quality",
    "pyds_synthetic_stats",
    "multi_resolution_rollup",
    "regr_price_qty",
    "quantity_moments",
    "hll_sketch_users",
    "collated_lang_counts",
    "locf_event_values",
    "lateral_top_orders",
    "freq_items_check",
    "nation_trade_pagerank",
    "trade_graph_degrees",
    "brand_nation_chi2",
    "lineitem_profile",
    "decile_value_calibration",
    "table_diff",
    "status_as_of",
    "ks_two_sample",
    "type_pair_lift",
    "linear_attribution",
    "active_user_metrics",
    "weighted_median_price",
    "customer_survival_km",
    "benford_first_digit",
    "mannwhitney_u",
    "bitmap_distinct_users",
    "kmv_segment_jaccard",
    "revenue_changepoint",
    "revenue_acf",
    "revenue_ewma",
    "revenue_holt",
    "dow_seasonality",
    "near_dup_clusters_star",
    "doc_shingle_cosine_pairs",
    "bigram_logprob_scores",
    "bpe_merges",
    "bpe_token_compression",
    "streaming_dedup_events",
    "streaming_segment_counts",
    "priority_order_counts",
    "brand_supplier_counts",
    "volume_shipping",
    "product_type_profit",
    "large_volume_customers",
    "min_cost_supplier",
    "important_part_value",
    "dominant_part_suppliers",
    "local_supplier_volume",
    "linestatus_priority_counts",
    "customer_order_distribution",
    "pipe_syntax_flag_counts",
    "variant_props_stats",
    "variant_typeof_profile",
    "udtf_top_tokens",
    "udtf_doc_chunks",
    "udtf_doc_sentences",
    "approx_distinct_users",
    "approx_quantile_check",
    "embedding_quantize_stats",
    "negative_sampling_pairs",
    "label_centroid_norms",
    "tree_covariance",
    "arrow_norm_stats",
    "arrow_label_centroids",
    "audio_window_features",
    "ppm_gradient_features",
    "top_bigrams",
    "unigram_logprob_scores",
    "sentiment_scores",
    "vocab_coverage_stats",
    "zipf_fit",
    "vocab_growth_heaps",
    "source_mixing_weights",
    "pack_chunks_bins",
    "weighted_doc_sample",
    "source_lang_entropy",
    "source_interleave",
    "user_sessions",
    "tumbling_window_counts",
    "sliding_window_counts",
    "sliding_distinct_users",
    "windowed_p95_value",
    "session_window_counts",
    "user_session_duration",
    "window_ranks",
    "streaming_sliding_distinct",
    "ppm_video_frame_samples",
    "pca_explained_variance",
]


def _resolve(name: str) -> tuple[QueryFn, str | None]:
    if name in _EXPLICIT:
        return _EXPLICIT[name]
    sql = f"{name.upper()}_SQL"
    hits = [m for m in _MODULES if hasattr(m, name) and hasattr(m, sql)]
    assert len(hits) == 1, (name, [m.__name__ for m in hits])
    return getattr(hits[0], name), getattr(hits[0], sql)


# Each name exactly once, and no module `name`/`NAME_SQL` pair left out:
# round 9 silently dropped two names in a reshuffle (ADVICE r9).
_unregistered = [
    f"{m.__name__}.{a[:-4].lower()}" for m in _MODULES for a in vars(m)
    if a.endswith("_SQL") and a[:-4].lower() in vars(m) and a[:-4].lower() not in _PRIORITY_ORDER
]
assert len(set(_PRIORITY_ORDER)) == len(_PRIORITY_ORDER) and not _unregistered, _unregistered
assert set(_EXPLICIT) <= set(_PRIORITY_ORDER), set(_EXPLICIT) - set(_PRIORITY_ORDER)
_REGISTRY = {name: _resolve(name) for name in _PRIORITY_ORDER}


def QUERIES() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def ORACLE_SQL() -> dict[str, str]:
    # A registry value may be a zero-arg callable building the SQL
    # (e.g. the CNN-fixture oracle, expensive enough to keep off the
    # import path); resolve it here, at oracle-check time only.
    return {
        name: (sql() if callable(sql) else sql)
        for name, (_, sql) in _REGISTRY.items()
        if sql is not None
    }


def get_query(name: str) -> QueryFn:
    return _REGISTRY[name][0]
