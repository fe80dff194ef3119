"""The query registry — the driver-facing surface of the engine.

Every implemented operator from SURVEY.md §2 (and every extension
operator) registers here as a named query: a ``(spark, sf_dir) ->
DataFrame`` callable plus, where SQL-expressible, the equivalent DuckDB
oracle SQL.  ``__spark_entry__.py`` re-exports this registry.

Conventions that keep the oracle compare exact:

- Column names are aliased identically in the Spark plan and the SQL.
- Floating aggregates are ``round``-ed (the data carries 2-decimal
  values; rounding to 4 removes partial-aggregation FP noise without
  touching real information).
- Ordered/top-k queries always carry a deterministic key tiebreaker.
- Session timezone is UTC, matching DuckDB's UTC-naive timestamps.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver runs rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# Every registered query, in surface order.  The driver's correctness
# sample covers the first 50 entries.
_PRIORITY: tuple[str, ...] = (
    "try_cast_dirty_data",
    "regex_extract_long_words",
    "resample_locf_fill",
    "quality_repetition_signals",
    "pii_redact_blocklist",
    "stratified_sample_by_lang",
    "ngram_contamination_check",
    "scd2_customer_orders",
    "corpus_shard_assignment",
    "inverted_index_postings",
    "dq_constraint_audit",
    "curriculum_mixture_sample",
    "ivf_kmeans_recall_audit",
    "sim_topk_ivf_kmeans",
    "ivf_quantizer_balance_audit",
    "incremental_span_coverage_stream",
    "incremental_exact_dedup_stream",
    "ivf_quantizer_stability_audit",
    "ivf_seeding_recall_audit",
    "ivf_probe_recall_audit",
    "q6_forecast_revenue",
    "q14_promo_revenue_ratio",
    "grouped_percentiles",
    "grouped_percentiles_approx",
    "q8_market_share",
    "quantiles_exact",
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "sim_topk_ivf",
    "dedup_embedding_cosine",
    "text_tfidf_top_terms",
    "sim_topk_vectorized",
    "pack_context_windows",
    "dataset_split_train_test",
    "fuzzy_match_blocked",
    "rfm_customer_segments",
    "timeseries_similarity_topk",
    "anomaly_zscore_hours",
    "pagerank_nation_trade",
    "embedding_int8_quantization",
    "heavy_hitters_twopass",
    "bpe_merge_induction",
    "collocation_pmi",
    "kmeans_embedding_clusters",
    "boilerplate_shingle_prune",
    "weighted_sample_ares",
    "phrase_search_positional",
    "table_profile",
    "quality_logreg_score",
    "time_decay_user_scores",
    "unigram_perplexity_score",
    "asof_click_next_purchase",
    "bm25_topk",
    "exact_substring_cut",
    "exact_substring_cut_savings",
    "incremental_span_coverage",
    "a2_first_value",
    "p7_filter_nonempty",
    "upsert_snapshot_changes",
    "a1_count_per_group",
    "f3_unnest_words",
    "flagship_window_traffic",
    "incremental_agg_maintenance",
    "k2_envelope",
    "k4_failed_subset",
    "multimodal_payload_stats",
    "p1_project_rename",
    "p4_format_ts_sydney",
    "p8_kv_lookup",
    "s3_xml_roundtrip",
    "s5_time_range_scan",
    "sample_hash_bucket",
    "source_cap_sample",
    "text_bpe_tokens",
    "time_range_typed_scan",
    "zorder_layout_audit",
    "q11_important_stock_share",
    "q20_nested_in_chain",
    "listagg_order_priorities",
    "date_arithmetic_orders",
    "q9_product_profit",
    "f4_double_unnest",
    "grouping_sets_orders",
    "string_functions",
    "array_functions",
    "setops_bag_semantics",
    "dedup_simhash",
    "sim_topk_bruteforce",
    "text_token_stats",
    "text_fingerprint",
    "text_chunking",
    "text_sentiment_lexicon",
    "multimodal_features",
    "multimodal_frame_sample",
    "sql_interface_orders",
    "fuzzy_match_levenshtein",
    "funnel_view_click_purchase",
    "cohort_weekly_retention",
    "resample_gapfill_daily",
    "sliding_window_traffic",
    "seasonality_dow_hour",
    "event_transition_matrix",
    "compaction_coalesce_plan",
    "bandit_replay_evaluation",
    "nearest_centroid_accuracy",
    "dedup_embedding_lsh_recall",
    "lsh_banding_tradeoff_audit",
    "repeated_span_islands",
    "temperature_sampling_plan",
    "greedy_source_coverage",
    "dedup_embedding_lsh",
    "dedup_clusters_embedding",
    "repeated_span_coverage",
    "q2_min_per_group_suppliers",
    "q3_top_revenue",
    "q4_priority_exists",
    "q5_nation_revenue",
    "q7_nation_trade_volume",
    "q10_returned_revenue_top20",
    "q12_priority_shipping",
    "q13_order_count_distribution",
    "q15_top_supplier_by_revenue",
    "q16_supplier_count_excluding",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q19_disjunctive_predicate_join",
    "q21_waiting_orders_multi_exists",
    "q22_idle_customers_not_exists",
    "join_anti",
    "join_outer_counts",
    "join_semi",
    "asof_purchase_last_click",
    "range_join_ship_lag",
    "salted_join_skew",
    "window_frames_running",
    "topk_orders_per_customer",
    "orderby_limit_global",
    "user_daily_streaks",
    "sessionize_users",
    "union_type_pairs",
    "cube_status_priority",
    "rollup_status_priority",
    "pivot_event_counts",
    "unpivot_user_metrics",
    "correlated_subquery_orders",
    "histogram_order_totals",
    "dedup_exact",
    "distinct_exact",
    "approx_distinct",
    "corpus_clean_pipeline",
    "text_lang_id",
    "text_quality",
    "shard_shuffle_quality",
    "pca_top_component",
    "doc_stitch_overlap",
    "bloom_filter_sizing",
    "lsh_parameter_planner",
    "kruskal_wallis_priority_spend",
    "seasonal_strength_audit",
    "pav_calibration_bins",
    "conformal_coverage_audit",
    "decision_stump_split",
    "curation_decision_log",
    "equidepth_histogram_stats",
    "blocking_cost_audit",
    "feature_hashing_collision_audit",
    "neyman_allocation_plan",
    "fdr_bh_screen",
    "poisson_bootstrap_se",
    "cuped_adjusted_ab",
    "modularity_brand_copurchase",
    "selectivity_estimate_audit",
    "dictionary_encoding_audit",
    "spearman_daily_kpis",
    "stats_correlation",
    "welch_t_test_orders",
    "anova_f_priority_spend",
    "chi2_lang_source_independence",
    "mutual_information_lang_source",
    "lang_id_agreement_ari",
    "ks_drift_orders",
    "quality_auc_en",
    "trend_seasonal_decompose",
    "theil_sen_trend_daily",
    "acf_hourly_traffic",
    "holt_linear_daily",
    "burst_detection_daily",
    "markov_stationary_events",
    "hits_hubs_authorities",
    "jl_projection_distortion_audit",
    "embedding_anisotropy_audit",
    "zipf_law_fit",
    "heaps_law_fit",
    "domain_shift_kl",
    "window_distribution_stats",
    "dsir_importance_weights",
    "q1_pricing_summary",
    "setops_users",
    "window_order_ranks",
    "cusum_changepoint_daily",
    "robust_outliers_mad",
    "link_prediction_scores",
    "bloom_runtime_filter_audit",
    "copurchase_item_similarity",
    "bfs_hops_from_hub",
    "semdedup_semantic_prune",
    "mmr_diversified_topk",
    "k_anonymity_audit",
    "erasure_cascade_audit",
    "quantile_normalize_by_source",
    "ppr_nation_trade_seeds",
    "countmin_error_audit",
    "ndcg_quality_ranking",
    "session_window_native",
    "sql_pipe_surface",
    "udtf_chunk_spans",
    "jackknife_ci_order_total",
    "map_hof_surface",
    "ann_recall_audit",
    "kcore_peel_copurchase",
    "mrr_quality_by_source",
    "kaplan_meier_retention",
    "order_concurrency_peaks",
    "association_rules_triples",
    "sssp_weighted_copurchase",
    "grid_density_clusters",
    "textrank_keywords",
    "winnowing_dup_pairs",
    "forecast_backtest_mase",
    "degree_assortativity_copurchase",
    "local_clustering_topk",
    "event_regex_funnel",
    "naive_bayes_lang_eval",
    "rle_compression_audit",
    "decayed_hourly_traffic",
    "triangle_count_copurchase",
    "token_entropy_quality",
    "rrf_fusion_topk",
    "kneser_ney_bigram_lm",
    "event_path_trigrams",
    "lpa_community_labels",
    "skyline_pareto_orders",
    "entity_fuzzy_clusters",
    "association_rules_pairs",
    "winsorize_order_stats",
    "recursive_cte_hierarchy",
    "variant_json_extract",
    "hof_array_surface",
    "sketch_mergeability_audit",
    "theta_overlap_audit",
    "sensor_outage_islands",
    "weekly_growth_rates",
    "key_skew_audit",
    "dedup_containment",
    "dedup_containment_banded",
    "dedup_clusters_minhash",
    "dedup_cluster_canonical",
    "dedup_minhash_lsh",
    "stratified_kfold_split",
    "survivorship_golden_record",
    "split_leakage_audit",
    "column_drift_audit",
    "near_dup_agreement_audit",
    "lateral_topn_per_nation",
    "approx_top_k_users",
    "benford_digit_audit",
    "revenue_concentration_gini",
    "packing_efficiency_audit",
    "token_fertility_by_lang",
    "cross_source_duplication_matrix",
    "vocab_coverage_curve",
    "embedding_contamination_check",
    "multitouch_attribution",
    "referential_integrity_audit",
    "lang_id_confusion",
    "quality_precision_at_k",
    "quality_gains_by_band",
    "ngram_novelty_decay",
    "emb_hard_negatives",
    "embedding_label_margin",
    "length_bucketed_batches",
    "mixture_epoch_plan",
    "quality_calibrate_by_source",
    "mixture_materialize",
    "vocab_oov_rate",
)


def _ordered() -> dict[str, QuerySpec]:
    head = [n for n in _PRIORITY if n in REGISTRY]
    tail = [n for n in REGISTRY if n not in _PRIORITY]
    return {n: REGISTRY[n] for n in head + tail}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None}


# Importing the family modules populates REGISTRY (kept at the bottom so
# the decorators see the helpers above).
from . import scats  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import dedup  # noqa: E402,F401
from . import retrieval  # noqa: E402,F401
from . import graph  # noqa: E402,F401
from . import stats  # noqa: E402,F401
from . import events  # noqa: E402,F401
from . import sampling  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import audits  # noqa: E402,F401
