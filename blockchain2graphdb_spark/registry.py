"""Central query registry — the single source of truth behind
`__spark_entry__.queries()` / `oracle_sql()`.

Each operator from SURVEY.md §2 registers a named builder
`(spark, sf_dir) -> DataFrame` and (when SQL-expressible) a DuckDB oracle
string. Column names are aliased identically on both sides because the
driver's comparator sorts columns by name before hashing values.

Determinism contract for oracle-checked queries (this is what makes the
value-hash gate pass bit-for-bit):
  * money/double aggregation goes through exact DECIMAL arithmetic
    (`exact.py`) and is cast back to double at the end;
  * every window/limit/top-k order has a unique tie-breaker column;
  * float embeddings are integer-quantized (`vectors.quantize`) before
    dot products, and every dot product, squared norm, squared distance
    and cosine over them is `vectors.dot` / `norm2` / `sq_dist` /
    `cosine` (exact long left folds, one double quotient), whose oracle
    twin `SUM(a.qv[i] * b.qv[i])` is written out by hand;
  * every md5-derived integer (sample, split, bucket, A/B arm, walk
    step) is `exact.md5_int` / `exact.hex_int`, whose oracle twin is
    `('0x' || substr(md5(...), s, k))::BIGINT`, written out by hand;
  * no approximate sketches on the oracle path (HLL etc. are rows-only).
"""

from __future__ import annotations

import functools
import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import catalog

Builder = Callable[[SparkSession, str], DataFrame]

# Module import order (alphabetical-ish; actual registration order is set
# by _SAMPLE_PRIORITY below, which load_all() applies after importing).
_OPERATOR_MODULES = (
    "blockchain2graphdb_spark.operators.graphops",
    "blockchain2graphdb_spark.operators.windows",
    "blockchain2graphdb_spark.operators.textops",
    "blockchain2graphdb_spark.operators.pipeline",
    "blockchain2graphdb_spark.operators.behavior",
    "blockchain2graphdb_spark.operators.sqlsuite",
    "blockchain2graphdb_spark.operators.scalars",
    "blockchain2graphdb_spark.operators.maintenance",
    "blockchain2graphdb_spark.operators.udfs",
    "blockchain2graphdb_spark.operators.dedup",
    "blockchain2graphdb_spark.operators.multimodal",
    "blockchain2graphdb_spark.operators.similarity",
    "blockchain2graphdb_spark.operators.ann_ivf",
    "blockchain2graphdb_spark.operators.ann_pq",
    "blockchain2graphdb_spark.operators.ingestion",
    "blockchain2graphdb_spark.streaming.queries",
    "blockchain2graphdb_spark.operators.relational",
    "blockchain2graphdb_spark.operators.timeseries",
    "blockchain2graphdb_spark.operators.linkage",
    "blockchain2graphdb_spark.operators.mlprep",
    "blockchain2graphdb_spark.operators.spatial",
    "blockchain2graphdb_spark.operators.walks",
    "blockchain2graphdb_spark.operators.evalrank",
    "blockchain2graphdb_spark.operators.experiments",
    "blockchain2graphdb_spark.operators.centrality",
    "blockchain2graphdb_spark.operators.diffusion",
)

# The driver's correctness gate samples the FIRST ~50 keys in queries()
# order, so registration order is the sampling schedule. Round-11 policy
# (continues the witness-age rotation from VERDICT r6 #4 / r9 #1 / r10 #2):
# the union of CORRECTNESS_r01..r10 witnesses all 317 keys, so the list is
# now a PURE stalest-witness-first rotation, regenerated each round by
# tools/gen_sample_priority.py from the CORRECTNESS_r*.json files: keys
# sorted by (latest driver-witness round ASC, oracle-before-rows-only,
# name) — the r11 gate samples the stalest ~50 (the r1-r5 relational /
# window / text / tpch core), keeping every witness at most ~5 rounds
# old. NEW keys (no witness) go at the very head as they land. The list
# is COMPLETE — every registry key appears (pinned by
# tests/test_round8_ops.py::test_sample_priority_is_complete, since
# load_all() silently ignores missing keys).
_SAMPLE_PRIORITY = (
    # --- new round-16 head: never-driver-witnessed first, then stalest ---
    "label_noise_knn",  # r11 oracle
    "tpch_q9",  # r6 oracle
    "unpivot_stack",  # r6 oracle
    "window_percent_rank",  # r6 oracle
    "agg_argmax",  # r7 oracle
    "agg_collect_set",  # r7 oracle
    "agg_conditional_count",  # r7 oracle
    "agg_count",  # r7 oracle
    "agg_count_distinct",  # r7 oracle
    "agg_cube",  # r7 oracle
    "agg_first_seen_count",  # r7 oracle
    "agg_grouping_sets",  # r7 oracle
    "agg_min_max",  # r7 oracle
    "agg_percentile",  # r7 oracle
    "agg_rollup",  # r7 oracle
    "agg_salted",  # r7 oracle
    "agg_self_transfer",  # r7 oracle
    "agg_signed_sum",  # r7 oracle
    "agg_stats",  # r7 oracle
    "agg_sum",  # r7 oracle
    "agg_sum_coalesce",  # r7 oracle
    "anti_join",  # r7 oracle
    "counterparties",  # r7 oracle
    "distinct_rows",  # r7 oracle
    "expand_children",  # r7 oracle
    "export_edges",  # r7 oracle
    "filter_conjunctive",  # r7 oracle
    "filter_point",  # r7 oracle
    "histogram_bins",  # r7 oracle
    "join_anti",  # r7 oracle
    "join_asof",  # r7 oracle
    "join_asof_pandas",  # r7 oracle
    "join_full",  # r7 oracle
    "join_inner",  # r7 oracle
    "join_left",  # r7 oracle
    "join_range",  # r7 oracle
    "join_salted",  # r7 oracle
    "join_semi",  # r7 oracle
    "limit_n",  # r7 oracle
    "one_hop_join",  # r7 oracle
    "pivot_table",  # r7 oracle
    "sample_hash_stratified",  # r7 oracle
    "scan_parquet",  # r7 oracle
    "self_transfer_flag",  # r7 oracle
    "semi_join",  # r7 oracle
    "set_except",  # r7 oracle
    "set_intersect",  # r7 oracle
    "set_union",  # r7 oracle
    "sort_by_key",  # r7 oracle
    "stream_session_exact",  # r7 oracle
    "topk_global",  # r7 oracle
    "tpch_q12_shape",  # r7 oracle
    "wallet_components_dist",  # r7 oracle
    "wallet_ids_incremental",  # r7 oracle
    "anomaly_daily_zscore",  # r8 oracle
    "bfs_distance",  # r8 oracle
    "chain_tip",  # r8 oracle
    "chain_validity",  # r8 oracle
    "chi2_association",  # r8 oracle
    "clustering_coefficient",  # r8 oracle
    "cohort_retention",  # r8 oracle
    "community_modularity",  # r8 oracle
    "contamination_check",  # r8 oracle
    "copurchase_weights",  # r8 oracle
    "corpus_mixture",  # r8 oracle
    "curation_pipeline",  # r8 oracle
    "cusum_drift",  # r8 oracle
    "degree_stats",  # r8 oracle
    "dup_rate_by_source",  # r8 oracle
    "event_transitions",  # r8 oracle
    "feature_scale_minmax",  # r8 oracle
    "funnel_conversion",  # r8 oracle
    "graph_assortativity",  # r8 oracle
    "khop_neighborhood",  # r8 oracle
    "ktruss_edges",  # r8 oracle
    "layout_zorder",  # r8 oracle
    "multimodal_patchify",  # r8 oracle
    "neighbor_jaccard",  # r8 oracle
    "pack_sequences",  # r8 oracle
    "parent_lookup",  # r8 oracle
    "rolling_dau",  # r8 oracle
    "sample_hash_topk",  # r8 oracle
    "seasonality_profile",  # r8 oracle
    "sessionize_batch",  # r8 oracle
    "spatial_knn",  # r8 oracle
    "spatial_radius_join",  # r8 oracle
    "split_assign",  # r8 oracle
    "split_drift_psi",  # r8 oracle
    "stream_hypertable_rollup",  # r8 oracle
    "tokenize_to_ids",  # r8 oracle
    "two_hop_join",  # r8 oracle
    "week_over_week",  # r8 oracle
    "ab_test_zscore",  # r9 oracle
    "association_rules",  # r9 oracle
    "attribution_last_touch",  # r9 oracle
    "attribution_linear",  # r9 oracle
    "calibration_bins",  # r9 oracle
    "cdc_apply",  # r9 oracle
    "cohens_kappa",  # r9 oracle
    "concurrent_sessions_max",  # r9 oracle
    "cuped_adjustment",  # r9 oracle
    "dedup_cluster_histogram",  # r9 oracle
    "dq_expectations",  # r9 oracle
    "embedding_covariance",  # r9 oracle
    "entropy_profile",  # r9 oracle
    "ewma_trailing",  # r9 oracle
    "funnel_time_to_convert",  # r9 oracle
    "gap_detect",  # r9 oracle
    "gini_concentration",  # r9 oracle
    "impute_group_median",  # r9 oracle
    "inventory_clamped_balance",  # r9 oracle
    "ivm_join_delta",  # r9 oracle
    "join_interval_overlap",  # r9 oracle
    "join_partition_prune_runtime",  # r9 oracle
    "kaplan_meier",  # r9 oracle
    "ks_statistic",  # r9 oracle
    "mad_robust",  # r9 oracle
    "ndcg_at_k",  # r9 oracle
    "ngram_novelty",  # r9 oracle
    "ols_multi",  # r9 oracle
    "percentile_summary",  # r9 oracle
    "recursive_cte_hierarchy",  # r9 oracle
    "resample_ohlc",  # r9 oracle
    "rrf_fusion",  # r9 oracle
    "scan_corrupt_quarantine",  # r9 oracle
    "scan_orc",  # r9 oracle
    "scan_schema_evolution",  # r9 oracle
    "scan_zonemap_skip",  # r9 oracle
    "skipgram_pairs",  # r9 oracle
    "skyline_pareto",  # r9 oracle
    "snapshot_cdc_diff",  # r9 oracle
    "stickiness_dau_mau",  # r9 oracle
    "stream_cdc_apply",  # r9 oracle
    "subtree_rollup",  # r9 oracle
    "time_weighted_avg",  # r9 oracle
    "udtf_lateral",  # r9 oracle
    "variant_extract",  # r9 oracle
    "weighted_median",  # r9 oracle
    "weighted_sample_topk",  # r9 oracle
    "winsorized_mean",  # r9 oracle
    "zipf_fit",  # r9 oracle
    "acf_lags",  # r10 oracle
    "auc_exact",  # r10 oracle
    "confusion_threshold",  # r10 oracle
    "corr_pairs",  # r10 oracle
    "dbscan_core",  # r10 oracle
    "dedup_containment",  # r10 oracle
    "dedup_embedding_cosine",  # r10 oracle
    "dedup_embedding_exact",  # r10 oracle
    "degree_histogram",  # r10 oracle
    "doc_length_band",  # r10 oracle
    "embedding_outlier_topk",  # r10 oracle
    "feature_hashing",  # r10 oracle
    "gap_fill_locf",  # r10 oracle
    "group_kfold",  # r10 oracle
    "hypertable_rollup",  # r10 oracle
    "iqr_outliers",  # r10 oracle
    "join_asof_tolerance",  # r10 oracle
    "join_skew_report",  # r10 oracle
    "join_skew_salted",  # r10 oracle
    "label_propagation",  # r10 oracle
    "lift_gain_table",  # r10 oracle
    "mutual_information",  # r10 oracle
    "onehot_encode",  # r10 oracle
    "quantile_bucketize",  # r10 oracle
    "random_walk_sample",  # r10 oracle
    "record_linkage",  # r10 oracle
    "scan_partition_prune",  # r10 oracle
    "session_funnel",  # r10 oracle
    "session_path_topk",  # r10 oracle
    "stream_stateful_agg_exact",  # r10 oracle
    "target_encode",  # r10 oracle
    "text_readability",  # r10 oracle
    "text_surprisal",  # r10 oracle
    "trend_ols",  # r10 oracle
    "window_lead_nth",  # r10 oracle
    "woe_iv",  # r10 oracle
    "dedup_embedding_lsh",  # r10 rows-only
    "dedup_minhash",  # r10 rows-only
    "dedup_simhash",  # r10 rows-only
    "kmeans_embeddings",  # r10 rows-only
    "similarity_bruteforce",  # r10 rows-only
    "similarity_ivf",  # r10 rows-only
    "similarity_lsh",  # r10 rows-only
    "similarity_pq",  # r10 rows-only
    "stream_dedup",  # r10 rows-only
    "stream_late_data",  # r10 rows-only
    "stream_session",  # r10 rows-only
    "stream_stateful_agg",  # r10 rows-only
    "stream_watermark",  # r10 rows-only
    "taint_flow",  # r10 rows-only
    "adversarial_validation",  # r11 oracle
    "attribution_markov",  # r11 oracle
    "benford_deviation",  # r11 oracle
    "betweenness_approx",  # r11 oracle
    "bollinger_bands",  # r11 oracle
    "bootstrap_ci",  # r11 oracle
    "closeness_approx",  # r11 oracle
    "cohort_ltv",  # r11 oracle
    "compaction_bin_pack",  # r11 oracle
    "conformal_interval",  # r11 oracle
    "corpus_js_divergence",  # r11 oracle
    "diff_in_diff",  # r11 oracle
    "doc_length_tail_index",  # r11 oracle
    "edge_betweenness_approx",  # r11 oracle
    "eigenvector_centrality",  # r11 oracle
    "embedding_anisotropy",  # r11 oracle
    "embedding_mmd_drift",  # r11 oracle
    "embedding_pca_power",  # r11 oracle
    "expected_calibration_error",  # r11 oracle
    "feature_pit_join",  # r11 oracle
    "forecast_baseline_error",  # r11 oracle
    "gini_split_points",  # r11 oracle
    "gnn_neighbor_sample",  # r11 oracle
    "graph_diameter_lb",  # r11 oracle
    "hard_negative_topk",  # r11 oracle
    "influence_cascade",  # r11 oracle
    "isotonic_calibration",  # r11 oracle
    "ivm_agg_delta",  # r11 oracle
    "k_anonymity_audit",  # r11 oracle
    "l_diversity_audit",  # r11 oracle
    "linkage_blocking_quality",  # r11 oracle
    "mann_whitney_u",  # r11 oracle
    "map_at_k",  # r11 oracle
    "mrr_at_k",  # r11 oracle
    "nelson_aalen",  # r11 oracle
    "neyman_allocation",  # r11 oracle
    "node2vec_walk_sample",  # r11 oracle
    "pr_curve_points",  # r11 oracle
    "psm_att",  # r11 oracle
    "quantile_normalize",  # r11 oracle
    "scan_fixed_width",  # r11 oracle
    "similarity_join_prefix",  # r11 oracle
    "snapshot_shallow_clone",  # r11 oracle
    "sprt_sequential",  # r11 oracle
    "stream_sprt",  # r11 oracle
    "text_hashing_vectorizer",  # r11 oracle
    "theil_sen_slope",  # r11 oracle
    "uplift_by_decile",  # r11 oracle
    "vocab_chao1_richness",  # r11 oracle
    "ann_recall_curve",  # r12 oracle
    "anova_oneway",  # r12 oracle
    "approx_quantile_audit",  # r12 oracle
    "attribution_shapley",  # r12 oracle
    "bigram_lm_perplexity",  # r12 oracle
    "bloom_fpr_calibration",  # r12 oracle
    "brier_decomposition",  # r12 oracle
    "churn_labels",  # r12 oracle
    "cliffs_delta",  # r12 oracle
    "cold_start_census",  # r12 oracle
    "countmin_calibration",  # r12 oracle
    "dataset_mixture_manifest",  # r12 oracle
    "dp_sensitivity_census",  # r12 oracle
    "embedding_random_projection",  # r12 oracle
    "fulfillment_latency_sla",  # r12 oracle
    "group_percentiles",  # r12 oracle
    "grubbs_test",  # r12 oracle
    "herfindahl_concentration",  # r12 oracle
    "holt_linear_forecast",  # r12 oracle
    "hurst_rs",  # r12 oracle
    "item_cf_recommend",  # r12 oracle
    "iv_2sls",  # r12 oracle
    "ivf_index_incremental",  # r12 oracle
    "join_bloom_runtime_filter",  # r12 oracle
    "katz_centrality",  # r12 oracle
    "kendall_tau",  # r12 oracle
    "kfold_cv_metrics",  # r12 oracle
    "khop_induced_subgraph",  # r12 oracle
    "kneser_ney_prob",  # r12 oracle
    "landmark_distances",  # r12 oracle
    "ljung_box_q",  # r12 oracle
    "lorenz_curve_deciles",  # r12 oracle
    "mann_kendall_trend",  # r12 oracle
    "matthews_mcc",  # r12 oracle
    "mde_power_analysis",  # r12 oracle
    "minhash_estimate_calibration",  # r12 oracle
    "naive_bayes_lang",  # r12 oracle
    "negative_edge_sample",  # r12 oracle
    "node2vec_walk_sample_pq",  # r12 oracle
    "page_hinkley_drift",  # r12 oracle
    "pinball_loss_eval",  # r12 oracle
    "rich_club_coefficient",  # r12 oracle
    "sample_size_proportion",  # r12 oracle
    "segmented_trend_break",  # r12 oracle
    "skew_kurtosis_profile",  # r12 oracle
    "spearman_rho",  # r12 oracle
    "stream_anomaly_zscore",  # r12 oracle
    "wasserstein_1d_drift",  # r12 oracle
    "watermark_lateness_census",  # r12 oracle
    "window_cume_dist",  # r12 oracle
    "join_skew_aqe_split",  # r13 oracle
    "regression_metrics",  # r13 oracle
    "regression_stump",  # r13 oracle
    "rolling_origin_backtest",  # r13 oracle
    "rsi_cutler",  # r13 oracle
    "sequence_packing_shelf",  # r13 oracle
    "simhash_hamming_calibration",  # r13 oracle
    "srm_check",  # r13 oracle
    "stream_dq_quarantine",  # r13 oracle
    "stream_ivf_assign",  # r13 oracle
    "stream_mixture_admission",  # r13 oracle
    "stream_multi_table_ingest",  # r13 oracle
    "stream_page_hinkley",  # r13 oracle
    "stream_scd2_enrich",  # r13 oracle
    "stream_stream_left_outer",  # r13 oracle
    "stream_topk_per_window",  # r13 oracle
    "t_closeness_audit",  # r13 oracle
    "temporal_edge_split",  # r13 oracle
    "text_clean",  # r13 oracle
    "text_fingerprint",  # r13 oracle
    "text_lang_id",  # r13 oracle
    "text_ngram_freq",  # r13 oracle
    "text_quality_score",  # r13 oracle
    "text_rake_keywords",  # r13 oracle
    "text_repetition",  # r13 oracle
    "text_tfidf",  # r13 oracle
    "text_token_stats",  # r13 oracle
    "token_count",  # r13 oracle
    "tokenizer_fertility_by_lang",  # r13 oracle
    "topo_order",  # r13 oracle
    "tpch_q1",  # r13 oracle
    "tpch_q3",  # r13 oracle
    "tpch_q5",  # r13 oracle
    "triangle_count",  # r13 oracle
    "utxo_age_distribution",  # r13 oracle
    "vocab_coverage",  # r13 oracle
    "wallet_components",  # r13 oracle
    "window_first_seen",  # r13 oracle
    "window_lag",  # r13 oracle
    "window_ntile",  # r13 oracle
    "window_range_frame",  # r13 oracle
    "window_rank",  # r13 oracle
    "window_row_number",  # r13 oracle
    "window_running_sum",  # r13 oracle
    "window_topk_per_group",  # r13 oracle
    "agg_approx_count_distinct",  # r13 rows-only
    "agg_approx_percentile",  # r13 rows-only
    "agg_hll_merge",  # r13 rows-only
    "pagerank",  # r13 rows-only
    "sample_stratified",  # r13 rows-only
    "blockfile_ingest",  # r14 oracle
    "cascade_delete",  # r14 oracle
    "dedup_embedding",  # r14 oracle
    "dedup_exact",  # r14 oracle
    "dedup_keep_best",  # r14 oracle
    "dedup_minhash_exact",  # r14 oracle
    "dedup_ngram_jaccard",  # r14 oracle
    "dedup_simhash_exact",  # r14 oracle
    "doc_chunk",  # r14 oracle
    "embedding_centroids",  # r14 oracle
    "kcore_membership",  # r14 oracle
    "kmeans_exact",  # r14 oracle
    "multimodal_audio_windows",  # r14 oracle
    "multimodal_features",  # r14 oracle
    "multimodal_frame_sample",  # r14 oracle
    "multimodal_resize",  # r14 oracle
    "pagerank_exact",  # r14 oracle
    "personalized_pagerank_exact",  # r14 oracle
    "reorg_rollback",  # r14 oracle
    "resume_anti_join",  # r14 oracle
    "scd2_history",  # r14 oracle
    "similarity_range",  # r14 oracle
    "similarity_topk",  # r14 oracle
    "sketch_countmin",  # r14 oracle
    "snapshot_reorg_overwrite",  # r14 oracle
    "snapshot_time_travel",  # r14 oracle
    "str_concat",  # r14 oracle
    "str_regexp_extract",  # r14 oracle
    "stream_events",  # r14 oracle
    "stream_file_tail",  # r14 oracle
    "stream_merge_sink",  # r14 oracle
    "stream_parse",  # r14 oracle
    "stream_rate_source",  # r14 oracle
    "stream_sliding",  # r14 oracle
    "stream_static_join",  # r14 oracle
    "stream_stream_full_outer",  # r14 oracle
    "stream_stream_join",  # r14 oracle
    "stream_tumbling",  # r14 oracle
    "stream_watermark_idle_audit",  # r14 oracle
    "taint_flow_exact",  # r14 oracle
    "text_phrase_search",  # r14 oracle
    "text_pii_mask",  # r14 oracle
    "text_search",  # r14 oracle
    "text_search_bm25",  # r14 oracle
    "udaf_grouped",  # r14 oracle
    "udf_scalar",  # r14 oracle
    "udf_with_fallback",  # r14 oracle
    "udtf_flatmap",  # r14 oracle
    "update_columns",  # r14 oracle
    "personalized_pagerank",  # r14 rows-only
    "agg_mode",  # r15 oracle
    "array_explode",  # r15 oracle
    "array_ops",  # r15 oracle
    "bpe_merge_pairs",  # r15 oracle
    "chunk_embed_retrieve",  # r15 oracle
    "conditional_flag",  # r15 oracle
    "date_compare",  # r15 oracle
    "date_parts",  # r15 oracle
    "date_trunc_group",  # r15 oracle
    "dedup_cluster_keep_best",  # r15 oracle
    "dedup_incremental",  # r15 oracle
    "dedup_substring",  # r15 oracle
    "embedding_quantize",  # r15 oracle
    "hits_exact",  # r15 oracle
    "json_extract",  # r15 oracle
    "link_prediction_aa",  # r15 oracle
    "map_ops",  # r15 oracle
    "math_ops",  # r15 oracle
    "motif_find",  # r15 oracle
    "null_coalesce",  # r15 oracle
    "orders_rfm",  # r15 oracle
    "profile_table",  # r15 oracle
    "scan_csv",  # r15 oracle
    "scan_jsonl",  # r15 oracle
    "sssp_weighted",  # r15 oracle
    "str_cast",  # r15 oracle
    "str_edit_distance",  # r15 oracle
    "str_format",  # r15 oracle
    "str_split",  # r15 oracle
    "stream_dedup_exact",  # r15 oracle
    "tpch_q10",  # r15 oracle
    "tpch_q11",  # r15 oracle
    "tpch_q13",  # r15 oracle
    "tpch_q14",  # r15 oracle
    "tpch_q15",  # r15 oracle
    "tpch_q16",  # r15 oracle
    "tpch_q17",  # r15 oracle
    "tpch_q18",  # r15 oracle
    "tpch_q19",  # r15 oracle
    "tpch_q2",  # r15 oracle
    "tpch_q20",  # r15 oracle
    "tpch_q21",  # r15 oracle
    "tpch_q22",  # r15 oracle
    "tpch_q4",  # r15 oracle
    "tpch_q6",  # r15 oracle
    "tpch_q7",  # r15 oracle
    "tpch_q8",  # r15 oracle
    "upsert_insert_if_absent",  # r15 oracle
    "upsert_merge",  # r15 oracle
    "utxo_balances",  # r15 oracle
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def query(name: str, oracle: str | None = None):
    """Decorator registering a query builder under `name`.

    The registered (and returned) callable pins the session confs with
    `catalog.prep` before the builder body runs, so builders never call
    `prep` themselves and direct module calls get the same contract as
    the registry."""

    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query key {name!r}")

        @functools.wraps(fn)
        def builder(spark: SparkSession, *args, **kwargs) -> DataFrame:
            catalog.prep(spark)
            return fn(spark, *args, **kwargs)

        _REGISTRY[name] = QuerySpec(name=name, builder=builder, oracle=oracle)
        return builder

    return deco


def load_all() -> dict[str, QuerySpec]:
    global _LOADED
    if not _LOADED:
        for mod in _OPERATOR_MODULES:
            importlib.import_module(mod)
        # reorder so _SAMPLE_PRIORITY keys come first (driver gate samples
        # registration order); remaining keys keep module order
        prioritized = {k: _REGISTRY.pop(k) for k in _SAMPLE_PRIORITY if k in _REGISTRY}
        prioritized.update(_REGISTRY)
        _REGISTRY.clear()
        _REGISTRY.update(prioritized)
        _LOADED = True
    return dict(_REGISTRY)


def queries() -> dict[str, Builder]:
    return {name: spec.builder for name, spec in load_all().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None}
