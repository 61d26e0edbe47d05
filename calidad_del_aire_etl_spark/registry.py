"""Query registry: every operator from SURVEY.md §2 exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle twin.

Conventions that keep the two engines hash-identical:
- session timezone pinned to UTC before every query;
- every computed double rounded to 4 decimals on BOTH sides (``r4`` /
  ``ROUND(x + 1e-9, 4)``);
- every integer-typed output explicitly cast so Arrow dtypes agree
  (Spark ``int``/``bigint`` ↔ DuckDB ``INTEGER``/``BIGINT``);
- aggregate/computed columns aliased to the same name on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import (
    aqi_from_pm25,
    aqi_sql,
    quality_category,
    quality_category_sql,
    r4,
)
from .operators import aggregates, cleaning, features
from .session import pin_oracle_compat
from .sources.readers import read_parquet


def load(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    # Opt-in pre-bucketed fact posture (VERDICT r13 #4): when the env
    # flag is up AND sinks.prepare_bucketed_facts has materialized this
    # table for this sf_dir in the session catalog, read the bucketed
    # table — joins/aggs on the bucket key then plan without their
    # fact exchange. Queries stay unchanged; the layout is a storage
    # decision, exactly as it would be on a real cluster.
    if os.environ.get("SPARK_GRAFT_BUCKETED") == "1":
        from .sinks.writers import bucketed_table_name

        tbl = bucketed_table_name(sf_dir, name)
        if spark.catalog.tableExists(tbl):
            # built from load() output, so ts/date normalization and
            # column types are already canonical
            return spark.table(tbl)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    # Timestamp normalization: the generator has written `ts` as
    # TIMESTAMP(NANOS) (read as long nanoseconds under nanosAsLong) or as
    # TIMESTAMP(MICROS) without timezone metadata (read as TIMESTAMP_NTZ).
    # Every operator expects plain TIMESTAMP; with the session timezone
    # pinned to UTC the NTZ→LTZ cast is micros-identical, matching how
    # DuckDB reads the same naive parquet values.
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # integer division — `/` would route through a double and lose
            # µs precision at 10^18 ns magnitudes
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    if spread:
        # CPU-heavy narrow transforms (shingle md5s, cosine products) run
        # map-side BEFORE any shuffle, so a table that arrives as a single
        # small file would pin them to one core. Fan such scans out to the
        # cluster; a no-op at real scale where the scan already has ≥
        # defaultParallelism splits, so no extra shuffle at 100 TB.
        # file-count heuristic, NOT df.rdd.getNumPartitions(): touching
        # .rdd instantiates the RDD conversion path just for metadata.
        # One file can still hold many splits (maxPartitionBytes), so
        # this over-repartitions only for small multi-rowgroup files —
        # exactly the case spread targets anyway.
        par = spark.sparkContext.defaultParallelism
        if len(df.inputFiles()) < par:
            df = df.repartition(par)
    return df


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over pre-registered views; None → rows-only


_SPECS: list[QuerySpec] = []


def register(name: str, oracle: str | None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            pin_oracle_compat(spark)
            return fn(spark, sf_dir)

        _SPECS.append(QuerySpec(name, wrapped, oracle))
        return wrapped

    return deco


# Driver-coverage rotation (round-5 VERDICT item #1). The external
# correctness gate hash-checks only the FIRST 50 keys of queries(); rounds
# 1-4 sampled the identical leading window, so the union of driver-verified
# keys stalled at these 53 while ~110 registered queries only ever saw the
# in-repo oracle sweep. Ordering queries() as (never-sampled oracle-backed →
# never-sampled rows-only → previously-sampled) rotates the external gate
# onto fresh keys each round without touching registration order anywhere
# else (all other consumers access by name). Extend this list with each
# round's CORRECTNESS_r{N}.json keys so the window keeps advancing; the
# per-round grouping lets the seen-block order oldest-sampled-first, so
# once the fresh pool shrinks below the 50-key window (round 7+) the
# stalest external evidence is the first to refresh.
_DRIVER_SAMPLED_BY_ROUND: list[frozenset[str]] = [
    # rounds 1-4 union (53 keys, from CORRECTNESS_r01..r04.json)
    frozenset({
        "ann_bruteforce_topk", "ann_ivf_topk", "ann_lsh_topk", "ann_sq_topk",
        "asof_join_purchases", "dash_corr_matrix", "dash_dow_distribution",
        "dash_hourly_pattern", "dash_kpis", "dash_rolling_mean",
        "dash_station_compare", "dash_trend_slope", "dedup_cluster_resolve",
        "dedup_cluster_star", "dedup_embedding_cosine", "dedup_exact_docs",
        "dedup_incremental_minhash", "dedup_minhash_lsh", "dedup_ngram_jaccard",
        "dedup_simhash", "docs_full_pipeline", "etl_anomaly_flags", "etl_aqi",
        "etl_category", "etl_daily_summary", "etl_dedup_exact",
        "etl_full_pipeline", "etl_interpolate", "etl_monthly_summary",
        "etl_outlier_iqr", "etl_pollution_index", "etl_rollup_multigrain",
        "etl_temporal_features", "etl_upsert_merge", "etl_validation_report",
        "etl_weekly_summary", "mm_binary_meta", "mm_feature_extract",
        "pivot_event_types", "sessionize", "skew_salted_join",
        "text_fingerprint", "text_lang_id", "text_quality_score",
        "text_token_count", "topk_per_group", "tpch_q10_returned",
        "tpch_q1_pricing", "tpch_q3_shipping", "tpch_q4_priority",
        "tpch_q5_local_supplier", "tpch_q6_forecast", "tpch_q7_volume",
    }),
    # round 5 (50 keys, from CORRECTNESS_r05.json)
    frozenset({
        "ab_welch_t", "ann_ivfpq_topk", "ann_pq_topk", "ann_recall_eval",
        "basket_affinity", "conversion_attribution", "corpus_domain_quota",
        "corpus_sentence_dedup", "corpus_split_decontaminated",
        "corpus_unigram_logprob", "corpus_weighted_sample",
        "daily_percentile_bands", "dash_spearman_matrix", "decayed_counts",
        "dedup_containment", "dedup_fuzzy_pairs", "dedup_keep_best",
        "dedup_minhash_eval", "dedup_semantic", "embed_cluster_purity",
        "etl_calendar_dim", "etl_outlier_mad", "events_cusum_alarms",
        "fd_profile", "geo_close_pairs", "graph_triangles",
        "heavy_hitters_topk", "holt_trend_forecast", "inclusion_profile",
        "item_cf_cosine", "lang_id_eval", "pareto_frontier",
        "quality_auc_eval", "quantile_rollup_merge", "scd2_apply_incremental",
        "seasonal_anomaly", "session_stats", "share_of_total",
        "text_bm25_topk", "text_hash_features", "text_normalize",
        "text_readability", "top_event_paths", "tpch_q11_important",
        "tpch_q13_custdist", "tpch_q20_excess", "tpch_q21_waiting",
        "tpch_q2_min_cost", "tpch_q9_profit", "user_feature_matrix",
    }),
    # round 6 (50 keys, from CORRECTNESS_r06.json)
    frozenset({
        "cogroup_align_events", "cohort_retention", "column_profile",
        "corpus_chunk_docs", "corpus_contamination", "corpus_dsir_weights",
        "corpus_dup_spans", "corpus_mixture_sample", "corpus_ngram_topk",
        "corpus_pack_sequences", "corpus_pii_scrub",
        "corpus_repetition_filter", "corpus_stratified_sample",
        "cube_type_dow", "cumulative_distinct_users", "dash_rolling_median",
        "ema_per_user", "embed_kmeans", "er_blocked_match", "etl_aqi",
        "etl_category", "etl_dedup_exact", "etl_interpolate", "etl_locf_fill",
        "etl_outlier_iqr", "etl_resample_15min", "etl_sensor_gaps",
        "event_transition_matrix", "expectations_report",
        "geo_nearest_station", "graph_pagerank", "grouping_sets_profile",
        "hour_dow_heatmap", "json_props_stats", "mm_frame_sample",
        "mode_per_user", "psi_drift", "rfm_segments", "sample_n_per_user",
        "scd2_point_in_time", "semi_anti_activity", "sql_interface",
        "text_char_entropy", "text_tfidf_topk", "time_weighted_avg",
        "topn_with_others", "unpivot_daily_metrics", "value_deciles",
        "value_histogram", "winsorize_profile",
    }),
    # round 7 (50 keys, from CORRECTNESS_r07.json)
    frozenset({
        "ann_bruteforce_topk", "ann_ivf_topk", "ann_lsh_topk", "ann_sq_topk",
        "benford_price_test", "bloom_ingest_dedup", "cms_user_counts",
        "corpus_gopher_rules", "corpus_perplexity_buckets", "dash_corr_matrix",
        "dash_dow_distribution", "dash_hourly_pattern", "dash_kpis",
        "dash_rolling_mean", "dash_station_compare", "data_skew_report",
        "dedup_cluster_resolve", "dedup_embedding_cosine", "dedup_exact_docs",
        "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
        "embed_pca_project", "etl_daily_summary", "etl_monthly_summary",
        "etl_pollution_index", "etl_temporal_features",
        "etl_validation_report", "etl_weekly_summary", "hll_rollup_merge",
        "mm_phash_dedup", "open_order_backlog", "percentile_profile",
        "range_join_incidents", "revenue_gini_by_nation", "scd2_build",
        "seasonal_decompose", "sketch_profile", "snapshot_diff_orders",
        "text_zipf_fit", "tpch_q12_priority_ship", "tpch_q14_promo",
        "tpch_q15_top_supplier", "tpch_q16_supplier_cnt", "tpch_q17_small_qty",
        "tpch_q18_large_orders", "tpch_q19_disjunctive", "tpch_q22_inactive",
        "tpch_q8_mktshare", "window_funnel",
    }),
    # round 8 (50 keys, from CORRECTNESS_r08.json)
    frozenset({
        "ann_ivfpq_topk", "ann_pq_topk", "asof_join_purchases",
        "basket_affinity", "conversion_attribution", "corpus_domain_quota",
        "corpus_split_decontaminated", "corpus_unigram_logprob",
        "corpus_weighted_sample", "dash_spearman_matrix", "dash_trend_slope",
        "dedup_cluster_star", "dedup_fuzzy_pairs", "dedup_incremental_minhash",
        "docs_full_pipeline", "etl_anomaly_flags", "etl_full_pipeline",
        "etl_outlier_mad", "etl_rollup_multigrain", "etl_upsert_merge",
        "events_cusum_alarms", "graph_triangles", "heavy_hitters_topk",
        "mm_binary_meta", "mm_feature_extract", "pivot_event_types",
        "seasonal_anomaly", "sessionize", "share_of_total", "skew_salted_join",
        "text_fingerprint", "text_lang_id", "text_normalize",
        "text_quality_score", "text_readability", "text_token_count",
        "topk_per_group", "tpch_q10_returned", "tpch_q11_important",
        "tpch_q13_custdist", "tpch_q1_pricing", "tpch_q20_excess",
        "tpch_q21_waiting", "tpch_q2_min_cost", "tpch_q3_shipping",
        "tpch_q4_priority", "tpch_q5_local_supplier", "tpch_q6_forecast",
        "tpch_q7_volume", "tpch_q9_profit",
    }),
    # round 9 (50 keys, from CORRECTNESS_r09.json)
    frozenset({
        "ab_welch_t", "ann_graph_insert", "ann_graph_topk", "ann_range_search",
        "ann_recall_eval", "corpus_bpe_pair_counts", "corpus_chunk_docs",
        "corpus_dup_spans", "corpus_dup_spans_exact", "corpus_ngram_topk",
        "corpus_pack_sequences", "corpus_perplexity_buckets_approx",
        "corpus_pii_scrub", "corpus_repetition_filter",
        "corpus_sentence_dedup", "corpus_stratified_sample",
        "corpus_vocab_coverage", "daily_percentile_bands", "decayed_counts",
        "dedup_containment", "dedup_keep_best", "dedup_minhash_eval",
        "dedup_semantic", "embed_cluster_purity", "embed_kmeans",
        "embed_matryoshka_recall", "etl_aqi", "etl_calendar_dim",
        "etl_category", "etl_dedup_exact", "etl_interpolate",
        "etl_outlier_iqr", "fd_profile", "geo_close_pairs",
        "holt_trend_forecast", "inclusion_profile", "item_cf_cosine",
        "lang_id_eval", "mm_frame_sample", "pareto_frontier",
        "quality_auc_eval", "quantile_rollup_merge",
        "revenue_gini_by_nation_hist", "scd2_apply_incremental",
        "session_stats", "sql_interface", "text_bm25_topk",
        "text_hash_features", "top_event_paths", "user_feature_matrix",
    }),
    # round 10 (50 keys, from CORRECTNESS_r10.json)
    frozenset({
        "ann_graph_recall_eval", "ann_hybrid_rrf", "ann_nprobe_sweep",
        "ann_pq_recall_eval", "cogroup_align_events", "cohort_retention",
        "column_profile", "corpus_bpe_encode", "corpus_bpe_merges",
        "corpus_contamination", "corpus_dsir_weights",
        "corpus_kn_bigram_logprob", "corpus_mixture_sample",
        "corpus_span_dedup_emit", "cube_type_dow", "cumulative_distinct_users",
        "dash_downsample_ltob", "dash_rolling_mean_centered",
        "dash_rolling_median", "dedup_lsh_tuning", "ema_per_user",
        "embed_ivf_balance", "er_blocked_match", "etl_locf_fill",
        "etl_pollution_index", "etl_resample_15min", "etl_sensor_gaps",
        "etl_temporal_features", "event_transition_matrix",
        "expectations_report", "geo_nearest_station", "graph_pagerank",
        "grouping_sets_profile", "hour_dow_heatmap", "json_props_stats",
        "mode_per_user", "psi_drift", "quality_calibration_eval",
        "rfm_segments", "sample_n_per_user", "scd2_point_in_time",
        "semi_anti_activity", "text_char_entropy", "text_tfidf_topk",
        "time_weighted_avg", "topn_with_others", "unpivot_daily_metrics",
        "value_deciles", "value_histogram", "winsorize_profile",
    }),
    # round 11 (50 keys, from CORRECTNESS_r11.json)
    frozenset({
        "ann_bruteforce_topk", "ann_ivf_topk", "ann_lsh_topk", "ann_sq_topk",
        "benford_price_test", "bloom_ingest_dedup", "cms_user_counts",
        "corpus_gopher_rules", "corpus_perplexity_buckets", "dash_corr_matrix",
        "dash_dow_distribution", "dash_downsample_lttb", "dash_hourly_pattern",
        "dash_kpis", "dash_rolling_mean", "dash_station_compare",
        "data_skew_report", "dedup_cluster_resolve", "dedup_embedding_cosine",
        "dedup_exact_docs", "dedup_incremental_minhash", "dedup_minhash_lsh",
        "dedup_ngram_jaccard", "dedup_simhash", "embed_pca_project",
        "etl_daily_summary", "etl_monthly_summary", "etl_validation_report",
        "etl_weekly_summary", "hll_rollup_merge", "mm_phash_dedup",
        "open_order_backlog", "percentile_profile", "range_join_incidents",
        "revenue_gini_by_nation", "scd2_build", "seasonal_decompose",
        "sketch_profile", "snapshot_diff_orders", "text_zipf_fit",
        "tpch_q12_priority_ship", "tpch_q14_promo", "tpch_q15_top_supplier",
        "tpch_q16_supplier_cnt", "tpch_q17_small_qty", "tpch_q18_large_orders",
        "tpch_q19_disjunctive", "tpch_q22_inactive", "tpch_q8_mktshare",
        "window_funnel",
    }),
    # round 12 (50 keys, from CORRECTNESS_r12.json)
    frozenset({
        "ann_ivfpq_topk", "ann_pq_topk", "asof_join_purchases",
        "basket_affinity", "conversion_attribution", "corpus_domain_quota",
        "corpus_split_decontaminated", "corpus_unigram_logprob",
        "corpus_weighted_sample", "dash_spearman_matrix", "dash_trend_slope",
        "dedup_cluster_star", "dedup_fuzzy_pairs", "docs_full_pipeline",
        "etl_anomaly_flags", "etl_full_pipeline", "etl_interpolate",
        "etl_outlier_mad", "etl_rollup_multigrain", "etl_upsert_merge",
        "events_cusum_alarms", "graph_triangles", "heavy_hitters_topk",
        "mm_binary_meta", "mm_feature_extract", "pivot_event_types",
        "seasonal_anomaly", "sessionize", "share_of_total", "skew_salted_join",
        "text_fingerprint", "text_lang_id", "text_normalize",
        "text_quality_score", "text_readability", "text_token_count",
        "topk_per_group", "tpch_q10_returned", "tpch_q11_important",
        "tpch_q13_custdist", "tpch_q1_pricing", "tpch_q20_excess",
        "tpch_q21_waiting", "tpch_q2_min_cost", "tpch_q3_shipping",
        "tpch_q4_priority", "tpch_q5_local_supplier", "tpch_q6_forecast",
        "tpch_q7_volume", "tpch_q9_profit",
    }),
    # round 13 (50 keys, from CORRECTNESS_r13.json)
    frozenset({
        "ab_welch_t", "ann_graph_insert", "ann_graph_topk", "ann_range_search",
        "ann_recall_eval", "corpus_bpe_pair_counts", "corpus_chunk_docs",
        "corpus_dup_spans", "corpus_dup_spans_exact", "corpus_ngram_topk",
        "corpus_pack_sequences", "corpus_perplexity_buckets_approx",
        "corpus_pii_scrub", "corpus_repetition_filter",
        "corpus_sentence_dedup", "corpus_stratified_sample",
        "corpus_vocab_coverage", "daily_percentile_bands", "decayed_counts",
        "dedup_containment", "dedup_keep_best", "dedup_minhash_eval",
        "dedup_semantic", "embed_cluster_purity", "embed_kmeans",
        "embed_matryoshka_recall", "etl_aqi", "etl_calendar_dim",
        "etl_category", "etl_dedup_exact", "etl_outlier_iqr", "fd_profile",
        "geo_close_pairs", "holt_trend_forecast", "inclusion_profile",
        "item_cf_cosine", "lang_id_eval", "mm_frame_sample", "pareto_frontier",
        "quality_auc_eval", "quantile_rollup_merge",
        "revenue_gini_by_nation_hist", "scd2_apply_incremental",
        "session_stats", "sql_interface", "text_bm25_topk",
        "text_hash_features", "top_event_paths", "tpch_q19_disjunctive",
        "user_feature_matrix",
    }),
    # round 14 (50 keys, from CORRECTNESS_r14.json)
    frozenset({
        "ann_graph_recall_eval", "ann_hybrid_rrf", "bloom_ingest_dedup",
        "cms_user_counts", "cogroup_align_events", "cohort_retention",
        "column_profile", "corpus_bpe_encode", "corpus_bpe_merges",
        "corpus_contamination", "corpus_dsir_weights",
        "corpus_kn_bigram_logprob", "corpus_mixture_sample",
        "corpus_span_dedup_emit", "cube_type_dow", "cumulative_distinct_users",
        "dash_rolling_mean_centered", "dash_rolling_median",
        "dedup_lsh_tuning", "ema_per_user", "embed_knn_label_eval",
        "er_blocked_match", "etl_locf_fill", "etl_pollution_index",
        "etl_resample_15min", "etl_sensor_gaps", "etl_temporal_features",
        "event_transition_matrix", "expectations_report",
        "geo_nearest_station", "graph_pagerank", "grouping_sets_profile",
        "hll_rollup_merge", "hour_dow_heatmap", "json_props_stats",
        "mode_per_user", "psi_drift", "quality_calibration_eval",
        "rfm_segments", "sample_n_per_user", "scd2_point_in_time",
        "semi_anti_activity", "text_char_entropy", "text_tfidf_topk",
        "time_weighted_avg", "topn_with_others", "unpivot_daily_metrics",
        "value_deciles", "value_histogram", "winsorize_profile",
    }),
    # round 15 (50 keys, from CORRECTNESS_r15.json)
    frozenset({
        "ann_bruteforce_topk", "ann_ivf_topk", "ann_lsh_topk",
        "ann_nprobe_sweep", "ann_pq_recall_eval", "ann_sq_topk",
        "benford_price_test", "bloom_ingest_dedup", "cms_user_counts",
        "dash_corr_matrix", "dash_dow_distribution", "dash_downsample_ltob",
        "dash_hourly_pattern", "dash_kpis", "dash_rolling_mean",
        "dash_station_compare", "data_skew_report", "dedup_cluster_resolve",
        "dedup_embedding_cosine", "dedup_exact_docs",
        "dedup_incremental_minhash", "dedup_minhash_lsh",
        "dedup_ngram_jaccard", "dedup_simhash", "embed_ivf_balance",
        "embed_pca_project", "etl_daily_summary", "etl_monthly_summary",
        "etl_validation_report", "etl_weekly_summary", "hll_rollup_merge",
        "mm_phash_dedup", "open_order_backlog", "percentile_profile",
        "range_join_incidents", "revenue_gini_by_nation", "scd2_build",
        "seasonal_decompose", "sketch_profile", "snapshot_diff_orders",
        "text_zipf_fit", "tpch_q12_priority_ship", "tpch_q14_promo",
        "tpch_q15_top_supplier", "tpch_q16_supplier_cnt", "tpch_q17_small_qty",
        "tpch_q18_large_orders", "tpch_q22_inactive", "tpch_q8_mktshare",
        "window_funnel",
    }),
]

_DRIVER_SAMPLED = frozenset().union(*_DRIVER_SAMPLED_BY_ROUND)

# keys of the external 50-key window set aside for re-checking the
# stalest previously-sampled queries (see _ordered_specs)
_REFRESH_SLICE = 5

# Keys force-hoisted to the FRONT of the external window regardless of
# rotation age.  Used when a key needs an out-of-turn external re-check —
# r14: the three sketch queries promoted from rows-only to full DuckDB
# hash oracles in r13 (register-level HLL/CMS/Bloom replay); their newest
# driver rows predate the promotion, so the bar is a green external
# hash row for each (VERDICT r13 task #2).  tpch_q19_disjunctive was
# unpinned after its green r13 entry was ingested.
# Remove a key from this tuple once its green external entry is ingested.
_PINNED_FOR_RECHECK = (
    "cms_user_counts",
    "bloom_ingest_dedup",
    "hll_rollup_merge",
)


def _ordered_specs() -> list[QuerySpec]:
    # Never-driver-sampled queries first (oracle-backed before rows-only)
    # so the external 50-key window lands on fresh keys; the seen block is
    # ordered oldest-round-first so external evidence refreshes from the
    # stalest end once fresh keys run out.
    # Pinned keys are excluded from BOTH the seen block and the fresh
    # pools: a pinned key that has never been driver-sampled would
    # otherwise appear twice (once pinned, once fresh), breaking the
    # permutation invariant test_pipeline asserts (ADVICE r13).
    fresh_oracle = [
        s for s in reversed(_SPECS)
        if s.name not in _DRIVER_SAMPLED
        and s.name not in _PINNED_FOR_RECHECK
        and s.oracle is not None
    ]
    fresh_rows_only = [
        s for s in reversed(_SPECS)
        if s.name not in _DRIVER_SAMPLED
        and s.name not in _PINNED_FOR_RECHECK
        and s.oracle is None
    ]
    # stalest-first: a key re-sampled in a later round is attributed to
    # that round, so the refresh slice below rotates instead of pinning
    # the same few keys forever
    last_round: dict[str, int] = {}
    for rnd, sampled in enumerate(_DRIVER_SAMPLED_BY_ROUND):
        for name in sampled:
            last_round[name] = rnd
    seen = sorted(
        (s for s in _SPECS if s.name in last_round),
        key=lambda s: last_round[s.name],
    )
    # Reserve a slice of the 50-key external window for the STALEST
    # already-sampled keys, so external evidence on old queries keeps
    # refreshing every round instead of only after the fresh pool runs
    # dry — a regression in a round-1 query would otherwise be visible
    # only to the in-repo oracle sweep until round 7+ (ADVICE r5).
    by_name = {s.name: s for s in _SPECS}
    pinned = [by_name[n] for n in _PINNED_FOR_RECHECK]
    seen = [s for s in seen if s.name not in _PINNED_FOR_RECHECK]
    refresh = seen[:_REFRESH_SLICE]
    rest = seen[_REFRESH_SLICE:]
    fresh = fresh_oracle + fresh_rows_only
    budget = max(0, 50 - len(refresh) - len(pinned))
    window_fresh = fresh[:budget]
    return pinned + window_fresh + refresh + fresh[budget:] + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: s.spark_fn for s in _ordered_specs()}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in _ordered_specs() if s.oracle is not None}


# ---------------------------------------------------------------------------
# Shared fixture helpers used by several query modules (the gappy-events
# relation feeds q01 interpolation, the q05 flagship pipeline, and the
# q09 SQL surface).
# ---------------------------------------------------------------------------

_GAPPY_EVENTS_SQL = (
    "(SELECT event_id, ts, user_id, event_type, "
    "CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END AS value FROM events)"
)


def _gappy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.when(F.col("event_id") % 37 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )


# ---------------------------------------------------------------------------
# Registration side-effects (VERDICT r9 #8: registry.py split by family).
# Import order == original section order == driver sampling order — the
# external 50-key correctness window samples queries() in registration
# order, so REORDERING THESE LINES SHIFTS DRIVER SAMPLING. Add new
# modules at the END.
# ---------------------------------------------------------------------------

from .queries import (  # noqa: E402,F401
    q01_etl,
    q02_dash,
    q03_dedup_ann_text,
    q04_general_mm,
    q05_flagship,
    q06_docs_pipeline,
    q07_general2,
    q08_corpus,
    q09_sql_surface,
    q10_geo,
    q11_analytics_widening,
    q12_widen_r2,
    q13_widen_r4,
    q14_widen_r7a,
    q15_widen_r7b,
    q16_widen_r10,
)
