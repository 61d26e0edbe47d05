"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Output protocol (round-5 VERDICT #1 fix — the round-4 single giant line
outgrew the driver's bounded stdout tail and BENCH_r04 failed to parse):
  * Spark console progress bars are suppressed (they competed for the tail).
  * The full detail record is printed first (for humans / logs): the
    per-query walls plus the host record perfbench writes (`host`,
    `loadavg_before`/`_after`, `cpu_probe_before_s`/`_after_s`,
    `window_steal_share`). A full run also writes it to
    BENCH_DETAIL.json next to this file; a subset run
    ($SPARK_GRAFT_QUERIES) writes no file.
  * The LAST stdout line is a compact summary JSON, a few hundred bytes,
    guaranteed inside any reasonable tail window:
      {"metric": ..., "value": total_sec, "unit": "sec", "sf": ...,
       "n_queries": N, "window_steal_share": ...,
       "detail": "BENCH_DETAIL.json"}   # detail: full runs only

Each query is forced end-to-end with a noop sink (full computation, no
driver collect). First a tiny warm-up absorbs JVM/codegen startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "etl_full_pipeline",
    "etl_daily_summary",
    "etl_interpolate",
    "dash_rolling_mean",
    "dash_corr_matrix",
    "dash_kpis",
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_local_supplier",
    "sessionize",
    "pivot_event_types",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality_score",
    "text_fingerprint",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "dedup_cluster_resolve",
    "docs_full_pipeline",
    "tpch_q6_forecast",
    "tpch_q10_returned",
    "range_join_incidents",
    "window_funnel",
    "corpus_chunk_docs",
    "corpus_pack_sequences",
    "corpus_ngram_topk",
    "corpus_repetition_filter",
    "semi_anti_activity",
    "value_deciles",
    "sketch_profile",
    "sql_interface",
    "tpch_q7_volume",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive",
    "time_weighted_avg",
    "ema_per_user",
    "psi_drift",
    "text_tfidf_topk",
    "corpus_contamination",
    "expectations_report",
    # round-2 additions (keep appended — per-query times stay comparable
    # round-over-round, totals grow with the list)
    "mm_feature_extract",
    "mm_frame_sample",
    "ann_lsh_topk",
    "dash_spearman_matrix",
    "heavy_hitters_topk",
    "corpus_weighted_sample",
    "corpus_domain_quota",
    "text_normalize",
    "bloom_ingest_dedup",
    "tpch_q13_custdist",
    "tpch_q21_waiting",
    "tpch_q9_profit",
    "tpch_q11_important",
    "tpch_q20_excess",
    "tpch_q2_min_cost",
    "dedup_fuzzy_pairs",
    "seasonal_anomaly",
    # round-3 additions
    "dedup_cluster_star",
    "ann_sq_topk",
    "corpus_dup_spans",
    "etl_sensor_gaps",
    "hll_rollup_merge",
    "embed_pca_project",
    "dedup_incremental_minhash",
    # round-4 additions
    "text_readability",
    "corpus_unigram_logprob",
    "corpus_split_decontaminated",
    "etl_outlier_mad",
    "events_cusum_alarms",
    "ann_pq_topk",
    "graph_triangles",
    "basket_affinity",
    "conversion_attribution",
    "ab_welch_t",
    "dedup_semantic",
    "decayed_counts",
    "daily_percentile_bands",
    "geo_close_pairs",
    "ann_ivfpq_topk",
    "dedup_keep_best",
    "dedup_containment",
    "quantile_rollup_merge",
    "lang_id_eval",
    "corpus_sentence_dedup",
    "mm_phash_dedup",
    "top_event_paths",
    "text_bm25_topk",
    "pareto_frontier",
    "item_cf_cosine",
    "fd_profile",
    "inclusion_profile",
    "text_hash_features",
    "user_feature_matrix",
    "session_stats",
    "dedup_minhash_eval",
    "scd2_apply_incremental",
    "ann_recall_eval",
    "embed_cluster_purity",
    "etl_calendar_dim",
    # round-5 additions
    "holt_trend_forecast",
    "quality_auc_eval",
    # round-6 additions
    "er_blocked_match",
    "corpus_dsir_weights",
    # round-7 additions
    "snapshot_diff_orders",
    "data_skew_report",
    "text_zipf_fit",
    "open_order_backlog",
    "benford_price_test",
    "revenue_gini_by_nation",
    "seasonal_decompose",
    "corpus_gopher_rules",
    "corpus_perplexity_buckets",
    # round-9 additions
    "revenue_gini_by_nation_hist",
    "corpus_perplexity_buckets_approx",
    "corpus_dup_spans_exact",
    "ann_graph_topk",
    "ann_graph_insert",
    "ann_range_search",
    "embed_matryoshka_recall",
    "corpus_bpe_pair_counts",
    "corpus_vocab_coverage",
    "ann_graph_recall_eval",
    "corpus_bpe_merges",
    "corpus_span_dedup_emit",
    "dash_rolling_mean_centered",
    "corpus_bpe_encode",
    "dedup_lsh_tuning",
    "ann_hybrid_rrf",
    "quality_calibration_eval",
    "corpus_kn_bigram_logprob",
    "embed_ivf_balance",
    "ann_pq_recall_eval",
    "ann_nprobe_sweep",
    "dash_downsample_ltob",
    "dash_downsample_lttb",
    # round-13 addition (keep appended)
    "cms_user_counts",
    # round-14 addition
    "embed_knn_label_eval",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from perfbench import host

    # The host record perfbench/run.py writes: shape, load and a fixed
    # CPU probe on both sides of the run, and the steal share of the
    # timed loop. They describe the host; nothing here judges it.
    detail: dict = {
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "host": host.host_shape(),
        "loadavg_before": os.getloadavg(),
        "cpu_probe_before_s": host.cpu_probe_s(),
    }
    from calidad_del_aire_etl_spark import registry
    from calidad_del_aire_etl_spark.session import get_session

    spark = get_session("bench")
    qs = registry.queries()

    # warm-up: JVM, codegen, parquet footer caches. The synthetic query
    # exercises the hot physical operators (hash agg, broadcast + sort
    # merge join, window, shuffle) so the FIRST timed query doesn't pay
    # JIT/codegen compilation the rest of the suite gets for free —
    # without it the lead query measured ~2x its steady-state time.
    from pyspark.sql import Window, functions as F

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    r = spark.range(200_000).select(
        "id", (F.col("id") % 97).alias("k"), (F.col("id") % 7).alias("g"), F.rand(7).alias("x")
    )
    dim = spark.range(97).select(F.col("id").alias("k"), F.lit(1.0).alias("w"))
    (
        r.join(F.broadcast(dim), "k")
        .withColumn("rm", F.avg("x").over(Window.partitionBy("g").orderBy("id").rowsBetween(-5, 0)))
        .groupBy("k")
        .agg(F.sum("x"), F.max("rm"))
        .write.format("noop").mode("overwrite").save()
    )
    # spawn the Python worker pool + Arrow path once: the first
    # mapInPandas query otherwise pays ~3 s of one-time daemon spin-up
    # that is session overhead, not query cost (steady-state the same
    # query runs 0.6 s)

    def _noop_batches(batches):
        yield from batches

    (
        r.repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(_noop_batches, "id long, k long, g long, x double")
        .write.format("noop").mode("overwrite").save()
    )

    # Best-of-2 per query (r3 VERDICT #4): single-shot timings on a
    # shared machine showed 2-4x contention inflation vs a dedicated
    # session (ann_bruteforce_topk 2.11s benched vs 0.89s dedicated),
    # turning round-over-round comparisons into phantom regressions.
    # The min of two back-to-back runs is the steady-state number the
    # plan actually costs; suite wall time roughly doubles, which the
    # driver's budget absorbs.
    # SPARK_GRAFT_QUERIES="a,b,c" restricts the run to a subset (the
    # sf1 scale sweep uses this; default is the full headline list)
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    names = [n for n in only.split(",") if n] if only else HEADLINE
    # Pre-bucketed fact posture (VERDICT r13 #4): SPARK_GRAFT_BUCKETED=1
    # materializes bucketed+sorted lineitem/orders into the session
    # catalog BEFORE timing, so the TPC-H micro queries read a layout
    # where the fact join's exchange was pre-paid at write time — the
    # storage posture a production cluster uses for its fact tables.
    # The build cost is reported separately (it amortizes over every
    # query that ever joins the facts), and the flag rides the record.
    if os.environ.get("SPARK_GRAFT_BUCKETED") == "1":
        from calidad_del_aire_etl_spark.sinks.writers import (
            prepare_bucketed_facts,
        )

        detail["bucketed"] = True
        detail["bucketed_build_s"] = prepare_bucketed_facts(spark, sf_dir)
    timings: dict[str, float] = {}
    jiffies0 = host.cpu_jiffies()
    for name in names:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
    steal, total = (b - a for a, b in zip(jiffies0, host.cpu_jiffies()))

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    detail.update(
        value=round(sum(timings.values()), 3),
        queries=timings,
        sf=float(sf) if sf.replace(".", "").isdigit() else sf,
        window_steal_share=steal / total if total else 0.0,
        loadavg_after=os.getloadavg(),
        cpu_probe_after_s=host.cpu_probe_s(),
    )
    summary = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": "sec",
        "sf": detail["sf"],
        "n_queries": len(timings),
        "window_steal_share": detail["window_steal_share"],
    }
    # Only a full run writes the committed record: HEADLINE is
    # append-only, so it never covers fewer queries than the last one.
    # A subset run prints its detail and leaves every file alone.
    if not only:
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
        with open(path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
            fh.write("\n")
        summary["detail"] = "BENCH_DETAIL.json"
    # Detail first (humans/logs), compact summary LAST — the driver keeps a
    # bounded stdout tail and parses the final JSON line; round 4's single
    # ~3 KB line outgrew that window and the official bench record was lost.
    print(json.dumps(detail))
    sys.stdout.flush()
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
