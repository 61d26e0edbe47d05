"""Analytics widening: grouping sets, TWA, winsorize — registered queries, split out of registry.py
(round 10, VERDICT r9 #8: 3.9k lines had become the merge-conflict
magnet). PURELY MECHANICAL: bodies are byte-identical to the original
section."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from ..functions import (  # noqa: F401
    aqi_from_pm25,
    aqi_sql,
    quality_category,
    quality_category_sql,
    r4,
)
from ..operators import aggregates, cleaning, features  # noqa: F401
from ..registry import (  # noqa: F401
    _GAPPY_EVENTS_SQL,
    _gappy_events,
    load,
    register,
)
from ..operators import general  # noqa: F401
from ..operators import corpus  # noqa: F401
from ..operators import text  # noqa: F401

# ---------------------------------------------------------------------------
# Analytics widening batch: grouping sets, time-weighted avg, winsorize,
# histogram, cumulative distinct; TF-IDF; benchmark contamination.
# ---------------------------------------------------------------------------

from ..operators import analytics2  # noqa: E402


@register("grouping_sets_profile", analytics2.GROUPING_SETS_SQL)
def q_grouping_sets_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — (event_type) + (dow) profiles in one
    fact pass (vs two scans for two groupBys)."""
    return analytics2.grouping_sets_profile(load(spark, sf_dir, "events"))


@register("time_weighted_avg", analytics2.TIME_WEIGHTED_SQL)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted mean over irregular sampling intervals
    (lead-delta weights, exact DECIMAL weighted sums)."""
    return analytics2.time_weighted_avg(load(spark, sf_dir, "events"))


@register("winsorize_profile", analytics2.winsorize_sql(0.05, 0.95))
def q_winsorize_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type P5/P95 winsorization: exact bounds broadcast back onto
    the fact, clip counts + winsorized mean."""
    return analytics2.winsorize_profile(load(spark, sf_dir, "events"), 0.05, 0.95)


@register("value_histogram", analytics2.value_histogram_sql(0.0, 500.0, 20))
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin value histogram per event type — arithmetic bin ids in
    WholeStageCodegen, shuffle carries only (type, bin) partials."""
    return analytics2.value_histogram(load(spark, sf_dir, "events"), 0.0, 500.0, 20)


@register("cumulative_distinct_users", analytics2.CUMULATIVE_DISTINCT_SQL)
def q_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cumulative distinct users via the first-touch trick — no
    growing-window COUNT(DISTINCT), the only window runs over ~#days rows."""
    return analytics2.cumulative_distinct_users(load(spark, sf_dir, "events"))


@register("text_tfidf_topk", text.tfidf_topk_sql("documents", "doc_id", "text", k=5))
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (smoothed idf, map-side-combined
    tf/df aggregates, scalar doc-count broadcast)."""
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return text.tfidf_topk(docs, "doc_id", "text", k=5)


@register(
    "corpus_contamination",
    corpus.contamination_sql("documents", "doc_id", "text", n=5, bench_mod=97),
)
def q_corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word 5-gram
    with the benchmark subset (doc_id % 97 == 0), with overlap counts."""
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return corpus.contamination_check(docs, "doc_id", "text", n=5, bench_mod=97)


@register("ema_per_user", analytics2.ema_sql(alpha=0.3, tail_n=5))
def q_ema_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential moving average — the inherently-sequential
    smoother as a JVM-side array fold (one groupBy shuffle; streaming
    stateful module is the unbounded-series path)."""
    return analytics2.ema_per_group(load(spark, sf_dir, "events"), alpha=0.3, tail_n=5)


from ..operators import validation  # noqa: E402


@register(
    "expectations_report",
    validation.expectations_sql("events", validation.DEFAULT_EVENT_RULES),
)
def q_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations runner — five rule kinds (null-frac,
    uniqueness, accepted values, range, row-count) in ONE full-scan
    aggregate, long-form pass/fail report (dag:365-407 generalized)."""
    return validation.expectations_report(
        load(spark, sf_dir, "events"), validation.DEFAULT_EVENT_RULES
    )


@register("mode_per_user", analytics2.MODE_SQL)
def q_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent event_type) per user — argmax window over a
    pre-reduced |users|×|types| relation, deterministic tie-break."""
    return analytics2.mode_per_group(load(spark, sf_dir, "events"))


@register("psi_drift", analytics2.psi_sql("2024-01-16", 0.0, 500.0, 10, 1e-4))
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift per event_type between the two
    halves of the month — fixed-bin groupBy arithmetic, no sort/quantile."""
    return analytics2.psi_drift(
        load(spark, sf_dir, "events"), "2024-01-16", 0.0, 500.0, 10, 1e-4
    )


@register("sample_n_per_user", analytics2.sample_n_sql(10))
def q_sample_n_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-ordered 10-row sample per user (reproducible,
    RNG-free, unbiased by time or value)."""
    return analytics2.sample_n_per_group(load(spark, sf_dir, "events"), 10)


from ..operators import graph  # noqa: E402



# PageRank IS oracle-able for a FIXED iteration count: unroll the 8
# rounds as chained CTEs (recursive CTEs can't aggregate over the
# recursive reference, but unrolling needs no recursion). Per-node
# float-sum order differs between engines by ~1e-16; the 4-decimal
# nudged round absorbs it.
_PAGERANK_SQL = """
WITH e AS (
  SELECT DISTINCT src, dst FROM (
    SELECT 'c:' || CAST(o.o_custkey AS VARCHAR) AS src,
           's:' || CAST(l.l_suppkey AS VARCHAR) AS dst
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 's:' || CAST(l.l_suppkey AS VARCHAR),
           'c:' || CAST(o.o_custkey AS VARCHAR)
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  )
), deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY 1),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
r0 AS (SELECT src AS node, 1.0 / nn.n AS rank FROM deg, nn),
r1 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r0.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r0 ON e.src = r0.node
  GROUP BY e.dst
),
r2 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r1.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r1 ON e.src = r1.node
  GROUP BY e.dst
),
r3 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r2.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r2 ON e.src = r2.node
  GROUP BY e.dst
),
r4 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r3.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r3 ON e.src = r3.node
  GROUP BY e.dst
),
r5 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r4.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r4 ON e.src = r4.node
  GROUP BY e.dst
),
r6 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r5.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r5 ON e.src = r5.node
  GROUP BY e.dst
),
r7 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r6.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r6 ON e.src = r6.node
  GROUP BY e.dst
),
r8 AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * SUM(r7.rank / deg.out_deg) AS rank
  FROM e JOIN deg ON e.src = deg.src JOIN r7 ON e.src = r7.node
  GROUP BY e.dst
)
SELECT node, ROUND(rank + 1e-9, 4) AS rank FROM r8
ORDER BY ROUND(rank + 1e-9, 4) DESC, node ASC LIMIT 50
"""


@register("graph_pagerank", _PAGERANK_SQL)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the symmetrized customer↔supplier trade graph —
    the iterative persist/unpersist pattern (constant lineage depth,
    one shuffle per round); top-50 nodes."""
    edges = graph.order_graph_edges(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )
    return graph.pagerank(edges, iterations=8).limit(50)


from ..operators import behavior  # noqa: E402


@register("cohort_retention", behavior.COHORT_SQL)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention — first-touch cohorts, |cohorts|x|weeks|
    output from two partial-agg passes over (user, week)."""
    return behavior.cohort_retention(load(spark, sf_dir, "events"))


@register("rfm_segments", behavior.rfm_sql("purchase"))
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation per user over purchase events (ntile
    windows over the user-reduced relation; approx-quantile cut points
    are the documented 100 TB swap)."""
    return behavior.rfm_segments(load(spark, sf_dir, "events"), "purchase")


@register("event_transition_matrix", behavior.TRANSITION_SQL)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between consecutive event
    types per user (one lag window + |types|^2 bigram groupBy)."""
    return behavior.transition_matrix(load(spark, sf_dir, "events"))


@register(
    "column_profile",
    validation.column_profile_sql("events"),
)
def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Describe-style column profiler — numeric + string metrics in long
    form, ONE full-scan aggregate for any column count."""
    return validation.column_profile(load(spark, sf_dir, "events"))


@register("hour_dow_heatmap", analytics2.HEATMAP_SQL)
def q_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour x day-of-week activity heatmap (24x7 output, one groupBy)."""
    return analytics2.hour_dow_heatmap(load(spark, sf_dir, "events"))


@register("scd2_point_in_time", general.SCD2_PIT_SQL)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join of purchase facts onto the SCD2 status
    dimension — equi-key hash join with the validity interval as a
    post-filter (never a nested loop)."""
    return general.scd2_point_in_time(load(spark, sf_dir, "events"))


@register("topn_with_others", analytics2.topn_others_sql(3))
def q_topn_with_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 revenue users per event type + OTHER rollup row — the BI
    chart relation, ranked on the pre-reduced |types|x|users| agg."""
    return analytics2.topn_with_others(load(spark, sf_dir, "events"), 3)


@register("share_of_total", analytics2.SHARE_SQL)
def q_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total + rank per customer nation (window ratio over
    the |nations|-row reduced relation — global window is safe because
    the relation is dimension-sized by construction)."""
    return analytics2.share_of_total(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
    )


