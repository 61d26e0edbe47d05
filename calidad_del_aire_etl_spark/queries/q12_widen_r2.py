"""Widening batch (r2+): Spearman, PageRank, cohort, sketches, TPC-H 13-22 — registered queries, split out of registry.py
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
from ..operators import analytics  # noqa: F401
from ..operators import analytics2  # noqa: F401
from ..operators import dedup  # noqa: F401
from ..operators import text  # noqa: F401
from ..operators import corpus  # noqa: F401
from .q02_dash import _CORR_PAIRS  # noqa: F401
from .q02_dash import _CORR_PIVOT_SQL  # noqa: F401

# ---------------------------------------------------------------------------
# Round 2 additions — keep ALL new registrations BELOW this line: the driver
# samples registrations in order, so inserting above would shift every
# round-over-round correctness row.
# ---------------------------------------------------------------------------

def _spearman_rank_cte(c: str) -> str:
    return f"""r_{c} AS (
  SELECT v, cum - cnt + (cnt + 1) / 2.0 AS r FROM (
    SELECT {c} AS v, COUNT(*) AS cnt,
           SUM(COUNT(*)) OVER (
             ORDER BY {c} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM p WHERE {c} IS NOT NULL GROUP BY {c}
  )
)"""


_SPEARMAN_COLS = ["m_purchase", "m_view", "m_click", "m_error"]

_SPEARMAN_SQL = (
    "WITH p AS ({pivot}),\n".format(pivot=_CORR_PIVOT_SQL)
    + ",\n".join(_spearman_rank_cte(c) for c in _SPEARMAN_COLS)
    + ",\npr AS (\n  SELECT p.*"
    + "".join(f", r_{c}.r AS rank_{c}" for c in _SPEARMAN_COLS)
    + "\n  FROM p"
    + "".join(f"\n  LEFT JOIN r_{c} ON p.{c} = r_{c}.v" for c in _SPEARMAN_COLS)
    + "\n)\nSELECT col_a, col_b, spearman FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b,"
        f" ROUND(CORR(rank_{a}, rank_{b}) + 1e-9, 4) AS spearman FROM pr"
        for a, b in _CORR_PAIRS
    )
    + "\n)"
)


@register("dash_spearman_matrix", _SPEARMAN_SQL)
def q_dash_spearman_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman (rank) correlation matrix over the same day x station
    metric pivot as dash_corr_matrix. Ranks are average-tie and computed
    the distributed way: value-compacted counts + a prefix-sum window over
    |distinct values| rows, joined back by value — never a global row sort
    (see analytics.with_avg_ranks)."""
    ev = load(spark, sf_dir, "events")

    def cavg(t: str):
        return r4(F.avg(F.when(F.col("event_type") == t, F.col("value"))))

    pivoted = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(*[cavg(t).alias(f"m_{t}") for t in ["purchase", "view", "click", "error"]])
    return analytics.spearman_matrix_long(pivoted, _SPEARMAN_COLS)


from ..operators import sketches  # noqa: E402


@register(
    "heavy_hitters_topk",
    sketches.heavy_hitters_exact_sql("events", "event_type", k=5),
)
def q_heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters over event_type. capacity=64 >> the
    column's cardinality, so no partition ever evicts, the decrement
    total is 0, and the sketch is provably exact — which is what lets an
    exact groupBy-count oracle hash-match it. The evicting (approximate)
    regime is bound-tested in tests/test_sketches.py."""
    ev = load(spark, sf_dir, "events", spread=True)
    return sketches.heavy_hitters(ev, "event_type", k=5, capacity=64)


@register(
    "corpus_weighted_sample",
    corpus.weighted_sample_topk_sql(
        "documents", "doc_id", "octet_length(encode(text))", k=50
    ),
)
def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): deterministic
    length-weighted sample-without-replacement of 50 docs — long docs
    proportionally likelier, md5-derived priorities, TakeOrdered plan
    (per-partition top-k, no global sort)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.weighted_sample_topk(
        docs, "doc_id", F.octet_length(F.col("text")), k=50
    )


@register(
    "corpus_domain_quota",
    corpus.domain_quota_sample_sql(
        "documents", "doc_id", "source", quota=10, cols="doc_id, source"
    ),
)
def q_corpus_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota: cap every source at 10 docs, kept subset chosen
    by deterministic md5 order (crawl balancing — no hot-domain
    dominance, no head-of-file bias, stable across reruns)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return corpus.domain_quota_sample(docs, "doc_id", "source", quota=10).select(
        "doc_id", "source"
    )


@register("text_normalize", text.normalize_sql("documents", "doc_id", "text"))
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (strip non-printables, lowercase,
    collapse whitespace) + md5 of the canonical form — the pre-dedup
    normalization pass, all JVM-side regexp_replace."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.normalize(docs, "doc_id", "text")


from ..operators import bloom as _bloom  # noqa: E402


@register(
    "bloom_ingest_dedup",
    _bloom.bloom_new_rows_sql(
        "documents", "doc_id", "doc_id % 2 = 0", "t.doc_id AS doc_id", fpp=0.01
    ),
)
def q_bloom_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingest dedup: 'existing table' = even doc_ids,
    incoming batch = all docs; survivors are the (probably) new rows.
    No false negatives by construction; fp rate bound and determinism
    asserted in tests/test_bloom.py.

    Promoted from rows-only to FULL hash parity (r13): with the double
    hash moved to the engines' shared md5-prefix bigints and the (m, k)
    sizing arithmetic pinned to literal constants (operators/bloom.py),
    every set bit is an integer fact the DuckDB twin replays — it
    materializes the touched-bit set and the k-probe conjunction, so
    even the FALSE POSITIVES match exactly."""
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    return _bloom.bloom_new_rows(existing, docs, "doc_id", fpp=0.01)


from ..operators import tpch3  # noqa: E402


@register("tpch_q13_custdist", tpch3.Q13_SQL)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 — customer order-count distribution (LEFT OUTER join
    preserved zero-order customers, then a distribution groupBy)."""
    return tpch3.q13_custdist(
        load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders")
    )


@register("tpch_q21_waiting", tpch3.Q21_SQL)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 — sole late supplier on multi-supplier finalized
    orders (Q4's >60-day lateness convention; see tpch3 docstring)."""
    return tpch3.q21_waiting(
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
    )


@register("tpch_q9_profit", tpch3.q9_sql("a"))
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 — profit by nation x year (supplycost stand-in: 60% of
    retail price; DECIMAL fact math, dims broadcast)."""
    return tpch3.q9_profit(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "part"),
        name_token="a",
    )


@register("tpch_q11_important", tpch3.q11_sql("NATION_2", 0.001))
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 — parts whose supplied value from one nation exceeds a
    scalar fraction of the total (broadcast scalar threshold)."""
    return tpch3.q11_important_parts(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        nation_name="NATION_2",
        fraction=0.001,
    )


@register("tpch_q20_excess", tpch3.q20_sql("NATION_1", "red", 1996, 50.0))
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 — suppliers in a nation whose shipped volume of
    name-prefixed parts in a year exceeds a threshold (semi-join)."""
    return tpch3.q20_excess_suppliers(
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        nation_name="NATION_1",
        prefix="red",
        year=1996,
        min_qty=50.0,
    )


@register("tpch_q2_min_cost", tpch3.q2_sql("EUROPE", 5))
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 — min-cost supplier per part within a region (argmin
    window over the lineitem-derived part-supplier relation;
    deterministic pseudo supply cost, see tpch3 docstring)."""
    return tpch3.q2_min_cost_supplier(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
        load(spark, sf_dir, "lineitem"),
        region_name="EUROPE",
        size_mod=5,
    )


@register(
    "dedup_fuzzy_pairs",
    dedup.fuzzy_pairs_sql("documents", "doc_id", "text", max_dist=40, prefix_len=12),
)
def q_dedup_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs, banded (shared 12-char prefix +
    length within 40) so levenshtein never runs all-pairs — the sixth
    dedup family (character-level edits; Jaccard/MinHash are word-set
    detectors and miss dense small edits)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return dedup.fuzzy_pairs(docs, "doc_id", "text", max_dist=40, prefix_len=12)


@register("seasonal_anomaly", analytics2.seasonal_anomaly_sql(3.0))
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware outliers: |z| > 3 against the (type, dow, hour)
    cell baseline — the reference's mean±k·sigma rule (dag:207-215),
    cycle-adjusted; baseline broadcast, narrow z projection."""
    return analytics2.seasonal_anomaly(load(spark, sf_dir, "events"), 3.0)


