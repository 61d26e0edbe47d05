"""General analytics on TPC-H-ish tables and multimodal — registered queries, split out of registry.py
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

# ---------------------------------------------------------------------------
# General analytics on TPC-H-ish tables (SURVEY §2 #19-24) and multimodal
# binary columns (#36-37).
# ---------------------------------------------------------------------------

from ..operators import general, multimodal  # noqa: E402


@register("tpch_q1_pricing", general.Q1_SQL.format(cutoff="2001-09-01"))
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #19 — TPC-H Q1-shape pricing summary (exact int64
    cents-unit sums, DECIMAL re-scale on the 6 output rows)."""
    return general.q1_pricing_summary(load(spark, sf_dir, "lineitem"), "2001-09-01")


@register(
    "tpch_q3_shipping",
    general.Q3_SQL.format(segment="BUILDING", cutoff="1998-03-15", topn=10),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #20 — TPC-H Q3-shape top-N revenue with broadcast dims."""
    return general.q3_shipping(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        segment="BUILDING",
        cutoff="1998-03-15",
        topn=10,
    )


@register(
    "tpch_q5_local_supplier",
    general.Q5_SQL.format(region_name="ASIA", date_lo="1996-01-01", date_hi="1998-01-01"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #21 — TPC-H Q5-shape 6-way star join, all dims broadcast."""
    return general.q5_local_supplier(
        load(spark, sf_dir, "region"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        region_name="ASIA",
        date_lo="1996-01-01",
        date_hi="1998-01-01",
    )


@register("topk_per_group", general.TOPK_SQL.format(k=3))
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #22 — window top-3 orders per priority class."""
    return general.topk_per_group(load(spark, sf_dir, "orders"), k=3)


@register("sessionize", general.SESSIONIZE_SQL.format(gap_us=30 * 60 * 1_000_000))
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23 — 30-minute-gap sessionization of the event stream."""
    return general.sessionize(load(spark, sf_dir, "events"), gap_minutes=30)


@register("pivot_event_types", general.pivot_sql(["purchase", "view", "click", "error", "signup"]))
def q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24 — long→wide pivot with declared types (single groupBy)."""
    return general.pivot_event_types(
        load(spark, sf_dir, "events"), ["purchase", "view", "click", "error", "signup"]
    )


@register(
    "mm_binary_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS sha256,
           lower(hex(encode(substr(text, 1, 4)))) AS magic_hex
    FROM documents
    """,
)
def q_mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #36 — binary payload + typed metadata (length/digest/magic)."""
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    withbin = multimodal.with_binary_payload(docs, "text")
    return multimodal.binary_meta(withbin).select("doc_id", "byte_len", "sha256", "magic_hex")


# DuckDB twin of the deterministic decode stub (8-bin byte histogram):
# re-derive every byte value from the hex dump of the UTF-8 payload, bin by
# b >> 5, normalize, and round with the same +1e-9 nudge the Spark side uses.
_MM_FEATURE_SQL = """
WITH b AS (
  SELECT doc_id,
         lower(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), pos AS (
  SELECT doc_id, n, hx, unnest(generate_series(1, n)) AS i
  FROM b WHERE n > 0
), bytes AS (
  SELECT doc_id, n,
         ((strpos('0123456789abcdef', substr(hx, 2 * i - 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(hx, 2 * i, 1)) - 1)) // 32 AS bin
  FROM pos
), agg AS (
  SELECT doc_id, n,
         {fcols}
  FROM bytes GROUP BY doc_id, n
)
SELECT doc_id, CAST(n AS BIGINT) AS byte_len, TRUE AS ok, {fnames}
FROM agg
UNION ALL
-- COALESCE(n, 0): a NULL payload (NULL text) is a decode failure like
-- an empty one — byte_len 0, ok FALSE — matching the Spark stub's
-- NULL-payload guard (degenerate-docs parity sweep); without it the
-- twin silently dropped NULL docs from the relation
SELECT doc_id, CAST(0 AS BIGINT) AS byte_len, FALSE AS ok,
       {zeros}
FROM b WHERE COALESCE(n, 0) = 0
""".format(
    fcols=",\n         ".join(
        "round(count(*) FILTER (WHERE bin = {k}) / CAST(n AS DOUBLE) + 1e-9, 6)"
        " AS f{k}".format(k=k)
        for k in range(8)
    ),
    fnames=", ".join(f"f{k}" for k in range(8)),
    zeros=", ".join(f"CAST(0.0 AS DOUBLE) AS f{k}" for k in range(8)),
)


@register("mm_feature_extract", _MM_FEATURE_SQL)
def q_mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #37 — Arrow-batched mapInPandas feature extraction over
    binary payloads (decode stubbed deterministically).

    The library API (multimodal.feature_extract) returns the
    ``array<double>`` feature vector; the registered query projects it to
    f0..f7 scalar doubles (driver canonicalizers can't hash list cells) with
    the standard +1e-9 round nudge on both engines."""
    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    withbin = multimodal.with_binary_payload(docs, "text")
    feats = multimodal.feature_extract(withbin, "doc_id")
    return feats.select(
        "doc_id",
        "byte_len",
        "ok",
        *[
            F.round(F.col("features")[k] + F.lit(1e-9), 6).alias(f"f{k}")
            for k in range(8)
        ],
    )


