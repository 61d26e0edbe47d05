"""SQL API surface, k-means, frame sampling, cogroup — registered queries, split out of registry.py
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
from ..operators import multimodal  # noqa: F401
from ..operators import text  # noqa: F401

# ---------------------------------------------------------------------------
# SQL API surface: the engine is reachable as plain ANSI SQL over
# registered views, not only through the DataFrame DSL.
# ---------------------------------------------------------------------------

# One SQL text, two engines: runs verbatim on Spark AND DuckDB (the
# ANSI-common subset), so the oracle is literally the same string.
_SQL_INTERFACE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) + 1e-9, 4) AS sum_value,
       ROUND(MIN(value) + 1e-9, 4) AS min_value,
       ROUND(MAX(value) + 1e-9, 4) AS max_value
FROM events
WHERE value > 10
GROUP BY event_type
"""


@register("sql_interface", _SQL_INTERFACE)
def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #50 — the SQL front door: register the parquet tables as
    temp views, run ANSI SQL text through spark.sql(). Same string is the
    DuckDB oracle — byte-identical query, hash-identical result."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_SQL_INTERFACE)


# DuckDB twin of the deterministic byte chunker. Valid because the test
# corpus is pure ASCII (asserted in tests/test_general_multimodal.py), so
# byte offsets == char offsets and each 64-byte frame is the same bytes
# sha256(VARCHAR) hashes; a multibyte corpus would need blob slicing,
# which DuckDB's sha256 doesn't take — the Spark side stays byte-exact.
_MM_FRAME_SQL = """
WITH b AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
), f AS (
  SELECT doc_id, n, text,
         unnest(generate_series(0, CAST(ceil(n / 64.0) AS BIGINT) - 1, 4)) AS fi
  FROM b WHERE n > 0
)
SELECT doc_id,
       CAST(fi AS INTEGER) AS frame_idx,
       CAST(fi * 64 AS BIGINT) AS frame_offset,
       CAST(least(64, n - fi * 64) AS BIGINT) AS frame_len,
       sha256(substr(text, CAST(fi * 64 + 1 AS BIGINT), 64)) AS frame_sha256
FROM f
"""


@register("mm_frame_sample", _MM_FRAME_SQL)
def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #37b — video-style every-4th-frame sampling over binary
    payloads (row-multiplying mapInPandas; chunker stands in for a real
    container parser)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    with_bin = multimodal.with_binary_payload(docs, "text")
    return multimodal.frame_sample(with_bin, "doc_id", frame_size=64, every_kth=4)


@register(
    "semi_anti_activity",
    """
    SELECT u.user_id, u.n_purchases, u.status FROM (
      SELECT e.user_id,
             CAST((SELECT COUNT(*) FROM events p
                    WHERE p.user_id = e.user_id
                      AND p.event_type = 'purchase') AS BIGINT) AS n_purchases,
             CASE WHEN EXISTS (SELECT 1 FROM events x
                                WHERE x.user_id = e.user_id
                                  AND x.event_type = 'error')
                  THEN 'has_errors' ELSE 'clean' END AS status
      FROM (SELECT DISTINCT user_id FROM events) e
    ) u
    WHERE u.n_purchases > 0
    """,
)
def q_semi_anti_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24c — semi/anti-join family: purchasers (LEFT SEMI
    against the purchase slice) labeled by whether they also triggered
    errors. Semi/anti joins ship only the key side through the shuffle —
    no payload amplification, the scale-correct EXISTS/NOT EXISTS shape."""
    ev = load(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    errors = ev.filter(F.col("event_type") == "error").select("user_id")
    p_counts = purchases.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases")
    )
    buyers = users.join(p_counts, "user_id", "left_semi").join(p_counts, "user_id")
    err_users = errors.distinct().withColumn("__has_err", F.lit(1))
    return (
        buyers.join(F.broadcast(err_users), "user_id", "left")
        .select(
            "user_id",
            "n_purchases",
            F.when(F.col("__has_err") == 1, F.lit("has_errors"))
            .otherwise(F.lit("clean"))
            .alias("status"),
        )
    )


@register(
    "unpivot_daily_metrics",
    """
    SELECT date, metric, ROUND(val + 1e-9, 4) AS val FROM (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date,
             ROUND(AVG(value) + 1e-9, 4) AS avg_value,
             ROUND(MAX(value) + 1e-9, 4) AS max_value,
             CAST(COUNT(*) AS DOUBLE) AS n_rows
      FROM events GROUP BY 1
    ) UNPIVOT INCLUDE NULLS (val FOR metric IN (avg_value, max_value, n_rows))
    """,
)
def q_unpivot_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24d — wide→long unpivot (melt) via stack(): the inverse
    of the pivot operator, a narrow projection over the aggregated
    relation (the reshape itself never shuffles)."""
    ev = load(spark, sf_dir, "events")
    wide = ev.groupBy(F.to_date("ts").cast("string").alias("date")).agg(
        r4(F.avg("value")).alias("avg_value"),
        r4(F.max("value")).alias("max_value"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    return wide.select(
        "date",
        F.expr(
            "stack(3, 'avg_value', avg_value, 'max_value', max_value, "
            "'n_rows', n_rows) AS (metric, val)"
        ),
    ).select("date", "metric", r4(F.col("val")).alias("val"))


@register(
    "value_deciles",
    """
    SELECT event_type, decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(value) + 1e-9, 4) AS avg_value,
           ROUND(MIN(value) + 1e-9, 4) AS lo,
           ROUND(MAX(value) + 1e-9, 4) AS hi
    FROM (
      SELECT event_type, value,
             CAST(NTILE(10) OVER (PARTITION BY event_type
                                  ORDER BY value NULLS FIRST, event_id)
                  AS INTEGER) AS decile
      FROM events
    )
    GROUP BY 1, 2
    """,
)
def q_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #15d — per-group decile profile via ntile(): one window
    shuffle on the group key, then a partial-agg groupBy on (group,
    decile). Deterministic tie-break by event_id inside the ordering."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            r4(F.avg("value")).alias("avg_value"),
            r4(F.min("value")).alias("lo"),
            r4(F.max("value")).alias("hi"),
        )
    )


# Greedy nearest-forward matching IS SQL-expressible: a per-user
# two-pointer recursion (recursive CTE + LATERAL next-available lookup).
# Sums accumulate in the same ascending-ts order as the pandas loop, so
# the doubles are bit-identical before the +1e-9-nudged round.
_COGROUP_SQL = """
WITH l AS (
  SELECT user_id, ts, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events WHERE event_type = 'click'
), r AS (
  SELECT user_id, ts, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events WHERE event_type = 'purchase'
), lc AS (SELECT user_id, COUNT(*) AS n_left FROM l GROUP BY 1),
rc AS (SELECT user_id, COUNT(*) AS n_right FROM r GROUP BY 1),
users AS (SELECT user_id FROM lc UNION SELECT user_id FROM rc),
rec AS (
  WITH RECURSIVE walk(user_id, i, j, pairs, gap_sum) AS (
    SELECT user_id, 1, 1, 0, CAST(0 AS DOUBLE) FROM lc
    UNION ALL
    SELECT w.user_id, w.i + 1,
           CASE WHEN nxt.rn IS NULL THEN w.j ELSE nxt.rn + 1 END,
           w.pairs + CASE WHEN nxt.rn IS NULL THEN 0 ELSE 1 END,
           w.gap_sum + COALESCE(epoch(nxt.ts - lt.ts), 0)
    FROM walk w
    JOIN l lt ON lt.user_id = w.user_id AND lt.rn = w.i
    LEFT JOIN LATERAL (
      SELECT r.rn, r.ts FROM r
      WHERE r.user_id = w.user_id AND r.rn >= w.j AND r.ts >= lt.ts
      ORDER BY r.rn LIMIT 1
    ) nxt ON TRUE
  )
  SELECT w.user_id, w.pairs, w.gap_sum
  FROM walk w JOIN lc ON w.user_id = lc.user_id AND w.i = lc.n_left + 1
)
SELECT CAST(u.user_id AS BIGINT) AS user_id,
       CAST(COALESCE(lc.n_left, 0) AS BIGINT) AS n_left,
       CAST(COALESCE(rc.n_right, 0) AS BIGINT) AS n_right,
       CASE WHEN COALESCE(rec.pairs, 0) > 0
            THEN ROUND(rec.gap_sum / rec.pairs + 1e-9, 4) END AS mean_gap_s,
       CAST(COALESCE(rec.pairs, 0) AS BIGINT) AS aligned_pairs
FROM users u
LEFT JOIN lc ON u.user_id = lc.user_id
LEFT JOIN rc ON u.user_id = rc.user_id
LEFT JOIN rec ON u.user_id = rec.user_id
"""


@register("cogroup_align_events", _COGROUP_SQL)
def q_cogroup_align_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24e — cogrouped applyInPandas: per-user greedy
    nearest-forward alignment of clicks to purchases (both sides of the
    key materialized as Arrow frames; semantics no join expresses)."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    return multimodal.cogroup_align(clicks, buys, "user_id", "ts")


@register(
    "json_props_stats",
    """
    SELECT k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(k) AS INTEGER) AS k_min,
           CAST(MAX(k) AS INTEGER) AS k_max,
           ROUND(AVG(value) + 1e-9, 4) AS avg_value
    FROM (
      SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS INTEGER)
               AS k_bucket,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
             value
      FROM events
    )
    GROUP BY 1
    """,
)
def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #6b — semi-structured columns: parse the JSON props
    payload with a declared schema (from_json → typed struct, not
    per-row string probing) and aggregate on an extracted field. At
    100 TB the declared schema matters: get_json_object re-parses per
    access; from_json parses once into a struct Catalyst can prune."""
    ev = load(spark, sf_dir, "events")
    parsed = ev.select(
        F.from_json("props", "k int").alias("p"), "value"
    ).select(F.col("p.k").alias("k"), "value")
    return (
        parsed.withColumn("k_bucket", (F.col("k") % 10).cast("int"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("k").cast("int").alias("k_min"),
            F.max("k").cast("int").alias("k_max"),
            r4(F.avg("value")).alias("avg_value"),
        )
    )


@register(
    "cube_type_dow",
    """
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(CAST(dow AS VARCHAR), 'ALL') AS dow,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(value) + 1e-9, 4) AS avg_value
    FROM (SELECT event_type, ISODOW(ts) - 1 AS dow, value FROM events)
    GROUP BY CUBE(event_type, dow)
    """,
)
def q_cube_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #10c — full CUBE over (type, day-of-week): all four
    grouping grains in one aggregation pass (the expand operator feeds
    one shuffle), vs four separate scans."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (F.dayofweek("ts") + 5) % 7,  # ISO Monday=0, matching ISODOW-1
        "value",
    ).toDF("event_type", "dow", "value")
    return (
        ev.cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            r4(F.avg("value")).alias("avg_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dow").cast("string"), F.lit("ALL")).alias("dow"),
            "n",
            "avg_value",
        )
    )


@register(
    "etl_sensor_gaps",
    cleaning.sensor_gaps_sql("events", "user_id", "ts", max_gap_minutes=120),
)
def q_etl_sensor_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #11c — per-sensor reading-gap report (islands problem:
    one lag window per group, a single shuffle; operational
    where-did-the-feed-go-dark companion to the validation report)."""
    ev = load(spark, sf_dir, "events")
    return cleaning.sensor_gaps(ev, "user_id", "ts", max_gap_minutes=120)


@register("text_char_entropy", text.char_entropy_sql("documents", "doc_id", "text"))
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #33b — Shannon char-entropy quality signal (two
    map-side-combined groupBys; shuffle bounded by per-doc alphabet)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.char_entropy(docs.select("doc_id", "text"), "doc_id", "text")


@register(
    "etl_locf_fill",
    """
    SELECT event_id, user_id,
           LAST_VALUE(value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM (SELECT event_id, ts, user_id,
                 CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END AS value
          FROM events)
    """,
)
def q_etl_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #1b — last-observation-carried-forward fill (the
    step-function sibling of linear interpolation; same deterministic
    gap injection as etl_interpolate)."""
    out = cleaning.locf_fill(
        _gappy_events(spark, sf_dir),
        value_col="value",
        group_cols=["user_id"],
        order_cols=["ts", "event_id"],
    )
    return out.select("event_id", "user_id", "value")


@register(
    "etl_resample_15min",
    cleaning.resample_spine_sql("events", "ts", "user_id", "value", bucket_minutes=15),
)
def q_etl_resample_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #1c — 15-minute resample with gap buckets materialized
    (distributed sequence+explode spine, bucket-keyed left join)."""
    ev = load(spark, sf_dir, "events")
    return cleaning.resample_spine(ev, "ts", "user_id", "value", bucket_minutes=15)


@register(
    "dash_rolling_median",
    """
    SELECT event_id, user_id,
           ROUND(quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS rolling_median
    FROM events
    """,
)
def q_dash_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #14b — trailing 6-row rolling MEDIAN per station (the
    outlier-robust smoother the dashboard's rolling mean is not). Spark
    has no windowed percentile, so the frame is collected as a ≤6-element
    sorted array and the linearly-interpolated middle is taken JVM-side —
    constant-bounded state per row, same single shuffle as rolling mean."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-5, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    # collect_list drops NULLs, so an all-NULL frame is an EMPTY array:
    # guard it to NULL (matching DuckDB's quantile_cont over all NULLs)
    # or the ANSI array index raises INVALID_ARRAY_INDEX.
    med = (
        "CASE WHEN size(__arr) = 0 THEN CAST(NULL AS DOUBLE) "
        "WHEN size(__arr) % 2 = 1 THEN __arr[cast(size(__arr) div 2 as int)] "
        "ELSE (__arr[cast(size(__arr) div 2 as int) - 1] "
        "      + __arr[cast(size(__arr) div 2 as int)]) / 2 END"
    )
    return (
        ev.withColumn("__arr", arr)
        .select("event_id", "user_id", r4(F.expr(med)).alias("rolling_median"))
    )


