"""Core ETL operators (SURVEY §2 #1-12) on the events table — registered queries, split out of registry.py
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
# Core ETL operators (SURVEY §2 #1-12) on the `events` table.
# `events` plays the sensor-readings role: ts→timestamp, user_id→station,
# value→PM2.5-like reading (see SURVEY §3).
# ---------------------------------------------------------------------------

# The raw testdata has no NULLs; the interpolation operator needs gaps, so
# both engines deterministically blank the same rows (event_id % 37 == 0).


@register(
    "etl_interpolate",
    "SELECT * FROM ("
    + cleaning.interpolate_linear_sql(
        _GAPPY_EVENTS_SQL,
        value_col="value",
        group_cols=["user_id"],
        order_cols=["ts", "event_id"],
        limit=3,
        passthrough=["event_id", "user_id"],
    )
    + ")",
)
def q_etl_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #1 — per-group linear interpolation (ref dag:162-168)."""
    df = cleaning.interpolate_linear(
        _gappy_events(spark, sf_dir),
        value_col="value",
        group_cols=["user_id"],
        order_cols=["ts", "event_id"],
        limit=3,
    )
    return df.select("event_id", "user_id", "value")


@register(
    "etl_outlier_iqr",
    cleaning.iqr_clip_sql(
        "events",
        cols=["value"],
        group_cols=["event_type"],
        k=3.0,
        passthrough=["t.event_id AS event_id", "t.event_type AS event_type"],
    ),
)
def q_etl_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #2 — IQR clipping with exact percentiles (ref dag:170-177)."""
    ev = load(spark, sf_dir, "events")
    out = cleaning.iqr_clip(ev, cols=["value"], group_cols=["event_type"], k=3.0)
    return out.select("event_id", "event_type", "value")


@register(
    "etl_dedup_exact",
    """
    SELECT event_id, user_id, event_type, value FROM (
      SELECT event_id, user_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type, date_trunc('hour', ts)
               ORDER BY event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_etl_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #3 — composite-key dedup, deterministic survivor
    (ref dag:179-180). Key: (station, type, hour-bucket)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "__hr", F.date_trunc("hour", F.col("ts"))
    )
    out = cleaning.dedup_exact(
        ev, key_cols=["user_id", "event_type", "__hr"], tiebreak_cols=["event_id"]
    )
    return out.select("event_id", "user_id", "event_type", "value")


@register(
    "etl_aqi",
    f"SELECT event_id, value, {aqi_sql('value')} AS aqi FROM events",
)
def q_etl_aqi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #4 — EPA AQI piecewise transform (ref dag:184-199)."""
    ev = load(spark, sf_dir, "events")
    return features.with_aqi(ev, "value").select("event_id", "value", "aqi")


@register(
    "etl_category",
    f"""
    SELECT event_id, aqi, {quality_category_sql("aqi")} AS air_quality_category
    FROM (SELECT event_id, {aqi_sql("value")} AS aqi FROM events)
    """,
)
def q_etl_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #5 — quality category bucketing (ref dag:201-218)."""
    ev = load(spark, sf_dir, "events")
    df = features.with_aqi(ev, "value")
    df = features.with_quality_category(df, "aqi")
    return df.select("event_id", "aqi", "air_quality_category")


@register(
    "etl_temporal_features",
    """
    SELECT event_id,
           CAST(HOUR(ts) AS INTEGER) AS hour,
           CAST(ISODOW(ts) - 1 AS INTEGER) AS day_of_week,
           CAST(CASE WHEN ISODOW(ts) - 1 IN (5,6) THEN 1 ELSE 0 END AS INTEGER) AS is_weekend,
           CAST(CASE WHEN HOUR(ts) IN (7,8,9,17,18,19) THEN 1 ELSE 0 END AS INTEGER) AS is_rush_hour,
           CAST(MONTH(ts) AS INTEGER) AS month,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS date
    FROM events
    """,
)
def q_etl_temporal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #6 — temporal feature extraction (ref dag:220-226)."""
    ev = load(spark, sf_dir, "events")
    df = features.with_temporal_features(ev, "ts")
    return df.select(
        "event_id",
        F.col("hour").cast("int").alias("hour"),
        F.col("day_of_week").cast("int").alias("day_of_week"),
        F.col("is_weekend").cast("int").alias("is_weekend"),
        F.col("is_rush_hour").cast("int").alias("is_rush_hour"),
        F.col("month").cast("int").alias("month"),
        F.col("date").cast("string").alias("date"),
    )


@register(
    "etl_pollution_index",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS date,
           ROUND(COALESCE(ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END) + 1e-9, 4), 0) / 50.0 * 0.3
               + COALESCE(ROUND(AVG(CASE WHEN event_type = 'view' THEN value END) + 1e-9, 4), 0) / 100.0 * 0.3
               + COALESCE(ROUND(AVG(CASE WHEN event_type = 'click' THEN value END) + 1e-9, 4), 0) / 100.0 * 0.2
               + COALESCE(ROUND(AVG(CASE WHEN event_type = 'error' THEN value END) + 1e-9, 4), 0) / 2.0 * 0.002
               + 1e-9, 4) AS pollution_index
    FROM events
    GROUP BY user_id, CAST(CAST(ts AS DATE) AS VARCHAR)
    """,
)
def q_etl_pollution_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #7 — weighted multi-column composite (ref dag:229-234).

    The reference combines four pollutant columns; events is long-form, so
    the engine first pivots event types to columns via conditional
    aggregation (one shuffle), then applies the same weighted formula.
    """
    ev = load(spark, sf_dir, "events")

    def cavg(t: str):
        return r4(F.avg(F.when(F.col("event_type") == t, F.col("value"))))

    pivoted = ev.groupBy(
        F.col("user_id"), F.to_date("ts").cast("string").alias("date")
    ).agg(
        cavg("purchase").alias("__purchase"),
        cavg("view").alias("__view"),
        cavg("click").alias("__click"),
        cavg("error").alias("__error"),
    )
    idx = r4(
        F.coalesce(F.col("__purchase"), F.lit(0.0)) / 50.0 * 0.3
        + F.coalesce(F.col("__view"), F.lit(0.0)) / 100.0 * 0.3
        + F.coalesce(F.col("__click"), F.lit(0.0)) / 100.0 * 0.2
        + F.coalesce(F.col("__error"), F.lit(0.0)) / 2.0 * 0.002
        + F.lit(1e-9)  # nudge off the .5e-4 tie so both engines round alike
    )
    return pivoted.select("user_id", "date", idx.alias("pollution_index"))


@register(
    "etl_daily_summary",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date, event_type,
           ROUND(AVG(value) + 1e-9, 4) AS value_mean,
           ROUND(MAX(value) + 1e-9, 4) AS value_max,
           ROUND(MIN(value) + 1e-9, 4) AS value_min,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN HOUR(ts) IN (7,8,9,17,18,19) THEN 1 ELSE 0 END) AS BIGINT) AS rush_hours
    FROM events GROUP BY CAST(CAST(ts AS DATE) AS VARCHAR), event_type
    """,
)
def q_etl_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #8 — daily per-group multi-agg rollup (ref dag:243-253)."""
    ev = load(spark, sf_dir, "events")
    out = aggregates.daily_summary(ev, "ts", "event_type", "value")
    return out.withColumn("date", F.col("date").cast("string"))


@register(
    "etl_weekly_summary",
    """
    SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS period_start, event_type,
           ROUND(AVG(value) + 1e-9, 4) AS value_mean,
           ROUND(MAX(value) + 1e-9, 4) AS value_max,
           ROUND(MIN(value) + 1e-9, 4) AS value_min,
           ROUND(STDDEV_SAMP(value) + 1e-9, 4) AS value_std,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1, 2
    """,
)
def q_etl_weekly_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #9 — weekly rollup (README §2)."""
    ev = load(spark, sf_dir, "events")
    out = aggregates.period_summary(ev, "ts", "event_type", "value", "week")
    return out.withColumn("period_start", F.col("period_start").cast("string"))


@register(
    "etl_monthly_summary",
    """
    SELECT CAST(CAST(date_trunc('month', ts) AS DATE) AS VARCHAR) AS period_start, event_type,
           ROUND(AVG(value) + 1e-9, 4) AS value_mean,
           ROUND(MAX(value) + 1e-9, 4) AS value_max,
           ROUND(MIN(value) + 1e-9, 4) AS value_min,
           ROUND(STDDEV_SAMP(value) + 1e-9, 4) AS value_std,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1, 2
    """,
)
def q_etl_monthly_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #10 — monthly rollup (README §2)."""
    ev = load(spark, sf_dir, "events")
    out = aggregates.period_summary(ev, "ts", "event_type", "value", "month")
    return out.withColumn("period_start", F.col("period_start").cast("string"))


@register(
    "etl_validation_report",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS total_records,
           ROUND(CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) * 1 AS DOUBLE) * 100.0 + 1e-9, 4) AS null_percentage,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_groups,
           CAST(MIN(ts) AS TIMESTAMP) AS ts_min, CAST(MAX(ts) AS TIMESTAMP) AS ts_max,
           CAST(SUM(CASE WHEN {cat} = 'Good' THEN 1 ELSE 0 END) AS BIGINT) AS records_good
    FROM (SELECT *, {catexpr} AS cat FROM
          (SELECT event_id, ts, user_id,
                  CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END AS value,
                  {aqi} AS aqi
           FROM events))
    """.format(
        cat="cat",
        catexpr=quality_category_sql("aqi"),
        aqi=aqi_sql("(CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END)"),
    ),
)
def q_etl_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #11 — data-quality report (ref dag:365-407), including the
    deterministic NULL injection so null_percentage is non-trivial."""
    df = _gappy_events(spark, sf_dir)
    df = features.with_aqi(df, "value")
    df = features.with_quality_category(df, "aqi")
    return aggregates.validation_report(
        df, "ts", "user_id", ["value"], category_col="air_quality_category"
    )


