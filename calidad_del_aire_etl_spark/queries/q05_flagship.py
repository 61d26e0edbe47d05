"""Flagship: the full ETL pipeline end-to-end — registered queries, split out of registry.py
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
# Flagship: the full ETL pipeline composed end-to-end (SURVEY §2 #12).
# interpolate → IQR-clip → dedup → AQI/category/temporal → daily rollup,
# exactly the reference task order (dag:441), as ONE Catalyst plan.
# ---------------------------------------------------------------------------

_FULL_PIPE_SQL = f"""
WITH gappy AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN event_id % 37 = 0 THEN NULL ELSE value END AS value
  FROM events
), interp AS (
{cleaning.interpolate_linear_sql(
    "gappy",
    value_col="value",
    group_cols=["user_id"],
    order_cols=["ts", "event_id"],
    limit=3,
    passthrough=["event_id", "ts", "user_id", "event_type"],
)}
), clipped AS (
{cleaning.iqr_clip_sql(
    "interp",
    cols=["value"],
    group_cols=["event_type"],
    k=3.0,
    passthrough=[
        "t.event_id AS event_id",
        "t.ts AS ts",
        "t.user_id AS user_id",
        "t.event_type AS event_type",
    ],
)}
), deduped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY user_id, event_type, date_trunc('hour', ts)
      ORDER BY event_id) AS __rn
    FROM clipped
  ) WHERE __rn = 1
), feat AS (
  SELECT *, {aqi_sql("value")} AS aqi,
         CASE WHEN HOUR(ts) IN (7,8,9,17,18,19) THEN 1 ELSE 0 END AS rush
  FROM deduped
)
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date, user_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(AVG(value) + 1e-9, 4) AS value_mean,
       ROUND(AVG(aqi) + 1e-9, 4) AS aqi_mean,
       CAST(SUM(CASE WHEN {quality_category_sql("aqi")} = 'Good' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_good,
       CAST(SUM(rush) AS BIGINT) AS rush_hours
FROM feat
GROUP BY 1, 2
"""


@register("etl_full_pipeline", _FULL_PIPE_SQL)
def q_etl_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #12 — the composed reference pipeline as one lazy plan.

    Shuffle budget (VERDICT r2 asked for <=4 exchanges, was 6): the fact
    chain shuffles ONCE — the user_id hash for the interpolation windows
    — and every later pass rides it:
      - the interpolated relation is checkpointed once WITH its
        user_id partitioning pinned (checkpoint_keeping_partitioning),
        so it feeds both consumers below without recompute;
      - dedup is hoisted ahead of the clip (legal: the clip only
        rewrites `value`, never the dedup keys or the event_id
        tiebreak), so its (user_id, event_type, hour) window is
        satisfied by the pinned clustering — a sort, not a shuffle;
      - the clip fences stay the reference's pre-dedup percentiles by
        aggregating the checkpointed relation per event_type and
        broadcasting the tiny bounds back;
      - the final (date, user_id) aggregate clusters on a superset of
        user_id — partial agg, no exchange.
    """
    from ..session import checkpoint_keeping_partitioning

    df = _gappy_events(spark, sf_dir)
    interp = cleaning.interpolate_linear(
        df, "value", group_cols=["user_id"], order_cols=["ts", "event_id"], limit=3
    )
    interp = checkpoint_keeping_partitioning(interp)
    df = interp.withColumn("__hr", F.date_trunc("hour", F.col("ts")))
    df = cleaning.dedup_exact(
        df, key_cols=["user_id", "event_type", "__hr"], tiebreak_cols=["event_id"]
    )
    df = cleaning.iqr_clip(
        df, ["value"], group_cols=["event_type"], k=3.0, bounds_over=interp
    )
    df = features.with_aqi(df, "value", out_col="aqi")
    df = features.with_quality_category(df, "aqi")
    return df.groupBy(
        F.to_date("ts").cast("string").alias("date"), F.col("user_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        r4(F.avg("value")).alias("value_mean"),
        r4(F.avg("aqi")).alias("aqi_mean"),
        F.sum((F.col("air_quality_category") == "Good").cast("bigint")).alias("n_good"),
        F.sum(F.hour("ts").isin(7, 8, 9, 17, 18, 19).cast("bigint")).alias("rush_hours"),
    )


