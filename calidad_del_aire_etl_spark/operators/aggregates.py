"""Rollup and validation operators (reference dag:241-253, 365-407).

Each rollup is one partial-aggregating groupBy (map-side combine, then a
single shuffle on the grain keys) — the plan Spark generates for these is
exactly the 100 TB-safe shape: no windows, no collect, grain cardinality
bounds the shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import r4


def daily_summary(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Daily per-group rollup: mean/max/min of the reading plus volume and
    rush-hour counts (reference dag:243-253, generalized to one metric
    column; the reference's multi-pollutant variant is
    ``plans.air_quality.daily_summary``)."""
    return (
        df.groupBy(
            F.to_date(F.col(ts_col)).alias("date"),
            F.col(group_col),
        )
        .agg(
            r4(F.avg(value_col)).alias("value_mean"),
            r4(F.max(value_col)).alias("value_max"),
            r4(F.min(value_col)).alias("value_min"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.hour(F.col(ts_col)).isin(7, 8, 9, 17, 18, 19).cast("bigint")).alias(
                "rush_hours"
            ),
        )
    )


def period_summary(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    value_col: str,
    period: str,
) -> DataFrame:
    """Weekly/monthly rollup (README §2 "weekly and monthly statistics").

    ``period`` is a ``date_trunc`` unit ('week' or 'month').
    """
    return (
        df.groupBy(
            F.date_trunc(period, F.col(ts_col)).cast("date").alias("period_start"),
            F.col(group_col),
        )
        .agg(
            r4(F.avg(value_col)).alias("value_mean"),
            r4(F.max(value_col)).alias("value_max"),
            r4(F.min(value_col)).alias("value_min"),
            r4(F.stddev_samp(value_col)).alias("value_std"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def validation_report(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    value_cols: Sequence[str],
    category_col: str | None = None,
    good_label: str = "Good",
) -> DataFrame:
    """Single-row data-quality report (reference dag:379-387): row count,
    null percentage over the audited columns, distinct groups, time range,
    and 'good' share. One full-scan aggregate, no shuffle beyond the final
    1-row reduce."""
    null_frac_num = sum(
        (F.sum(F.col(c).isNull().cast("bigint")) for c in value_cols), F.lit(0).cast("bigint")
    )
    aggs = [
        F.count(F.lit(1)).alias("total_records"),
        r4(
            null_frac_num.cast("double")
            / (F.count(F.lit(1)) * F.lit(len(value_cols))).cast("double")
            * 100.0
        ).alias("null_percentage"),
        F.countDistinct(group_col).alias("unique_groups"),
        F.min(ts_col).alias("ts_min"),
        F.max(ts_col).alias("ts_max"),
    ]
    if category_col is not None:
        aggs.append(
            F.sum((F.col(category_col) == good_label).cast("bigint")).alias("records_good")
        )
    return df.agg(*aggs)
