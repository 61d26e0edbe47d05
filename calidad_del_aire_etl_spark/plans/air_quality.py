"""The reference pipeline end-to-end, Spark-native (SURVEY §2 #12).

Reference: Airflow DAG extract ≫ transform ≫ load ≫ validate
(dags/airflow_dag_calidad_aire.py:441). Extract and transform build one
lazy plan, and ``load``'s hourly write is the one action that evaluates
it. The daily rollup and ``validate`` read the written table back, where
the reference hands CSV files between its tasks (dag:118/256).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import aqi_from_pm25, pollution_index, quality_category
from ..operators import aggregates, cleaning, features
from ..sources.generator import generate_air_quality

POLLUTANTS = ["pm25", "pm10", "no2", "o3", "co", "temperature", "humidity"]


def extract(spark: SparkSession, num_days: int = 90) -> DataFrame:
    """EXTRACT (dag:40-132): distributed synthetic sensor readings."""
    return generate_air_quality(spark, num_days=num_days)


def transform(df: DataFrame) -> DataFrame:
    """TRANSFORM (dag:138-236): clean + feature-engineer, all lazily.

    Order mirrors the reference: interpolate nulls per station →
    IQR-clip pm25/pm10/no2 → dedup on (ts, station) → AQI → category →
    temporal features → composite pollution index.
    """
    for pol in POLLUTANTS:
        df = cleaning.interpolate_linear(
            df, pol, group_cols=["station"], order_cols=["ts"], limit=3
        )
    df = cleaning.iqr_clip(df, ["pm25", "pm10", "no2"], k=3.0)
    df = cleaning.dedup_exact(df, key_cols=["ts", "station"], tiebreak_cols=["pm25"])
    df = df.withColumn("aqi_pm25", aqi_from_pm25(F.col("pm25")))
    df = df.withColumn("air_quality_category", quality_category(F.col("aqi_pm25")))
    df = features.with_temporal_features(df, "ts")
    df = df.withColumn(
        "pollution_index",
        pollution_index(F.col("pm25"), F.col("pm10"), F.col("no2"), F.col("co")),
    )
    return df


def daily_summary(df: DataFrame) -> DataFrame:
    """Daily per-station rollup, column-for-column with dag:244-253."""
    return df.groupBy("date", "station").agg(
        F.round(F.avg("pm25"), 4).alias("pm25_mean"),
        F.max("pm25").alias("pm25_max"),
        F.min("pm25").alias("pm25_min"),
        F.round(F.avg("pm10"), 4).alias("pm10_mean"),
        F.max("pm10").alias("pm10_max"),
        F.round(F.avg("no2"), 4).alias("no2_mean"),
        F.round(F.avg("aqi_pm25"), 4).alias("aqi_pm25_mean"),
        F.round(F.avg("pollution_index"), 4).alias("pollution_index_mean"),
        F.sum("is_rush_hour").cast("bigint").alias("is_rush_hour_sum"),
    )


def load(clean: DataFrame, out_dir: str) -> DataFrame:
    """LOAD (dag:287-359): hourly parquet partitioned by month, plus the
    daily rollup as parquet (snappy, Spark's default codec) and as CSV.
    Each written table is reopened with the schema it was written from
    (no inference job): the daily rollup is aggregated once, by the
    parquet write, and the CSV copies that parquet. Returns the written
    hourly table: ``validate`` reads it, so the transform is evaluated
    once, by the hourly write."""
    spark = clean.sparkSession
    hourly, daily = f"{out_dir}/hourly", f"{out_dir}/daily"
    clean.write.mode("overwrite").partitionBy("month").parquet(hourly)
    written = spark.read.schema(clean.schema).parquet(hourly)
    summary = daily_summary(written)
    summary.write.mode("overwrite").parquet(daily)
    spark.read.schema(summary.schema).parquet(daily).write.mode("overwrite").option(
        "header", True
    ).csv(f"{out_dir}/daily_csv")
    return written


def validate(df: DataFrame) -> dict:
    """VALIDATE (dag:365-407): the quality report over the loaded
    table, with the reference's checks (dag:396-401): fail under 1000
    rows, warn over 5 % nulls."""
    report = aggregates.validation_report(
        df, "ts", "station", POLLUTANTS, category_col="air_quality_category"
    ).collect()[0].asDict()
    if report["total_records"] < 1000:
        raise ValueError("insufficient data for analysis")
    report["null_warning"] = bool(report["null_percentage"] > 5)
    return report
