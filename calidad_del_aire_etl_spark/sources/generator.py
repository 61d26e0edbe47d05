"""Distributed synthetic air-quality generator (SURVEY §2 #42).

Mirrors the reference extract semantics (dags/airflow_dag_calidad_aire.py:
40-132): N stations × D days of hourly readings; per-station pollution
baselines; rush-hour (1.5×) / overnight (0.7×) diurnal factors; weekend
damping (0.8×); Gaussian noise; ~2 % missing values.

Spark-first differences from the reference:
- ``spark.range`` rows are born distributed — no driver-side loop, no
  single pandas frame; generating 10 years × 10⁶ stations is the same
  plan at bigger parallelism.
- randomness is hash-derived per (row, salt) — deterministic under
  re-partitioning, retries, and speculative execution, which
  ``numpy.random`` state can never be on a cluster.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

STATIONS = [
    "Estacion_Centro",
    "Estacion_Norte",
    "Estacion_Sur",
    "Estacion_Este",
    "Estacion_Oeste",
]
START = "2024-01-01"
MISSING_RATE = 0.02  # share of pm25/pm10 readings left NULL

# Base-level ranges per pollutant (reference dag:66-70).
BASE_RANGES = {
    "pm25": (15.0, 40.0),
    "pm10": (25.0, 60.0),
    "no2": (20.0, 50.0),
    "o3": (30.0, 60.0),
    "co": (0.3, 1.2),
}
NOISE_STD = {"pm25": 5.0, "pm10": 10.0, "no2": 8.0, "o3": 10.0, "co": 0.2}


def _u(key: Column, salt: str) -> Column:
    """Deterministic uniform in [0,1) from a 64-bit hash of (key, salt)."""
    return (F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(1_000_000)) / 1_000_000.0)


def _gauss(key: Column, salt: str) -> Column:
    """Box-Muller from two hash-uniforms — a portable N(0,1)."""
    u1 = _u(key, salt + "_u1") + F.lit(1e-9)
    u2 = _u(key, salt + "_u2")
    return F.sqrt(-2.0 * F.log(u1)) * F.cos(F.lit(2.0 * math.pi) * u2)


def generate_air_quality(spark: SparkSession, num_days: int = 90) -> DataFrame:
    """Hourly sensor readings, one row per (station, hour), from
    ``START``."""
    n_hours = num_days * 24
    sdf = spark.createDataFrame([(s,) for s in STATIONS], "station string")

    rows = (
        spark.range(n_hours)
        .withColumn("ts", F.expr(f"timestamp'{START} 00:00:00' + make_interval(0,0,0,0,id)"))
        .crossJoin(F.broadcast(sdf))
    )

    hour = F.hour("ts")
    hour_factor = (
        F.when(hour.between(7, 9) | hour.between(17, 19), F.lit(1.5))
        .when(hour.between(0, 5), F.lit(0.7))
        .otherwise(F.lit(1.0))
    )
    weekday_factor = F.when(F.weekday("ts") >= 5, F.lit(0.8)).otherwise(F.lit(1.0))
    key = F.concat(F.col("station"), F.lit("|"), F.col("id").cast("string"))

    out = rows
    for pol, (lo, hi) in BASE_RANGES.items():
        base = F.lit(lo) + _u(F.col("station"), f"base_{pol}") * F.lit(hi - lo)
        factor = (F.lit(2.0) - hour_factor) if pol == "o3" else hour_factor * weekday_factor
        raw = F.greatest(
            base * factor + _gauss(key, f"noise_{pol}") * F.lit(NOISE_STD[pol]),
            F.lit(0.0),
        )
        value = F.round(raw, 4)
        if pol in ("pm25", "pm10"):
            value = F.when(_u(key, f"miss_{pol}") < MISSING_RATE, None).otherwise(value)
        out = out.withColumn(pol, value)

    out = out.withColumn("temperature", F.round(F.lit(10.0) + _u(key, "temp") * 20.0, 4))
    out = out.withColumn("humidity", F.round(F.lit(30.0) + _u(key, "hum") * 50.0, 4))
    return out.select(
        "ts", "station", "pm25", "pm10", "no2", "o3", "co", "temperature", "humidity"
    )
