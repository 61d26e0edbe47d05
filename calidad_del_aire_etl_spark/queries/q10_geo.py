"""Geospatial-lite: nearest station, close pairs — registered queries, split out of registry.py
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
from ..operators import corpus  # noqa: F401

# ---------------------------------------------------------------------------
# Geospatial-lite: nearest-station assignment (sensor networks are
# spatial; the reference's 5 stations have no coordinates, so a
# deterministic synthetic station grid stands in).
# ---------------------------------------------------------------------------


def _stations(n: int = 10) -> list[tuple[int, float, float, float]]:
    """Deterministic station grid around Madrid; the cos-latitude scale
    factor is precomputed HERE (Python) and embedded as a literal in
    both engines — trig functions are not bit-identical across math
    libraries, but literals are."""
    import math

    out = []
    for s in range(n):
        lat = 40.4 + ((s * 37) % 100) * 0.02 - 1.0
        lon = -3.7 + ((s * 53) % 100) * 0.02 - 1.0
        out.append((s, lat, lon, math.cos(math.radians(lat))))
    return out


def _user_coords_sql() -> str:
    return (
        "SELECT user_id, "
        "40.4 + (user_id % 200) * 0.01 - 1.0 AS ulat, "
        "-3.7 + ((user_id * 7) % 200) * 0.01 - 1.0 AS ulon "
        "FROM (SELECT DISTINCT user_id FROM events)"
    )


def _geo_oracle() -> str:
    vals = ", ".join(f"({s}, {la!r}, {lo!r}, {k!r})" for s, la, lo, k in _stations())
    return f"""
    SELECT user_id, station_id, dist_km FROM (
      SELECT u.user_id, s.station_id,
             ROUND(111.32 * sqrt((u.ulat - s.slat) * (u.ulat - s.slat)
                   + ((u.ulon - s.slon) * s.k) * ((u.ulon - s.slon) * s.k)) + 1e-9, 4)
               AS dist_km,
             ROW_NUMBER() OVER (
               PARTITION BY u.user_id
               ORDER BY ROUND(111.32 * sqrt((u.ulat - s.slat) * (u.ulat - s.slat)
                     + ((u.ulon - s.slon) * s.k) * ((u.ulon - s.slon) * s.k)) + 1e-9, 4),
                 s.station_id) AS rn
      FROM ({_user_coords_sql()}) u
      CROSS JOIN (
        SELECT station_id, CAST(slat AS DOUBLE) AS slat,
               CAST(slon AS DOUBLE) AS slon, CAST(k AS DOUBLE) AS k
        FROM (VALUES {vals}) v(station_id, slat, slon, k)
      ) s
    ) WHERE rn = 1
    """


@register("geo_nearest_station", _geo_oracle())
def q_geo_nearest_station(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24f — nearest-station spatial assignment: tiny station
    dim broadcast into a cross join, per-user argmin by equirectangular
    distance (pure +,−,×,sqrt — IEEE-deterministic across engines;
    haversine is the production drop-in, its trig precomputed into the
    dim exactly as the cos-scale factor is here)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    users = ev.select("user_id").distinct().select(
        "user_id",
        (F.lit(40.4) + (F.col("user_id") % 200) * 0.01 - 1.0).alias("ulat"),
        (F.lit(-3.7) + ((F.col("user_id") * 7) % 200) * 0.01 - 1.0).alias("ulon"),
    )
    st = spark.createDataFrame(
        _stations(), "station_id int, slat double, slon double, k double"
    )
    dist = r4(
        F.lit(111.32)
        * F.sqrt(
            (F.col("ulat") - F.col("slat")) * (F.col("ulat") - F.col("slat"))
            + ((F.col("ulon") - F.col("slon")) * F.col("k"))
            * ((F.col("ulon") - F.col("slon")) * F.col("k"))
        )
    )
    w = Window.partitionBy("user_id").orderBy("dist_km", "station_id")
    return (
        users.crossJoin(F.broadcast(st))
        .withColumn("dist_km", dist)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "station_id", "dist_km")
    )


@register(
    "corpus_mixture_sample",
    corpus.mixture_sample_sql(
        "(SELECT doc_id, source, lang FROM documents)",
        "doc_id",
        "source",
        {"src0": 2.3, "src1": 0.4},
        default_weight=1.0,
        cols="doc_id, source, lang",
    ),
)
def q_corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #49b — mixture weighting: src0 upsampled 2.3×, src1
    downsampled to 40 %, everything else kept — the LLM corpus-mixing
    step, hash-deterministic (no RNG), replication via sequence+explode."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return corpus.mixture_sample(
        docs, "doc_id", "source", {"src0": 2.3, "src1": 0.4}, default_weight=1.0
    )


