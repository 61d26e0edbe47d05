"""Reusable column expressions (JVM-side, whole-stage-codegen friendly).

These are the engine's scalar "functions" layer: every transform the
reference implements as a row-at-a-time pandas ``apply`` is re-expressed
here as a Catalyst column expression so it runs inside codegen with zero
Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# EPA AQI breakpoints for PM2.5, as used by the reference
# (reference: dags/airflow_dag_calidad_aire.py:185-197).
AQI_BREAKPOINTS = [
    # (conc_upper, conc_lower_eff, aqi_base, aqi_span, conc_span)
    (12.0, 0.0, 0.0, 50.0, 12.0),
    (35.4, 12.1, 50.0, 50.0, 23.3),
    (55.4, 35.5, 100.0, 50.0, 19.9),
    (150.4, 55.5, 150.0, 50.0, 94.9),
    (float("inf"), 150.5, 200.0, 100.0, 99.9),
]

# Category thresholds (reference: dags/airflow_dag_calidad_aire.py:202-214).
CATEGORY_THRESHOLDS = [
    (50.0, "Good"),
    (100.0, "Moderate"),
    (150.0, "Unhealthy for Sensitive"),
    (200.0, "Unhealthy"),
]
CATEGORY_TOP = "Very Unhealthy"

RUSH_HOURS = (7, 8, 9, 17, 18, 19)


def r4(col: Column) -> Column:
    """Round to 4 decimals — pins float results for cross-engine hashing.

    The +1e-9 nudge moves exact .00005 ties off the boundary so Spark's
    BigDecimal HALF_UP and DuckDB's C-style round agree; the oracle SQL
    twins write the same ``ROUND(x + 1e-9, 4)`` inline.
    """
    return F.round(col + F.lit(1e-9), 4)


def aqi_from_pm25(pm25: Column) -> Column:
    """EPA AQI piecewise-linear transform of a PM2.5-like concentration.

    Mirrors reference dags/airflow_dag_calidad_aire.py:185-197 exactly,
    including its idiosyncratic breakpoint lower bounds. NULL in → NULL out.
    """
    expr = None
    for upper, lower, base, aqi_span, conc_span in AQI_BREAKPOINTS:
        piece = F.lit(base) + (F.lit(aqi_span) / F.lit(conc_span)) * (pm25 - F.lit(lower))
        if expr is None:
            expr = F.when(pm25 <= F.lit(upper), piece)
        elif upper == float("inf"):
            expr = expr.otherwise(piece)
        else:
            expr = expr.when(pm25 <= F.lit(upper), piece)
    return r4(expr)


def aqi_sql(col: str) -> str:
    """ANSI-SQL twin of :func:`aqi_from_pm25` (DuckDB oracle)."""
    cases = []
    for upper, lower, base, aqi_span, conc_span in AQI_BREAKPOINTS:
        piece = f"{base} + ({aqi_span} / {conc_span}) * ({col} - {lower})"
        if upper == float("inf"):
            cases.append(f"ELSE {piece}")
        else:
            cases.append(f"WHEN {col} <= {upper} THEN {piece}")
    return "ROUND(CASE " + " ".join(cases) + " END + 1e-9, 4)"


def quality_category(aqi: Column) -> Column:
    """5-level categorical bucketing of AQI; NULL → 'Unknown'.

    Mirrors reference dags/airflow_dag_calidad_aire.py:202-214.
    """
    expr = F.when(aqi.isNull(), F.lit("Unknown"))
    for threshold, label in CATEGORY_THRESHOLDS:
        expr = expr.when(aqi <= F.lit(threshold), F.lit(label))
    return expr.otherwise(F.lit(CATEGORY_TOP))


def quality_category_sql(col: str) -> str:
    """ANSI-SQL twin of :func:`quality_category`."""
    cases = [f"WHEN {col} IS NULL THEN 'Unknown'"]
    for threshold, label in CATEGORY_THRESHOLDS:
        cases.append(f"WHEN {col} <= {threshold} THEN '{label}'")
    cases.append(f"ELSE '{CATEGORY_TOP}'")
    return "CASE " + " ".join(cases) + " END"


def weekday0(ts: Column) -> Column:
    """Day of week, Monday=0 … Sunday=6 (matches pandas ``dt.dayofweek``,
    reference dags/airflow_dag_calidad_aire.py:222)."""
    return F.weekday(ts)


WEEKDAY0_SQL = "(ISODOW({col}) - 1)"


def is_weekend(ts: Column) -> Column:
    """1 when Saturday/Sunday (reference dag:223)."""
    return weekday0(ts).isin(5, 6).cast("int")


def is_rush_hour(ts: Column) -> Column:
    """1 during 7-9 h and 17-19 h traffic peaks (reference dag:224)."""
    return F.hour(ts).isin(*RUSH_HOURS).cast("int")


RUSH_HOUR_SQL = "CASE WHEN HOUR({col}) IN (7,8,9,17,18,19) THEN 1 ELSE 0 END"


def pollution_index(pm25: Column, pm10: Column, no2: Column, co: Column) -> Column:
    """Weighted composite pollution index (reference dag:229-234)."""
    return r4(
        (pm25 / F.lit(50.0)) * 0.3
        + (pm10 / F.lit(100.0)) * 0.3
        + (no2 / F.lit(100.0)) * 0.2
        + (co / F.lit(2.0)) * 0.2
    )
