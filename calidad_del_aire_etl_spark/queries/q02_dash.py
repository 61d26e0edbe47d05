"""Dashboard analytics (SURVEY §2 #13-18) — the six registered dashboard
queries. Four of them (KPIs, station compare, hourly pattern,
correlation matrix) are derivations of one grouping-sets pass,
:func:`events_cells`; ``plans.dashboard`` shares a single pass among
all four through :data:`CELL_PANELS`."""

from __future__ import annotations

from collections.abc import Sequence

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
# Dashboard analytics (SURVEY §2 #13-18) — reference dashboard_calidad_aire.py
# ---------------------------------------------------------------------------

from ..operators import analytics  # noqa: E402

_EVENT_TYPES = ["purchase", "view", "click", "error", "signup"]
_CORR_TYPES = ["purchase", "view", "click", "error"]


def events_cells(spark: SparkSession, sf_dir: str, sets: Sequence[Sequence[str]]) -> DataFrame:
    """The events table's :func:`analytics.dashboard_cells` for ``sets``."""
    ev = load(spark, sf_dir, "events")
    return analytics.dashboard_cells(
        ev, "ts", "user_id", "value", "event_type", _EVENT_TYPES, sets
    )


def _corr_matrix(cells: DataFrame) -> DataFrame:
    return analytics.corr_matrix_long(
        analytics.group_day_type_means(cells, _CORR_TYPES),
        [f"m_{t}" for t in _CORR_TYPES],
    )


# The panels derived from events_cells: name -> (the grouping sets the
# panel reads, its derivation). Each registered query builds the cells
# of its own sets; plans.dashboard builds the union once for all four.
CELL_PANELS = {
    "dash_kpis": (
        (analytics.DATE, analytics.GROUP),
        lambda cells: analytics.kpis(cells, unhealthy_threshold=82.0),
    ),
    "dash_station_compare": (
        (analytics.GROUP,),
        lambda cells: analytics.group_compare(cells, "user_id", _EVENT_TYPES),
    ),
    "dash_hourly_pattern": ((analytics.HOUR,), analytics.hourly_pattern),
    "dash_corr_matrix": ((analytics.GROUP_DATE,), _corr_matrix),
}


def _cell_panel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    sets, derive = CELL_PANELS[name]
    return derive(events_cells(spark, sf_dir, sets))


@register(
    "dash_kpis",
    analytics.kpis_sql("events", "ts", "user_id", "value", unhealthy_threshold=82.0),
)
def q_dash_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #13 — KPI row (ref dashboard:81-93)."""
    return _cell_panel(spark, sf_dir, "dash_kpis")


@register(
    "dash_rolling_mean",
    """
    SELECT event_id, user_id, value,
           ROUND(AVG(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS rolling_mean
    FROM events
    """,
)
def q_dash_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #14 — trailing 6-row rolling mean (ref dashboard:110-131)."""
    ev = load(spark, sf_dir, "events")
    out = analytics.rolling_mean(
        ev, "ts", "user_id", "value", window_rows=6, order_tiebreak=["event_id"]
    )
    return out.select("event_id", "user_id", "value", "rolling_mean")


@register(
    "dash_dow_distribution",
    """
    SELECT CAST(ISODOW(ts) - 1 AS INTEGER) AS day_of_week,
           ROUND(AVG(value) + 1e-9, 4) AS value_mean,
           ROUND(STDDEV_SAMP(value) + 1e-9, 4) AS value_std,
           ROUND(quantile_cont(value, 0.25) + 1e-9, 4) AS q1,
           ROUND(quantile_cont(value, 0.5) + 1e-9, 4) AS median,
           ROUND(quantile_cont(value, 0.75) + 1e-9, 4) AS q3,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
    """,
)
def q_dash_dow_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #15 — day-of-week distribution (ref dashboard:146-163)."""
    ev = load(spark, sf_dir, "events")
    return analytics.dow_distribution(ev, "ts", "value")


@register(
    "dash_station_compare",
    """
    SELECT user_id,
           ROUND(AVG(value) + 1e-9, 4) AS value_mean,
           ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END) + 1e-9, 4) AS mean_purchase,
           ROUND(AVG(CASE WHEN event_type = 'view' THEN value END) + 1e-9, 4) AS mean_view,
           ROUND(AVG(CASE WHEN event_type = 'click' THEN value END) + 1e-9, 4) AS mean_click,
           ROUND(AVG(CASE WHEN event_type = 'error' THEN value END) + 1e-9, 4) AS mean_error,
           ROUND(AVG(CASE WHEN event_type = 'signup' THEN value END) + 1e-9, 4) AS mean_signup
    FROM events GROUP BY user_id
    """,
)
def q_dash_station_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #16 — per-group multi-metric comparison (ref dashboard:167-192)."""
    return _cell_panel(spark, sf_dir, "dash_station_compare")


@register(
    "dash_hourly_pattern",
    """
    SELECT CAST(HOUR(ts) AS INTEGER) AS hour,
           ROUND(AVG(value) + 1e-9, 4) AS value_mean,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CASE WHEN HOUR(ts) IN (7,8,9,17,18,19) THEN 1 ELSE 0 END AS INTEGER)
             AS is_rush_hour
    FROM events GROUP BY 1, 4
    """,
)
def q_dash_hourly_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #17 — hour-of-day profile (ref dashboard:196-219)."""
    return _cell_panel(spark, sf_dir, "dash_hourly_pattern")


_CORR_PIVOT_SQL = """
  SELECT user_id, CAST(ts AS DATE) AS d,
         ROUND(AVG(CASE WHEN event_type = 'purchase' THEN value END) + 1e-9, 4) AS m_purchase,
         ROUND(AVG(CASE WHEN event_type = 'view' THEN value END) + 1e-9, 4) AS m_view,
         ROUND(AVG(CASE WHEN event_type = 'click' THEN value END) + 1e-9, 4) AS m_click,
         ROUND(AVG(CASE WHEN event_type = 'error' THEN value END) + 1e-9, 4) AS m_error
  FROM events GROUP BY 1, 2
"""

_CORR_PAIRS = [
    ("m_purchase", "m_view"),
    ("m_purchase", "m_click"),
    ("m_purchase", "m_error"),
    ("m_view", "m_click"),
    ("m_view", "m_error"),
    ("m_click", "m_error"),
]


@register(
    "dash_corr_matrix",
    "WITH p AS ({pivot}) SELECT col_a, col_b, corr FROM (\n".format(pivot=_CORR_PIVOT_SQL)
    + "\nUNION ALL\n".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, ROUND(CORR({a}, {b}) + 1e-9, 4) AS corr FROM p"
        for a, b in _CORR_PAIRS
    )
    + "\n)",
)
def q_dash_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #18 — Pearson correlation matrix, long form
    (ref dashboard:223-243). Metrics are the day×station conditional
    means of each event type (the engine's pivot of the reference's
    pollutant columns)."""
    return _cell_panel(spark, sf_dir, "dash_corr_matrix")
