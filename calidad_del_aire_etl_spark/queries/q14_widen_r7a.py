"""Widening batch (r7): CDC diff, skew report, backlog, Zipf — registered queries, split out of registry.py
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
from ..operators import analytics2  # noqa: F401
from ..operators import text  # noqa: F401
from ..operators import validation  # noqa: F401

# ---------------------------------------------------------------------------
# Round-7 additions: CDC snapshot diff, shuffle-key skew profiler,
# Zipf corpus-health fit, open-order backlog series.
# ---------------------------------------------------------------------------

from ..operators import incremental  # noqa: E402

# Two deterministic "versions" of orders derived from the same table so
# the diff has all three change classes: v_old drops orderkey%17==3
# (those become `added`), v_new drops %19==5 (`deleted`) and reprices
# %7==0 rows by +5 % (`changed`).
_SNAP_OLD_SQL = (
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 17 <> 3"
)
_SNAP_NEW_SQL = (
    "SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 "
    "THEN ROUND(o_totalprice * 1.05 + 1e-9, 2) ELSE o_totalprice END "
    "AS o_totalprice FROM orders WHERE o_orderkey % 19 <> 5"
)


@register(
    "snapshot_diff_orders",
    incremental.snapshot_diff_sql(
        _SNAP_OLD_SQL, _SNAP_NEW_SQL, ["o_orderkey"], ["o_totalprice"]
    ),
)
def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #14c — keyed snapshot diff (CDC reconciliation): which
    rows were added / deleted / changed between two versions of the
    orders table (operators/incremental.py:snapshot_diff). One full
    outer sort-merge join; both derived snapshots share the scan and
    Catalyst reuses the exchange."""
    orders = load(spark, sf_dir, "orders")
    v_old = orders.where(F.col("o_orderkey") % 17 != 3).select(
        "o_orderkey", "o_totalprice"
    )
    v_new = orders.where(F.col("o_orderkey") % 19 != 5).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.round(F.col("o_totalprice") * 1.05 + F.lit(1e-9), 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return incremental.snapshot_diff(
        v_old, v_new, ["o_orderkey"], ["o_totalprice"]
    )


@register(
    "data_skew_report",
    validation.skew_report_sql("lineitem", "l_partkey", top_n=20),
)
def q_data_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #11g — shuffle/join-key skew profiler: top-20 heavy
    keys of lineitem.l_partkey with table share and multiple-of-mean
    (operators/validation.py:skew_report) — the pre-flight readout for
    salting / AQE-skew-join decisions."""
    li = load(spark, sf_dir, "lineitem")
    return validation.skew_report(li, "l_partkey", top_n=20)


@register(
    "text_zipf_fit",
    text.zipf_fit_sql("documents", "source", "text", top_terms=1000),
)
def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #33h — per-source Zipf-law fit (OLS of log freq vs log
    rank over the top-1000 terms): corpus-health slope per slice
    (operators/text.py:zipf_fit). One (source, token) groupBy; the rank
    window runs on the vocabulary relation only."""
    docs = load(spark, sf_dir, "documents", spread=True)
    return text.zipf_fit(docs, "source", "text", top_terms=1000)


@register("open_order_backlog", analytics2.open_order_backlog_sql())
def q_open_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #31j — open-order backlog series (cumulative opens −
    closes by day, close = last line shipment): the event-sourcing fold
    at calendar grain (operators/analytics2.py:open_order_backlog)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return analytics2.open_order_backlog(orders, li)


