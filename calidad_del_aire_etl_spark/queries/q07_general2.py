"""General analytics batch 2: TPC-H shapes, range join, funnel — registered queries, split out of registry.py
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
from ..operators import general  # noqa: F401

# ---------------------------------------------------------------------------
# General analytics, batch 2: Q6/Q10 shapes, range join, funnel, exact
# percentiles, SCD2 history build (SURVEY §2 #19b-24e).
# ---------------------------------------------------------------------------


@register(
    "tpch_q6_forecast",
    general.Q6_SQL.format(
        date_lo="1996-01-01", date_hi="1997-01-01",
        disc_lo=0.05, disc_hi=0.07, qty_max=24.0,
    ),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #19b — TPC-H Q6-shape scan-filter-aggregate: all four
    predicates push into the parquet scan, zero joins, one global sum."""
    return general.q6_forecast_revenue(load(spark, sf_dir, "lineitem"))


@register(
    "tpch_q10_returned",
    general.Q10_SQL.format(date_lo="1996-01-01", date_hi="1996-04-01", topn=20),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #19c — TPC-H Q10-shape returned-revenue ranking: returns
    filtered at the scan, customer broadcast, one fact shuffle."""
    return general.q10_returned_items(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
    )


from ..operators import tpch2  # noqa: E402


@register("tpch_q4_priority", tpch2.Q4_SQL.format(date_lo="1996-01-01", date_hi="1996-04-01"))
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS late-shipment count per priority."""
    return tpch2.q4_priority(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        "1996-01-01",
        "1996-04-01",
    )


@register("tpch_q7_volume", tpch2.Q7_SQL.format(a="NATION_3", b="NATION_7"))
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — nation-pair shipping volume by year."""
    return tpch2.q7_volume(
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        "NATION_3",
        "NATION_7",
    )


@register(
    "tpch_q8_mktshare",
    tpch2.Q8_SQL.format(region="ASIA", target="NATION_3", ptype="PROMO"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — one nation's market share of a region's PROMO
    volume, per year."""
    return tpch2.q8_market_share(
        load(spark, sf_dir, "region"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        region_name="ASIA",
        target_nation="NATION_3",
        p_type="PROMO",
    )


@register(
    "tpch_q12_priority_ship",
    tpch2.Q12_SQL.format(date_lo="1997-01-01", date_hi="1998-01-01"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — high/low priority line counts per line status."""
    return tpch2.q12_priority_by_status(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        "1997-01-01",
        "1998-01-01",
    )


@register(
    "tpch_q14_promo",
    tpch2.Q14_SQL.format(date_lo="1997-01-01", date_hi="1997-02-01"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — promo revenue percentage for one month."""
    return tpch2.q14_promo_share(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        "1997-01-01",
        "1997-02-01",
    )


@register(
    "tpch_q15_top_supplier",
    tpch2.Q15_SQL.format(date_lo="1997-01-01", date_hi="1997-04-01"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — argmax supplier by quarterly revenue
    (scalar-max broadcast, no global window)."""
    return tpch2.q15_top_supplier(
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "lineitem"),
        "1997-01-01",
        "1997-04-01",
    )


@register(
    "tpch_q16_supplier_cnt",
    tpch2.q16_sql("Brand#12", "ECONOMY", [1, 5, 10, 15, 20, 25, 30, 35]),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — distinct suppliers per (brand,type,size) with
    broadcast anti-join blocklist."""
    return tpch2.q16_supplier_counts(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "lineitem"),
        brand_not="Brand#12",
        type_not="ECONOMY",
        sizes=[1, 5, 10, 15, 20, 25, 30, 35],
    )


@register("tpch_q17_small_qty", tpch2.Q17_SQL.format(brand="Brand#23"))
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — below-half-average-quantity revenue (decorrelated
    per-part AVG subquery)."""
    return tpch2.q17_small_quantity(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part"), "Brand#23"
    )


@register("tpch_q18_large_orders", tpch2.Q18_SQL.format(min_qty=300))
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — orders with total quantity > 300, with customer
    context (HAVING subquery broadcast back)."""
    return tpch2.q18_large_orders(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        min_qty=300,
    )


@register("tpch_q19_disjunctive", tpch2.Q19_SQL)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs disjunctive predicate revenue."""
    return tpch2.q19_disjunctive(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


@register("tpch_q22_inactive", tpch2.Q22_SQL.format(recent_date="2001-01-01"))
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — wealthy customers with no recent orders, per
    nation (scalar-subquery threshold + anti-join)."""
    return tpch2.q22_inactive_wealthy(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        recent_date="2001-01-01",
    )


@register(
    "range_join_incidents",
    general.RANGE_JOIN_SQL.format(trigger_type="error", win_us=60 * 60 * 1_000_000),
)
def q_range_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23c — equi-key + time-range interval join: per error
    event, the same user's activity in the following hour. Hash join on
    the equi-key with the range predicate as a post-join filter."""
    return general.range_join_incidents(
        load(spark, sf_dir, "events"), trigger_type="error", window_minutes=60
    )


@register(
    "window_funnel",
    general.FUNNEL_SQL.format(s1="view", s2="click", s3="purchase"),
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23d — ordered funnel view→click→purchase with strictly
    increasing timestamps; per-user sorted-array state, one shuffle."""
    return general.window_funnel(load(spark, sf_dir, "events"))


@register("percentile_profile", general.percentile_sql((0.25, 0.5, 0.75, 0.95)))
def q_percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #15b — per-type exact percentile profile (p25/50/75/95);
    percentile_approx is the drop-in sketch at 100 TB."""
    return general.percentile_profile(load(spark, sf_dir, "events"))


@register("scd2_build", general.SCD2_SQL)
def q_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #3c — SCD Type-2 versioned dimension from the event
    change log: lead() closes each validity interval, latest row flagged
    current."""
    return general.scd2_from_changelog(load(spark, sf_dir, "events"))


