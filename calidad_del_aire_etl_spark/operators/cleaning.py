"""Data-cleaning operators: interpolation, IQR outlier clipping, dedup.

Reference semantics (dags/airflow_dag_calidad_aire.py:156-180) re-expressed
as distributed window/aggregate plans. The reference runs these per 10k-row
pandas chunk on one core; here each operator is a single Spark plan whose
shuffle keys are the group columns, so the work scales with the number of
groups × in-partition sort, not with total rows on one machine.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def locf_fill(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    out_col: str | None = None,
) -> DataFrame:
    """Last-observation-carried-forward NULL fill per group: the
    step-function sibling of linear interpolation (sensor feeds that
    latch their last reading). One shuffle on the group key, one
    in-partition ``last(ignorenulls)`` window pass; leading NULLs stay
    NULL (no observation to carry)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        out_col or value_col, F.last(value_col, ignorenulls=True).over(w)
    )


def resample_spine(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    value_col: str,
    bucket_minutes: int = 15,
) -> DataFrame:
    """Regularized time series: every (group, bucket) slot between each
    group's first and last observation exists in the output — observed
    buckets aggregate their rows, gap buckets emit NULL (ready for
    locf/interpolate downstream).

    Spark shape: per-group min/max (one partial agg) → per-group bucket
    spine via sequence+explode (rows ≈ span/bucket, generated
    distributed, never on the driver) → left join of observed bucket
    aggregates. Both sides are bucket-keyed so the join shuffles on
    (group, bucket) — no range probing."""
    from ..functions import r4

    b_us = bucket_minutes * 60 * 1_000_000
    # integer `div`, not float floor-division — exact at any epoch
    bucketed = df.select(
        F.col(group_col).alias("g"),
        F.expr(f"(unix_micros({ts_col}) div {b_us}) * {b_us}").alias("bucket_us"),
        F.col(value_col).alias("v"),
    )
    observed = bucketed.groupBy("g", "bucket_us").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        r4(F.avg("v")).alias("avg_value"),
    )
    spine = (
        bucketed.groupBy("g")
        .agg(F.min("bucket_us").alias("lo"), F.max("bucket_us").alias("hi"))
        .select(
            "g",
            F.explode(F.expr(f"sequence(lo, hi, {b_us})")).alias("bucket_us"),
        )
    )
    return (
        spine.join(observed, ["g", "bucket_us"], "left")
        .select(
            F.col("g").alias(group_col),
            F.col("bucket_us"),
            F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n_obs"),
            "avg_value",
        )
    )


def resample_spine_sql(
    table: str, ts_col: str, group_col: str, value_col: str, bucket_minutes: int = 15
) -> str:
    b_us = bucket_minutes * 60 * 1_000_000
    return f"""
    SELECT s.{group_col}, s.bucket_us,
           CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
           o.avg_value
    FROM (
      SELECT {group_col},
             unnest(generate_series(lo, hi, {b_us})) AS bucket_us
      FROM (
        SELECT {group_col},
               MIN((epoch_us({ts_col}) // {b_us}) * {b_us}) AS lo,
               MAX((epoch_us({ts_col}) // {b_us}) * {b_us}) AS hi
        FROM {table} GROUP BY 1
      )
    ) s
    LEFT JOIN (
      SELECT {group_col}, (epoch_us({ts_col}) // {b_us}) * {b_us} AS bucket_us,
             CAST(COUNT(*) AS BIGINT) AS n_obs,
             ROUND(AVG({value_col}) + 1e-9, 4) AS avg_value
      FROM {table} GROUP BY 1, 2
    ) o ON s.{group_col} = o.{group_col} AND s.bucket_us = o.bucket_us
    """


def interpolate_linear(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    limit: int = 3,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group positional linear interpolation of NULLs.

    Mirrors reference dag:162-168 (pandas ``interpolate(method='linear',
    limit=3)`` per station): a NULL run between two non-NULL neighbours is
    filled on a straight line by row position; runs longer than ``limit``
    and NULLs at either end of a group stay (partially) unfilled — a NULL
    is filled only if its distance from the previous non-NULL row is at
    most ``limit``.

    Implementation: one shuffle on ``group_cols``; inside each partition
    two ignore-nulls window scans (backward last, forward first) — no
    Python, no iteration.
    """
    out_col = out_col or value_col
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    val = F.col(value_col)

    # Stage 1: materialize row position (window args cannot nest windows).
    staged = df.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__rn_nn", F.when(val.isNotNull(), F.col("__rn"))
    )

    # Second pass orders by the SAME keys as the row_number pass (row
    # order is identical to __rn order by construction), so the physical
    # plan keeps ONE sort: ordering by __rn instead made Spark re-sort
    # the already-sorted partition.
    w_rn = Window.partitionBy(*group_cols).orderBy(*order_cols)
    w_back = w_rn.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = w_rn.rowsBetween(Window.currentRow, Window.unboundedFollowing)

    prev_val = F.last(val, ignorenulls=True).over(w_back)
    prev_rn = F.last(F.col("__rn_nn"), ignorenulls=True).over(w_back)
    next_val = F.first(val, ignorenulls=True).over(w_fwd)
    next_rn = F.first(F.col("__rn_nn"), ignorenulls=True).over(w_fwd)

    rn = F.col("__rn")
    filled = prev_val + (next_val - prev_val) * (
        (rn - prev_rn).cast("double") / (next_rn - prev_rn).cast("double")
    )
    interp = F.when(val.isNotNull(), val).otherwise(
        F.when(
            prev_val.isNotNull()
            & next_val.isNotNull()
            & ((rn - prev_rn) <= F.lit(limit)),
            F.round(filled + F.lit(1e-9), 4),
        )
    )
    return staged.withColumn(out_col, interp).drop("__rn", "__rn_nn")


def interpolate_linear_sql(
    table_sql: str,
    value_col: str,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    limit: int = 3,
    out_col: str | None = None,
    passthrough: Sequence[str] = (),
) -> str:
    """DuckDB-oracle twin of :func:`interpolate_linear` as a CTE-able
    SELECT producing ``passthrough`` columns plus ``out_col``."""
    out_col = out_col or value_col
    part = ", ".join(group_cols)
    order = ", ".join(order_cols)
    rn_w = f"PARTITION BY {part} ORDER BY rn"
    cols = ", ".join(passthrough)
    return f"""
    SELECT {cols}{',' if cols else ''}
      CASE
        WHEN {value_col} IS NOT NULL THEN {value_col}
        WHEN prev_val IS NOT NULL AND next_val IS NOT NULL
             AND (rn - prev_rn) <= {limit}
          THEN ROUND(prev_val + (next_val - prev_val)
                     * CAST(rn - prev_rn AS DOUBLE)
                     / CAST(next_rn - prev_rn AS DOUBLE) + 1e-9, 4)
      END AS {out_col}
    FROM (
      SELECT *,
        LAST_VALUE({value_col} IGNORE NULLS) OVER
          ({rn_w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
        LAST_VALUE(rn_nn IGNORE NULLS) OVER
          ({rn_w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_rn,
        FIRST_VALUE({value_col} IGNORE NULLS) OVER
          ({rn_w} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
        FIRST_VALUE(rn_nn IGNORE NULLS) OVER
          ({rn_w} ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_rn
      FROM (
        SELECT *,
          ROW_NUMBER() OVER (PARTITION BY {part} ORDER BY {order}) AS rn,
          CASE WHEN {value_col} IS NOT NULL THEN
            ROW_NUMBER() OVER (PARTITION BY {part} ORDER BY {order}) END AS rn_nn
        FROM {table_sql}
      )
    )
    """


def iqr_clip(
    df: DataFrame,
    cols: Sequence[str],
    group_cols: Sequence[str] = (),
    k: float = 3.0,
    bounds_over: DataFrame | None = None,
) -> DataFrame:
    """Clip columns to [Q1 − k·IQR, Q3 + k·IQR] using exact percentiles.

    Mirrors reference dag:170-177 (k=3 fences). The reference computes
    quantiles per pandas chunk — an artifact of single-node memory limits;
    the engine computes them over the whole dataset (or per ``group_cols``)
    as a tiny groupBy-percentile relation, broadcast-joined back: the
    fact table is read twice but never shuffled for the bounds.

    ``bounds_over``: compute the fences over a DIFFERENT relation than
    the one being clipped — e.g. clip a deduped subset with bounds from
    the full pre-dedup relation, keeping the reference's
    compute-bounds-then-filter order while letting the clipped side stay
    in its upstream partitioning. When the bounds relation shares a
    subtree with ``df``, Catalyst's ReuseExchange dedupes the shuffle
    between the two branches.
    """
    aggs = []
    for c in cols:
        aggs.append(F.expr(f"percentile({c}, 0.25)").alias(f"__q1_{c}"))
        aggs.append(F.expr(f"percentile({c}, 0.75)").alias(f"__q3_{c}"))
    src = bounds_over if bounds_over is not None else df
    if group_cols:
        bounds = src.groupBy(*group_cols).agg(*aggs)
        joined = df.join(F.broadcast(bounds), on=list(group_cols), how="left")
    else:
        bounds = src.agg(*aggs)
        joined = df.crossJoin(F.broadcast(bounds))

    out = joined
    for c in cols:
        q1, q3 = F.col(f"__q1_{c}"), F.col(f"__q3_{c}")
        lo = q1 - F.lit(k) * (q3 - q1)
        hi = q3 + F.lit(k) * (q3 - q1)
        out = out.withColumn(
            c,
            F.round(F.when(F.col(c) < lo, lo).when(F.col(c) > hi, hi).otherwise(F.col(c)) + F.lit(1e-9), 4),
        )
    return out.drop(*[f"__q{q}_{c}" for c in cols for q in (1, 3)])


def iqr_clip_sql(
    table_sql: str,
    cols: Sequence[str],
    group_cols: Sequence[str] = (),
    k: float = 3.0,
    passthrough: Sequence[str] = (),
) -> str:
    """DuckDB-oracle twin of :func:`iqr_clip` (quantile_cont == Spark's
    exact interpolated ``percentile``)."""
    qcols = ", ".join(
        f"quantile_cont({c}, 0.25) AS __q1_{c}, quantile_cont({c}, 0.75) AS __q3_{c}"
        for c in cols
    )
    clip_exprs = []
    for c in cols:
        lo = f"(__q1_{c} - {k} * (__q3_{c} - __q1_{c}))"
        hi = f"(__q3_{c} + {k} * (__q3_{c} - __q1_{c}))"
        clip_exprs.append(
            f"ROUND(CASE WHEN t.{c} < {lo} THEN {lo} WHEN t.{c} > {hi} THEN {hi} "
            f"ELSE t.{c} END + 1e-9, 4) AS {c}"
        )
    cols_sql = ", ".join(passthrough)
    if group_cols:
        keys = ", ".join(group_cols)
        join = f"LEFT JOIN b ON " + " AND ".join(f"t.{g} = b.{g}" for g in group_cols)
        bounds = f"SELECT {keys}, {qcols} FROM {table_sql} GROUP BY {keys}"
    else:
        join = "CROSS JOIN b"
        bounds = f"SELECT {qcols} FROM {table_sql}"
    return f"""
    WITH b AS ({bounds})
    SELECT {cols_sql}{',' if cols_sql else ''} {', '.join(clip_exprs)}
    FROM {table_sql} t {join}
    """


def dedup_exact(
    df: DataFrame,
    key_cols: Sequence[str],
    tiebreak_cols: Sequence[str],
) -> DataFrame:
    """Keep exactly one row per key, deterministically (first by tiebreak).

    Mirrors reference dag:179-180 (``drop_duplicates(['timestamp',
    'station'])``) but with a defined survivor: pandas keeps the first row
    in file order, which is not reproducible under distribution; the
    engine keeps the row minimal under ``tiebreak_cols`` via one window
    shuffle on the key.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in tiebreak_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert(
    df_base: DataFrame,
    df_updates: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Merge/upsert: updates win over base on key collision, new keys
    insert (CDC apply step). Union + one window shuffle on the key — the
    engine-agnostic MERGE INTO without a table format, usable as the
    per-batch apply in ``foreachBatch`` streaming CDC."""
    tagged = df_base.withColumn("__src", F.lit(0)).unionByName(
        df_updates.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(*key_cols).orderBy(F.col("__src").desc())
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__src", "__rn")
    )


def sensor_gaps(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    max_gap_minutes: int = 120,
) -> DataFrame:
    """Reading-gap report per sensor group (the reference's validation
    story — dag:365-407 — checks global counts; operational monitoring
    needs WHERE the feed went dark): every pair of consecutive readings
    more than ``max_gap_minutes`` apart becomes one gap row
    (group, gap_start, gap_end, gap_minutes).

    Classic islands shape: ONE window (lag over the group's time order)
    — a single shuffle on the group key, no self-join, no spine build.
    State per task is bounded by the group's rows; at 100 TB the window
    partitions by sensor id, the natural parallelism unit.
    """
    from ..functions import r4

    w = Window.partitionBy(group_col).orderBy(F.col(ts_col).asc())
    prev = F.lag(F.col(ts_col)).over(w)
    # integer-micros difference, then ONE double division — bit-identical
    # across engines (no FP timestamp subtraction)
    gap_min = (
        (F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("__prev")))
        / F.lit(60_000_000.0)
    )
    return (
        df.select(F.col(group_col), F.col(ts_col))
        .withColumn("__prev", prev)
        .filter(F.col("__prev").isNotNull())
        .filter(gap_min > max_gap_minutes)
        .select(
            F.col(group_col),
            F.col("__prev").alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            r4(gap_min).alias("gap_minutes"),
        )
    )


def sensor_gaps_sql(
    table: str, group_col: str, ts_col: str, max_gap_minutes: int = 120
) -> str:
    """DuckDB twin of :func:`sensor_gaps` (integer-micros difference,
    one double division — same arithmetic as the Spark side)."""
    return f"""
    SELECT {group_col},
           prev AS gap_start,
           {ts_col} AS gap_end,
           ROUND((epoch_us({ts_col}) - epoch_us(prev)) / 60000000.0 + 1e-9, 4)
             AS gap_minutes
    FROM (
      SELECT {group_col}, {ts_col},
             LAG({ts_col}) OVER (PARTITION BY {group_col} ORDER BY {ts_col} ASC) AS prev
      FROM {table}
    )
    WHERE prev IS NOT NULL
      AND (epoch_us({ts_col}) - epoch_us(prev)) / 60000000.0 > {max_gap_minutes}
    """
