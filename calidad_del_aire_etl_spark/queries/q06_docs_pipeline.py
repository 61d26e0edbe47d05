"""Second flagship: the LLM training-data pipeline end-to-end — registered queries, split out of registry.py
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
from ..operators import dedup  # noqa: F401
from ..operators import text  # noqa: F401

# ---------------------------------------------------------------------------
# Second flagship: the LLM training-data pipeline composed end-to-end —
# quality scoring → language ID → quality filter → exact dedup → near-dup
# cluster resolution → per-language corpus stats, as ONE lazy plan.
# ---------------------------------------------------------------------------

_DOCS_PIPE_SQL = f"""
WITH q AS ({text.quality_score_sql("documents", "doc_id", "text")}),
l AS ({text.lang_id_sql("documents", "doc_id", "text")}),
filt AS (
  SELECT d.doc_id, d.text, l.detected_lang, q.quality_score, q.n_words,
         md5(d.text) AS h
  FROM documents d
  JOIN q ON d.doc_id = q.doc_id
  JOIN l ON d.doc_id = l.doc_id
  WHERE q.quality_score >= 0.45
),
flagged AS (
  SELECT *, CASE WHEN ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) = 1
                 THEN 1 ELSE 0 END AS is_exact
  FROM filt
),
survivors AS (SELECT doc_id, text FROM flagged WHERE is_exact = 1),
cc AS ({dedup.resolve_duplicate_clusters_sql(
    "survivors",
    "doc_id",
    dedup.jaccard_pairs_sql(
        "survivors", "doc_id", "text", n=3, threshold=0.5, max_doc_freq=128
    ),
)})
SELECT f.detected_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f.is_exact) AS BIGINT) AS n_exact_unique,
       CAST(SUM(COALESCE(cc.is_canonical, 0)) AS BIGINT) AS n_canonical,
       ROUND(AVG(f.quality_score) + 1e-9, 4) AS avg_quality,
       ROUND(AVG(CAST(f.n_words AS DOUBLE)) + 1e-9, 4) AS avg_words
FROM flagged f LEFT JOIN cc ON f.doc_id = cc.doc_id
GROUP BY 1
"""


@register("docs_full_pipeline", _DOCS_PIPE_SQL)
def q_docs_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data flagship: quality → lang-ID → filter → exact dedup →
    near-dup connected components → per-language corpus stats."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    df = text.quality_score(docs, "text")
    df = text.lang_scores(df, "text")
    df = df.withColumn("detected_lang", text.lang_pick())
    filt = df.filter(F.col("quality_score") >= 0.45).select(
        "doc_id", "text", "detected_lang", "quality_score", "n_words"
    )
    hashed = filt.withColumn("h", F.md5(F.encode(F.col("text"), "UTF-8")))
    w = Window.partitionBy("h").orderBy("doc_id")
    # persisted (not checkpointed): referenced by the pair generation,
    # the CC vertex seed, and the final stats join — without this the
    # quality+lang subtree (the expensive part) is evaluated three
    # times. persist keeps the InMemoryRelation's size statistics, which
    # the candidate-join planning needs (a checkpoint's LogicalRDD
    # reports unknown stats and the small-side joins stop broadcasting:
    # measured +75% on this query). The plan-size bound comes from the
    # CC resolver checkpointing its converged labels instead
    # (operators/dedup.py) — that is where the formatted plan ballooned.
    flagged = hashed.withColumn(
        "is_exact", (F.row_number().over(w) == 1).cast("int")
    ).persist()
    survivors = flagged.filter(F.col("is_exact") == 1).select("doc_id", "text")
    # max_doc_freq: at corpus scale a stopword shingle shared by many docs
    # creates a quadratic self-join island; the broadcast anti-join guard
    # (dedup.jaccard_pairs) drops it before the pair join. Mirrored exactly
    # in the DuckDB oracle, so parity holds at any SF.
    pairs = dedup.jaccard_pairs(
        survivors, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=128
    )
    cc = dedup.resolve_duplicate_clusters(survivors, "doc_id", pairs)
    out = flagged.join(cc.select("doc_id", "is_canonical"), "doc_id", "left")
    return out.groupBy("detected_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("is_exact").cast("bigint").alias("n_exact_unique"),
        F.sum(F.coalesce(F.col("is_canonical"), F.lit(0)))
        .cast("bigint")
        .alias("n_canonical"),
        r4(F.avg("quality_score")).alias("avg_quality"),
        r4(F.avg(F.col("n_words").cast("double"))).alias("avg_words"),
    )


@register(
    "skew_salted_join",
    """
    WITH dim AS (
      SELECT event_type, ROUND(AVG(value) + 1e-9, 4) AS type_mean
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value - d.type_mean + 1e-9, 4) AS deviation
    FROM events e JOIN dim d ON e.event_type = d.event_type
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #24b — skew-safe salted join: events fan out on
    (event_type, salt); event_type has ~5 distinct values, the worst-case
    skew shape for a shuffle join. Result identical to the plain join."""
    ev = load(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(r4(F.avg("value")).alias("type_mean"))
    joined = general.salted_join(ev, dim, "event_type", "event_id", num_salts=8)
    return joined.select(
        "event_id", "event_type", r4(F.col("value") - F.col("type_mean")).alias("deviation")
    )


@register(
    "asof_join_purchases",
    """
    WITH u AS (
      SELECT user_id, ts, event_id, value, 1 AS is_left, CAST(NULL AS DOUBLE) AS rv
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, event_id, NULL, 0, value
      FROM events WHERE event_type = 'purchase'
    ), w AS (
      SELECT *, LAST_VALUE(rv IGNORE NULLS) OVER (
        PARTITION BY user_id ORDER BY ts, is_left, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
      FROM u
    )
    SELECT event_id, user_id, ts, value, last_purchase_value
    FROM w WHERE is_left = 1
    """,
)
def q_asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #23b — as-of join: each click picks the user's most
    recent purchase value at or before the click. Union-then-window, one
    shuffle (no native ASOF in Spark; this is the scalable shape)."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = general.asof_join(
        clicks,
        purchases,
        key_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        out_col="last_purchase_value",
        tiebreak_col="event_id",
    )
    return out.select("event_id", "user_id", "ts", "value", "last_purchase_value")


@register(
    "etl_rollup_multigrain",
    """
    SELECT COALESCE(CAST(month AS VARCHAR), 'ALL') AS month,
           COALESCE(CAST(d AS VARCHAR), 'ALL') AS date,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(value) + 1e-9, 4) AS value_mean
    FROM (SELECT MONTH(ts) AS month, CAST(ts AS DATE) AS d, value FROM events)
    GROUP BY ROLLUP(month, d)
    """,
)
def q_etl_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #10b — hierarchical rollup (month → date → grand total)
    in ONE aggregation pass via GROUP BY ROLLUP, instead of three
    separate scans for daily/monthly/total grains."""
    ev = load(spark, sf_dir, "events").select(
        F.month("ts").alias("month"), F.to_date("ts").alias("d"), "value"
    )
    out = ev.rollup("month", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        r4(F.avg("value")).alias("value_mean"),
    )
    return out.select(
        F.coalesce(F.col("month").cast("string"), F.lit("ALL")).alias("month"),
        F.coalesce(F.col("d").cast("string"), F.lit("ALL")).alias("date"),
        "n",
        "value_mean",
    )


@register(
    "dash_trend_slope",
    """
    SELECT user_id,
           CASE WHEN den = 0 THEN NULL
                ELSE ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) * 864.0
                           + 1e-9, 4) END AS slope_per_day,
           CASE WHEN den = 0 THEN NULL
                WHEN deny = 0 THEN 1.0
                ELSE ROUND((CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
                           / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE))
                           + 1e-9, 4) END AS r2,
           CAST(n AS BIGINT) AS n
    FROM (
      SELECT user_id, n,
             n*sty - st*sy AS num,
             n*stt - st*st AS den,
             n*syy - sy*sy AS deny
      FROM (
        SELECT user_id,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(t) AS HUGEINT) AS st,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(t*y) AS HUGEINT) AS sty,
               CAST(SUM(t*t) AS HUGEINT) AS stt,
               CAST(SUM(y*y) AS HUGEINT) AS syy
        FROM (
          SELECT user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) - 1704067200 AS t,
                 CAST(floor(value*100 + 0.5) AS BIGINT) AS y
          FROM events
        ) GROUP BY 1
      )
    )
    """,
)
def q_dash_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #18b — per-station least-squares trend: slope of value
    over time (units/day) + fit quality. Single partial-aggregating
    groupBy; the sums are algebraic, so map-side combine applies and
    the shuffle carries one row per station.

    Exact-integer regression (r12): the native regr_slope/regr_r2
    accumulate co-moments in engine-specific orders, and with
    epoch-second x-values (~1.7e9) the cancellation noise exceeds the
    1e-9 rounding nudge — the full-registry sf1 sweep caught 30
    stations whose slope straddled a 4th-decimal boundary (0.2038 vs
    0.2037). Both engines now compute Σt, Σy, Σty, Σt², Σy² as EXACT
    integer sums (t = whole seconds since 2024-01-01 — floor on BOTH
    engines: ts carries sub-second parts, and DuckDB's double→BIGINT
    cast ROUNDS where Spark's unix_timestamp truncates, a 37-second
    Σt skew on the first try; y = value in cents; per-row products fit
    int64, group sums ride decimal(38)/HUGEINT), combine them exactly,
    and convert the SAME integers to double for the final division —
    identical up to the integer→double conversion itself (Spark's
    decimal(38)→double is correctly rounded; DuckDB's HUGEINT→double
    composes upper·2^64 + lower in double arithmetic, so co-moments
    past 2^53 may differ 1 ulp — relative ~1e-16, absorbed by the 1e-9
    nudge). Slope edge semantics follow
    the SQL-standard regr_* NULLs: den=0 (zero time variance) → NULL;
    deny=0 with den≠0 → r2 = 1.0 (the Postgres/DuckDB convention).
    864.0 = 86400 s/day ÷ 100 cents/unit."""
    ev = load(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    t = (F.unix_timestamp("ts") - F.lit(1704067200)).cast("bigint")
    y = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    agg = (
        ev.select("user_id", t.alias("t"), y.alias("y"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("t").cast(d38).alias("st"),
            F.sum("y").cast(d38).alias("sy"),
            F.sum((F.col("t") * F.col("y")).cast(d38)).alias("sty"),
            F.sum((F.col("t") * F.col("t")).cast(d38)).alias("stt"),
            F.sum(F.col("y") * F.col("y")).cast(d38).alias("syy"),
        )
    )
    nD = F.col("n").cast(d38)
    num = nD * F.col("sty") - F.col("st") * F.col("sy")
    den = nD * F.col("stt") - F.col("st") * F.col("st")
    deny = nD * F.col("syy") - F.col("sy") * F.col("sy")
    numd, dend, denyd = (c.cast("double") for c in (num, den, deny))
    slope = F.when(den == 0, F.lit(None).cast("double")).otherwise(
        r4(numd / dend * F.lit(864.0))
    )
    r2 = (
        F.when(den == 0, F.lit(None).cast("double"))
        .when(deny == 0, F.lit(1.0))
        .otherwise(r4((numd * numd) / (dend * denyd)))
    )
    return agg.select(
        "user_id",
        slope.alias("slope_per_day"),
        r2.alias("r2"),
        F.col("n"),
    )


@register(
    "etl_anomaly_flags",
    """
    SELECT event_id, user_id, value,
           ROUND(z + 1e-9, 4) + 0.0 AS zscore,
           CAST(CASE WHEN ABS(z) > 3 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
    FROM (
      SELECT event_id, user_id, value,
             (value - AVG(value) OVER (PARTITION BY user_id))
               / (STDDEV_SAMP(value) OVER (PARTITION BY user_id)) AS z
      FROM events
    )
    """,
)
def q_etl_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #2b — per-station z-score anomaly flagging (the
    analytic cousin of the reference's IQR clipping, dag:170-177):
    one window shuffle on the group key, flags |z| > 3.

    Both sides add ``+ 0.0`` after the round: IEEE says −0.0 + 0.0 =
    +0.0, which canonicalizes the negative zeros DuckDB's ROUND emits
    for tiny negative z (Spark's Round never does) — the sf1 sweep
    caught 30 rows hashing as '-0.0' vs '0.0', numerically equal."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "value",
        (r4(z) + F.lit(0.0)).alias("zscore"),
        # when/otherwise, not a bare boolean cast: a NULL value has a
        # NULL z, and (NULL > 3)::int would emit NULL where the twin's
        # CASE falls to ELSE 0 — a NULL reading is "not anomalous",
        # matching both engines (caught by the NULL-planted sweep).
        F.when(F.abs(z) > 3, F.lit(1)).otherwise(F.lit(0)).cast("int")
        .alias("is_anomaly"),
    )


@register(
    "etl_upsert_merge",
    """
    SELECT event_id, user_id, event_type, value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY src DESC) AS rn
      FROM (
        SELECT event_id, user_id, event_type, value, 0 AS src
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id, user_id, event_type,
               ROUND(value * 2 + 1e-9, 4) AS value, 1 AS src
        FROM events WHERE event_id % 5 = 0
      )
    ) WHERE rn = 1
    """,
)
def q_etl_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2 #3b — CDC apply: a deterministic updates slice (doubled
    values on event_id % 5 == 0) merged over the base; updates win on
    collision, new keys insert."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = ev.filter(F.col("event_id") % 2 == 0)
    updates = ev.filter(F.col("event_id") % 5 == 0).withColumn(
        "value", r4(F.col("value") * 2)
    )
    return cleaning.upsert(base, updates, key_cols=["event_id"])


