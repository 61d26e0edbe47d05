"""Schema'd readers (SURVEY §2 #41).

Explicit schemas everywhere — schema inference is a full extra pass at
100 TB. Parquet tables carry their schema in the file footers, so
:func:`read_parquet` infers it once and memoizes it per path (see there).
JDBC is gated behind a capability probe since the test image carries no
database drivers.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Session confs that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# path -> (signature, inferred schema); see read_parquet
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def file_signature(spark: SparkSession, path: str) -> tuple | None:
    """What a read of ``path`` depends on: every file under it as
    (name, length, modificationTime), plus the schema inference confs.
    Any rewritten or touched file changes it, so it also keys state
    derived from the table's data. None when the path cannot be listed
    (missing, a glob): the caller then reads as usual and lets Spark
    raise its error."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    try:
        it = hpath.getFileSystem(spark._jsc.hadoopConfiguration()).listFiles(hpath, True)
        files = []
        while it.hasNext():
            st = it.next()
            files.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    except Py4JJavaError:
        return None
    return tuple(sorted(files)), tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def read_parquet(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """The parquet table opener, with a memo of inferred schemas.

    ``spark.read.parquet(path)`` runs a Spark job to read a footer every
    time it infers a schema; a dashboard that reopens one table per
    panel pays that job per panel. So the schema is memoized per path,
    keyed by a signature: each file's (name, length, modificationTime)
    from a recursive Hadoop listing, plus the values of the confs in
    ``_INFERENCE_CONFS``. While the signature holds, the read passes the
    memoized schema (``spark.read.schema(s).parquet``), which starts no
    job. Any added, removed, rewritten or touched file, or a flipped
    conf, is a miss: the schema is inferred as before and replaces that
    path's entry. One entry per path, so the memo grows with the number
    of distinct tables opened, not with the number of reads."""
    sig = file_signature(spark, path)
    hit = _SCHEMAS.get(path)
    if sig is not None and hit is not None and hit[0] == sig:
        df = spark.read.schema(hit[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if sig is not None:
            _SCHEMAS[path] = (sig, df.schema)
    return df.select(*columns) if columns else df


def read_csv(spark: SparkSession, path: str, schema: T.StructType, header: bool = True) -> DataFrame:
    return spark.read.schema(schema).option("header", header).csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_json_with_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Ingest-with-quarantine: PERMISSIVE parse that captures rows the
    schema can't hold into ``_corrupt_record`` instead of failing the
    job — at 100 TB one malformed line must never kill a load. Returns
    (good_rows, quarantined_raw_lines); the quarantine side is the
    replayable dead-letter set."""
    full = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # corrupt-record capture requires materialization before the
        # filter (Spark refuses filters on the raw corrupt column alone).
        # A lazy localCheckpoint materializes on the first action and
        # its blocks go to the ContextCleaner; a cache() here would stay
        # in the CacheManager for the session, one entry per input.
        .localCheckpoint(eager=False)
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad


def read_csv_with_quarantine(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> tuple[DataFrame, DataFrame]:
    """CSV twin of :func:`read_json_with_quarantine`: PERMISSIVE parse,
    malformed lines land in the dead-letter relation instead of failing
    the load. Completes the quarantine story across both text-delimited
    ingest formats (crawl dumps arrive as both)."""
    full = T.StructType(
        schema.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", header)
        .csv(path)
        .localCheckpoint(eager=False)  # see read_json_with_quarantine
    )
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = df.filter(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, bad


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBC source (reference loads to PostgreSQL, dag:323-348). Needs a
    driver jar on the classpath; raises a clear error when absent.
    Integration-tested against embedded Derby (shipped in Spark's jars)
    in tests/test_jdbc.py — round-trip, partitioned parallel read, and
    filter pushdown."""
    try:
        reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.load()
    except Exception as e:  # pragma: no cover - driver genuinely absent
        raise RuntimeError(
            "JDBC source unavailable (no driver jar on the classpath); "
            "add e.g. postgresql.jar via spark.jars"
        ) from e


def read_orc(spark: SparkSession, path: str, columns: list[str] | None = None) -> DataFrame:
    """ORC reader — same pushdown/pruning contract as parquet (ORC
    carries min/max + bloom stripe stats; Spark's OrcScan pushes
    predicates the same way `PushedFilters` shows for parquet)."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def read_text_corpus(spark: SparkSession, path: str, wholetext: bool = False) -> DataFrame:
    """Raw-text corpus ingest for LLM pipelines: one row per line (or
    per file with ``wholetext``), tagged with source file and a
    corpus-stable doc key (md5 of file + offset — reproducible across
    reruns, unlike monotonically_increasing_id which depends on
    partition layout).

    Line splitting happens in the scan (no shuffle); the window for
    line offsets is per-file, bounded by file size — files are the
    natural parallelism unit exactly as at 100 TB."""
    from pyspark.sql import Window

    raw = spark.read.text(path, wholetext=wholetext).select(
        F.input_file_name().alias("source_file"), F.col("value").alias("text")
    )
    if wholetext:
        return raw.select(
            F.md5(F.col("source_file")).alias("doc_key"), "source_file", "text"
        )
    w = Window.partitionBy("source_file").orderBy(F.monotonically_increasing_id())
    return raw.select(
        "source_file",
        (F.row_number().over(w) - 1).cast("bigint").alias("line_no"),
        "text",
    ).select(
        F.md5(F.concat_ws("\x1f", "source_file", "line_no")).alias("doc_key"),
        "source_file",
        "line_no",
        "text",
    )


def _urllib_fetcher(timeout_s: float):
    """Default fetcher: stdlib urllib, imported lazily ON THE EXECUTOR.
    Swap via the ``fetcher`` argument (auth headers, requests.Session,
    a recorded stub in tests)."""

    def fetch(url: str) -> str:
        from urllib.request import urlopen

        with urlopen(url, timeout=timeout_s) as r:  # noqa: S310 — caller-supplied URLs
            return r.read().decode("utf-8")

    return fetch


def read_http_json(
    spark: SparkSession,
    urls: list[str],
    schema: T.StructType,
    fetcher=None,
    timeout_s: float = 30.0,
    max_retries: int = 2,
    retry_backoff_s: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """HTTP-batch extract front door (the reference's production source
    is HTTP APIs — OpenAQ/IQAir, dag:42-44): fan a URL list out to the
    EXECUTORS and fetch there, never on the driver — the driver-side
    `for url in urls: requests.get(...)` loop is the classic
    non-distributed extract.

    Shape: URL DataFrame → repartition (one fetch task per core, so a
    1000-page API backfill parallelizes) → Arrow-batched mapInPandas
    with per-URL retry/backoff and per-row error capture (one dead page
    must not kill the load). Each body is parsed as a JSON ARRAY of
    ``schema`` records and exploded. Returns (records, failures) —
    failures carry (url, error) and are the replayable dead-letter set,
    mirroring read_json_with_quarantine.
    """
    from collections.abc import Iterator

    import pandas as pd

    fetch = fetcher or _urllib_fetcher(timeout_s)
    url_df = spark.createDataFrame([(u,) for u in urls], "url string")
    n = max(1, min(len(urls), spark.sparkContext.defaultParallelism))
    url_df = url_df.repartition(n, "url")

    def do_fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _time

        for pdf in batches:
            bodies, errs = [], []
            for u in pdf["url"]:
                body, err = None, None
                for attempt in range(max_retries + 1):
                    try:
                        body = fetch(u)
                        err = None
                        break
                    except Exception as e:  # noqa: BLE001 — per-URL quarantine
                        err = f"{type(e).__name__}: {e}"
                        if attempt < max_retries and retry_backoff_s:
                            _time.sleep(retry_backoff_s * (2**attempt))
                bodies.append(body)
                errs.append(err)
            yield pd.DataFrame({"url": pdf["url"], "body": bodies, "error": errs})

    # Eager localCheckpoint instead of cache(): the fetch runs exactly once
    # (consumed by both the good and the dead-letter side), and the blocks
    # are released by the ContextCleaner when the DataFrame goes out of
    # scope — a cache() here is never unpersisted and accumulates across
    # repeated extracts in a long-lived session (ADVICE r2).
    fetched = url_df.mapInPandas(
        do_fetch, "url string, body string, error string"
    ).localCheckpoint(eager=True)
    failures = fetched.filter(F.col("error").isNotNull()).select("url", "error")
    records = (
        fetched.filter(F.col("error").isNull())
        .select("url", F.explode(F.from_json("body", T.ArrayType(schema))).alias("rec"))
        .select("url", "rec.*")
    )
    return records, failures


def read_parquet_evolving(
    spark: SparkSession, *paths: str, columns: list[str] | None = None
) -> DataFrame:
    """Schema-evolution reader: union parquet datasets written at
    different schema versions (columns added over time) into one frame
    via ``mergeSchema`` — missing columns surface as NULL instead of
    failing the scan. The production shape for long-lived fact
    directories where day N+1 adds a column day N never had.
    Column pruning still reaches the scan (pass ``columns``)."""
    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    return df.select(*columns) if columns else df
