"""Structured Streaming job (SURVEY §2 #38, #40f).

The reference's "real-time alternative" is a 15-minute Airflow cron
(README §Scheduling). Spark-first that is a file-source stream
(:func:`read_events_stream`) driven into one exactly-once
``foreachBatch`` sink: the incremental daily rollup
(:func:`run_incremental_rollup`, the ``stream_ingest`` benchmark
workload). Each at-least-once epoch is made exactly-once by idempotent
dynamic-partition overwrites. Tests drive it with the file source and
kill the query at a ``_crash_point`` site to assert replay convergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import scoped_conf

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

# Test-only crash injection (round-5 VERDICT #4): the crash-replay
# pytests set this to a callable invoked at a named point inside the
# rollup sink's foreachBatch; raising there kills the RUNNING query
# mid-epoch (foreachBatch runs on the driver, so the exception fails the
# streaming query like any sink crash), after which the test restarts
# from the same checkpoint and asserts convergence. No-op in production.
_test_crash_hook = None


def _crash_point(site: str, batch_id: int) -> None:
    if _test_crash_hook is not None:
        _test_crash_hook(site, batch_id)


def _hadoop_fs(spark: SparkSession, root: str):
    """The Hadoop FileSystem that holds ``root``."""
    return spark._jvm.org.apache.hadoop.fs.Path(root).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )


def read_events_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """#38 — schema'd file-source stream (one file per micro-batch in
    tests; swap for kafka/kinesis in production — same downstream plan)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def incremental_rollup_sink(spark, staged_dir: str, rollup_dir: str):
    """#40f — streaming ≫ incremental-rollup unification: foreachBatch
    drives operators/incremental.py's dynamic-partition-overwrite daily
    rollup, epoch-replay-safe.

    The staged history is the rollup's inputs
    (operators/incremental.ROLLUP_INPUTS: ``user_id`` and ``value``)
    under ``date=<d>/batch_id=<epoch>/``, where ``d`` is the rollup's own
    key (operators/incremental.event_date, in the session time zone);
    like the rollup, a staged root must keep one session time zone. Per
    micro-batch, on the batch's own session, three Spark jobs:

    1. stage the batch with one partitioned write under dynamic
       partition overwrite, so a replayed epoch rewrites exactly the
       ``(date, epoch)`` directories it wrote and never appends. Rows
       are sorted by ``(date, user_id, value)`` within each partition, a
       total order over the staged columns, so a redelivered epoch
       stages the same rows in the same order, with no exchange; files
       are zstd without dictionary encoding (sorted ids compress smaller
       as plain values). An ``Observation`` on this write yields the
       touched dates, so collecting them costs no job;
    2. open the touched dates' ``date=<d>`` directories with the schema
       ``user_id, value, date`` (no inference job; the date is the
       partition value, not re-derived), and
    3. recompute those dates' rollup partitions and
       dynamic-partition-overwrite only them
       (operators/incremental.incremental_daily_update; two jobs under
       AQE).

    Because the staged set — not the batch — is the aggregation input,
    late rows for an old date just add a ``batch_id`` directory under
    that date and the next recompute folds them in (no all-rows-per-date
    contract on any single batch), and an epoch replay recomputes
    byte-identical partition contents: exactly-once END-TO-END on an
    at-least-once foreachBatch. Rows with a NULL ``ts`` have no date:
    they are staged but never read. History staged with more columns
    (all of ``EVENTS_SCHEMA``, as before the staged rows were narrowed)
    reads through the same schema.

    A ``staged_dir`` that holds top-level ``batch_id=N`` directories
    from an older, unpartitioned layout raises ``ValueError``: those
    rows would never be read again, so the rollup would silently lose
    them."""
    from ..operators import incremental

    legacy = _hadoop_fs(spark, staged_dir).globStatus(
        spark._jvm.org.apache.hadoop.fs.Path(f"{staged_dir}/batch_id=*")
    )
    if legacy:
        raise ValueError(
            f"{legacy[0].getPath()} is staged in the old batch_id=N layout; "
            "the rollup sink needs a staged root of date=<d>/batch_id=N dirs"
        )
    inputs = incremental.ROLLUP_INPUTS

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch runs in a clone of the query's session: reads,
        # writes and confs go on the batch's own session, so no conf of
        # the caller's session changes while the query runs
        session = batch_df.sparkSession
        # observe before the sort: over an observation, the planned
        # write swaps this sort for its own (date, batch_id) one
        observed, obs = incremental.observe_dates(batch_df, incremental.event_date())
        # a string batch_id names the same directory, and unlike an int
        # literal it is not inlined into the generated code, so a tick
        # reuses the previous tick's compiled classes
        staging = (
            observed.select(incremental.event_date().alias("date"), *inputs)
            .withColumn("batch_id", F.lit(str(batch_id)))
            .sortWithinPartitions("date", *inputs)
        )
        with scoped_conf(session, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
            staging.write.mode("overwrite").partitionBy("date", "batch_id").option(
                "compression", "zstd"
            ).option("parquet.enable.dictionary", "false").parquet(staged_dir)
        _crash_point("rollup:post_stage", batch_id)
        dates = obs.get["dates"]
        if not dates:
            return
        schema = T.StructType([batch_df.schema[c] for c in inputs]).add("date", T.StringType())
        staged = (
            session.read.schema(schema)
            .option("basePath", staged_dir)
            .parquet(*[f"{staged_dir}/date={d}" for d in dates])
        )
        incremental.incremental_daily_update(session, staged, rollup_dir)

    return write_batch


def run_incremental_rollup(
    stream_df: DataFrame, staged_dir: str, rollup_dir: str, checkpoint_dir: str
):
    """Wire an event stream into the incremental-rollup sink."""
    spark = stream_df.sparkSession
    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(incremental_rollup_sink(spark, staged_dir, rollup_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
