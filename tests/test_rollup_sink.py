"""streaming.jobs.incremental_rollup_sink called directly on batch
DataFrames: three Spark jobs per micro-batch, a rollup scan bounded by
the touched dates, sorted zstd staging that a redelivered epoch
reproduces, a per-tick cost that stays flat over a long staged history,
exact results over a mixed INT96/TIMESTAMP_MICROS staged history, and a
prompt return on an empty batch."""

from __future__ import annotations

import datetime as dt
import glob
import os
import random
import threading

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from calidad_del_aire_etl_spark import session
from calidad_del_aire_etl_spark.operators import incremental
from calidad_del_aire_etl_spark.streaming import jobs


def _stage_sum(spark, job_ids, metric: str) -> int:
    """``metric`` of the last attempt of every stage of the given jobs,
    summed (``inputRecords``, ``inputBytes``, ``numTasks``)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    total = 0
    for j in job_ids:
        stages = store.job(j).stageIds()
        for k in range(stages.size()):
            total += getattr(store.lastStageAttempt(stages.apply(k)), metric)()
    return total


def _rows_read(spark, job_ids) -> int:
    """Input records over every stage of the given jobs."""
    return _stage_sum(spark, job_ids, "inputRecords")


def _day_batches(spark, n_batches: int):
    """Batch b carries 100 rows of 2024-01-(b+1) plus, from b=1 on, 10
    late rows of the day before. Each batch is one partition, so it
    stages as one file whose ts statistics span the batch's days."""
    batches, eid = [], 0
    for b in range(n_batches):
        rows = []
        for i in range(110 if b else 100):
            eid += 1
            day = b + 1 if i < 100 else b
            ts = dt.datetime(2024, 1, day, i % 24, (7 * i) % 60)
            rows.append((eid, ts, eid % 7, "click", float(eid % 13) + 0.25))
        batches.append(spark.createDataFrame(rows, jobs.EVENTS_SCHEMA).coalesce(1))
    return batches


def _rollup(spark, path):
    return sorted(
        (str(r.date), r.user_id, r.n_events, r.sum_value, r.avg_value)
        for r in spark.read.parquet(path).collect()
    )


def _expected(batches):
    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    return sorted(
        (r.date, r.user_id, r.n_events, r.sum_value, r.avg_value)
        for r in incremental.daily_rollup(union).collect()
    )


def test_rollup_sink_three_jobs_flat_scan_exact_and_replay_safe(
    spark, tmp_path, jobs_started
):
    """Four batches, each with late rows for the day before: three jobs
    per call, a rollup scan that does not grow with the batch count, the
    exact rollup, and an unchanged rollup after an epoch replay."""
    staged, rollup = str(tmp_path / "staged"), str(tmp_path / "rollup")
    sink = jobs.incremental_rollup_sink(spark, staged, rollup)
    batches = _day_batches(spark, 4)
    n_jobs, reads = [], []
    for b, df in enumerate(batches):
        _, ids = jobs_started(lambda: sink(df, b))
        n_jobs.append(len(ids))
        reads.append(_rows_read(spark, ids))
    # staged write + the rollup write's two AQE jobs: no date collect,
    # no schema inference, no closing rescan
    assert n_jobs == [3, 3, 3, 3]
    # each scan reads the touched dates' staged files only: the previous
    # batch (its day's rows) and this one — not the whole history
    assert reads == [100, 210, 220, 220]

    first = _rollup(spark, rollup)
    assert first == _expected(batches)

    # at-least-once redelivery of an epoch leaves the rollup unchanged
    sink(batches[2], 2)
    assert _rollup(spark, rollup) == first


def test_rollup_sink_stages_sorted_zstd_and_replays_in_the_same_order(spark, tmp_path):
    """Staged files are zstd-compressed with ``ts`` non-decreasing in
    each file, rollup files are zstd-compressed, and an epoch redelivered
    with its rows permuted stages the same rows in the same order: ties
    on ``ts`` are broken by ``event_id``."""
    staged, rollup = str(tmp_path / "staged"), str(tmp_path / "rollup")
    sink = jobs.incremental_rollup_sink(spark, staged, rollup)
    batches = _day_batches(spark, 2)
    # a third batch whose rows share five ts values, shuffled
    rows = [
        (1000 + i, dt.datetime(2024, 1, 2, i % 5), i % 3, "view", float(i)) for i in range(40)
    ]
    random.Random(3).shuffle(rows)
    batches.append(spark.createDataFrame(rows, jobs.EVENTS_SCHEMA).coalesce(1))
    for b, df in enumerate(batches):
        sink(df, b)

    def codecs(files):
        out = set()
        for f in files:
            md = pq.ParquetFile(f).metadata
            for g in range(md.num_row_groups):
                out |= {md.row_group(g).column(c).compression for c in range(md.num_columns)}
        return out

    staged_files = glob.glob(f"{staged}/batch_id=*/*.parquet")
    assert len(staged_files) == 3
    assert codecs(staged_files) == {"ZSTD"}
    for f in staged_files:
        ts = pq.read_table(f).column("ts").to_pylist()
        assert ts == sorted(ts), f
    assert codecs(glob.glob(f"{rollup}/date=*/*.parquet")) == {"ZSTD"}

    def staged_rows(b):
        return [
            r
            for f in sorted(glob.glob(f"{staged}/batch_id={b}/*.parquet"))
            for r in pq.read_table(f).to_pylist()
        ]

    first = staged_rows(2)
    assert [r["event_id"] for r in first] != [r[0] for r in rows]
    random.Random(4).shuffle(rows)
    sink(spark.createDataFrame(rows, jobs.EVENTS_SCHEMA).coalesce(1), 2)
    assert staged_rows(2) == first


_JAN_1 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())


def _events(spark, n: int, event_id, epoch_s, user_id, value):
    """An ``n``-row, one-partition events batch whose columns are
    literals or expressions of ``id`` (no Python rows to ship):
    ``epoch_s`` is the UTC instant in seconds."""
    return spark.range(n, numPartitions=1).select(
        F.lit(event_id).cast("bigint"),
        F.timestamp_seconds(F.lit(epoch_s)),
        F.lit(user_id).cast("bigint"),
        F.lit("click"),
        F.lit(value).cast("double"),
    ).toDF(*jobs.EVENTS_SCHEMA.fieldNames())


def _tiny_batch(spark, b: int):
    """Batch b carries 4 rows of UTC day b of 2024 and, from b=1 on, one
    late row of the day before."""
    i = F.col("id")
    eid = i + 5 * b
    day = F.when(i < 4, b).otherwise(b - 1)
    secs = F.lit(_JAN_1) + day * 86400 + ((5 * i + 3) % 24) * 3600 + 7 * i * 60
    return _events(spark, 5 if b else 4, eid, secs, eid % 3, (eid % 13) + 0.25)


def test_rollup_sink_cost_stays_flat_over_a_long_history(spark, tmp_path, jobs_started):
    """44 tiny daily batches, the reference's 90-day shape in small, in a
    session time zone of UTC+9. Every call runs three jobs, and from batch
    33 on the tasks, input bytes and rows read per call stay flat: each
    tick opens only the staged batches whose range entry overlaps its
    dates, not every staged footer, and starts no parallel-listing job.
    A batch whose range entry is missing is still read, and the overlap
    test uses local midnights: a batch staged an hour before a UTC
    midnight belongs to the next local date and is read for it."""
    staged, rollup = str(tmp_path / "staged"), str(tmp_path / "rollup")
    with session.scoped_conf(spark, "spark.sql.session.timeZone", "Asia/Tokyo"):
        sink = jobs.incremental_rollup_sink(spark, staged, rollup)
        landed = [_tiny_batch(spark, b) for b in range(44)]
        # batch 20's entry goes missing; a late row then lands at the
        # instant of batch 20's first row
        landed.append(_events(spark, 1, 900, _JAN_1 + 20 * 86400 + 3 * 3600, 1, 7.5))
        # 2024-03-01 23:00Z is 08:00 on 2024-03-02 in Tokyo, and so is
        # the next batch's row at 2024-03-02 01:00Z
        march_2 = _JAN_1 + 61 * 86400
        landed.append(_events(spark, 1, 901, march_2 - 3600, 1, 1.5))
        landed.append(_events(spark, 1, 902, march_2 + 3600, 1, 2.5))
        n_jobs, tasks, in_bytes, rows_read = [], [], [], []
        for b, df in enumerate(landed):
            if b == 44:
                (entry,) = glob.glob(f"{staged}/_ts_ranges/20_*")
                os.rmdir(entry)
            _, ids = jobs_started(lambda: sink(df, b))
            n_jobs.append(len(ids))
            tasks.append(_stage_sum(spark, ids, "numTasks"))
            in_bytes.append(_stage_sum(spark, ids, "inputBytes"))
            rows_read.append(_rows_read(spark, ids))
        assert n_jobs == [3] * len(landed)
        assert len(set(tasks[33:44])) == 1, tasks
        assert max(in_bytes[33:44]) <= 1.1 * min(in_bytes[33:44]), in_bytes
        assert len(set(rows_read[33:44])) == 1, rows_read
        assert _rollup(spark, rollup) == _expected(landed)


def _grid(spark, start_utc: str, hours: int):
    """One row every 30 minutes from ``start_utc``, plus a null ts."""
    t0 = dt.datetime.fromisoformat(start_utc).replace(tzinfo=dt.timezone.utc).timestamp()
    grid = spark.range(hours * 2).select(
        "id", F.timestamp_seconds(F.lit(int(t0)) + F.col("id") * 1800).alias("ts")
    )
    null = spark.range(1).select(
        F.lit(-1).cast("bigint").alias("id"), F.lit(None).cast("timestamp").alias("ts")
    )
    return grid.unionByName(null)


def test_date_slice_matches_to_date_across_dst(spark):
    """The ts ranges keep exactly the rows ``to_date(ts) IN dates`` keeps
    on the 23 h day (2024-03-10) and the 25 h day (2024-11-03) in New
    York. An upper bound of exactly 24 h after the lower one would take
    the next day's first hour after the 23 h day and drop the 25 h
    day's last hour, e.g. its 23:30 local row."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ev = _grid(spark, "2024-03-08 00:00:00", 24 * 5).unionByName(
            _grid(spark, "2024-11-01 00:00:00", 24 * 5)
        )
        local = F.date_format("ts", "yyyy-MM-dd HH:mm")
        assert ev.filter(local == "2024-11-03 23:30").count() == 1
        for dates in (
            ["2024-03-10"],
            ["2024-11-03"],
            ["2024-03-09", "2024-03-10"],
            ["2024-11-02", "2024-11-04"],
            ["2024-03-10", "2024-11-03", "2024-11-04"],
        ):
            want = sorted(
                r.id for r in ev.filter(F.to_date("ts").cast("string").isin(dates)).collect()
            )
            got = sorted(r.id for r in incremental.date_slice(ev, dates).collect())
            assert got == want, dates
        by_day = {
            d: incremental.date_slice(ev, [d]).count() for d in ("2024-03-10", "2024-11-03")
        }
        assert by_day == {"2024-03-10": 46, "2024-11-03": 50}
        late = incremental.date_slice(ev, ["2024-11-03"]).filter(local == "2024-11-03 23:30")
        assert late.count() == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def _ts_physical(path: str) -> set[str]:
    out = set()
    for f in glob.glob(f"{path}/*.parquet"):
        col = pq.ParquetFile(f).schema.column(1)
        assert col.name == "ts"
        out.add(col.physical_type)
    return out


def test_rollup_sink_over_mixed_int96_history(spark, tmp_path):
    """Staged dirs written the old way (INT96 ts, no statistics) next to
    new TIMESTAMP_MICROS ones give the exact rollup: the old files are
    read in full, just never skipped."""
    staged, rollup = str(tmp_path / "staged"), str(tmp_path / "rollup")
    batches = _day_batches(spark, 4)
    for b in (0, 1):
        batches[b].write.mode("overwrite").parquet(f"{staged}/batch_id={b}")
    incremental.write_daily_full(
        incremental.daily_rollup(batches[0].unionByName(batches[1])), rollup
    )
    sink = jobs.incremental_rollup_sink(spark, staged, rollup)
    for b in (2, 3):
        sink(batches[b], b)
    assert _ts_physical(f"{staged}/batch_id=0") == {"INT96"}
    assert _ts_physical(f"{staged}/batch_id=3") == {"INT64"}
    assert _rollup(spark, rollup) == _expected(batches)
    # a late row for day 1 lands in a new batch: the INT96 day-1 rows
    # are folded into that date's recompute
    late = spark.createDataFrame(
        [(999, dt.datetime(2024, 1, 1, 12, 0), 3, "click", 4.5)], jobs.EVENTS_SCHEMA
    )
    sink(late, 4)
    assert _rollup(spark, rollup) == _expected(batches + [late])


def test_rollup_sink_returns_promptly_on_empty_batch(spark, tmp_path):
    """An empty batch observes no dates (``[]``): the sink stages it and
    returns without touching the rollup. The call runs on a thread with
    a timeout, so a blocking observation fails instead of hanging."""
    staged, rollup = str(tmp_path / "staged"), str(tmp_path / "rollup")
    sink = jobs.incremental_rollup_sink(spark, staged, rollup)
    sink(_day_batches(spark, 1)[0], 0)
    before = _rollup(spark, rollup)
    empty = spark.createDataFrame([], jobs.EVENTS_SCHEMA)
    result: dict = {}

    def call():
        try:
            sink(empty, 1)
            result["dates"] = incremental.incremental_daily_update(
                spark, empty, str(tmp_path / "other")
            )
        except Exception as e:  # surfaced below
            result["error"] = e

    t = threading.Thread(target=call, daemon=True)
    t.start()
    t.join(120)
    assert not t.is_alive(), "sink blocked on an empty batch"
    assert "error" not in result, result.get("error")
    assert result["dates"] == []
    assert _rollup(spark, rollup) == before
