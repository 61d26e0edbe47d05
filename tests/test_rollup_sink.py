"""streaming.jobs.incremental_rollup_sink called directly on batch
DataFrames: three Spark jobs per micro-batch, a rollup scan bounded by
the touched dates, staged files that hold only the rollup's inputs,
sorted and zstd, which a redelivered epoch reproduces, a rollup half
that runs on the batch's session, a history staged with every event
column that still rolls up, a per-tick cost that stays flat over a long
staged history, ticks that compile no new code, dates that follow the
session time zone across DST, the refusal of a staged root in the old
``batch_id=N`` layout, and a prompt return on an empty batch."""

from __future__ import annotations

import datetime as dt
import glob
import os
import random
import re
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
import pytest
from pyspark.sql import functions as F

from calidad_del_aire_etl_spark import session
from calidad_del_aire_etl_spark.operators import incremental
from calidad_del_aire_etl_spark.streaming import jobs


def _stage_sum(spark, job_ids, metric: str) -> int:
    """``metric`` of the last attempt of every stage of the given jobs,
    summed (``inputRecords``, ``inputBytes``, ``numTasks``).

    Past ``spark.ui.retainedStages`` the status store evicts skipped
    stages first, possibly before they are read here: a job's skipped
    stages (an AQE result job lists the map stage it reuses) read
    nothing, and their tasks are counted in the job's ``numTasks``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    total = 0
    for j in job_ids:
        job = store.job(j)
        if metric == "numTasks":
            total += job.numTasks()
            continue
        stages, evicted = job.stageIds(), 0
        for k in range(stages.size()):
            try:
                total += getattr(store.lastStageAttempt(stages.apply(k)), metric)()
            except Py4JJavaError:
                evicted += 1
        assert evicted <= job.numSkippedStages(), (j, evicted)
    return total


def _rows_read(spark, job_ids) -> int:
    """Input records over every stage of the given jobs."""
    return _stage_sum(spark, job_ids, "inputRecords")


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


def _day_batches(spark, n_batches: int):
    """Batch b carries 100 rows of 2024-01-(b+1) plus, from b=1 on, 10
    late rows of the day before. Each batch is one partition, so it
    stages one file per date it touches."""
    i, batches = F.col("id"), []
    for b in range(n_batches):
        eid = i + 1 + (100 + 110 * (b - 1) if b else 0)
        day = F.when(i < 100, b).otherwise(b - 1)
        secs = F.lit(_JAN_1) + day * 86400 + (i % 24) * 3600 + ((7 * i) % 60) * 60
        batches.append(_events(spark, 110 if b else 100, eid, secs, eid % 7, (eid % 13) + 0.25))
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
        # the jobs after the staged write, whose own input is the batch
        reads.append(_rows_read(spark, sorted(ids)[1:]))
    # staged write + the rollup write's two AQE jobs: no date collect,
    # no schema inference, no closing rescan
    assert n_jobs == [3, 3, 3, 3]
    # each scan reads the touched dates' staged rows only: the previous
    # day's 100 plus its 10 late rows, and this day's 100 — not the whole
    # history, and no other date's rows
    assert reads == [100, 210, 210, 210]

    first = _rollup(spark, rollup)
    assert first == _expected(batches)

    # at-least-once redelivery of an epoch leaves the rollup unchanged
    sink(batches[2], 2)
    assert _rollup(spark, rollup) == first


def _file_rows(pattern: str) -> list[dict]:
    """The rows of the parquet files in the dirs ``pattern`` matches,
    file by file in path order."""
    return [
        r
        for f in sorted(glob.glob(f"{pattern}/*.parquet"))
        for r in pq.ParquetFile(f).read().to_pylist()
    ]


def _chunks(files) -> list:
    """The column chunks of every row group of ``files``."""
    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            out += [rg.column(c) for c in range(rg.num_columns)]
    return out


def test_rollup_sink_stages_sorted_zstd_and_replays_in_the_same_order(spark, tmp_path):
    """Staged files hold exactly the rollup's inputs ``user_id`` and
    ``value``, zstd-compressed, sorted by ``(user_id, value)``, with no
    dictionary encoding on ``user_id``; an epoch redelivered with its
    rows permuted stages identical rows. Rollup files are zstd and
    sorted by ``user_id``, and the replay leaves identical rollup rows
    in file order."""
    staged, rollup = str(tmp_path / "staged"), str(tmp_path / "rollup")
    sink = jobs.incremental_rollup_sink(spark, staged, rollup)
    batches = _day_batches(spark, 2)
    # a third batch whose rows repeat (user_id, value) pairs, shuffled
    rows = [
        (1000 + i, dt.datetime(2024, 1, 2, i % 5), i % 3, "view", float(i % 7)) for i in range(40)
    ]
    random.Random(3).shuffle(rows)
    batches.append(spark.createDataFrame(rows, jobs.EVENTS_SCHEMA).coalesce(1))
    for b, df in enumerate(batches):
        sink(df, b)

    # batch 1's late rows stage under 2024-01-01, the rest under their day
    staged_files = glob.glob(f"{staged}/date=*/batch_id=*/*.parquet")
    assert len(staged_files) == 4
    for f in staged_files:
        table = pq.ParquetFile(f).read()
        assert table.column_names == ["user_id", "value"], f
        keys = list(zip(*(table.column(c).to_pylist() for c in table.column_names)))
        assert keys == sorted(keys), f
    assert {c.compression for c in _chunks(staged_files)} == {"ZSTD"}
    ids = [c for c in _chunks(staged_files) if c.path_in_schema == "user_id"]
    assert len(ids) == 4
    for c in ids:
        assert not c.has_dictionary_page
        assert not any("DICTIONARY" in e for e in c.encodings), c.encodings

    rollup_files = glob.glob(f"{rollup}/date=*/*.parquet")
    assert {c.compression for c in _chunks(rollup_files)} == {"ZSTD"}
    for f in rollup_files:
        ids = pq.ParquetFile(f).read().column("user_id").to_pylist()
        assert ids == sorted(ids), f

    first, rolled = _file_rows(f"{staged}/date=*/batch_id=2"), _file_rows(f"{rollup}/date=*")
    random.Random(4).shuffle(rows)
    sink(spark.createDataFrame(rows, jobs.EVENTS_SCHEMA).coalesce(1), 2)
    assert _file_rows(f"{staged}/date=*/batch_id=2") == first
    assert _file_rows(f"{rollup}/date=*") == rolled


def test_rollup_sink_sets_confs_on_the_batch_session_only(spark, tmp_path, monkeypatch):
    """A batch whose session is not the one the sink was built with, as
    in ``foreachBatch``'s clone: every ``scoped_conf`` the sink enters,
    in the staged write and in the rollup write, targets the batch's
    session, so no conf of the caller's session changes mid-query."""
    staged, rollup = str(tmp_path / "staged"), str(tmp_path / "rollup")
    sink = jobs.incremental_rollup_sink(spark, staged, rollup)
    batch_session = spark.newSession()
    targets = []

    def recording(module):
        real = module.scoped_conf

        def scoped(target, key, value):
            targets.append((module.__name__, target))
            return real(target, key, value)

        monkeypatch.setattr(module, "scoped_conf", scoped)

    recording(jobs)
    recording(incremental)
    batches = _day_batches(batch_session, 2)
    for b, df in enumerate(batches):
        sink(df, b)
    assert {m for m, _ in targets} == {jobs.__name__, incremental.__name__}
    assert all(t._jsparkSession.equals(batch_session._jsparkSession) for _, t in targets)
    assert _rollup(spark, rollup) == _expected(batches)


def test_rollup_sink_rolls_up_a_history_staged_with_every_event_column(spark, tmp_path):
    """A ``date=<d>/batch_id=0`` file in the earlier staged layout (all
    of ``EVENTS_SCHEMA``, sorted by ``ts``), then new ticks for the same
    date: the rollup equals ``daily_rollup`` over every landed row."""
    staged, rollup = str(tmp_path / "staged"), str(tmp_path / "rollup")
    eid = F.col("id") + 900
    old = _events(spark, 20, eid, F.lit(_JAN_1) + (eid % 24) * 3600, eid % 7, (eid % 11) + 0.5)
    old_dir = tmp_path / "staged" / "date=2024-01-01" / "batch_id=0"
    old_dir.mkdir(parents=True)
    pq.write_table(old.toArrow().sort_by("ts"), old_dir / "part-00000.zstd.parquet", compression="zstd")

    sink = jobs.incremental_rollup_sink(spark, staged, rollup)
    batches = _day_batches(spark, 2)
    for b, df in enumerate(batches, start=1):
        sink(df, b)
    assert pq.read_schema(next(old_dir.glob("*.parquet"))).names == jobs.EVENTS_SCHEMA.fieldNames()
    assert _rollup(spark, rollup) == _expected([old, *batches])


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
    tick opens only its dates' ``date=`` dirs, not every staged footer,
    and starts no parallel-listing job. A late row for an old date is
    folded into that date, and dates are local: a row an hour before a
    UTC midnight belongs to the next local date and is staged and read
    with it."""
    staged, rollup = str(tmp_path / "staged"), str(tmp_path / "rollup")
    with session.scoped_conf(spark, "spark.sql.session.timeZone", "Asia/Tokyo"):
        sink = jobs.incremental_rollup_sink(spark, staged, rollup)
        landed = [_tiny_batch(spark, b) for b in range(44)]
        # a late row lands at the instant of batch 20's first row
        landed.append(_events(spark, 1, 900, _JAN_1 + 20 * 86400 + 3 * 3600, 1, 7.5))
        # 2024-03-01 23:00Z is 08:00 on 2024-03-02 in Tokyo, and so is
        # the next batch's row at 2024-03-02 01:00Z
        march_2 = _JAN_1 + 61 * 86400
        landed.append(_events(spark, 1, 901, march_2 - 3600, 1, 1.5))
        landed.append(_events(spark, 1, 902, march_2 + 3600, 1, 2.5))
        n_jobs, tasks, in_bytes, rows_read = [], [], [], []
        for b, df in enumerate(landed):
            _, ids = jobs_started(lambda: sink(df, b))
            n_jobs.append(len(ids))
            tasks.append(_stage_sum(spark, ids, "numTasks"))
            in_bytes.append(_stage_sum(spark, ids, "inputBytes"))
            rows_read.append(_rows_read(spark, ids))
        assert n_jobs == [3] * len(landed)
        assert len(set(tasks[33:44])) == 1, tasks
        assert max(in_bytes[33:44]) <= 1.1 * min(in_bytes[33:44]), in_bytes
        assert len(set(rows_read[33:44])) == 1, rows_read
        assert sorted(os.listdir(f"{staged}/date=2024-03-02")) == ["batch_id=45", "batch_id=46"]
        assert _rollup(spark, rollup) == _expected(landed)


def test_rollup_sink_ticks_compile_no_new_classes(spark, tmp_path, land_batch):
    """Four ticks of the same shape, each a landed file of 6 rows for
    its day plus 2 late rows of the day before: from the second tick on,
    the sink generates no new Java class. Each tick stages a different
    ``batch_id``, so that literal must not be inlined into the generated
    code (an int literal is; a string one is held as a reference)."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    landed, staged, rollup = tmp_path / "landed", str(tmp_path / "staged"), str(tmp_path / "rollup")
    landed.mkdir()
    sink = jobs.incremental_rollup_sink(spark, staged, rollup)
    day0 = dt.datetime(2024, 1, 1)
    compiles = []
    for b in range(4):
        rows = [
            (10 * b + k, day0 + dt.timedelta(days=b - (k >= 6), hours=k), k % 3, "click", k + 0.5)
            for k in range(8)
        ]
        land_batch(str(landed), rows, b)
        df = spark.read.schema(jobs.EVENTS_SCHEMA).parquet(f"{landed}/batch{b}.parquet")
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        sink(df, b)
        compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiles[1:] == [0, 0, 0], compiles
    assert sorted(os.listdir(f"{staged}/date=2024-01-03")) == ["batch_id=2", "batch_id=3"]


def _half_hours(spark, first_id: int, start_utc: str, hours: int):
    """One row every 30 minutes for ``hours`` hours from ``start_utc``."""
    t0 = int(dt.datetime.fromisoformat(start_utc).replace(tzinfo=dt.timezone.utc).timestamp())
    eid = F.col("id") + first_id
    secs = F.lit(t0) + F.col("id") * 1800
    return _events(spark, hours * 2, eid, secs, eid % 3, (eid % 13) + 0.25)


def test_rollup_sink_dates_follow_the_session_time_zone_across_dst(spark, tmp_path):
    """In New York the batches cover the 23 h day 2024-03-10 and the
    25 h day 2024-11-03, whose rows come in two batches. Each day is
    staged under its own local date, with 46 and 50 half-hour rows: the
    25 h day keeps its 23:30 local row (04:30 UTC the next day), and the
    rollup equals ``daily_rollup`` over the landed rows."""
    staged, rollup = str(tmp_path / "staged"), str(tmp_path / "rollup")
    with session.scoped_conf(spark, "spark.sql.session.timeZone", "America/New_York"):
        sink = jobs.incremental_rollup_sink(spark, staged, rollup)
        landed = [
            _half_hours(spark, 0, "2024-03-08 00:00:00", 24 * 5),
            _half_hours(spark, 1000, "2024-11-01 00:00:00", 24 * 3),
            _half_hours(spark, 2000, "2024-11-04 00:00:00", 24 * 2),
        ]
        for b, df in enumerate(landed):
            sink(df, b)
        assert _rollup(spark, rollup) == _expected(landed)
    assert len(_file_rows(f"{staged}/date=2024-03-10/batch_id=*")) == 46
    assert len(_file_rows(f"{staged}/date=2024-11-03/batch_id=*")) == 50
    # the third batch stages its first 10 rows, 00:00 to 04:30 UTC on
    # 2024-11-04, under 2024-11-03; of those, only the 04:30 row has
    # this (user_id, value)
    eid = 2000 + 9
    late = {"user_id": eid % 3, "value": eid % 13 + 0.25}
    nov_3 = _file_rows(f"{staged}/date=2024-11-03/batch_id=2")
    assert len(nov_3) == 10 and late in nov_3


def test_rollup_sink_refuses_a_staged_root_in_the_old_layout(spark, tmp_path):
    """A staged root that holds a top-level ``batch_id=N`` dir, the
    layout before the history was partitioned by date, is refused when
    the sink is built: its rows would never be read again."""
    staged = tmp_path / "staged"
    (staged / "batch_id=0").mkdir(parents=True)
    pq.write_table(pa.table({"event_id": [1]}), staged / "batch_id=0" / "part-0.parquet")
    with pytest.raises(ValueError, match=re.escape(f"{staged}/batch_id=0")):
        jobs.incremental_rollup_sink(spark, str(staged), str(tmp_path / "rollup"))


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
                spark, empty.withColumn("date", incremental.event_date()), str(tmp_path / "other")
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
