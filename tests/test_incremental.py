"""Dynamic-partition-overwrite incremental rollup: only the batch's
date partitions change; untouched partitions keep their files."""

from __future__ import annotations

import datetime as dt
import glob
import os

from calidad_del_aire_etl_spark.operators import incremental


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double"
    )


def _dated(spark, rows):
    return _ev(spark, rows).withColumn("date", incremental.event_date())


def _t(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def test_incremental_overwrites_only_touched_dates(spark, tmp_path):
    path = str(tmp_path / "daily")
    base = _ev(spark, [
        (1, _t(1), 1, 10.0),
        (2, _t(2), 1, 20.0),
        (3, _t(3), 1, 30.0),
    ])
    incremental.daily_rollup(base).write.partitionBy("date").parquet(path)

    day1_files = sorted(glob.glob(f"{path}/date=2024-01-01/*.parquet"))
    day1_mtimes = [os.path.getmtime(f) for f in day1_files]

    # day-2 reprocess: full slice for that date (two events now)
    batch = _dated(spark, [(2, _t(2), 1, 20.0), (9, _t(2, 5), 1, 5.0)])
    touched = incremental.incremental_daily_update(spark, batch, path)
    assert touched == ["2024-01-02"]

    # day 1 files untouched byte-for-byte
    assert sorted(glob.glob(f"{path}/date=2024-01-01/*.parquet")) == day1_files
    assert [os.path.getmtime(f) for f in day1_files] == day1_mtimes

    # partition-column type inference reads `date=` dirs back as DATE
    out = {
        (str(r["date"]), r["user_id"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(path).collect()
    }
    assert out[("2024-01-02", 1)] == (2, 25.0)  # replaced, not appended
    assert out[("2024-01-01", 1)] == (1, 10.0)
    assert out[("2024-01-03", 1)] == (1, 30.0)


def test_static_mode_restored_after_write(spark, tmp_path):
    path = str(tmp_path / "daily2")
    incremental.incremental_daily_update(spark, _dated(spark, [(1, _t(1), 1, 1.0)]), path)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"
    )


def test_expectations_report_flags_bad_column(spark):
    """A rule over a column with nulls fails; the clean columns pass."""
    from pyspark.sql import functions as F
    from calidad_del_aire_etl_spark.operators import validation
    from calidad_del_aire_etl_spark.registry import load

    ev = load(spark, "/root/testdata/sf0.001", "events").withColumn(
        "value", F.when(F.col("event_id") % 2 == 0, None).otherwise(F.col("value"))
    )
    rows = {
        r.rule_id: r
        for r in validation.expectations_report(
            ev, validation.DEFAULT_EVENT_RULES
        ).collect()
    }
    assert rows["r01_value_not_null"].passed == 0  # ~50% nulls > 5% budget
    assert rows["r02_event_id_unique"].passed == 1
    assert rows["r05_min_rows"].passed == 1
    # one aggregate pass: a single scan in the plan
    plan = (
        validation.expectations_report(ev)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1
