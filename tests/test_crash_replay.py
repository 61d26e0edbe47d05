"""Crash-replay of the incremental-rollup sink — killing a RUNNING
query mid-epoch, not simulating replay by calling the sink twice
(round-5 VERDICT #4).

Mechanism: ``jobs._test_crash_hook`` raises at the sink's
``rollup:post_stage`` crash point, after the epoch staged its rows and
before the rollup recompute that reads them. foreachBatch runs on the
driver, so the raise fails the streaming query exactly like a real sink
crash; Structured Streaming has NOT committed the epoch's offsets, so a
restart from the same checkpoint redelivers the same epoch to the same
sink. The test then asserts the restarted run converges to the rollup
of every landed row.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest

from calidad_del_aire_etl_spark.streaming import jobs


@pytest.fixture()
def input_dir(spark):
    d = tempfile.mkdtemp(prefix="crash_in_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(autouse=True)
def _clear_hook():
    yield
    jobs._test_crash_hook = None


def _t(minute):
    return dt.datetime(2024, 1, 1, 10, minute)


def _crash_on(site: str, batch_id: int):
    """Hook that raises exactly once at (site, batch_id)."""
    fired = {"done": False}

    def hook(s, b):
        if s == site and b == batch_id and not fired["done"]:
            fired["done"] = True
            raise RuntimeError(f"injected crash at {s} epoch {b}")

    return hook


def _run_until_crash(q):
    """Drive the query until the injected crash kills it; surface any
    OTHER failure."""
    with pytest.raises(Exception):
        q.processAllAvailable()
    try:
        q.stop()
    except Exception:
        pass
    exc = q.exception()
    assert exc is not None and "injected crash" in str(exc)


ROWS0 = [
    (1, _t(0), 1, "click", 10.0),
    (2, _t(5), 1, "click", 11.0),
    (3, _t(1), 2, "view", 20.0),
]
ROWS1 = [
    (4, _t(9), 1, "click", 12.0),
    (5, _t(9), 3, "signup", 30.0),
]


def test_rollup_crash_between_stage_and_rollup_update_converges(
    spark, input_dir, tmp_path, land_batch
):
    """Kill the query after epoch 1 staged its rows, before the rollup
    recompute that reads them. The restart from the same checkpoint
    restages the epoch over its own ``(date, batch_id)`` dirs and ends
    with the rollup equal to ``daily_rollup`` over every landed row."""
    from calidad_del_aire_etl_spark.operators import incremental

    staged, rollup, ckpt = (str(tmp_path / p) for p in ("staged", "rollup", "ckpt"))
    land_batch(input_dir, ROWS0, 0)
    land_batch(input_dir, ROWS1, 1)

    def run():
        return jobs.run_incremental_rollup(
            jobs.read_events_stream(spark, input_dir), staged, rollup, ckpt
        )

    jobs._test_crash_hook = _crash_on("rollup:post_stage", 1)
    _run_until_crash(run())
    assert os.path.exists(f"{staged}/date=2024-01-01/batch_id=1")

    jobs._test_crash_hook = None
    q2 = run()
    try:
        assert q2.awaitTermination(120)
        assert q2.exception() is None
    finally:
        q2.stop()

    def rows(df):
        return sorted(
            (str(r.date), r.user_id, r.n_events, r.sum_value, r.avg_value) for r in df.collect()
        )

    landed = spark.createDataFrame(ROWS0 + ROWS1, jobs.EVENTS_SCHEMA)
    assert rows(spark.read.parquet(rollup)) == rows(incremental.daily_rollup(landed))
