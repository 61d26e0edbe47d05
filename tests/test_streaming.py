"""The incremental-rollup stream end to end: epoch replay and a late row."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest

from calidad_del_aire_etl_spark.streaming import jobs


@pytest.fixture()
def input_dir(spark):
    d = tempfile.mkdtemp(prefix="stream_in_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.slow
def test_incremental_rollup_stream_replay_leaves_partitions_unchanged(
    spark, input_dir, tmp_path, land_batch
):
    """Streaming ≫ incremental unification: the foreachBatch sink drives
    the dynamic-partition-overwrite rollup; a replayed epoch must leave
    every partition byte-equal (same rows), and a late row for an old
    date must fold into that date's partition on the next batch."""
    from calidad_del_aire_etl_spark.streaming.jobs import (
        incremental_rollup_sink,
        run_incremental_rollup,
    )

    staged = str(tmp_path / "staged")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    d1 = dt.datetime(2024, 1, 1, 10, 0)
    d2 = dt.datetime(2024, 1, 2, 11, 0)
    land_batch(
        input_dir,
        [(1, d1, 1, "click", 10.0), (2, d1, 1, "click", 5.0), (3, d2, 2, "view", 7.0)],
        0,
    )
    stream = jobs.read_events_stream(spark, input_dir)
    q = run_incremental_rollup(stream, staged, rollup, ckpt)
    q.awaitTermination(120)

    def snapshot():
        # partition-column inference reads the date string back as a date
        return sorted(
            (str(r.date), r.user_id, r.n_events, r.sum_value)
            for r in spark.read.parquet(rollup).collect()
        )

    first = snapshot()
    assert first == [
        ("2024-01-01", 1, 2, 15.0),
        ("2024-01-02", 2, 1, 7.0),
    ]

    # replay epoch 0: re-deliver the landed batch to the sink directly,
    # as the checkpointed source would
    incremental_rollup_sink(spark, staged, rollup)(
        spark.read.schema(jobs.EVENTS_SCHEMA).parquet(f"{input_dir}/batch0.parquet"), 0
    )
    assert snapshot() == first

    # late row for 2024-01-01 arrives in a later batch: its partition is
    # recomputed from the full staged history, the untouched date stays
    land_batch(input_dir, [(4, d1, 1, "click", 2.0)], 1)
    q2 = run_incremental_rollup(
        jobs.read_events_stream(spark, input_dir), staged, rollup, ckpt
    )
    q2.awaitTermination(120)
    assert snapshot() == [
        ("2024-01-01", 1, 3, 17.0),
        ("2024-01-02", 2, 1, 7.0),
    ]
