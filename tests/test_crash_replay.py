"""Crash-replay of the streaming sinks — killing a RUNNING query
mid-epoch, not simulating replay by calling the sink twice (round-5
VERDICT #4).

Mechanism: ``jobs._test_crash_hook`` raises inside the foreachBatch
commit protocol at its most dangerous point (after the epoch's side
effects, before its idempotence marker / final commit). foreachBatch
runs on the driver, so the raise fails the streaming query exactly like
a real sink crash; Structured Streaming has NOT committed the epoch's
offsets, so a restart from the same checkpoint redelivers the same
epoch to the same sink. Each test then asserts the restarted run
converges to the state an UNINTERRUPTED run produces on the same input.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

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


@pytest.mark.slow
def test_cdc_merge_crash_between_commit_and_marker_converges(
    spark, input_dir, tmp_path, land_batch
):
    """Kill the query after epoch 1's MERGE committed but before its
    marker landed; the restart re-merges the same compacted batch —
    content-idempotent (one redundant snapshot at most), ending in the
    exact state of an uninterrupted run."""
    from calidad_del_aire_etl_spark.sinks import writers

    table, ckpt = str(tmp_path / "cdc"), str(tmp_path / "ckpt")
    land_batch(input_dir, ROWS0, 0)
    land_batch(input_dir, ROWS1, 1)

    jobs._test_crash_hook = _crash_on("cdc_merge:pre_marker", 1)
    q = jobs.run_cdc_merge(jobs.read_events_stream(spark, input_dir), table, ["user_id"], ckpt)
    _run_until_crash(q)

    # Crash landed after the merge: the data is in, the marker is not.
    assert {r["user_id"]: r["value"] for r in writers.read_versioned_parquet(spark, table).collect()} \
        == {1: 12.0, 2: 20.0, 3: 30.0}
    assert not os.path.exists(f"{table}/_commits/batch-1")
    v_crash = writers.latest_version(spark, table)

    # Restart from the same checkpoint: epoch 1 is redelivered and
    # re-merged (its offsets never committed).
    jobs._test_crash_hook = None
    q2 = jobs.run_cdc_merge(jobs.read_events_stream(spark, input_dir), table, ["user_id"], ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {r["user_id"]: r["value"] for r in writers.read_versioned_parquet(spark, table).collect()}
    # Uninterrupted twin on fresh dirs.
    table_u, ckpt_u = str(tmp_path / "cdc_u"), str(tmp_path / "ckpt_u")
    q3 = jobs.run_cdc_merge(jobs.read_events_stream(spark, input_dir), table_u, ["user_id"], ckpt_u)
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    want = {r["user_id"]: r["value"] for r in writers.read_versioned_parquet(spark, table_u).collect()}
    assert got == want == {1: 12.0, 2: 20.0, 3: 30.0}
    # The re-merge cost at most one redundant snapshot over the crash
    # point, and the marker finally landed.
    assert writers.latest_version(spark, table) <= v_crash + 1
    assert os.path.exists(f"{table}/_commits/batch-1")


@pytest.mark.slow
def test_cdc_merge_crash_on_bootstrap_epoch_converges(
    spark, input_dir, tmp_path, land_batch
):
    """Crash on epoch 0 — the empty-table bootstrap commit — after its
    merge landed v0 but before its marker. The restart redelivers epoch
    0 against a now NON-empty table (the bootstrap became an ordinary
    merge) and must still converge to the uninterrupted state."""
    from calidad_del_aire_etl_spark.sinks import writers

    table, ckpt = str(tmp_path / "cdc"), str(tmp_path / "ckpt")
    land_batch(input_dir, ROWS0, 0)
    land_batch(input_dir, ROWS1, 1)

    jobs._test_crash_hook = _crash_on("cdc_merge:pre_marker", 0)
    q = jobs.run_cdc_merge(jobs.read_events_stream(spark, input_dir), table, ["user_id"], ckpt)
    _run_until_crash(q)
    assert writers.latest_version(spark, table) == 0  # bootstrap committed
    assert not os.path.exists(f"{table}/_commits/batch-0")

    jobs._test_crash_hook = None
    q2 = jobs.run_cdc_merge(jobs.read_events_stream(spark, input_dir), table, ["user_id"], ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = {r["user_id"]: r["value"] for r in writers.read_versioned_parquet(spark, table).collect()}
    assert got == {1: 12.0, 2: 20.0, 3: 30.0}
    assert os.path.exists(f"{table}/_commits/batch-0")
    assert os.path.exists(f"{table}/_commits/batch-1")


def test_minhash_dedup_crash_between_bands_and_marker_converges(
    spark, input_dir, tmp_path, land_batch
):
    """Kill the query after epoch 1's band partition landed but before
    its marker; the restarted epoch must not probe its own partial
    bands (self-match) and must end with decisions and band store
    identical to an uninterrupted run."""
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
    base = "the quick brown fox jumps over the lazy dog again and again in the morning"
    novel = "completely different text about databases and distributed query engines"
    docs0 = [(1, base), (2, base + " tail"), (3, novel)]
    docs1 = [(4, base + " coda"), (5, "unrelated fresh content about sailing ships")]
    land_batch(input_dir, docs0, 0, jobs.DOCS_SCHEMA)
    land_batch(input_dir, docs1, 1, jobs.DOCS_SCHEMA)

    jobs._test_crash_hook = _crash_on("minhash:pre_marker", 1)
    q = jobs.run_minhash_dedup(jobs.read_docs_stream(spark, input_dir), store, ckpt)
    _run_until_crash(q)

    # Crash residue: epoch 1's bands exist, marker doesn't.
    assert os.path.exists(f"{store}/bands/epoch=1")
    assert not os.path.exists(f"{store}/_epochs/batch-1")

    jobs._test_crash_hook = None
    q2 = jobs.run_minhash_dedup(jobs.read_docs_stream(spark, input_dir), store, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    # Uninterrupted twin.
    store_u, ckpt_u = str(tmp_path / "store_u"), str(tmp_path / "ckpt_u")
    q3 = jobs.run_minhash_dedup(jobs.read_docs_stream(spark, input_dir), store_u, ckpt_u)
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()

    def snap(d):
        dec = {
            r["doc_id"]: (r["decision"], r["matched_id"])
            for r in spark.read.parquet(f"{d}/decisions").collect()
        }
        bands = sorted(
            (r["id"], r["b"], r["bkey"])
            for r in spark.read.parquet(f"{d}/bands").collect()
        )
        return dec, bands

    dec_r, bands_r = snap(store)
    dec_u, bands_u = snap(store_u)
    assert dec_r == dec_u
    assert dec_r[4][0] == "corpus" and dec_r[4][1] == 1
    assert dec_r[5][0] == "kept"
    assert bands_r == bands_u
    assert os.path.exists(f"{store}/_epochs/batch-1")


def test_foreach_batch_crash_after_write_replays_identically(
    spark, input_dir, tmp_path, land_batch
):
    """Kill the query after epoch 1's partition write, before the epoch
    commits; restart rewrites the identical batch_id=1 partition —
    rows equal to an uninterrupted run, no duplicates."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    land_batch(input_dir, ROWS0, 0)
    land_batch(input_dir, ROWS1, 1)

    jobs._test_crash_hook = _crash_on("foreach_batch:post_write", 1)
    q = jobs.run_foreach_batch(jobs.read_events_stream(spark, input_dir), out, ckpt)
    _run_until_crash(q)
    assert os.path.exists(f"{out}/batch_id=1")  # effect landed, epoch didn't commit

    jobs._test_crash_hook = None
    q2 = jobs.run_foreach_batch(jobs.read_events_stream(spark, input_dir), out, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    out_u, ckpt_u = str(tmp_path / "out_u"), str(tmp_path / "ckpt_u")
    q3 = jobs.run_foreach_batch(jobs.read_events_stream(spark, input_dir), out_u, ckpt_u)
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()

    def rows(d):
        return sorted(
            (r["event_id"], r["user_id"], r["value"])
            for r in spark.read.parquet(d).collect()
        )

    assert rows(out) == rows(out_u)
    assert len(rows(out)) == 5  # replay rewrote, not appended


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
