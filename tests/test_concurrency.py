"""Optimistic-concurrency commits on the versioned parquet table.

The reference is a single pandas process (dags/airflow_dag_calidad_aire.py
runs one writer end-to-end), so it never faces this; any multi-job
deployment of the DAY-N corpus pipeline (plans/incremental_corpus.py)
does. Protocol under test (sinks/writers.py): the commit point is an
atomic rename of the staged manifest to ``_snapshots/v=N`` — exactly one
racing writer wins a version; the loser deletes its stale rewrite files
and re-runs against the new latest snapshot (Delta's conflict-retry
semantics).

Deterministic interleaving: ``writers._test_pre_publish_hook`` fires once
inside the winner-decides window (after writer A stages its manifest,
before its publish rename), and the hook runs the ENTIRE competing
commit there — the worst-case race, where B's whole read-compute-commit
fits inside A's.
"""

from __future__ import annotations

import pytest

import os
import threading

from pyspark.sql import functions as F

from calidad_del_aire_etl_spark.sinks import writers


def _mk_base(spark, path, n=100):
    base = spark.range(0, n).select(F.col("id"), F.lit("base").alias("v"))
    assert writers.write_versioned_parquet(base.repartition(4), path, mode="append") == 0


def _all_manifest_files(spark, path) -> list[list[str]]:
    vmax = writers.latest_version(spark, path)
    out = []
    for v in range(vmax + 1):
        out.append(
            sorted(
                r["file"]
                for r in spark.read.parquet(f"{path}/_snapshots/v={v}").collect()
            )
        )
    return out


def _data_files_on_disk(path) -> set[str]:
    found = set()
    for root, _dirs, files in os.walk(os.path.join(path, "data")):
        for f in files:
            if f.endswith(".parquet"):
                found.add(os.path.join(root, f))
    return found


def _strip(uri: str) -> str:
    import re

    return re.sub(r"^file:/+", "/", uri)


def test_merge_conflict_loser_retries_and_cleans_up(spark, tmp_path):
    """Two racing MERGEs: exactly one wins v1, the loser lands v2 with
    BOTH batches applied, and no data file is orphaned or
    double-referenced."""
    path = str(tmp_path / "race")
    _mk_base(spark, path)

    ups_a = spark.createDataFrame([(i, "A") for i in range(0, 40, 2)], "id long, v string")
    ups_b = spark.createDataFrame([(i, "B") for i in range(1, 41, 2)], "id long, v string")

    winner_version = {}

    def competing_writer_b():
        winner_version["b"] = writers.merge_versioned_parquet(spark, path, ups_b, ["id"])

    writers._test_pre_publish_hook = competing_writer_b
    try:
        va = writers.merge_versioned_parquet(spark, path, ups_a, ["id"])
    finally:
        writers._test_pre_publish_hook = None

    # B won v1 inside A's window; A lost the race, rebased, landed v2.
    assert winner_version["b"] == 1
    assert va == 2
    assert writers.latest_version(spark, path) == 2

    got = {r["id"]: r["v"] for r in writers.read_versioned_parquet(spark, path).collect()}
    assert len(got) == 100
    assert all(got[i] == "A" for i in range(0, 40, 2))
    assert all(got[i] == "B" for i in range(1, 41, 2))
    assert got[41] == "base" and got[99] == "base"

    # No double-references: each manifest lists each file once.
    manifests = _all_manifest_files(spark, path)
    for files in manifests:
        assert len(files) == len(set(files))
    # No orphans: every data file on disk is referenced by SOME snapshot
    # (the loser's stale v1 rewrite was deleted, not abandoned).
    referenced = {_strip(f) for files in manifests for f in files}
    assert _data_files_on_disk(path) == referenced
    # No stale manifest staging left behind either.
    snaps = os.listdir(os.path.join(path, "_snapshots"))
    assert sorted(snaps) == ["v=0", "v=1", "v=2"]


def test_append_conflict_rebases_file_list_without_rewrite(spark, tmp_path):
    """Racing appends are always mergeable: the loser republishes
    base-plus-own-files against the new snapshot — its data files are
    reused, never rewritten."""
    path = str(tmp_path / "app")
    _mk_base(spark, path, n=10)

    rows_a = spark.createDataFrame([(1000 + i, "A") for i in range(5)], "id long, v string")
    rows_b = spark.createDataFrame([(2000 + i, "B") for i in range(5)], "id long, v string")

    def competing_append_b():
        assert writers.write_versioned_parquet(rows_b, path, mode="append") == 1

    writers._test_pre_publish_hook = competing_append_b
    try:
        va = writers.write_versioned_parquet(rows_a, path, mode="append")
    finally:
        writers._test_pre_publish_hook = None

    assert va == 2
    got = {r["id"]: r["v"] for r in writers.read_versioned_parquet(spark, path).collect()}
    assert len(got) == 20 and got[1003] == "A" and got[2004] == "B"
    # v2 = v1's list + A's files (set-wise): rebase, not rewrite.
    manifests = _all_manifest_files(spark, path)
    assert set(manifests[1]) <= set(manifests[2])
    referenced = {_strip(f) for files in manifests for f in files}
    assert _data_files_on_disk(path) == referenced


@pytest.mark.slow
def test_threaded_merges_both_land(spark, tmp_path):
    """True concurrency (no injected interleave): two threads MERGE
    disjoint key batches; whatever the interleaving — full race or
    accidental serialization — both batches must land and versions must
    be consecutive."""
    path = str(tmp_path / "thr")
    _mk_base(spark, path)
    ups = {
        "A": spark.createDataFrame([(i, "A") for i in range(0, 20)], "id long, v string"),
        "B": spark.createDataFrame([(i, "B") for i in range(80, 100)], "id long, v string"),
    }
    errs: list[Exception] = []

    def run(tag):
        try:
            writers.merge_versioned_parquet(spark, path, ups[tag], ["id"], max_retries=8)
        except Exception as e:  # surfaced below — a thread must not die silently
            errs.append(e)

    ts = [threading.Thread(target=run, args=(t,)) for t in ("A", "B")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errs == []
    assert writers.latest_version(spark, path) == 2
    got = {r["id"]: r["v"] for r in writers.read_versioned_parquet(spark, path).collect()}
    assert len(got) == 100
    assert all(got[i] == "A" for i in range(0, 20))
    assert all(got[i] == "B" for i in range(80, 100))
    manifests = _all_manifest_files(spark, path)
    referenced = {_strip(f) for files in manifests for f in files}
    assert _data_files_on_disk(path) == referenced


@pytest.mark.slow
def test_exhausted_retries_raise_and_leave_no_trace(spark, tmp_path):
    """A writer that loses every race raises CommitConflictError and
    deletes everything it staged."""
    path = str(tmp_path / "exh")
    _mk_base(spark, path, n=10)
    ups_a = spark.createDataFrame([(1, "A")], "id long, v string")

    real_publish = writers._atomic_publish
    calls = {"n": 0}

    def always_lose(spark_, staged, final):
        calls["n"] += 1
        return False  # _commit_snapshot cleans the staging itself

    writers._atomic_publish = always_lose
    try:
        with pytest.raises(writers.CommitConflictError):
            writers.merge_versioned_parquet(spark, path, ups_a, ["id"], max_retries=2)
    finally:
        writers._atomic_publish = real_publish
    assert calls["n"] == 3  # initial try + 2 retries
    # Table unchanged, all staged rewrites cleaned.
    assert writers.latest_version(spark, path) == 0
    manifests = _all_manifest_files(spark, path)
    referenced = {_strip(f) for files in manifests for f in files}
    assert _data_files_on_disk(path) == referenced
    assert os.listdir(os.path.join(path, "_snapshots")) == ["v=0"]


@pytest.mark.slow
def test_threaded_merge_vacuum_chaos(spark, tmp_path):
    """MERGE writers racing a looping VACUUM and a latest-snapshot
    reader, all genuinely concurrent (threads, no injected interleave —
    VERDICT r6 #7). Contract under chaos: every merge lands (versions
    consecutive), every read of the latest snapshot sees a complete
    100-row table, and when the dust settles no retained manifest
    references a deleted file and no data file is orphaned. The
    stale_tmp_seconds default (7 days) is load-bearing here: a vacuum
    pass that lists an in-flight writer's not-yet-referenced data files
    must skip them, else the writer's subsequent successful publish
    would reference deleted files — exactly the corruption this pins."""
    path = str(tmp_path / "chaos")
    _mk_base(spark, path)

    batches = {
        "A": spark.createDataFrame([(i, "A") for i in range(0, 20)], "id long, v string"),
        "B": spark.createDataFrame([(i, "B") for i in range(40, 60)], "id long, v string"),
        "C": spark.createDataFrame([(i, "C") for i in range(80, 100)], "id long, v string"),
    }
    errs: list[Exception] = []
    done = threading.Event()

    def merge(tag):
        try:
            writers.merge_versioned_parquet(spark, path, batches[tag], ["id"], max_retries=8)
        except Exception as e:
            errs.append(e)

    def vacuum_loop():
        try:
            while not done.is_set():
                writers.vacuum_versioned_parquet(spark, path, keep_last=1)
        except Exception as e:
            errs.append(e)

    def reader_loop():
        try:
            while not done.is_set():
                try:
                    n = writers.read_versioned_parquet(spark, path).count()
                except Exception as e:
                    # resolve-latest → read isn't atomic: the resolved
                    # snapshot can be retired by merge+vacuum in between
                    # (documented retention race) — loud failure, retry;
                    # anything else (e.g. a PARTIAL read) is corruption
                    if writers._vanished_file_race(e):
                        continue
                    raise
                assert n == 100, f"partial snapshot visible: {n} rows"
        except Exception as e:
            errs.append(e)

    aux = [threading.Thread(target=vacuum_loop), threading.Thread(target=reader_loop)]
    ts = [threading.Thread(target=merge, args=(t,)) for t in ("A", "B", "C")]
    for t in aux + ts:
        t.start()
    for t in ts:
        t.join()
    done.set()
    for t in aux:
        t.join()

    assert errs == []
    assert writers.latest_version(spark, path) == 3
    got = {r["id"]: r["v"] for r in writers.read_versioned_parquet(spark, path).collect()}
    assert len(got) == 100
    assert all(got[i] == "A" for i in range(0, 20))
    assert all(got[i] == "B" for i in range(40, 60))
    assert all(got[i] == "C" for i in range(80, 100))
    # final vacuum, then: retained manifests reference only live files,
    # and every file on disk is referenced (no orphans, no dangling refs)
    writers.vacuum_versioned_parquet(spark, path, keep_last=1)
    latest = writers.latest_version(spark, path)
    referenced = {
        _strip(r["file"])
        for r in spark.read.parquet(f"{path}/_snapshots/v={latest}").collect()
    }
    on_disk = _data_files_on_disk(path)
    assert referenced <= on_disk, "manifest references deleted files"
    assert writers.read_versioned_parquet(spark, path).count() == 100


def test_vacuum_sweeps_crashed_writer_leftovers_only_when_stale(spark, tmp_path):
    """A writer that crashed mid-commit leaves a staging dir and an
    unreferenced commit dir. Vacuum must NOT touch them while fresh
    (they could be an in-flight writer) and must sweep them once older
    than stale_tmp_seconds."""
    path = str(tmp_path / "crash")
    _mk_base(spark, path, n=10)

    # Fake a crashed writer: orphan data commit + manifest staging.
    orphan_data = os.path.join(path, "data", "c-deadbeef0000")
    os.makedirs(orphan_data)
    with open(os.path.join(orphan_data, "part-0.parquet"), "wb") as f:
        f.write(b"not really parquet")
    orphan_stage = os.path.join(path, "_snapshots", ".tmp-deadbeef0000")
    os.makedirs(orphan_stage)
    with open(os.path.join(orphan_stage, "part-0.parquet"), "wb") as f:
        f.write(b"x")

    # Fresh → untouched.
    writers.vacuum_versioned_parquet(spark, path, keep_last=1)
    assert os.path.exists(orphan_data) and os.path.exists(orphan_stage)
    # Reads still work around the junk (manifest readers never list data/).
    assert writers.read_versioned_parquet(spark, path).count() == 10

    # Age both past the window → swept.
    old = 1  # epoch 1970: definitely stale
    for p in (orphan_data, orphan_stage, os.path.join(orphan_data, "part-0.parquet")):
        os.utime(p, (old, old))
    deleted = writers.vacuum_versioned_parquet(spark, path, keep_last=1)
    assert deleted >= 1
    assert not os.path.exists(orphan_data)
    assert not os.path.exists(orphan_stage)
    assert writers.read_versioned_parquet(spark, path).count() == 10


def test_vacuum_survives_commit_dir_vanishing_between_listings(spark, tmp_path):
    """The r9 chaos-test race, pinned deterministically: a lost-race
    MERGE writer deletes its staged commit dir AFTER vacuum has listed
    ``data/`` but BEFORE vacuum lists that dir's files. The unguarded
    ``fs.listStatus(commit)`` raised FileNotFoundException through py4j
    and killed the vacuum pass; the fix skips the vanished dir (it is by
    definition cleaned-up staging or already-reaped garbage)."""
    import shutil

    path = str(tmp_path / "vanish")
    _mk_base(spark, path, n=10)

    # Fake an in-flight writer's commit dir that will vanish mid-vacuum.
    doomed = os.path.join(path, "data", "c-vanishing0000")
    os.makedirs(doomed)
    with open(os.path.join(doomed, "part-0.parquet"), "wb") as f:
        f.write(b"staged rewrite of a writer about to lose its race")

    fired = []

    def vanish(dir_path: str):
        if "c-vanishing0000" in dir_path and os.path.exists(doomed):
            shutil.rmtree(doomed)  # the loser cleaning its own staging
            fired.append(dir_path)

    writers._test_vacuum_pre_dir_list_hook = vanish
    try:
        # Must complete, not raise — the vanished dir is simply skipped.
        writers.vacuum_versioned_parquet(spark, path, keep_last=1)
    finally:
        writers._test_vacuum_pre_dir_list_hook = None

    assert fired, "injection hook never visited the doomed commit dir"
    assert not os.path.exists(doomed)
    # Live table untouched by the skipped sweep.
    assert writers.read_versioned_parquet(spark, path).count() == 10
    # A follow-up quiet pass still works and finds nothing left to do.
    assert writers.vacuum_versioned_parquet(spark, path, keep_last=1) == 0
