from __future__ import annotations

import pytest

import datetime as dt
import shutil
import tempfile


from calidad_del_aire_etl_spark.streaming import jobs


@pytest.fixture()
def input_dir(spark):
    d = tempfile.mkdtemp(prefix="stream_in_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _t(minute):
    return dt.datetime(2024, 1, 1, 10, minute)


def test_foreach_batch_sink_is_idempotent(spark, input_dir, tmp_path, land_batch):
    """Replaying a batch id overwrites its partition instead of
    duplicating rows."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    land_batch(input_dir, [(1, _t(0), 7, "click", 1.5)], 0)
    stream = jobs.read_events_stream(spark, input_dir)
    q = jobs.run_foreach_batch(stream, out, ckpt)
    try:
        q.processAllAvailable()
        land_batch(input_dir, [(2, _t(1), 8, "view", 2.5)], 1)
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 2
    # simulate an epoch replay: deliver batch 0's frame again with the
    # same batch id — row count must NOT change
    replay = spark.createDataFrame([(1, _t(0), 7, "click", 1.5)], jobs.EVENTS_SCHEMA)
    jobs.idempotent_batch_sink(out)(replay, 0)
    assert spark.read.parquet(out).count() == 2
    assert {r.batch_id for r in spark.read.parquet(out).select("batch_id").collect()} == {0, 1}


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

    # replay epoch 0: re-deliver the same batch to the sink directly
    # (materialized first — a real replayed batch comes from the
    # checkpointed source, not from the staged files being overwritten)
    replay_rows = spark.read.parquet(staged).drop("date", "batch_id").collect()
    incremental_rollup_sink(spark, staged, rollup)(
        spark.createDataFrame(replay_rows, jobs.EVENTS_SCHEMA), 0
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


def test_streaming_cdc_merge_versioned(spark, input_dir, tmp_path, land_batch):
    """Change stream MERGEs into the versioned table: latest change per
    key wins within a batch, cross-batch upserts land as snapshots, and
    a replayed epoch is skipped via the commit marker."""
    from calidad_del_aire_etl_spark.sinks import writers

    table = str(tmp_path / "cdc_table")
    ckpt = str(tmp_path / "ckpt")
    # batch 0: users 1,2 — user 1 has two changes, later ts wins
    land_batch(input_dir, [
        (1, _t(0), 1, "click", 10.0),
        (2, _t(5), 1, "click", 11.0),
        (3, _t(1), 2, "view", 20.0),
    ], 0)
    stream = jobs.read_events_stream(spark, input_dir)
    q = jobs.run_cdc_merge(stream, table, ["user_id"], ckpt)
    try:
        q.processAllAvailable()
        got = {r["user_id"]: r["value"]
               for r in writers.read_versioned_parquet(spark, table).collect()}
        assert got == {1: 11.0, 2: 20.0}
        land_batch(input_dir, [
            (4, _t(9), 1, "click", 12.0),
            (5, _t(9), 3, "signup", 30.0),
        ], 1)
        q.processAllAvailable()
        got = {r["user_id"]: r["value"]
               for r in writers.read_versioned_parquet(spark, table).collect()}
        assert got == {1: 12.0, 2: 20.0, 3: 30.0}
    finally:
        q.stop()
    v = writers.latest_version(spark, table)
    # replaying epoch 0 by hand must be a no-op (marker exists)
    sink = jobs.cdc_merge_sink(table, ["user_id"])
    sink(spark.createDataFrame([(9, _t(0), 1, "click", 99.0)], jobs.EVENTS_SCHEMA), 0)
    assert writers.latest_version(spark, table) == v
    got = {r["user_id"]: r["value"]
           for r in writers.read_versioned_parquet(spark, table).collect()}
    assert got[1] == 12.0


def test_streaming_minhash_dedup_band_store(spark, input_dir, tmp_path, land_batch):
    """#40q: intra-batch near-dups drop first, later epochs' dups are
    caught against the PERSISTED band store (the corpus is never
    re-signed), and a replayed epoch is a no-op."""
    import os

    store = str(tmp_path / "mh_store")
    ckpt = str(tmp_path / "mh_ckpt")
    base = "the quick brown fox jumps over the lazy dog again and again"
    novel1 = "completely different text about spark physical planning details"
    novel2 = "yet another unrelated document on parquet row group statistics"

    land_batch(input_dir, [(1, base), (2, base + " tail"), (3, novel1)], 0, jobs.DOCS_SCHEMA)
    stream = jobs.read_docs_stream(spark, input_dir)
    q = jobs.run_minhash_dedup(stream, store, ckpt)
    try:
        q.processAllAvailable()
        land_batch(input_dir, [(4, base + " coda"), (5, novel2)], 1, jobs.DOCS_SCHEMA)
        q.processAllAvailable()
    finally:
        q.stop()

    dec = {
        r["doc_id"]: (r["decision"], r["matched_id"])
        for r in spark.read.parquet(f"{store}/decisions").collect()
    }
    assert dec[1] == ("kept", None)
    assert dec[2][0] == "intra" and dec[2][1] == 1
    assert dec[3] == ("kept", None)
    assert dec[4][0] == "corpus" and dec[4][1] == 1
    assert dec[5] == ("kept", None)

    # band store holds exactly the kept docs (each doc appears in
    # `bands` rows — one per band)
    stored_ids = {
        r["id"] for r in spark.read.parquet(f"{store}/bands").select("id").collect()
    }
    assert stored_ids == {1, 3, 5}

    # replaying epoch 0 by hand must not change the store or decisions
    n_band_rows = spark.read.parquet(f"{store}/bands").count()
    sink = jobs.minhash_dedup_sink(store)
    sink(spark.createDataFrame([(9, "replayed junk")], jobs.DOCS_SCHEMA), 0)
    assert spark.read.parquet(f"{store}/bands").count() == n_band_rows
    assert 9 not in {
        r["doc_id"] for r in spark.read.parquet(f"{store}/decisions").collect()
    }

    # crash-between-band-write-and-marker: epoch 1's bands are on disk
    # but its marker is not; the re-run must NOT self-match the batch
    # against its own partial bands (which would flag every survivor a
    # corpus-dup of itself and empty its band partition)
    import shutil as _sh

    _sh.rmtree(f"{store}/_epochs", ignore_errors=False)
    os.makedirs(f"{store}/_epochs")  # keep dir, drop all markers
    sink(
        spark.createDataFrame(
            [(4, base + " coda"), (5, novel2)], jobs.DOCS_SCHEMA
        ),
        1,
    )
    dec_replay = {
        r["doc_id"]: (r["decision"], r["matched_id"])
        for r in spark.read.parquet(f"{store}/decisions/epoch=1").collect()
    }
    assert dec_replay[4][0] == "corpus" and dec_replay[4][1] == 1
    assert dec_replay[5] == ("kept", None)
    assert spark.read.parquet(f"{store}/bands").count() == n_band_rows
    stored_after = {
        r["id"] for r in spark.read.parquet(f"{store}/bands").select("id").collect()
    }
    assert stored_after == {1, 3, 5}


@pytest.mark.slow
def test_streaming_ann_index_store(spark, input_dir, tmp_path, land_batch):
    """#40r: epoch 0 bootstraps the graph from its own batch; later
    epochs insert against the PERSISTED index (the standing corpus is
    never re-scored); the view is last-writer-wins per node; search
    over the store finds planted neighbors; a replayed epoch is a
    no-op."""
    import os

    import numpy as np

    store = str(tmp_path / "ann_store")
    ckpt = str(tmp_path / "ann_ckpt")
    rng = np.random.RandomState(3)

    def mk(seed_vec, eps, n, start_id):
        rows = []
        for i in range(n):
            v = seed_vec + eps * rng.randn(8)
            rows.append((start_id + i, [float(x) for x in v]))
        return rows

    a = rng.randn(8)
    b = rng.randn(8)
    batch0 = mk(a, 0.05, 6, 0) + mk(b, 0.05, 6, 100)

    land_batch(input_dir, batch0, 0, jobs.VECS_SCHEMA)
    q = jobs.run_ann_index(jobs.read_vecs_stream(spark, input_dir), store, ckpt)
    try:
        q.processAllAvailable()
        land_batch(input_dir, mk(a, 0.05, 3, 200), 1, jobs.VECS_SCHEMA)  # near cluster a
        q.processAllAvailable()
    finally:
        q.stop()

    # view covers every inserted node with ranked, self-loop-free lists
    view = jobs.ann_index_view(spark, store)
    rows = view.collect()
    nodes = {r["id"] for r in rows}
    assert nodes == set(range(6)) | set(range(100, 106)) | set(range(200, 203))
    for n in nodes:
        nbrs = [r for r in rows if r["id"] == n]
        assert all(r["nb"] != n for r in nbrs)
        assert sorted(r["rank"] for r in nbrs) == list(range(1, len(nbrs) + 1))

    # arrivals near cluster a must link into cluster a, not b
    for n in (200, 201, 202):
        nbrs = {r["nb"] for r in rows if r["id"] == n}
        assert nbrs & (set(range(6)) | {200, 201, 202} - {n}), nbrs
        a_side = sum(1 for x in nbrs if x < 100 or x >= 200)
        assert a_side > len(nbrs) / 2, (n, nbrs)

    # search the persisted store: a fresh query near cluster b returns
    # b-cluster neighbors
    qv = [float(x) for x in (b + 0.02 * rng.randn(8))]
    queries = spark.createDataFrame([(999, qv)], "qid bigint, qv array<float>")
    hits = jobs.ann_index_search(spark, store, queries, k=4).collect()
    assert len(hits) == 4
    assert all(100 <= r["neighbor_id"] < 106 for r in hits), hits

    # replaying epoch 0 by hand is a no-op
    n_graph_rows = spark.read.parquet(f"{store}/graph").count()
    sink = jobs.ann_index_sink(store)
    sink(spark.createDataFrame([(9, [0.0] * 8)], jobs.VECS_SCHEMA), 0)
    assert spark.read.parquet(f"{store}/graph").count() == n_graph_rows
    assert 9 not in {
        r["id"] for r in spark.read.parquet(f"{store}/vectors").collect()
    }

    # crash between data writes and marker: drop epoch 1's marker and
    # re-run it — the re-run must read only epochs < 1 and converge to
    # a store that still answers the same searches
    import shutil as _sh

    _sh.rmtree(f"{store}/_epochs")
    os.makedirs(f"{store}/_epochs")
    sink(spark.createDataFrame(mk(a, 0.05, 3, 200), jobs.VECS_SCHEMA), 1)
    view2 = jobs.ann_index_view(spark, store)
    assert {r["id"] for r in view2.collect()} == nodes


@pytest.mark.slow
def test_ann_index_compact_preserves_view(spark, input_dir, tmp_path):
    """#40r maintenance: compaction collapses the epoch partitions into
    one snapshot with an IDENTICAL last-writer-wins view, search still
    works, and a later epoch can still append past it."""
    import glob
    import os

    import numpy as np

    store = str(tmp_path / "annc_store")
    rng = np.random.RandomState(11)
    sink = jobs.ann_index_sink(store)

    def rows(n, start_id, center):
        return [
            (start_id + i, [float(x) for x in center + 0.05 * rng.randn(8)])
            for i in range(n)
        ]

    a, b = rng.randn(8), rng.randn(8)
    sink(spark.createDataFrame(rows(6, 0, a) + rows(6, 100, b), jobs.VECS_SCHEMA), 0)
    sink(spark.createDataFrame(rows(3, 200, a), jobs.VECS_SCHEMA), 1)

    before = {
        (r["id"], r["nb"], r["cosine"], r["rank"])
        for r in jobs.ann_index_view(spark, store).collect()
    }
    stats = jobs.ann_index_compact(spark, store)
    assert stats["epochs_before"] == 2 and stats["rows_graph"] == len(before)
    after = {
        (r["id"], r["nb"], r["cosine"], r["rank"])
        for r in jobs.ann_index_view(spark, store).collect()
    }
    assert after == before
    # one epoch partition left, and appending epoch 2 still works
    eps = {r["epoch"] for r in spark.read.parquet(f"{store}/graph").select("epoch").distinct().collect()}
    assert eps == {1}
    sink(spark.createDataFrame(rows(2, 300, b), jobs.VECS_SCHEMA), 2)
    ids = {r["id"] for r in jobs.ann_index_view(spark, store).collect()}
    assert {300, 301} <= ids and len(ids) == 17
