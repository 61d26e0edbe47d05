"""Structured Streaming jobs (SURVEY §2 #38, #40e-#40r).

The reference's "real-time alternative" is a 15-minute Airflow cron
(README §Scheduling). Spark-first that is a file-source stream
(:func:`read_events_stream`) driven into exactly-once ``foreachBatch``
sinks:

- the incremental daily rollup (:func:`run_incremental_rollup`, the
  ``stream_ingest`` benchmark workload);
- the idempotent ``batch_id=N/`` parquet sink;
- the CDC MERGE into a versioned parquet table;
- the MinHash near-dup filter with a persisted band store;
- the graph-ANN index with its view, search and compaction.

Each at-least-once epoch is made exactly-once by an idempotent
overwrite or by an ``_once_per_epoch`` marker. Tests drive these with
the file source + ``processAllAvailable()`` and kill queries at the
``_crash_point`` sites to assert replay convergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as PSWindow
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
# pytests set this to a callable invoked at named points inside the
# foreachBatch commit protocols; raising there kills the RUNNING query
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


def _once_per_epoch(root: str, marker_dir: str, site: str, apply):
    """foreachBatch function that runs ``apply(batch_df, batch_id, fs)``
    at most once per epoch: a ``<root>/<marker_dir>/batch-N`` marker is
    dropped after it returns, and a redelivered epoch whose marker
    exists is skipped. ``fs`` is the Hadoop FileSystem of ``root``; the
    ``site`` crash point sits between ``apply`` and the marker."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fs = _hadoop_fs(spark, root)
        marker = spark._jvm.org.apache.hadoop.fs.Path(f"{root}/{marker_dir}/batch-{batch_id}")
        if fs.exists(marker):
            return  # epoch replay — already applied
        apply(batch_df, batch_id, fs)
        _crash_point(site, batch_id)
        fs.mkdirs(marker)

    return write_batch


def read_events_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """#38 — schema'd file-source stream (one file per micro-batch in
    tests; swap for kafka/kinesis in production — same downstream plan)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def idempotent_batch_sink(out_dir: str):
    """#40e — foreachBatch exactly-once parquet sink.

    Structured Streaming guarantees at-least-once foreachBatch calls:
    after a crash the SAME epoch can be re-delivered. Writing each
    micro-batch to ``batch_id=<epoch>/`` with overwrite makes a replay
    rewrite the identical partition instead of duplicating rows — the
    standard idempotent-sink contract (the other half, transactional
    sinks, needs a table format with atomic commit).

    Returns a (batchDF, batchId) -> None callable for
    ``writeStream.foreachBatch``."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
        )
        _crash_point("foreach_batch:post_write", batch_id)

    return write_batch


def run_foreach_batch(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Wire a stream into the idempotent sink with a checkpoint (the
    checkpoint is what ties epoch ids to source offsets across
    restarts)."""
    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(idempotent_batch_sink(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def incremental_rollup_sink(spark, staged_dir: str, rollup_dir: str):
    """#40f — streaming ≫ incremental-rollup unification: foreachBatch
    drives operators/incremental.py's dynamic-partition-overwrite daily
    rollup, epoch-replay-safe.

    The staged history is the batches' RAW rows under
    ``date=<d>/batch_id=<epoch>/``, where ``d`` is the rollup's own key
    (operators/incremental.event_date, in the session time zone); like
    the rollup, a staged root must keep one session time zone. Per
    micro-batch, three Spark jobs:

    1. stage the batch with one partitioned write under dynamic
       partition overwrite, so a replayed epoch rewrites exactly the
       ``(date, epoch)`` directories it wrote and never appends. Rows
       are sorted by ``(date, ts, event_id)`` within each partition, so
       a redelivered epoch stages the same rows in the same order, with
       no exchange; files are zstd, with ``ts`` as TIMESTAMP_MICROS. An
       ``Observation`` on this write yields the touched dates, so
       collecting them costs no job;
    2. open the touched dates' ``date=<d>`` directories with the batch's
       schema (no inference job), drop the partition columns, and
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
    they are staged but never read.

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

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        date = incremental.event_date()
        # observe before the sort: over an observation, the planned
        # write swaps this sort for its own (date, batch_id) one
        observed, obs = incremental.observe_dates(batch_df, date)
        # a string batch_id names the same directory, and unlike an int
        # literal it is not inlined into the generated code, so a tick
        # reuses the previous tick's compiled classes
        staging = (
            observed.withColumn("date", date)
            .withColumn("batch_id", F.lit(str(batch_id)))
            .sortWithinPartitions("date", "ts", "event_id")
        )
        # foreachBatch runs in a clone of the query's session: the confs
        # must go on the batch's own session to reach this write
        with scoped_conf(
            session, "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        ), scoped_conf(session, "spark.sql.sources.partitionOverwriteMode", "dynamic"):
            staging.write.mode("overwrite").partitionBy("date", "batch_id").option(
                "compression", "zstd"
            ).parquet(staged_dir)
        _crash_point("rollup:post_stage", batch_id)
        dates = obs.get["dates"]
        if not dates:
            return
        staged = (
            spark.read.schema(batch_df.schema)
            .option("basePath", staged_dir)
            .parquet(*[f"{staged_dir}/date={d}" for d in dates])
        )
        incremental.incremental_daily_update(
            spark, staged.drop("date", "batch_id"), rollup_dir
        )

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


# ---------------------------------------------------------------------------
# #40p streaming CDC merge into a versioned table
# ---------------------------------------------------------------------------


def cdc_merge_sink(
    table_path: str,
    key_cols: list[str],
    order_col: str = "ts",
    tiebreak_col: str = "event_id",
):
    """foreachBatch sink that MERGEs each micro-batch into a versioned
    parquet table (Delta-style copy-on-write upsert, the streaming CDC
    apply pattern): the batch first compacts to its LATEST row per key
    (max ``order_col``, id-tiebroken — a batch can carry several changes
    to one key), then ``merge_versioned_parquet`` rewrites only the
    key-matched data files and commits a new snapshot.

    Replay safety: at-least-once foreachBatch delivery would double-
    commit snapshots, so each applied epoch drops a
    ``_commits/batch-<id>`` marker and a redelivered epoch is skipped
    — the transactional half of the idempotent-sink contract that the
    partition-overwrite sink (#40e) gets for free. A crash BETWEEN the
    merge commit and the marker write re-merges the same compacted
    batch on restart: content-idempotent (update-wins of identical
    rows), at the cost of one redundant snapshot version — the
    standard at-least-once residue a manifest-transaction would
    close."""
    from ..sinks.writers import merge_versioned_parquet

    def merge_batch(batch_df: DataFrame, batch_id: int, fs) -> None:
        w = PSWindow.partitionBy(*key_cols).orderBy(
            F.col(order_col).desc(), F.col(tiebreak_col).desc()
        )
        compacted = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        merge_versioned_parquet(batch_df.sparkSession, table_path, compacted, key_cols)

    return _once_per_epoch(table_path, "_commits", "cdc_merge:pre_marker", merge_batch)


def run_cdc_merge(
    stream_df: DataFrame,
    table_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    order_col: str = "ts",
    tiebreak_col: str = "event_id",
):
    """Wire a change stream into the versioned-table MERGE sink."""
    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(cdc_merge_sink(table_path, key_cols, order_col, tiebreak_col))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# ---------------------------------------------------------------------------
# #40q streaming MinHash near-dup filter with a persistent band store
# ---------------------------------------------------------------------------

DOCS_SCHEMA = "doc_id bigint, text string"


def read_docs_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source document stream (one parquet file per micro-batch,
    same trigger discipline as read_events_stream)."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def minhash_dedup_sink(
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
):
    """foreachBatch near-dup filter: the streaming twin of the
    incremental MinHash probe, with the band store actually PERSISTED —
    each epoch signs only its own micro-batch; the accumulated corpus
    is never re-signed (`dedup.incremental_minhash_probe`).

    Per epoch:
      1. intra-batch LSH pass — a doc that near-dups a LOWER-id doc in
         the same batch drops first (the same survivor rule as the
         batch cluster family);
      2. intra-survivors probe the persisted band store (broadcast the
         tiny batch side, stream the store map-side);
      3. decisions land under ``decisions/epoch=N`` (one row per input
         doc: kept / intra-dup / corpus-dup + matched id + estimated
         Jaccard), survivors' bands append under ``bands/epoch=N``.

    Replay safety: an ``_epochs/batch-N`` marker makes redelivered
    epochs no-ops (same contract as the CDC merge sink), and a crash
    BETWEEN the band write and the marker is also safe: the probe
    filters the store's ``epoch`` partition column to epochs below the
    current one, so a re-run never sees its own partially-committed
    bands (it would otherwise self-match every survivor as a corpus dup
    of itself and overwrite its band partition with an empty relation).
    At 100 TB the band store is the only growing state, it is
    append-only parquet keyed by (b, bkey), and a compaction/bucketing
    pass over it is ordinary table maintenance — no driver state
    anywhere."""
    from ..operators import dedup

    def dedup_batch(batch_df: DataFrame, batch_id: int, fs) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm
        batch = batch_df.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        ).localCheckpoint(eager=True)

        # sign the micro-batch text EXACTLY ONCE; intra pairs, the
        # corpus probe, and the store append all reuse this relation
        batch_bands = dedup.minhash_bands(
            batch, "doc_id", "text", n=n, num_hashes=num_hashes, bands=bands
        ).localCheckpoint(eager=True)

        # materialize=False: batch_bands is already an eager checkpoint
        # leaf; re-checkpointing it would hold a second copy of its
        # blocks per micro-batch until GC (ADVICE r14)
        pairs = dedup.pairs_from_bands(
            batch_bands, num_hashes=num_hashes, materialize=False
        ).filter(
            F.col("est_jaccard") >= threshold
        )
        intra = pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
            F.min("id_a").alias("intra_matched_id"),
            F.max("est_jaccard").alias("intra_est"),
        )
        survivors = batch.join(intra, "doc_id", "left_anti")
        survivor_bands = batch_bands.join(
            intra.select(F.col("doc_id").alias("id")), "id", "left_anti"
        )

        bands_path = f"{store_dir}/bands"
        have_store = fs.exists(jvm.org.apache.hadoop.fs.Path(bands_path))
        if have_store:
            # epoch < current: a partially-committed own epoch (crash
            # before the marker landed) must not probe against itself
            store = spark.read.parquet(bands_path).filter(
                F.col("epoch") < batch_id
            )
            flags = dedup.incremental_minhash_probe(
                store, survivors, "doc_id", "text",
                n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
                new_bands_rel=survivor_bands,
            )
        else:
            flags = survivors.select(
                "doc_id",
                F.lit(0).alias("is_dup_of_corpus"),
                F.lit(None).cast("bigint").alias("matched_corpus_id"),
                F.lit(None).cast("double").alias("best_est_jaccard"),
            )
        flags = flags.localCheckpoint(eager=True)

        decisions = (
            batch.select("doc_id")
            .join(intra, "doc_id", "left")
            .join(flags, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("intra_matched_id").isNotNull(), "intra")
                .when(F.col("is_dup_of_corpus") == 1, "corpus")
                .otherwise("kept")
                .alias("decision"),
                F.coalesce("intra_matched_id", "matched_corpus_id").alias("matched_id"),
                F.coalesce("intra_est", "best_est_jaccard").alias("est_jaccard"),
            )
        )
        decisions.write.mode("overwrite").parquet(
            f"{store_dir}/decisions/epoch={batch_id}"
        )
        kept = flags.filter(F.col("is_dup_of_corpus") == 0).select(
            F.col("doc_id").alias("id")
        )
        new_bands = survivor_bands.join(kept, "id", "left_semi").select(
            "id", "sig", "b", "bkey"
        )
        new_bands.write.mode("overwrite").parquet(f"{bands_path}/epoch={batch_id}")

    return _once_per_epoch(store_dir, "_epochs", "minhash:pre_marker", dedup_batch)


def run_minhash_dedup(stream_df: DataFrame, store_dir: str, checkpoint_dir: str):
    """Wire a document stream into the near-dup filter sink."""
    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(minhash_dedup_sink(store_dir))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# ---------------------------------------------------------------------------
# #40r: streaming ANN index maintenance (graph-ANN sibling of the
# MinHash band store — the vector corpus is never re-scored)
# ---------------------------------------------------------------------------

VECS_SCHEMA = "vec_id bigint, embedding array<float>"


def ann_index_sink(store_dir: str, id_col: str = "vec_id",
                   vec_col: str = "embedding", k: int = 8):
    """foreachBatch incremental graph-ANN index: each epoch inserts its
    micro-batch of vectors into the PERSISTED NN-Descent graph via
    batched beam placement (`ann_graph.insert_into_graph`) — the
    standing corpus is never re-scored, exactly the MinHash band-store
    discipline applied to similarity search.

    Store layout (all append-only, epoch-partitioned parquet):
      * ``vectors/epoch=N`` — the batch's (id, vector) rows;
      * ``graph/epoch=N``  — adjacency DELTA: the new nodes' lists plus
        only the old nodes whose list changed (a back-link displaced an
        incumbent edge). Readers take each node's latest epoch
        (:func:`ann_index_view`) — last-writer-wins per node, the CDC
        merge convention.

    Replay safety: an ``_epochs/batch-N`` marker makes redelivered
    epochs no-ops, and both loads filter ``epoch < batch_id`` so a
    crash between the data writes and the marker can never make a
    re-run read its own partial output. The first epoch (empty store)
    builds the graph from the batch alone with NN-Descent proper.

    At 100 TB the store is the only growing state; per epoch the work
    is O(batch · beam · k · hops) scoring against the standing graph —
    never O(corpus) — and compaction of old epochs is ordinary table
    maintenance.
    """
    from ..operators import ann_graph

    def index_batch(batch_df: DataFrame, batch_id: int, fs) -> None:
        spark = batch_df.sparkSession
        jvm = spark._jvm
        batch = batch_df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ).localCheckpoint(eager=True)

        vec_path = f"{store_dir}/vectors"
        have_store = fs.exists(jvm.org.apache.hadoop.fs.Path(vec_path))
        if have_store:
            old = (
                spark.read.parquet(vec_path)
                .filter(F.col("epoch") < batch_id)
                .select("id", "v")
            )
            # drop ids already indexed (idempotent upstream redelivery)
            batch_new = batch.join(old, "id", "left_anti").localCheckpoint(
                eager=True
            )
            g_old = ann_index_view(spark, store_dir, max_epoch=batch_id)
            old_adj, new_adj = ann_graph.insert_into_graph(
                old, g_old, batch_new, "bigint", k=k
            )
            # delta: new nodes always; old nodes only where a back-link
            # changed the list (anti-join on the exact row set)
            changed_old = old_adj.join(
                g_old.select("id", "nb", "cosine", "rank"),
                ["id", "nb", "cosine", "rank"],
                "left_anti",
            ).select("id").distinct()
            delta = new_adj.unionByName(
                old_adj.join(changed_old, "id", "left_semi")
            )
        else:
            batch_new = batch
            delta = ann_graph.nndescent_graph(
                batch.select(F.col("id").alias(id_col),
                             F.col("v").alias(vec_col)),
                id_col, vec_col, k=k,
            ).select(
                F.col(id_col).alias("id"),
                F.col("neighbor_id").alias("nb"),
                "cosine", "rank",
            )

        delta.write.mode("overwrite").parquet(f"{store_dir}/graph/epoch={batch_id}")
        batch_new.write.mode("overwrite").parquet(f"{vec_path}/epoch={batch_id}")

    return _once_per_epoch(store_dir, "_epochs", "ann_index:pre_marker", index_batch)


def ann_index_view(spark: SparkSession, store_dir: str,
                   max_epoch: int | None = None) -> DataFrame:
    """Current adjacency of the persisted index: each node's rows from
    its LATEST epoch (last-writer-wins per node). ``max_epoch`` bounds
    the read to epochs strictly below it (crash-safe replay reads)."""
    g = spark.read.parquet(f"{store_dir}/graph")
    if max_epoch is not None:
        g = g.filter(F.col("epoch") < max_epoch)
    latest = g.groupBy("id").agg(F.max("epoch").alias("epoch"))
    return g.join(latest, ["id", "epoch"]).select("id", "nb", "cosine", "rank")


def ann_index_search(spark: SparkSession, store_dir: str,
                     queries: DataFrame, k: int = 5, beam: int = 8,
                     hops: int = 3, n_hubs: int = 64) -> DataFrame:
    """Beam-search the persisted index for a (qid, qv) query relation —
    same output contract as the batch ``ann_*_topk`` operators."""
    from pyspark.sql import Window

    from ..operators import ann_graph

    base = (
        spark.read.parquet(f"{store_dir}/vectors").select("id", "v")
    )
    g = ann_index_view(spark, store_dir)
    edges = ann_graph._symmetrize(
        g.select("id", F.col("nb").alias("neighbor_id")), "id"
    )
    state = ann_graph._beam_states(
        base, edges, queries, "bigint", beam, hops, n_hubs
    )
    final = state.filter(F.col("qid") != F.col("node"))
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("node").asc()
    )
    return (
        final.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("node").alias("neighbor_id"),
            "cosine",
            "rank",
        )
    )


def read_vecs_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(VECS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def run_ann_index(stream_df: DataFrame, store_dir: str, checkpoint_dir: str):
    """Wire a vector stream into the incremental ANN index sink."""
    return (
        stream_df.writeStream.outputMode("append")
        .foreachBatch(ann_index_sink(store_dir))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def ann_index_compact(spark: SparkSession, store_dir: str) -> dict:
    """Table maintenance for the streaming ANN store (the
    vacuum/compact sibling of the versioned-parquet sinks): collapse
    all graph epochs into one last-writer-wins snapshot and all vector
    epochs into one partition, both written as ``epoch=K`` where K is
    the highest epoch compacted — readers see an identical view
    (``epoch < batch_id`` filters and :func:`ann_index_view` keep
    working unchanged, since every surviving row's epoch is <= K), and
    the per-epoch small-file growth resets. Epoch markers are left
    untouched: replay of an already-applied batch stays a no-op.

    Returns {"epochs_before", "rows_graph", "rows_vectors"}.
    """
    import shutil

    g = spark.read.parquet(f"{store_dir}/graph")
    epochs = [r["epoch"] for r in g.select("epoch").distinct().collect()]
    k = max(epochs)
    view = ann_index_view(spark, store_dir).localCheckpoint(eager=True)
    vecs = (
        spark.read.parquet(f"{store_dir}/vectors")
        .select("id", "v")
        .localCheckpoint(eager=True)
    )
    n_g, n_v = view.count(), vecs.count()
    shutil.rmtree(f"{store_dir}/graph")
    shutil.rmtree(f"{store_dir}/vectors")
    view.write.mode("overwrite").parquet(f"{store_dir}/graph/epoch={k}")
    vecs.write.mode("overwrite").parquet(f"{store_dir}/vectors/epoch={k}")
    return {
        "epochs_before": len(epochs),
        "rows_graph": n_g,
        "rows_vectors": n_v,
    }
