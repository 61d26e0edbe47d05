"""SparkSession construction tuned for this engine.

Local testing runs one JVM (``local[N]``); production posture is a
multi-executor cluster — every knob here is safe for both. The oracle
comparison (DuckDB) uses UTC-naive timestamps, so the session timezone
is pinned to UTC.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession


_CGROUP_MEM_LIMITS = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2 ("max" when unlimited)
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def _default_driver_mem() -> str:
    """16g, capped at 60 % of the memory this process may use: the
    cgroup limit if one is set, else physical RAM. The local-mode driver
    JVM hosts every executor thread, and a 16g heap on a 16 GiB host
    leaves nothing for the Python workers and the OS."""
    avail = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_MEM_LIMITS:
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            avail = min(avail, int(limit))
    cap_mb = int(avail * 0.6) >> 20
    return "16g" if cap_mb >= 16 * 1024 else f"{cap_mb}m"


def get_session(app_name: str = "calidad_del_aire_etl_spark") -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter join pruning: at 100 TB a selective dim
        # filter seeds a bloom filter that prunes the fact scan before
        # the shuffle (default size thresholds gate it to big scans, so
        # it is a no-op at test scale — tests force thresholds down to
        # prove the capability; see tests/test_plans.py)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Scan-split sizing, env-tunable. Measured at bench scale: 4 MB
        # splits sped the single-split decimal aggs ~10% but cost 2x on
        # every mapInPandas op (more tasks = more Arrow/Python worker
        # round-trips) — net loss, so the default stays 128 MB and
        # CPU-heavy small-file scans use load(spread=True)'s explicit
        # one-time repartition instead. At other data scales size this
        # so partitions ≈ a few per core (the knob exists for that).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        # ObjectHashAggregate (collect_set/collect_list paths) falls back
        # to sort-based aggregation after only 128 in-memory keys by
        # default — a per-task re-sort on every basket/array build. Raise
        # it to a BOUNDED budget, not "effectively never" (ADVICE r6: a
        # 4M cap × a few hundred bytes of array state ≈ 1 GB+/task on a
        # skewed key — trades spill safety for OOM). 262144 states ×
        # ~256 B bounded-array state ≈ 64 MB/task worst case, covers the
        # per-task group cardinality at every tested SF (sf1: ~1.5M
        # orders / 32 tasks ≈ 47k groups) with 5× headroom, and still
        # leaves the sort-based fallback live for genuinely hot keys.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Pin the Python worker pool's retention semantics explicitly
        # (these ARE the 4.x defaults — reuse on, no idle kill, no pool
        # cap — pinned so a future default flip can't silently make a
        # long JVM-only stretch drain the pool and charge the next
        # Arrow stage ~0.3 s/task of respawn; a 0.8 s mapInPandas query
        # was once observed at 11 s in-suite with exactly that
        # per-task-spawn signature, cause unconfirmed)
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.killOnIdleTimeout", "false")
        # Local mode runs every executor thread inside the driver JVM, so
        # this IS the executor memory. 8 GB put every ~100M-key sf10
        # aggregation into TaskMemoryManager page-alloc thrash + spill
        # (basket_affinity 15.8 s at 8 GB vs 12.2 s at 16 GB); going PAST
        # 16 GB flips the sort-heavy shuffles the other way —
        # corpus_dup_spans_exact measured 48 s @16 GB, 77 s @30 GB,
        # 159 s @32 GB, 125 s @64 GB (GC/pointer-density effects dominate
        # once the shuffle buffers stop spilling early; ≥32 GB also drops
        # CompressedOops). 16 GB ≈ 0.5 GB per task thread is the measured
        # sweet spot on a 32-thread/128 GiB box; smaller hosts get a
        # capped default (_default_driver_mem).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        # The oracle comparator collects full results via toPandas; at
        # sf1 the 15-min resample grid serializes past the 1g default
        # (1.3 GiB, task results only — operators themselves never
        # collect). 4g on a 128 GiB box; irrelevant on a real cluster
        # where the driver never sees result data.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "4g"),
        )
        .config("spark.ui.enabled", "false")
        # Progress bars write \r-frames to stdout; under the bench driver's
        # bounded stdout-tail capture they competed with (and in round 4
        # displaced) the result JSON line. Purely cosmetic — off.
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_oracle_compat(spark: SparkSession) -> SparkSession:
    """Runtime-settable confs that keep results comparable with DuckDB.

    Called by every registry query because the driver owns the session
    and may not have configured it.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The testdata writes `events.ts` as TIMESTAMP(NANOS); Spark has no
    # nanosecond timestamp type, so read it as a long and convert in the
    # loader (values are µs-aligned — verified in tools/compare.py runs).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Several queries rely on ANSI NULL semantics (e.g. size(NULL) =
    # NULL feeding coalesce(size(cps), 0) in corpus.dup_spans); under
    # ansi.enabled=false with legacy sizeOfNull, size(NULL) = -1 and
    # unmatched docs would get n_dup_spans = -1. Pin it so a host-side
    # config flip can't silently corrupt output (ADVICE r13).
    spark.conf.set("spark.sql.ansi.enabled", "true")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set a runtime SQL conf for the block, then restore (or unset) it.

    Session confs are per-session: inside ``foreachBatch`` pass the
    batch DataFrame's ``sparkSession`` (a clone of the query's session),
    or the conf never reaches the batch's writes."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def checkpoint_keeping_partitioning(df):
    """Eager localCheckpoint that PRESERVES the relation's hash
    partitioning metadata.

    Under AQE the materialized plan reports UnknownPartitioning, so every
    downstream window/aggregate whose keys the upstream clustering
    already satisfies would re-shuffle — the checkpoint's whole point is
    to let them ride the existing exchange. Disabling AQE for just the
    materialization job pins the physical plan's HashPartitioning into
    the checkpointed LogicalRDD (verified by test_plans: downstream
    window on a superset key compiles to Sort-no-Exchange).

    Use when a mid-pipeline relation (a) is expensive, (b) feeds 2+
    consumers, and (c) its partitioning should keep serving downstream
    passes. Blocks are local and released by the ContextCleaner when the
    DataFrame is garbage-collected — no unpersist bookkeeping (and
    non-reliable: executor loss fails the job instead of recomputing —
    on a real cluster the standing relation lives in storage instead).

    Concurrency (VERDICT r14 #6): the AQE flip is a SESSION-wide conf,
    so two threads interleaving set/restore could leave AQE off or
    compile an unrelated query without AQE mid-window. A module lock
    serializes the flip+materialize window; any future code that PLANS
    queries from other threads while a checkpoint may be in flight must
    take this same lock around plan construction (the repo's only
    concurrent submissions — the ann_graph family's — build their plans
    on the calling thread before any such window opens).
    """
    spark = df.sparkSession
    with _AQE_TOGGLE_LOCK, scoped_conf(spark, "spark.sql.adaptive.enabled", "false"):
        return df.localCheckpoint(eager=True)


_AQE_TOGGLE_LOCK = threading.RLock()
