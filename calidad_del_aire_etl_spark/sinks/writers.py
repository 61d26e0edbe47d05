"""Load-phase sinks (SURVEY §2 #43; reference dag:287-359).

The reference writes one CSV + one parquet file and has a chunked
PostgreSQL path. The CSV and parquet writes are ``plans.air_quality.load``'s
own. This module holds the rest: bucketed fact tables, the JDBC path
(Spark-first, the "chunk" is the task partition) and the versioned
copy-on-write parquet table.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed table write: downstream joins and aggregations on
    ``bucket_cols`` read the bucketing as a pre-existing partitioning and
    skip their shuffle entirely (asserted in tests/test_bucketing.py).
    The 100 TB pattern for fact tables that are repeatedly joined or
    grouped on the same key — pay the shuffle once at write time."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


# Fact tables worth pre-bucketing, with their join keys: every TPC-H
# micro query's big exchange is lineitem⋈orders on the orderkey.
BUCKETED_FACTS: dict[str, list[str]] = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
}


def bucketed_table_name(sf_dir: str, name: str) -> str:
    """Session-catalog table name for a pre-bucketed fact: derived from
    the sf dir so several scale factors can coexist in one catalog."""
    import re

    tag = re.sub(r"[^0-9A-Za-z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    return f"bkt_{tag}_{name}"


def prepare_bucketed_facts(
    spark, sf_dir: str, num_buckets: int = 32, tables: dict | None = None
) -> dict[str, float]:
    """Materialize the pre-bucketed fact layout for ``sf_dir`` into the
    session catalog (VERDICT r13 #4) — the storage posture a production
    deployment uses for fact tables that are repeatedly joined on the
    same key. Each table is repartitioned on its bucket key into
    ``num_buckets`` tasks BEFORE ``bucketBy(num_buckets)``: Spark's
    repartition and bucket id use the same pmod(murmur3)% function, so
    every task holds exactly one bucket and each bucket lands in ONE
    file — the precondition for the sortBy metadata to be honored at
    read time (multi-file buckets force a re-sort under sort-merge).

    With both facts bucketed+sorted on the orderkey, the
    lineitem⋈orders join plans with NO Exchange and NO Sort: the one
    ~60 M-row fact shuffle the TPC-H micro family pays per query at
    sf10 is paid once here, at write time — exactly the asymmetry a
    100 TB deployment exploits (facts are written once, joined
    thousands of times).

    Returns {table: build_seconds}. Skips tables already in the
    catalog (idempotent across bench reruns in one session; the
    catalog is per-session under the default in-memory implementation,
    so a fresh process rebuilds).
    """
    import time

    from ..registry import load as _load

    # One file per bucket (the repartition alignment below) is exactly
    # the precondition under which the scan may report the sortBy
    # ordering; Spark only does so behind this flag (default false
    # since 3.0), and with it the bucketed SMJ drops its per-side Sort
    # as well as the Exchange.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    built: dict[str, float] = {}
    for name, keys in (tables or BUCKETED_FACTS).items():
        tbl = bucketed_table_name(sf_dir, name)
        if spark.catalog.tableExists(tbl):
            continue
        # Under the default in-memory catalog a fresh process forgets
        # the table but its managed location survives in the warehouse
        # dir; saveAsTable then refuses with LOCATION_ALREADY_EXISTS.
        # The files are unreadable as a bucketed table without their
        # catalog metadata anyway, so clear the stale location.
        import shutil
        from urllib.parse import urlparse

        wh = spark.conf.get("spark.sql.warehouse.dir")
        loc = os.path.join(urlparse(wh).path or wh, tbl)
        if os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
        t0 = time.perf_counter()
        df = _load(spark, sf_dir, name).repartition(num_buckets, *keys)
        write_bucketed(df, tbl, keys, num_buckets=num_buckets, sort_cols=keys)
        built[tbl] = round(time.perf_counter() - t0, 3)
    return built


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", **options
) -> None:
    """JDBC sink (reference dag:323-348's PostgreSQL path). Needs the
    database's driver jar on the classpath; Spark's own error (e.g.
    "No suitable driver", an existing table under ``mode="error"``)
    propagates unchanged. Integration-tested against embedded Derby
    (shipped in Spark's jars) in tests/test_jdbc.py."""
    w = df.write.format("jdbc").option("url", url).option("dbtable", table).mode(mode)
    for k, v in options.items():
        w = w.option(k, v)
    w.save()

class CommitConflictError(RuntimeError):
    """A concurrent writer committed the snapshot version this writer
    was about to publish; raised only after ``max_retries`` rebases."""


def _vanished_file_race(e: Exception) -> bool:
    """True iff ``e`` is Spark failing to read a file that a concurrent
    VACUUM retired mid-job (FAILED_READ_FILE / FileNotFoundException).
    A rebasing writer treats this exactly like a commit conflict: the
    snapshot it was reading is gone because a newer one exists, so
    re-resolving ``latest_version`` and retrying reads files vacuum is
    guaranteed to retain (``keep_last >= 1``). Narrow on message text —
    py4j wraps the Java exception chain into the str."""
    msg = str(e)
    return "FAILED_READ_FILE" in msg or "FileNotFoundException" in msg


# Test-only injection point: invoked once immediately before the atomic
# publish rename, letting a pytest deterministically interleave a
# competing writer into the read→compute→commit window.
_test_pre_publish_hook = None

# Test-only injection point: invoked by VACUUM for each commit dir
# between the data/ listing and the per-dir listStatus, with the dir
# path string — lets a pytest deterministically vanish the dir inside
# that window (the r9 chaos-test race).
_test_vacuum_pre_dir_list_hook = None


def _strip_file_scheme(spark, p: str) -> str | None:
    """Local-filesystem path for ``p``, or None if it resolves to a
    remote filesystem. Scheme-less paths inherit ``fs.defaultFS`` (a
    bare ``/warehouse/t`` on a defaultFS=hdfs cluster is an HDFS path,
    not a local one — assuming local would silently take the POSIX
    rename branch against the wrong filesystem)."""
    if p.startswith("file:"):
        return p[len("file:"):] or "/"
    if "://" in p:
        return None  # hdfs://, s3a://, ... — explicit remote URI
    default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
    return p if default_fs.startswith("file:") else None


def _atomic_publish(spark, staged_dir: str, final_dir: str) -> bool:
    """Atomically rename the staged manifest directory to its versioned
    name — the commit point of the optimistic-concurrency protocol
    (Delta's rename-as-commit, Iceberg's atomic metadata swap). Returns
    False iff the destination already exists, i.e. a concurrent writer
    won this version.

    Local FS: ``os.rename`` — POSIX rename(2) of a directory onto an
    existing non-empty directory fails with ENOTEMPTY, which is exactly
    the atomic test-and-set needed (manifest dirs are never empty).
    Remote FS: ``FileContext.rename(src, dst, Options.Rename.NONE)``,
    which raises ``FileAlreadyExistsException`` when the destination
    exists — the same primitive Delta's HDFSLogStore commits through.
    ``FileSystem.rename`` is NOT usable here: for an existing dst
    *directory* HDFS moves src UNDER dst (mv semantics) and returns
    true, so a losing writer would nest its manifest inside the
    winner's and report success (object stores without atomic rename
    still need a LogStore-style service — documented limitation, same
    as open-source Delta's)."""
    import errno
    import os

    src_local = _strip_file_scheme(spark, staged_dir)
    dst_local = _strip_file_scheme(spark, final_dir)
    if src_local is not None and dst_local is not None:
        try:
            os.rename(src_local, dst_local)
            return True
        except OSError as e:
            if e.errno in (errno.ENOTEMPTY, errno.EEXIST, errno.ENOTDIR):
                return False
            raise
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    src = jvm.org.apache.hadoop.fs.Path(staged_dir)
    dst = jvm.org.apache.hadoop.fs.Path(final_dir)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        dst.toUri(), spark._jsc.hadoopConfiguration()
    )
    rename_enum = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(rename_enum, 1)
    opts[0] = rename_enum.valueOf("NONE")
    try:
        fc.rename(src, dst, opts)
        return True
    except Py4JJavaError as e:
        j = e.java_exception
        while j is not None:
            if "FileAlreadyExistsException" in j.getClass().getName():
                return False
            j = j.getCause()
        raise


def _delete_dir(spark, path: str) -> None:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def _commit_snapshot(spark, path: str, version: int, files: list[str]) -> bool:
    """Stage the manifest for ``version`` then atomically publish it.
    Returns False on commit conflict (another writer owns ``version``);
    the staged manifest is cleaned up before returning so a losing
    writer leaves no trace. A writer that crashes mid-commit leaves only
    a ``.tmp-*`` staging dir — never a claimed version, so there are no
    permanently-burned version numbers to skip over."""
    staged = f"{path}/_snapshots/.tmp-{uuid.uuid4().hex[:12]}"
    manifest = spark.createDataFrame([(f,) for f in files], "file string")
    manifest.coalesce(1).write.mode("error").parquet(staged)
    global _test_pre_publish_hook
    if _test_pre_publish_hook is not None:
        hook, _test_pre_publish_hook = _test_pre_publish_hook, None
        hook()
    if _atomic_publish(spark, staged, f"{path}/_snapshots/v={version}"):
        return True
    _delete_dir(spark, staged)
    return False


def _new_commit_dir(path: str) -> str:
    return f"{path}/data/c-{uuid.uuid4().hex[:12]}"


def _written_files(spark, commit_dir: str) -> list[str]:
    """The data files one commit wrote, as ``input_file_name()`` URIs —
    the form manifests store (vacuum normalizes them)."""
    from pyspark.sql import functions as F

    return sorted(
        r["f"]
        for r in spark.read.parquet(commit_dir)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )


def _snapshot_files(spark, path: str, version: int) -> list[str]:
    """The data files snapshot ``version`` lists, in manifest order."""
    return [
        r["file"] for r in spark.read.parquet(f"{path}/_snapshots/v={version}").collect()
    ]


def _split_on_keys(
    spark, path: str, version: int, keys: DataFrame, key_cols: list[str],
    broadcast_keys: bool,
) -> tuple[list[str], DataFrame | None]:
    """The affected-file discovery of MERGE (see
    :func:`merge_versioned_parquet`) against snapshot ``version``:
    (untouched files, the affected files' rows anti-joined on the keys —
    None when no file holds a key)."""
    from pyspark.sql import functions as F

    files = _snapshot_files(spark, path, version)
    kd = keys.select(*key_cols).distinct()
    if broadcast_keys:
        kd = F.broadcast(kd)
    tagged = spark.read.parquet(*files).withColumn("__file", F.input_file_name())
    affected = sorted(
        r["__file"]
        for r in tagged.join(kd, key_cols, "left_semi")
        .select("__file")
        .distinct()
        .collect()
    )
    aff = set(affected)
    untouched = [f for f in files if f not in aff]
    if not affected:
        return untouched, None
    return untouched, spark.read.parquet(*affected).join(kd, key_cols, "left_anti")


def _commit_loop(spark, path: str, verb: str, max_retries: int, plan) -> int:
    """The optimistic commit of append and MERGE. Each attempt
    asks ``plan(latest version)`` for (files carried over, rows to write
    as new files or None) and publishes their union as the next version.
    A lost race or a :func:`_vanished_file_race` deletes the attempt's
    commit dir and re-plans against the new latest snapshot;
    ``max_retries`` lost races raise :class:`CommitConflictError`."""
    for _ in range(max_retries + 1):
        current = latest_version(spark, path)
        commit_dir = _new_commit_dir(path)
        try:
            files, rows = plan(current)
            if rows is not None:
                rows.write.mode("error").parquet(commit_dir)
                files = files + _written_files(spark, commit_dir)
        except Exception as e:
            if not _vanished_file_race(e):
                raise
            _delete_dir(spark, commit_dir)
            continue
        version = 0 if current is None else current + 1
        if _commit_snapshot(spark, path, version, files):
            return version
        _delete_dir(spark, commit_dir)
    raise CommitConflictError(
        f"{verb}: lost {max_retries + 1} commit races at {path}"
    )


def write_versioned_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
    max_retries: int = 3,
) -> int:
    """Iceberg-shaped snapshot versioning over plain parquet: each
    commit writes its data files under ``<path>/data/`` and a snapshot
    manifest (the FULL list of files visible at that version —
    copy-on-write metadata, exactly Iceberg's snapshot model) under
    ``<path>/_snapshots/v=N/``. ``mode='append'`` makes the new
    snapshot = previous file list + new files; ``mode='overwrite'``
    starts the list fresh (logical truncate — old files stay on disk
    for older snapshots, which is what makes time travel work).
    Readers never list the data dir; they read one tiny manifest.
    Returns the new version number.

    Concurrency: commits are optimistic (Delta-style). The data files
    are written once; the manifest publish is an atomic rename that
    fails if another writer claimed the version first, in which case
    the manifest is rebuilt against the NEW latest snapshot and
    republished — append/append races are always mergeable, so the
    data files never need rewriting, only the file list.
    """
    spark = df.sparkSession
    data_dir = _new_commit_dir(path)
    df.write.mode("error").parquet(data_dir)
    new_files = _written_files(spark, data_dir)

    def plan(current):
        if mode == "append" and current is not None:
            return _snapshot_files(spark, path, current) + new_files, None
        return new_files, None

    try:
        return _commit_loop(spark, path, "write_versioned_parquet", max_retries, plan)
    except CommitConflictError:
        _delete_dir(spark, data_dir)
        raise


def latest_version(spark, path: str) -> int | None:
    """Highest committed snapshot version, None for an empty table."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/_snapshots")
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jvm_path):
        return None
    versions = [
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(jvm_path)
        if st.getPath().getName().startswith("v=")
    ]
    return max(versions) if versions else None


def read_versioned_parquet(spark, path: str, version: int | None = None) -> DataFrame:
    """Snapshot read (time travel): ``version=None`` reads the latest
    snapshot; any earlier N reads the table exactly as committed at N,
    regardless of later appends/overwrites."""
    if version is None:
        version = latest_version(spark, path)
    if version is None:
        raise ValueError(f"no snapshots at {path}")
    return spark.read.parquet(*_snapshot_files(spark, path, version))


def merge_versioned_parquet(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    broadcast_keys: bool = True,
    max_retries: int = 3,
) -> int:
    """Delta-style copy-on-write MERGE into a versioned parquet table:
    update-wins upsert (``etl_upsert_merge`` semantics) committed as a
    new snapshot, rewriting ONLY the data files that contain a matched
    key — untouched files carry over into the new manifest by
    reference, which is what keeps a 100 TB table's daily merge
    proportional to the touched files, not the table.

    Plan: the update batch's distinct keys semi-join against the
    current snapshot tagged with ``input_file_name()`` to find the
    affected file set (a file-count-sized collect); survivors =
    affected-file rows anti-joined on the keys; merged = survivors ∪
    updates, written as fresh commit files. ``broadcast_keys=False``
    drops the broadcast hint for an update batch too large for the
    driver (falls back to a shuffle join — same result).

    Contract: ``updates`` is key-unique (one row per key, as a CDC
    compaction emits). Returns the new version number.

    Concurrency: optimistic copy-on-write. The whole
    read-compute-rewrite runs against a snapshot; the commit is an
    atomic publish of version N+1 that fails if a concurrent writer got
    there first. A losing MERGE deletes its now-stale rewrite files
    (its survivors were computed against a superseded snapshot — they
    CANNOT be salvaged, unlike an append's) and re-runs the merge
    against the new latest snapshot, exactly Delta's conflict-retry
    semantics. After ``max_retries`` lost races it raises
    :class:`CommitConflictError` with no trace left behind.
    """
    if updates.isEmpty():
        # An all-duplicate daily increment or an empty CDC micro-batch
        # used to commit a new snapshot referencing one empty parquet
        # file — pointless version churn plus empty-file accumulation
        # until vacuum. The limit-1 probe costs one cheap job (the
        # batch is re-evaluated by the write below when non-empty,
        # which is the existing contract for a passed-in DataFrame).
        current = latest_version(spark, path)
        if current is not None:
            return current

    def plan(current):
        if current is None:
            # First commit on an empty table. NOT delegated to
            # write_versioned_parquet(mode='overwrite'): its conflict
            # rebase would republish updates-only as v1, silently
            # dropping a racing writer's v0 — a merge must instead
            # re-plan and merge against the new snapshot.
            return [], updates
        untouched, survivors = _split_on_keys(
            spark, path, current, updates, key_cols, broadcast_keys
        )
        return untouched, (
            updates if survivors is None else survivors.unionByName(updates)
        )

    return _commit_loop(spark, path, "merge_versioned_parquet", max_retries, plan)


def vacuum_versioned_parquet(
    spark, path: str, keep_last: int = 1, stale_tmp_seconds: int = 7 * 24 * 3600
) -> int:
    """VACUUM for the versioned table: drop snapshot manifests older
    than the last ``keep_last`` versions, then physically delete every
    data file no retained snapshot references (and any commit directory
    left empty). The other half of copy-on-write — without it, MERGE's
    rewritten files accumulate forever. Returns deleted-file count.

    Metadata-only planning: reads only the tiny retained manifests plus
    one recursive listing of ``data/`` — never the data itself. Time
    travel to vacuumed versions correctly fails afterwards (their
    manifests are gone, not dangling).

    Concurrency: safe against concurrent WRITERS with ``keep_last >= 1``
    — a writer only ever reads the latest snapshot, which vacuum always
    retains, and a lost-race writer cleans its own staging. Staging dirs
    (``_snapshots/.tmp-*``) from CRASHED writers are swept only after
    ``stale_tmp_seconds`` so an in-flight commit's staging is never
    yanked mid-publish. The same window shields not-yet-referenced DATA
    files of in-flight writers, so ``stale_tmp_seconds`` MUST exceed the
    maximum plausible writer wall time (stall between writing data and
    publishing the manifest included) — hence the 7-day default, the
    same retention Delta applies to uncommitted files; lowering it is a
    test/ops escape hatch, not a tuning knob. Time-travel READERS of
    versions older than
    ``keep_last`` race vacuum by definition (same as Delta/Iceberg
    retention): pin ``keep_last`` above the oldest version any reader
    still holds."""
    current = latest_version(spark, path)
    if current is None:
        return 0
    keep = {v for v in range(max(0, current - keep_last + 1), current + 1)}
    referenced: set[str] = set()
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    for v in sorted(keep):
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/_snapshots/v={v}")
        if not fs.exists(p):
            continue
        try:
            referenced |= set(_snapshot_files(spark, path, v))
        except Exception as e:
            if not _vanished_file_race(e):
                raise
            # A RETAINED manifest vanished mid-read: a concurrent vacuum
            # with a different keep window got ahead of us. Our view of
            # the live set is stale — sweeping with an incomplete
            # reference set could delete live data, so abort this pass
            # (the winning vacuum does the sweep).
            return 0
    # Normalize BOTH sides through Hadoop Path.toUri().getPath():
    # manifest entries are input_file_name() URIs (file:/..., possibly
    # percent-encoded); listing statuses are decoded FS paths. Running
    # each through the same Path parser is the only comparison that
    # survives authorities (hdfs://nn:8020/...) and encoded characters.
    def _norm(uri: str) -> str:
        try:  # java.net.URI percent-decodes properly-encoded URIs
            g = jvm.java.net.URI(uri).getPath()
            if g:
                return g
        except Exception:
            pass  # unencoded paths with reserved chars: fall through
        return jvm.org.apache.hadoop.fs.Path(uri).toUri().getPath()

    ref_names = {_norm(f) for f in referenced}
    if not ref_names:
        return 0  # defensive: never sweep data on an empty reference set

    def _name(st) -> str:
        return st.getPath().toUri().getPath()

    deleted = 0
    snap_root = jvm.org.apache.hadoop.fs.Path(f"{path}/_snapshots")
    now_ms = jvm.java.lang.System.currentTimeMillis()
    expired_refs: set[str] = set()
    for st in fs.listStatus(snap_root):
        name = st.getPath().getName()
        if name.startswith("v=") and int(name.split("=", 1)[1]) > current:
            # Published AFTER this vacuum resolved latest_version — a
            # concurrent writer's brand-new snapshot, NOT an expired
            # one. Treating it as expired deleted the newest manifest
            # and let three racing writers all "win" the same version
            # number (caught by the r7 merge+vacuum chaos test).
            continue
        if name.startswith("v=") and int(name.split("=", 1)[1]) not in keep:
            # Record the expired manifest's file list BEFORE deleting it:
            # a file referenced only by expired versions is known-committed
            # garbage, deletable regardless of age.
            try:
                expired_refs |= set(
                    _snapshot_files(spark, path, int(name.split("=", 1)[1]))
                )
            except Exception as e:
                if not _vanished_file_race(e):
                    raise
                # A concurrent vacuum deleted this expired manifest
                # between our listStatus and the read — it already
                # recorded (or will sweep) its file list; skip.
                continue
            fs.delete(st.getPath(), True)
        elif name.startswith(".tmp-") and (
            now_ms - st.getModificationTime() > stale_tmp_seconds * 1000
        ):
            # abandoned staging from a writer that crashed mid-commit
            fs.delete(st.getPath(), True)
    expired_names = {_norm(f) for f in expired_refs}
    data_root = jvm.org.apache.hadoop.fs.Path(f"{path}/data")
    if fs.exists(data_root):
        for commit in fs.listStatus(data_root):
            # A file referenced by NO manifest at all and younger than
            # stale_tmp_seconds may belong to an in-flight writer whose
            # publish hasn't landed yet — skip it this pass (Delta's
            # retention-window rule for uncommitted files).
            fresh = (
                now_ms - commit.getModificationTime() <= stale_tmp_seconds * 1000
            )
            live = False
            swept_all = True
            if _test_vacuum_pre_dir_list_hook is not None:
                _test_vacuum_pre_dir_list_hook(commit.getPath().toString())
            try:
                commit_files = list(fs.listStatus(commit.getPath()))
            except Exception as e:
                if not _vanished_file_race(e):
                    raise
                # The commit dir vanished between the data/ listing and
                # this per-dir listStatus: either a lost-race MERGE
                # writer cleaned its own staging, or a concurrent vacuum
                # already reaped it. Both mean "nothing left to sweep
                # here" — skipping is exactly correct (this unguarded
                # listStatus killed the vacuum thread in the r9
                # merge+vacuum chaos test under load).
                continue
            for st in commit_files:
                if not st.getPath().getName().endswith(".parquet"):
                    continue
                n = _name(st)
                if n in ref_names:
                    live = True
                elif fresh and n not in expired_names:
                    swept_all = False
                else:
                    fs.delete(st.getPath(), False)
                    deleted += 1
            # The dir-level sweep must respect the retention window too:
            # an IN-FLIGHT writer's commit dir holds only _temporary/
            # task files (zero top-level .parquet), which reads as
            # not-live + swept_all — deleting it would yank the write
            # out from under the writer (caught by the r7 merge+vacuum
            # chaos test). Only reap dirs older than the window.
            if not live and swept_all and not fresh:
                fs.delete(commit.getPath(), True)
    return deleted


# Spark SQL simpleString -> DDL type, per dialect. The reference DAG
# provisions its PostgreSQL tables with explicit CREATE TABLE statements
# (dags/airflow_dag_calidad_aire.py:287-359 PostgresOperator path);
# write_jdbc covers the to_sql data plane, this covers the DDL
# bootstrap. Derby is the integration-test dialect (embedded in Spark's
# own jars — the same substitution tests/test_jdbc.py already makes).
_JDBC_TYPE_MAP: dict[str, dict[str, str]] = {
    "postgresql": {
        "string": "TEXT", "int": "INTEGER", "bigint": "BIGINT",
        "smallint": "SMALLINT", "double": "DOUBLE PRECISION",
        "float": "REAL", "boolean": "BOOLEAN", "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP", "date": "DATE", "binary": "BYTEA",
    },
    "derby": {
        "string": "VARCHAR(32672)", "int": "INTEGER", "bigint": "BIGINT",
        "smallint": "SMALLINT", "double": "DOUBLE", "float": "REAL",
        "boolean": "BOOLEAN", "timestamp": "TIMESTAMP",
        "timestamp_ntz": "TIMESTAMP", "date": "DATE",
        "binary": "BLOB",
    },
}


def jdbc_create_table_sql(
    schema,
    table: str,
    dialect: str = "postgresql",
    primary_key: list[str] | None = None,
    if_not_exists: bool = True,
) -> str:
    """CREATE TABLE DDL for a Spark schema (``df.schema``) — the
    reference's PostgresOperator table bootstrap (dag:287-359) as a
    deterministic generator. decimal(p,s) maps to NUMERIC(p,s); nested
    types are rejected loudly (a relational DDL has no honest mapping
    for them — explode or to_json upstream instead). Derby has no
    IF NOT EXISTS, so that dialect always emits the plain form and
    :func:`ensure_jdbc_table` treats the already-exists SQLState as
    success."""
    tmap = _JDBC_TYPE_MAP[dialect]
    cols = []
    for f in schema.fields:
        s = f.dataType.simpleString()
        if s.startswith("decimal("):
            ddl_t = "NUMERIC" + s[len("decimal"):]
        elif s in tmap:
            ddl_t = tmap[s]
        else:
            raise ValueError(
                f"column {f.name!r}: no {dialect} DDL mapping for Spark type "
                f"{s!r} (nested/array types: explode or to_json upstream)"
            )
        cols.append(f'"{f.name}" {ddl_t}' + ("" if f.nullable else " NOT NULL"))
    if primary_key:
        quoted = ", ".join(f'"{c}"' for c in primary_key)
        cols.append(f"PRIMARY KEY ({quoted})")
    ine = "IF NOT EXISTS " if if_not_exists and dialect != "derby" else ""
    return f'CREATE TABLE {ine}"{table}" (\n  ' + ",\n  ".join(cols) + "\n)"


def ensure_jdbc_table(
    spark,
    url: str,
    table: str,
    schema,
    dialect: str = "postgresql",
    primary_key: list[str] | None = None,
) -> bool:
    """Execute the bootstrap DDL over a raw JDBC connection
    (java.sql.DriverManager through the running JVM — the same driver
    jar write_jdbc needs). Returns True if the table was created, False
    if it already existed. Idempotent: the already-exists error
    (Derby SQLState X0Y32 / PostgreSQL 42P07) is success, any other
    SQLException propagates."""
    ddl = jdbc_create_table_sql(
        schema, table, dialect=dialect, primary_key=primary_key
    )
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            st.execute(ddl)
            return True
        except Exception as e:
            if "X0Y32" in str(e) or "42P07" in str(e) or "already exists" in str(e):
                return False
            raise
        finally:
            st.close()
    finally:
        conn.close()
