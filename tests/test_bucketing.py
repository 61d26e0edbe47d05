"""Bucketed-write and salted-join scale patterns.

Bucketing: pay the shuffle once at write time; joins/aggs on the bucket
key then plan WITHOUT an Exchange. Salting: a skewed shuffle join spreads
each hot key across num_salts sub-keys with identical join results.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from calidad_del_aire_etl_spark.operators import general
from calidad_del_aire_etl_spark.registry import load
from calidad_del_aire_etl_spark.sinks import writers


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_bucketed_agg_and_join_are_shuffle_free(spark, sf_dir):
    import uuid

    tbl = f"ev_bucketed_{uuid.uuid4().hex[:8]}"
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    try:
        writers.write_bucketed(ev, tbl, ["user_id"], num_buckets=4)
        t = spark.table(tbl)

        agg = t.groupBy("user_id").agg(F.sum("value").alias("s"))
        assert "Exchange" not in _plan(agg)

        # disable broadcast so the join must co-locate by key: with both
        # sides bucketed, the sort-merge join plans with NO Exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = t.alias("a").join(spark.table(tbl).alias("b"), "user_id")
            p = _plan(joined)
            assert "SortMergeJoin" in p
            assert "Exchange" not in p
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_salted_join_matches_plain_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("m"))
    plain = ev.join(dim, "event_type").select("event_id", "m")
    salted = general.salted_join(ev, dim, "event_type", "event_id", num_salts=8).select(
        "event_id", "m"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_splits_hot_keys(spark, sf_dir):
    """With broadcast disabled (forcing a shuffle join), the join keys
    must include the salt so hot event_types split across reducers."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
        dim = ev.groupBy("event_type").agg(F.avg("value").alias("m"))
        salted = general.salted_join(ev, dim, "event_type", "event_id", num_salts=8)
        p = _plan(salted)
        key_lines = [l for l in p.splitlines() if "keys" in l]
        assert key_lines and all("__salt" in l for l in key_lines)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_partitioned_write_prunes_at_read(spark, tmp_path):
    """date-partitioned layout must show PartitionFilters (not a full
    scan + post-filter) when read back with a date predicate."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "parts")
    df = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3}") for i in range(300)], "id bigint, date string"
    )
    df.write.partitionBy("date").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter(F.col("date") == "2024-01-02")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-02" in plan
    assert back.count() == 100


def test_versioned_parquet_time_travel(spark, tmp_path):
    """Snapshot contract: append grows the visible set, overwrite
    logically truncates, and EVERY earlier version stays readable
    exactly as committed."""
    from pyspark.sql import functions as F

    from calidad_del_aire_etl_spark.sinks import writers

    path = str(tmp_path / "vt")
    d = lambda lo, hi: spark.range(lo, hi).select(F.col("id"))
    v0 = writers.write_versioned_parquet(d(0, 100), path, mode="append")
    v1 = writers.write_versioned_parquet(d(100, 150), path, mode="append")
    v2 = writers.write_versioned_parquet(d(500, 510), path, mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)
    assert writers.latest_version(spark, path) == 2

    def ids(version=None):
        return sorted(
            r["id"]
            for r in writers.read_versioned_parquet(spark, path, version).collect()
        )

    assert ids(0) == list(range(0, 100))
    assert ids(1) == list(range(0, 150))
    assert ids(2) == list(range(500, 510))
    assert ids() == ids(2)  # latest


@pytest.mark.slow
def test_merge_versioned_copy_on_write(spark, tmp_path):
    """Delta-style MERGE: update-wins upsert lands as a new snapshot,
    only key-matched data files are rewritten, untouched files carry
    over by reference, and time travel still shows the pre-merge
    state."""
    from pyspark.sql import functions as F

    from calidad_del_aire_etl_spark.sinks import writers

    path = str(tmp_path / "mg")

    def d(lo, hi, val):
        return spark.range(lo, hi).select(
            F.col("id"), F.lit(val).alias("v")
        ).repartition(4)

    # two commits → two disjoint file sets
    writers.write_versioned_parquet(d(0, 100, "old"), path, mode="append")
    writers.write_versioned_parquet(d(100, 200, "old"), path, mode="append")
    before = set(
        r["file"]
        for r in spark.read.parquet(f"{path}/_snapshots/v=1").collect()
    )

    # update 5 existing keys + insert 3 new ones
    ups = spark.createDataFrame(
        [(i, "new") for i in [3, 7, 150, 160, 199, 500, 501, 502]],
        "id long, v string",
    )
    v = writers.merge_versioned_parquet(spark, path, ups, ["id"])
    assert v == 2

    after = {
        r["file"]
        for r in spark.read.parquet(f"{path}/_snapshots/v=2").collect()
    }
    # copy-on-write: some old files survive by reference, not all rewritten
    carried = before & after
    assert carried and before - after  # some carried, some replaced

    got = {
        r["id"]: r["v"]
        for r in writers.read_versioned_parquet(spark, path).collect()
    }
    assert len(got) == 203
    assert all(got[i] == "new" for i in [3, 7, 150, 160, 199, 500, 501, 502])
    assert got[4] == "old" and got[198] == "old"
    # pre-merge snapshot intact
    pre = {
        r["id"]: r["v"]
        for r in writers.read_versioned_parquet(spark, path, 1).collect()
    }
    assert len(pre) == 200 and pre[3] == "old"

    # merge into an empty table bootstraps version 0
    p2 = str(tmp_path / "mg2")
    assert writers.merge_versioned_parquet(spark, p2, ups, ["id"]) == 0
    assert writers.read_versioned_parquet(spark, p2).count() == 8

    # an empty update batch (all-dup daily increment / empty CDC
    # micro-batch) is a no-op: no new snapshot, no empty commit files
    empty = ups.filter(F.col("id") < 0)
    assert writers.merge_versioned_parquet(spark, path, empty, ["id"]) == v
    assert writers.latest_version(spark, path) == v
    assert writers.read_versioned_parquet(spark, path).count() == 203


def test_vacuum_versioned_drops_unreferenced_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from calidad_del_aire_etl_spark.sinks import writers

    path = str(tmp_path / "vac")
    d = lambda lo, hi, v: spark.range(lo, hi).select(
        F.col("id"), F.lit(v).alias("v")
    ).repartition(3)
    writers.write_versioned_parquet(d(0, 50, "a"), path, mode="append")   # v0
    writers.write_versioned_parquet(d(50, 100, "a"), path, mode="append") # v1
    ups = spark.createDataFrame([(i, "b") for i in range(0, 50, 2)], "id long, v string")
    writers.merge_versioned_parquet(spark, path, ups, ["id"])             # v2

    deleted = writers.vacuum_versioned_parquet(spark, path, keep_last=1)
    assert deleted > 0  # v0's rewritten files physically gone
    # latest still reads exactly
    got = {r["id"]: r["v"] for r in writers.read_versioned_parquet(spark, path).collect()}
    assert len(got) == 100 and got[0] == "b" and got[1] == "a"
    # vacuumed versions are gone, not dangling
    import pytest as _pytest

    with _pytest.raises(Exception):
        writers.read_versioned_parquet(spark, path, 0).collect()
    assert writers.latest_version(spark, path) == 2
    # idempotent: second vacuum deletes nothing
    assert writers.vacuum_versioned_parquet(spark, path, keep_last=1) == 0


def test_bucketed_fact_posture_is_transparent_and_shuffle_light(
    spark, sf_dir, monkeypatch
):
    """The SPARK_GRAFT_BUCKETED posture (VERDICT r13 #4): with
    lineitem/orders pre-bucketed on the orderkey, (a) load() silently
    serves the bucketed tables, (b) the TPC-H micro results are
    IDENTICAL to the plain-parquet posture, and (c) the fact join
    plans without its lineitem-side exchange (asserted with broadcast
    off so the join must co-locate by key, the shape the 60 M-row sf10
    join actually takes)."""
    from calidad_del_aire_etl_spark import registry

    qs = registry.queries()
    names = ["tpch_q3_shipping", "tpch_q5_local_supplier", "tpch_q10_returned"]
    plain = {n: sorted(map(tuple, qs[n](spark, sf_dir).collect())) for n in names}

    built = writers.prepare_bucketed_facts(spark, sf_dir, num_buckets=4)
    try:
        assert built or all(
            spark.catalog.tableExists(writers.bucketed_table_name(sf_dir, t))
            for t in writers.BUCKETED_FACTS
        )
        # idempotent: a second call is a no-op
        assert writers.prepare_bucketed_facts(spark, sf_dir, num_buckets=4) == {}

        monkeypatch.setenv("SPARK_GRAFT_BUCKETED", "1")
        for n in names:
            assert sorted(map(tuple, qs[n](spark, sf_dir).collect())) == plain[n], n

        # one bucket file per bucket id, so the sortBy metadata holds
        li = spark.table(writers.bucketed_table_name(sf_dir, "lineitem"))
        assert len(li.inputFiles()) == 4

        # the orderkey join itself must plan with NO Exchange and — the
        # sortBy metadata honored via the one-file-per-bucket layout +
        # bucketedTableScan.outputOrdering — NO Sort either
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            od = spark.table(writers.bucketed_table_name(sf_dir, "orders"))
            j = li.join(od, li.l_orderkey == od.o_orderkey).groupBy(
                "l_orderkey"
            ).count()
            p = _plan(j)
            import re

            assert "SortMergeJoin" in p
            assert "Exchange" not in p
            # a standalone Sort operator renders as "Sort (N)" —
            # plain "+- Sort" would also match SortMergeJoin itself
            assert not re.search(r"\bSort \(\d", p)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    finally:
        monkeypatch.delenv("SPARK_GRAFT_BUCKETED", raising=False)
        for t in writers.BUCKETED_FACTS:
            spark.sql(
                f"DROP TABLE IF EXISTS {writers.bucketed_table_name(sf_dir, t)}"
            )
