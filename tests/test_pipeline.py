from __future__ import annotations

import shutil
import tempfile

import pytest

from calidad_del_aire_etl_spark.plans import air_quality
from calidad_del_aire_etl_spark.sources.generator import generate_air_quality


@pytest.fixture(scope="module")
def generated(spark):
    df = generate_air_quality(spark, num_days=7).cache()
    yield df
    df.unpersist()


def test_generator_shape_and_determinism(spark, generated):
    assert generated.count() == 7 * 24 * 5
    again = generate_air_quality(spark, num_days=7)
    assert generated.exceptAll(again).count() == 0  # hash-noise is reproducible
    cols = set(generated.columns)
    assert {"ts", "station", "pm25", "pm10", "no2", "o3", "co"} <= cols


def test_generator_has_missing_and_diurnal_pattern(spark, generated):
    from pyspark.sql import functions as F

    nulls = generated.filter(F.col("pm25").isNull()).count()
    total = generated.count()
    assert 0 < nulls / total < 0.05  # ~2% missing
    byhour = {
        r["h"]: r["m"]
        for r in generated.groupBy(F.hour("ts").alias("h"))
        .agg(F.avg("pm25").alias("m"))
        .collect()
    }
    assert byhour[8] > byhour[3]  # rush hour > overnight


def _executions(spark):
    return spark._jsparkSession.sharedState().statusStore().executionsList()


def _range_evaluations(spark, job_ids, after_execution) -> int:
    """SQL executions after ``after_execution`` that ran one of
    ``job_ids`` and whose plan scans the generator's ``spark.range``."""
    execs = _executions(spark)
    n = 0
    for i in reversed(range(execs.size())):
        e = execs.apply(i)
        if e.executionId() <= after_execution:
            break
        if any(e.jobs().contains(j) for j in job_ids) and "Range (" in e.physicalPlanDescription():
            n += 1
    return n


def test_air_quality_dag_transforms_once_and_validates_the_written_table(
    spark, jobs_started, monkeypatch
):
    """The reference DAG's chain (dag:441) at 30 days: ``load`` writes
    the hourly table, the one action that evaluates the transform, and
    ``validate`` reports over the table ``load`` returns. Chained off
    ``transform`` instead, the validation collect would evaluate the
    transform again. A failed ``load`` skips ``validate``."""
    from calidad_del_aire_etl_spark.plans.orchestrator import air_quality_dag

    def tagged(dag) -> dict[str, list[int]]:
        jobs: dict[str, list[int]] = {}
        for t in dag._tasks.values():
            def fn(*a, _name=t.name, _fn=t.fn, **k):
                out, jobs[_name] = jobs_started(lambda: _fn(*a, **k))
                return out
            t.fn = fn
        return jobs

    execs = _executions(spark)
    last_execution = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
    out = tempfile.mkdtemp(prefix="aq_out_")
    try:
        dag = air_quality_dag(spark, out, num_days=30)
        jobs = tagged(dag)
        res = dag.run()
        assert [r.state for r in res.values()] == ["success"] * 4
        per_task = {name: len(ids) for name, ids in jobs.items()}
        print("jobs per task:", per_task)
        # load: the hourly write (6), the daily parquet write (2) and
        # the CSV copy of that parquet (1); 25 in all with validate off
        # transform
        assert per_task["load"] == 9
        assert sum(per_task.values()) == 12
        all_jobs = [j for ids in jobs.values() for j in ids]
        assert _range_evaluations(spark, all_jobs, last_execution) == 1

        report = res["validate"].value
        assert report["total_records"] >= 1000
        assert report["unique_groups"] == 5
        assert report["null_percentage"] < 5
        assert "null_warning" in report
        hourly = spark.read.parquet(f"{out}/hourly")
        assert hourly.count() == report["total_records"] == 30 * 24 * 5
        assert "aqi_pm25" in hourly.columns
        daily = spark.read.parquet(f"{out}/daily")
        assert daily.count() == 30 * 5
        daily_csv = spark.read.option("header", True).csv(f"{out}/daily_csv")
        assert daily_csv.columns == daily.columns
        assert daily_csv.count() == 30 * 5

        def broken_load(clean, out_dir):
            raise OSError("disk full")

        monkeypatch.setattr(air_quality, "load", broken_load)
        res = air_quality_dag(spark, out, num_days=30).run()
        assert res["load"].state == "failed" and "disk full" in res["load"].error
        assert res["validate"].state == "skipped"
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_validate_fails_under_1000_rows_and_reports_nulls(spark):
    """The reference's validate gate (dag:396-401): 8 days x 24 h x 5
    stations = 960 rows is too few; 10 days passes with a null warning
    flag in the report."""
    short = air_quality.transform(air_quality.extract(spark, num_days=8))
    with pytest.raises(ValueError, match="insufficient data"):
        air_quality.validate(short)
    report = air_quality.validate(air_quality.transform(air_quality.extract(spark, num_days=10)))
    assert report["total_records"] >= 1000
    assert "null_warning" in report


def test_load_normalizes_ntz_and_nanos_timestamps(spark, tmp_path):
    """registry.load must deliver plain TIMESTAMP regardless of how the
    parquet writer typed `ts`: TIMESTAMP(NANOS) (arrives as bigint under
    nanosAsLong) and TIMESTAMP(MICROS) without timezone metadata
    (arrives as TIMESTAMP_NTZ) both normalize to the same µs values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from calidad_del_aire_etl_spark.registry import load

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]
    for unit, vals, fname in (
        ("ns", [m * 1000 for m in micros], "t_nanos"),
        ("us", micros, "t_ntz"),
    ):
        d = tmp_path / f"{fname}.parquet"
        d.mkdir()
        pq.write_table(
            pa.table({"ts": pa.array(vals, pa.timestamp(unit)), "v": [1.0, 2.0]}),
            str(d / "part-0.parquet"),
        )
        df = load(spark, str(tmp_path), fname)
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        got = sorted(
            r[0] for r in df.selectExpr("unix_micros(ts)").collect()
        )
        assert got == micros


def test_load_reuses_schema_of_unchanged_table(spark, tmp_path, jobs_started):
    """The second load of an unchanged table reads with the memoized
    schema and starts no Spark job; the first one infers (one job)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from calidad_del_aire_etl_spark.registry import load

    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2, 3], "v": [1.0, 2.0, 3.0]}), str(d / "part-0.parquet"))
    first, ids_first = jobs_started(lambda: load(spark, str(tmp_path), "t").schema)
    second, ids_second = jobs_started(lambda: load(spark, str(tmp_path), "t").schema)
    assert len(ids_first) >= 1
    assert len(ids_second) == 0
    assert second == first
    assert sorted(r["a"] for r in load(spark, str(tmp_path), "t").collect()) == [1, 2, 3]


def test_load_sees_rewritten_table_schema(spark, tmp_path):
    """Rewriting a table's file in place under the same path (new mtime)
    invalidates its memoized schema: the next load returns the new one."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from calidad_del_aire_etl_spark.registry import load

    d = tmp_path / "t.parquet"
    d.mkdir()
    f = str(d / "part-0.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), f)
    assert load(spark, str(tmp_path), "t").columns == ["a"]
    mtime = os.stat(f).st_mtime
    pq.write_table(pa.table({"b": ["x", "y"]}), f)
    os.utime(f, (mtime + 10, mtime + 10))
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["b"]
    assert sorted(r["b"] for r in df.collect()) == ["x", "y"]


def test_read_parquet_memo_misses_on_nanos_conf_flip(spark, tmp_path):
    """nanosAsLong changes what inference returns for TIMESTAMP(NANOS),
    so flipping it between two reads of one file must re-infer: with the
    flag off Spark rejects the column, where a stale hit would silently
    return the bigint schema inferred under the flag."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    from calidad_del_aire_etl_spark.sources.readers import read_parquet

    d = tmp_path / "nanos.parquet"
    d.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))}),
        str(d / "part-0.parquet"),
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert read_parquet(spark, str(d)).schema["ts"].dataType.simpleString() == "bigint"
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, str(d))
    finally:
        spark.conf.set(key, before)


def test_cli_front_door(spark, tmp_path):
    """The `python -m calidad_del_aire_etl_spark` surface: list knows
    every registered query, oracle prints twin SQL, run writes real
    output to a target path."""
    from calidad_del_aire_etl_spark.__main__ import main

    assert main(["list", "tpch"]) == 0
    assert main(["oracle", "etl_daily_summary"]) == 0
    assert main(["oracle", "nonexistent_query"]) == 1
    assert main(["run", "nonexistent_query"]) == 1
    out = str(tmp_path / "cli_out")
    assert (
        main(["run", "etl_daily_summary", "--sf-dir", "/root/testdata/sf0.001",
              "--out", out]) == 0
    )
    assert spark.read.parquet(out).count() > 0


def test_registry_lists_each_spec_once_in_registration_order():
    """queries() is the registry in registration order, each spec once;
    every oracle key is a registered query."""
    from calidad_del_aire_etl_spark import registry

    q = list(registry.queries())
    oracles = registry.oracle_sql()
    assert q == [s.name for s in registry._SPECS]
    assert len(q) == len(set(q))
    assert set(oracles) <= set(q)
    assert len(oracles) == 197
    assert len(q) - len(oracles) == 3


def test_default_driver_mem_caps_at_host_share(monkeypatch, tmp_path):
    """The default driver heap is 16g on a big host and 60 % of the
    memory limit on a small one; a cgroup limit below RAM wins."""
    from calidad_del_aire_etl_spark import session

    gib = 1 << 30
    ram = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 128 * gib // 4096}
    monkeypatch.setattr(session.os, "sysconf", lambda k: ram[k])
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    monkeypatch.setattr(session, "_CGROUP_MEM_LIMITS", (str(v2), str(v1)))
    assert session._default_driver_mem() == "16g"
    v2.write_text("max\n")
    assert session._default_driver_mem() == "16g"
    v1.write_text(f"{10 * gib}\n")
    assert session._default_driver_mem() == f"{6 * 1024}m"
    v1.unlink()
    ram["SC_PHYS_PAGES"] = 16 * gib // 4096
    assert session._default_driver_mem() == f"{int(16 * gib * 0.6) >> 20}m"
