"""DAG orchestrator: ordering, retries, failure propagation, and the
air-quality DAG under its daily schedule (the reference's Airflow
surface). The DAG's single run is tested in ``tests/test_pipeline.py``."""


from __future__ import annotations

import pytest

import tempfile

from calidad_del_aire_etl_spark.plans.orchestrator import Dag, air_quality_dag


def test_dag_runs_in_dependency_order_and_passes_values():
    dag = Dag("t")
    order = []

    @dag.task("a")
    def _a(**_):
        order.append("a")
        return 2

    @dag.task("b", upstream=["a"])
    def _b(x):
        order.append("b")
        return x * 10

    @dag.task("c", upstream=["a", "b"])
    def _c(x, y):
        order.append("c")
        return x + y

    res = dag.run()
    assert order == ["a", "b", "c"]
    assert res["c"].value == 22
    assert all(r.state == "success" for r in res.values())


def test_retry_then_succeed():
    dag = Dag("t")
    calls = {"n": 0}

    @dag.task("flaky", retries=3)
    def _f(**_):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    res = dag.run()
    assert res["flaky"].state == "success"
    assert res["flaky"].attempts == 3


def test_failure_skips_transitive_downstream():
    dag = Dag("t")

    @dag.task("a")
    def _a(**_):
        raise RuntimeError("boom")

    @dag.task("b", upstream=["a"])
    def _b(x):
        return x

    @dag.task("c", upstream=["b"])
    def _c(x):
        return x

    @dag.task("d")  # independent root still runs
    def _d(**_):
        return 1

    res = dag.run()
    assert res["a"].state == "failed" and "boom" in res["a"].error
    assert res["b"].state == "skipped" and res["c"].state == "skipped"
    assert res["d"].state == "success"


def test_unknown_upstream_rejected():
    dag = Dag("t")
    try:
        @dag.task("x", upstream=["nope"])
        def _x():
            pass
        assert False, "expected ValueError"
    except ValueError:
        pass


@pytest.mark.slow
def test_air_quality_dag_scheduled_catchup_runs_real_pipeline(spark):
    """The reference's operational contract end-to-end: daily 08:00
    schedule, host down over a weekend, catch-up replays each missed
    window against the REAL Spark DAG (extract ≫ transform ≫ load ≫
    validate) — every window runs the full pipeline and lands its own
    output."""
    from datetime import datetime

    from calidad_del_aire_etl_spark.plans.orchestrator import (
        Schedule,
        ScheduledDag,
    )

    with tempfile.TemporaryDirectory(prefix="aq_sched_") as d:
        dag = air_quality_dag(spark, d, num_days=10)
        sd = ScheduledDag(
            dag, Schedule.daily(datetime(2024, 1, 5), hour=8), catchup=True
        )
        runs = sd.run_pending(now=datetime(2024, 1, 8, 9, 0))  # fri..mon gap
        assert [r.logical_date.day for r in runs] == [6, 7, 8]
        assert all(r.state == "success" for r in runs)
        for r in runs:
            assert r.results["validate"].value["total_records"] >= 1000
        assert spark.read.parquet(f"{d}/daily").count() > 0
        # nothing further due until tomorrow's window closes
        assert sd.run_pending(now=datetime(2024, 1, 8, 23, 0)) == []
