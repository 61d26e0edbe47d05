"""The benchmark's workloads. Each one drives the package only through
its public functions, closed-loop with one client.

A workload prepares its seeded inputs and its state before the JVM
starts, lands the next input and runs one op at a time, checks its
outputs after the timed window and reports the bytes its ops leave on
disk.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd

from . import inputs

DASH_QUERIES = [
    "dash_kpis",
    "dash_rolling_mean",
    "dash_dow_distribution",
    "dash_station_compare",
    "dash_hourly_pattern",
    "dash_corr_matrix",
]
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


class DashboardRefresh:
    """One op is one `plans.dashboard.render_png` over the sf0.1-shaped
    events table: six registry panels built, collected and rasterized."""

    name = "dashboard_refresh"
    cpu_ops = 3  # cpu_s_per_op covers the first 3 timed ops

    def __init__(self, work: str, seed: int):
        self.sf_dir = os.path.join(work, "sf")
        self.out_dir = os.path.join(work, "out")
        self.png = os.path.join(self.out_dir, "dashboard.png")
        self.seed = seed

    def prepare(self) -> None:
        inputs.write_events_table(inputs.events_frame(self.seed), self.sf_dir)
        os.makedirs(self.out_dir, exist_ok=True)

    def has_next(self) -> bool:
        return True

    def land_next(self) -> None:
        pass

    def op(self, spark, tracer, progress: list) -> int:
        from calidad_del_aire_etl_spark.plans.dashboard import render_png

        with tracer.span("plans.render"):
            render_png(spark, self.sf_dir, self.png)
        return inputs.EVENT_ROWS

    def check_op(self) -> bool:
        with open(self.png, "rb") as fh:
            head = fh.read(len(PNG_MAGIC))
        return head == PNG_MAGIC and os.path.getsize(self.png) > 1000

    def check(self, spark) -> list[str]:
        from calidad_del_aire_etl_spark import oracle, registry

        qs, twins = registry.queries(), registry.oracle_sql()
        con = oracle.duck_connection(self.sf_dir)
        problems = []
        try:
            for name in DASH_QUERIES:
                if name not in twins:
                    continue
                rows, probs = oracle.compare_query(spark, con, qs[name], twins[name], self.sf_dir)
                problems += [f"{name}: {p}" for p in probs]
                if rows == 0:
                    problems.append(f"{name}: no rows")
        finally:
            con.close()
        return problems

    def out_bytes_per_op(self) -> float:
        # every refresh rewrites the same PNG
        return dir_bytes([self.out_dir])


class StreamIngest:
    """One op is one tick: the next day's file lands (with a seeded share
    of late, shuffled rows) and `streaming.jobs.run_incremental_rollup`
    runs to completion with trigger availableNow."""

    name = "stream_ingest"
    cpu_ops = 8  # cpu_s_per_op covers the first 8 timed ticks

    def __init__(self, work: str, seed: int):
        self.work = work
        self.files_dir = os.path.join(work, "files")
        self.seed = seed
        self.batches: list[pd.DataFrame] = []
        self.state: dict[str, str] = {}
        self.landed = 0

    def prepare(self) -> None:
        os.makedirs(self.files_dir, exist_ok=True)
        self.batches = inputs.stream_batches(inputs.events_frame(self.seed), self.seed)
        for d, batch in enumerate(self.batches):
            inputs.write_stream_batch(batch, self._file(d))
        root = os.path.join(self.work, "state")
        self.state = {p: os.path.join(root, p) for p in ("input", "staged", "rollup", "ckpt")}
        os.makedirs(self.state["input"])

    def _file(self, d: int) -> str:
        return os.path.join(self.files_dir, f"day-{d:02d}.parquet")

    def has_next(self) -> bool:
        return self.landed < len(self.batches)

    def land_next(self) -> None:
        src = self._file(self.landed)
        dst = os.path.join(self.state["input"], os.path.basename(src))
        tmp = os.path.join(self.state["input"], "." + os.path.basename(src) + ".tmp")
        shutil.copyfile(src, tmp)
        os.rename(tmp, dst)
        self.landed += 1

    def op(self, spark, tracer, progress: list) -> int:
        from calidad_del_aire_etl_spark.streaming import jobs

        s = self.state
        with tracer.span("streaming.start"):
            q = jobs.run_incremental_rollup(
                jobs.read_events_stream(spark, s["input"]), s["staged"], s["rollup"], s["ckpt"]
            )
        with tracer.span("streaming.run"):
            done = q.awaitTermination(120)
        if not done:
            q.stop()
            raise TimeoutError("stream tick did not finish in 120 s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if progress is not None:
            progress.extend(json.loads(p.json) for p in q.recentProgress)
        return len(self.batches[self.landed - 1])

    def check_op(self) -> bool:
        return True

    def check(self, spark) -> list[str]:
        import duckdb
        from pyspark.sql import functions as F

        got = (
            spark.read.parquet(self.state["rollup"])
            .withColumn("date", F.col("date").cast("string"))
            .toPandas()
        )
        landed = pd.concat(self.batches[: self.landed], ignore_index=True)
        con = duckdb.connect()
        try:
            con.register("landed", landed)
            want = con.execute(
                """
                SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date, user_id,
                       CAST(COUNT(*) AS BIGINT) AS n_events,
                       CAST(SUM(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS sum_value,
                       AVG(value) AS avg_value
                FROM landed GROUP BY ALL
                """
            ).df()
        finally:
            con.close()
        both = want.merge(got, on=["date", "user_id"], how="outer", suffixes=("_w", "_g"), indicator=True)
        problems = []
        missing = both[both["_merge"] != "both"]
        if len(missing):
            problems.append(f"{len(missing)} (date, user) groups differ:\n{missing.head(5)}")
        both = both[both["_merge"] == "both"]
        if (both["n_events_w"] != both["n_events_g"]).any():
            problems.append("n_events differs")
        if ((both["sum_value_w"] - both["sum_value_g"]).abs() > 1e-6).any():
            problems.append("sum_value differs")
        # the rollup rounds avg to 4 decimals
        if ((both["avg_value_w"] - both["avg_value_g"]).abs() > 5.1e-5).any():
            problems.append("avg_value differs")
        return problems

    def out_bytes_per_op(self) -> float:
        # staged history, rollup and checkpoint grow with every landed tick
        return dir_bytes([self.state[p] for p in ("staged", "rollup", "ckpt")]) / self.landed


WORKLOADS = {w.name: w for w in (DashboardRefresh, StreamIngest)}


def dir_bytes(paths: list[str]) -> int:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
    return total
