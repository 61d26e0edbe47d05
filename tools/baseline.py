"""Single-node baseline for the headline queries.

Two denominators, both honest about what they measure:

1. **DuckDB oracle twins** — every headline query that has a DuckDB
   oracle is timed on DuckDB (all cores) over the same parquet at the
   same SF. DuckDB is a state-of-the-art single-node OLAP engine, so
   this is the "matches-or-beats single-node throughput" bar the brief
   sets, on identical semantics (the twins hash-match the Spark
   results).
2. **pandas reference-equivalent** — the reference repo itself is a
   single-node pandas script (transform + daily aggregate); a pandas
   re-expression of that pipeline is timed on the events table for the
   reference-parity denominator.

Usage: python tools/baseline.py [sf_dir] > baseline.json
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# table discovery lives in calidad_del_aire_etl_spark.oracle.duck_connection
# (shared with the parity gate — one source of truth)


def pandas_reference_pipeline(sf_dir: str) -> float:
    """The reference's transform + daily-summary path (dag:138-281),
    re-expressed in pandas: parse/clean, AQI-style bucketing, temporal
    features, daily mean/max/count rollup."""
    import numpy as np
    import pandas as pd

    t0 = time.perf_counter()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    ev = ev.dropna(subset=["value"]).copy()
    ev["ts"] = pd.to_datetime(ev["ts"])
    ev = ev.drop_duplicates(subset=["user_id", "event_type", "ts"])
    ev["aqi"] = np.clip(ev["value"] * 4.2, 0, 500)
    ev["category"] = pd.cut(
        ev["aqi"],
        [-1, 50, 100, 150, 200, 300, 500],
        labels=["Good", "Moderate", "USG", "Unhealthy", "Very Unhealthy", "Hazardous"],
    )
    ev["hour"] = ev["ts"].dt.hour
    ev["dow"] = ev["ts"].dt.dayofweek
    ev["is_weekend"] = ev["dow"] >= 5
    daily = (
        ev.assign(date=ev["ts"].dt.date)
        .groupby(["date", "user_id"])
        .agg(value_mean=("value", "mean"), value_max=("value", "max"), n=("value", "size"))
        .reset_index()
    )
    _ = daily.shape
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import __spark_entry__ as entry_mod
    from bench import HEADLINE

    from calidad_del_aire_etl_spark.oracle import duck_connection, interruptible_connection

    oracles = entry_mod.oracle_sql()
    # view setup is shared with the oracle-parity gate (one source of
    # truth for table discovery — single files AND Spark part-file dirs)
    con = duck_connection(sf_dir)

    # SPARK_GRAFT_QUERIES="a,b,c" restricts to a subset (sf1 scale sweep)
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    names = [n for n in only.split(",") if n] if only else HEADLINE
    # SPARK_GRAFT_TWIN_TIMEOUT=secs interrupts a twin that runs away at
    # big SFs (the quadratic dedup oracles); it lands in timed_out, not
    # in the total — a DNF is information, not a denominator.
    timeout_s = float(os.environ.get("SPARK_GRAFT_TWIN_TIMEOUT", "0") or 0)
    timings: dict[str, float] = {}
    skipped: list[str] = []
    timed_out: list[str] = []
    for name in names:
        if name not in oracles:
            skipped.append(name)
            continue
        if timeout_s > 0:
            try:
                with interruptible_connection(sf_dir, timeout_s) as qcon:
                    t0 = time.perf_counter()
                    qcon.execute(oracles[name]).fetchall()
                    timings[name] = round(time.perf_counter() - t0, 3)
            except duckdb.InterruptException:
                timed_out.append(name)
        else:
            t0 = time.perf_counter()
            con.execute(oracles[name]).fetchall()
            timings[name] = round(time.perf_counter() - t0, 3)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_total_wall",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "skipped_no_oracle": skipped,
                "timed_out": timed_out,
                "pandas_reference_pipeline_sec": pandas_reference_pipeline(sf_dir),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "threads": os.cpu_count(),
            }
        )
    )


if __name__ == "__main__":
    main()
