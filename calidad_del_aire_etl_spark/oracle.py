"""DuckDB oracle-parity harness — the library core of the t2 gate.

Every registry query carries an ANSI-SQL twin (``oracle_sql()``); this
module runs both engines over the same parquet tables and compares row
count, column names/dtypes, and an order-insensitive value hash. It is
consumed by two front doors:

- ``tools/compare.py`` — the CLI stand-in for the driver's gate;
- ``tests/test_oracle_parity.py`` — the same sweep inside pytest (at
  sf0.001 for speed), so ``pytest tests/`` fails on any parity
  regression instead of parity living only in a manually-run tool.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import threading

import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Column-order + timestamp-resolution normalization before hashing
    (Spark returns ns-resolution pandas timestamps, DuckDB us). Float
    columns get ``+ 0.0``: IEEE canonicalizes −0.0 to +0.0, so
    numerically-equal frames can't hash-diverge on zero sign (DuckDB's
    ROUND emits −0.0 for tiny negatives; Spark's never does — caught by
    the r12 full-registry sf1 sweep). NaNs pass through unchanged."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c] + 0.0
    return df


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of the stringified rows."""
    df = norm_frame(df.copy())
    if len(df) == 0:
        return "empty"
    rows = sorted(
        df.astype(str).apply(lambda r: "\x1f".join(r.values), axis=1).tolist()
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def duck_connection(sf_dir: str):
    """Fresh DuckDB connection with the testdata tables as views —
    the same registration the driver performs."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(p):
            continue
        # driver testdata is one file per table; Spark-generated
        # scale-up dirs (tools/gen_sf1.py) hold part files — glob those
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    return con


@contextlib.contextmanager
def interruptible_connection(sf_dir: str, timeout_s: float):
    """A fresh :func:`duck_connection` whose running query is interrupted
    (``duckdb.InterruptException``) once ``timeout_s`` has passed, closed
    on exit. Fresh, not shared: a timer firing between a query's return
    and its cancel would leave a pending interrupt that aborts the next
    query on a shared connection, mis-recording a fast twin as a DNF."""
    con = duck_connection(sf_dir)
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        yield con
    finally:
        timer.cancel()
        con.close()


def degenerate_frame(df) -> bool:
    """True when an oracle answer can't discriminate a wrong
    implementation: zero rows, or every numeric cell NULL (e.g. TPC-H
    Q19's selective branches match 0 lineitems at sf0.001, so both
    engines return one all-NULL row and the hash compare passes
    vacuously — the round-11 10^4x revenue bug shipped through exactly
    this hole)."""
    if len(df) == 0:
        return True
    num = df.select_dtypes(include=["number"])
    return num.shape[1] > 0 and bool(num.isna().all().all())


def degenerate_result(con, sql: str) -> bool:
    """:func:`degenerate_frame` over a freshly-executed twin. Prefer
    passing ``out=`` to :func:`compare_query` and checking the frame it
    already fetched — re-running the twin doubles its cost for nothing
    (ADVICE r12; the quadratic dedup twins make that painful)."""
    return degenerate_frame(con.execute(sql).df())


def compare_query(
    spark, con, fn, oracle: str | None, sf_dir: str, twin_timeout: float = 0.0,
    out: dict | None = None,
) -> tuple[int, list[str]]:
    """Run one query on both engines; return (spark_rows, problems) —
    empty problems = parity. ``oracle=None`` degrades to a rows-only
    sanity check. ``twin_timeout`` > 0 interrupts a runaway DuckDB twin
    (the quadratic dedup oracles at big SFs) and reports a single
    ``TIMEOUT`` problem — a DNF is information, not a mismatch; callers
    should count it separately. The timed path runs on an
    :func:`interruptible_connection`, never on ``con``.

    Pass a dict as ``out`` to receive ``out["oracle_df"]`` — the raw
    (pre-normalization) twin frame — so callers needing a degeneracy
    check (:func:`degenerate_frame`) don't re-execute the twin."""
    sdf = fn(spark, sf_dir).toPandas()
    if oracle is None:
        return len(sdf), []
    if twin_timeout > 0:
        import duckdb

        try:
            with interruptible_connection(sf_dir, twin_timeout) as qcon:
                ddf = qcon.execute(oracle).df()
        except duckdb.InterruptException:
            return len(sdf), [f"TIMEOUT: twin exceeded {twin_timeout}s (DNF)"]
    else:
        ddf = con.execute(oracle).df()
    if out is not None:
        out["oracle_df"] = ddf.copy()
    sdf, ddf = norm_frame(sdf), norm_frame(ddf)
    problems: list[str] = []
    if len(sdf) != len(ddf):
        problems.append(f"rowcount {len(sdf)} vs {len(ddf)}")
    if list(sdf.columns) != list(ddf.columns):
        problems.append(f"cols {list(sdf.columns)} vs {list(ddf.columns)}")
    elif [str(t) for t in sdf.dtypes] != [str(t) for t in ddf.dtypes]:
        problems.append(
            f"dtypes {[str(t) for t in sdf.dtypes]} vs {[str(t) for t in ddf.dtypes]}"
        )
    if not problems and value_hash(sdf) != value_hash(ddf):
        merged = sdf.merge(ddf, how="outer", indicator=True)
        diff = merged[merged["_merge"] != "both"]
        problems.append(
            f"value-hash mismatch ({len(diff)} differing rows):\n"
            + diff.head(6).to_string()
        )
    return len(sdf), problems
