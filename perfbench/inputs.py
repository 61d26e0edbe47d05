"""Seeded input generation for the benchmark workloads.

The program under test only ever sees the files written here. The
`events` table has the shape and distributions of the sf0.1 testdata
`events` table (100,000 rows, 1,500 users, five event types, 30 days,
exponential values rounded to cents), so registry queries and their
DuckDB twins run on it unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["purchase", "view", "click", "error", "signup"]
EVENT_ROWS = 100_000
EVENT_USERS = 1_500
EVENT_DAYS = 30
START = np.datetime64("2024-01-01T00:00:00", "us")

# stream_ingest: share of each day's rows that arrives one file (one day)
# late. Neither the reference nor the testdata gives a late-arrival rate;
# this is an assumption, kept to the simplest shape that still makes every
# tick recompute an earlier date's rollup partition.
LATE_SHARE = 0.05


def events_frame(seed: int) -> pd.DataFrame:
    """The sf0.1-shaped `events` table for one seed, ordered by ts."""
    rng = np.random.default_rng(seed)
    n = EVENT_ROWS
    offsets = np.sort(rng.integers(0, EVENT_DAYS * 86_400 * 10**6, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": START + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, EVENT_USERS, n, dtype=np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
        }
    )


def write_events_table(events: pd.DataFrame, sf_dir: str) -> str:
    """Write `events` as the single-file, naive-timestamp parquet table
    that `registry.load` and the DuckDB twins read."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(pa.Table.from_pandas(events, preserve_index=False), path)
    return path


def stream_batches(events: pd.DataFrame, seed: int) -> list[pd.DataFrame]:
    """Split the events into one batch per day. A seeded share of each
    day's rows moves to the next day's file (late data), and every batch
    is shuffled (out-of-order arrival)."""
    rng = np.random.default_rng([seed, 1])
    n = len(events)
    day = ((events["ts"].to_numpy() - START) // np.timedelta64(1, "D")).astype(np.int64)
    late = rng.random(n) < LATE_SHARE
    arrival = np.where(late, np.minimum(day + 1, EVENT_DAYS - 1), day)
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    batches = []
    for d in range(EVENT_DAYS):
        part = events.loc[arrival == d, cols]
        batches.append(part.iloc[rng.permutation(len(part))].reset_index(drop=True))
    return batches


def write_stream_batch(batch: pd.DataFrame, path: str) -> None:
    """One landed stream file. Timestamps are written UTC-adjusted so the
    stream's `TimestampType` schema reads them as instants."""
    table = pa.Table.from_pandas(batch, preserve_index=False)
    ts = table.column("ts").cast(pa.timestamp("us", tz="UTC"))
    table = table.set_column(table.schema.get_field_index("ts"), "ts", ts)
    pq.write_table(table, path)
