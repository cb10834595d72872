"""Seeded benchmark inputs in the ``events`` schema of the repository's
test tables (TESTDATA.md): ``event_id, ts, user_id, event_type, value,
props``.

Timestamps are strictly increasing at millisecond precision, so no two
events share a millisecond: every per-key "latest before" pick in the
program (the counter job's as-of enrichment, the inferred joins'
nearest match) has one answer, and the DuckDB oracles agree with Spark
on every seed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS
TYPES = np.array(["view", "click", "purchase", "signup", "error"])
HOT_USER = 0


def events(
    rng: np.random.Generator,
    n: int,
    n_users: int,
    *,
    hot_share: float = 0.0,
    start_ms: int = EPOCH_MS,
    span_ms: int = 30 * DAY_MS,
    first_id: int = 0,
    tz: str | None = None,
) -> pa.Table:
    """``n`` events spread uniformly over ``span_ms`` from ``start_ms``,
    in event-time order with consecutive ids. Five event types in equal
    shares; ``hot_share`` of the events go to ``HOT_USER`` (the
    reference's logged-out or bot key), the rest uniformly to the other
    ``n_users - 1`` users."""
    if n > span_ms:
        raise ValueError("more events than milliseconds in the span")
    # sorted draws from [0, span - n) plus 0..n-1: strictly increasing
    ms = np.sort(rng.integers(0, span_ms - n + 1, n)) + np.arange(n)
    us = (start_ms + ms) * 1000 + rng.integers(0, 1000, n)
    if hot_share > 0:
        hot = rng.random(n) < hot_share
        users = np.where(hot, HOT_USER, rng.integers(1, n_users, n))
    else:
        users = rng.integers(0, n_users, n)
    value = np.round(rng.exponential(50.0, n) + 0.01, 2)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(us, pa.timestamp("us", tz=tz)),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(TYPES[rng.integers(0, len(TYPES), n)]),
            "value": pa.array(value, pa.float64()),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
        }
    )


def write_events(path: str, seed: int, n: int, n_users: int, hot_share: float) -> int:
    """The batch workloads' ``events.parquet`` (tz-naive micros, as in
    the repository's test tables). Returns the row count."""
    table = events(np.random.default_rng(seed), n, n_users, hot_share=hot_share)
    pq.write_table(table, path)
    return table.num_rows


def write_slices(
    paths: list[str],
    seed: int,
    per_slice: int,
    n_users: int,
    step_ms: int,
) -> list[int]:
    """One parquet file per stream slice; slice ``i`` holds
    ``per_slice`` events in event time ``[i, i+1) * step_ms``. Returns
    the row count of each file."""
    rng = np.random.default_rng(seed)
    rows = []
    for i, path in enumerate(paths):
        table = events(
            rng,
            per_slice,
            n_users,
            start_ms=EPOCH_MS + i * step_ms,
            span_ms=step_ms,
            first_id=i * per_slice,
            tz="UTC",
        )
        pq.write_table(table, path)
        rows.append(table.num_rows)
    return rows


def write_sentinel(path: str, ts_ms: int, event_id: int, user_id: int) -> None:
    """One event far ahead in event time: it moves the stream's
    watermark past every open window, so the CUMULATE state machine
    emits its last rows."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([event_id], pa.int64()),
                "ts": pa.array([ts_ms * 1000], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array([user_id], pa.int64()),
                "event_type": pa.array(["view"]),
                "value": pa.array([0.01], pa.float64()),
                "props": pa.array(['{"k": 0}']),
            }
        ),
        path,
    )
