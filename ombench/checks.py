"""Output checks, run in DuckDB under a memory limit and never through
pandas: each query's output must equal its registered oracle as a
multiset (two-way ``EXCEPT ALL``), and properties recounted from the
generated events must hold. Every check returns a list of failures;
an empty list means it passed.
"""

from __future__ import annotations

import duckdb

DAY_MS = 86_400_000


def connect(
    memory_mb: int, temp_dir: str, events_files: list[str], threads: int = 2
) -> duckdb.DuckDBPyConnection:
    """A DuckDB session capped at ``memory_mb`` that spills to
    ``temp_dir``, with the generated events as the view ``events``."""
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{int(memory_mb)}MB'")
    con.execute(f"SET threads = {int(threads)}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet({_list(events_files)})")
    return con


def _list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def parquet(path: str) -> str:
    """SQL for the parquet files Spark wrote under ``path``."""
    return f"read_parquet('{path}/*.parquet')"


def _columns(con, sql: str) -> list[str]:
    return [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {sql}").fetchall()]


def multiset_equal(con, got: str, want: str) -> list[str]:
    """``got`` and ``want`` (relations, as SQL) hold the same rows with
    the same multiplicities, compared column by column by name."""
    got_cols, want_cols = _columns(con, got), _columns(con, want)
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns differ: got {sorted(got_cols)}, want {sorted(want_cols)}"]
    cols = ", ".join(f'"{c}"' for c in want_cols)
    # the oracle is evaluated once; both differences read the copy
    con.execute(f"CREATE OR REPLACE TEMP TABLE want_rows AS SELECT {cols} FROM {want}")
    a = f"SELECT {cols} FROM {got}"
    b = "SELECT * FROM want_rows"
    (extra,) = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()
    (missing,) = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()
    con.execute("DROP TABLE want_rows")
    if extra or missing:
        return [f"{extra} rows not in the oracle, {missing} oracle rows missing"]
    return []


def oracle_matches(con, out: str, oracle_sql: str) -> list[str]:
    return multiset_equal(con, out, f"({oracle_sql})")


def _scalar(con, sql: str):
    return con.execute(sql).fetchone()[0]


def sliding_sum(con, out: str) -> list[str]:
    """Each event lands in four 15-minute emits of its trailing hour."""
    got = _scalar(con, f"SELECT coalesce(sum(n), 0) FROM {out}")
    want = 4 * _scalar(con, "SELECT count(*) FROM events")
    return [] if got == want else [f"sum(n) = {got}, want 4 x events = {want}"]


_TYPE_COLS = {
    "view": "n_views",
    "click": "n_clicks",
    "purchase": "n_purchases",
    "signup": "n_signups",
    "error": "n_errors",
}


def hourly_type_totals(con, out: str) -> list[str]:
    """The hourly metrics' per-type totals are the per-type event counts."""
    counts = dict(con.execute("SELECT event_type, count(*) FROM events GROUP BY 1").fetchall())
    errs = []
    for etype, col in _TYPE_COLS.items():
        got = _scalar(con, f"SELECT coalesce(sum({col}), 0) FROM {out}")
        if got != counts.get(etype, 0):
            errs.append(f"sum({col}) = {got}, want {counts.get(etype, 0)}")
    return errs


def join_yield(con, out: str, match_col: str, input_sql: str) -> list[str]:
    """A right-outer nearest-match join: it emits no more rows than its
    driving side has (recounted from the events by ``input_sql``), and
    its yield -- matched rows in basis points -- lies in (0, 10000]."""
    rows, matched = con.execute(f"SELECT count(*), count({match_col}) FROM {out}").fetchone()
    inputs = _scalar(con, input_sql)
    errs = []
    if rows > inputs:
        errs.append(f"{rows} output rows from {inputs} input rows")
    yield_bp = matched * 10000 // rows if rows else 0
    if not 0 < yield_bp <= 10000:
        errs.append(f"yield {yield_bp} bp outside (0, 10000]")
    return errs


# Driving-side row counts of the three BFJ join stages, recounted from
# the events by the fixture rules of ``queries/bfj_q.py``: two
# insertions per click; impressions are the insertions with
# (id + k) % 3 != 0; actions are the purchases.
JOIN_STAGES = {
    "bfj_view_insertions": (
        "view_id",
        "SELECT 2 * count(*) FROM events WHERE event_type = 'click'",
    ),
    "bfj_joined_impressions": (
        "insertion_id",
        "SELECT count(*) FROM events, range(2) r(k)"
        " WHERE event_type = 'click' AND (event_id + k) % 3 <> 0",
    ),
    "bfj_joined_actions": (
        "impression_id",
        "SELECT count(*) FROM events WHERE event_type = 'purchase'",
    ),
}


def properties(con, query: str, out: str) -> list[str]:
    """The recounted property of ``query``'s output, if it has one."""
    if query == "sliding_hourly_counter":
        return sliding_sum(con, out)
    if query == "hourly_event_metrics":
        return hourly_type_totals(con, out)
    if query in JOIN_STAGES:
        return join_yield(con, out, *JOIN_STAGES[query])
    return []


# ---------------------------------------------------------------------------
# stream: the CUMULATE sink holds (period_ms, window_ms, key, n)
# ---------------------------------------------------------------------------


def stream_last_counts(con, sink: str, exclude_key: int) -> list[str]:
    """The last cumulative count of each (user, day) is that user's
    events that day; ``exclude_key`` is the flush event's user."""
    want = f"""
        SELECT user_id AS key, epoch_ms(ts) // {DAY_MS} * {DAY_MS} AS period_ms,
               count(*) AS n
        FROM events WHERE user_id <> {exclude_key} GROUP BY 1, 2"""
    got = f"SELECT key, period_ms, arg_max(n, window_ms) AS n FROM {sink} GROUP BY 1, 2"
    return multiset_equal(con, f"({got})", f"({want})")


def stream_increasing(con, sink: str) -> list[str]:
    """Within a (user, day) the cumulative count rises at every emitted
    step: a step is emitted only when it holds at least one event, so a
    repeated or lower count is a duplicated or lost window."""
    bad = _scalar(
        con,
        f"""SELECT count(*) FROM (
              SELECT n, lag(n) OVER (PARTITION BY key, period_ms
                                     ORDER BY window_ms, n) AS prev
              FROM {sink}) WHERE n <= prev""",
    )
    return [f"{bad} emitted counts not above the previous step's"] if bad else []


def stream_consumed(consumed: int, generated: int) -> list[str]:
    if consumed != generated:
        return [f"stream consumed {consumed} rows, {generated} were generated"]
    return []
