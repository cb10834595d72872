"""Tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest ombench -q

Each output check must pass on a correct output and fail on a
deliberately corrupted one: a dropped row, a bumped count, a duplicated
window.
"""

from __future__ import annotations

import itertools
import math
import subprocess

import pytest

import checks
import gen
import procs
import run
from layers import parse_metric
from openmetrics_spark.queries import all_queries

HOUR, DAY = gen.HOUR_MS, gen.DAY_MS
_ids = itertools.count()


@pytest.fixture(scope="module")
def batch(tmp_path_factory):
    d = tmp_path_factory.mktemp("batch")
    gen.write_events(str(d / "events.parquet"), seed=7, n=2000, n_users=40, hot_share=0.3)
    con = checks.connect(256, str(d), [str(d / "events.parquet")])
    yield con, d
    con.close()


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    paths = [str(d / f"slice-{i}.parquet") for i in range(30)]
    rows = gen.write_slices(paths, seed=7, per_slice=50, n_users=20, step_ms=HOUR)
    con = checks.connect(256, str(d), paths)
    # what a correct CUMULATE(1 h, 1 d) sink holds for these events
    good = save(
        con,
        d,
        "sink",
        f"""WITH h AS (
              SELECT user_id AS key, epoch_ms(ts) // {DAY} * {DAY} AS period_ms,
                     epoch_ms(ts) // {HOUR} * {HOUR} AS window_ms, count(*) AS c
              FROM events GROUP BY ALL)
            SELECT period_ms, window_ms, key,
                   sum(c) OVER (PARTITION BY key, period_ms ORDER BY window_ms)::BIGINT AS n
            FROM h""",
    )
    yield con, d, good, sum(rows)
    con.close()


def save(con, d, name: str, sql: str) -> str:
    """Write ``sql``'s rows as a parquet directory, as Spark would."""
    out = d / f"{name}-{next(_ids)}"
    out.mkdir()
    con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")
    return checks.parquet(str(out))


def dropped(rel: str) -> str:
    return f"""SELECT * EXCLUDE (rn) FROM (
                 SELECT *, row_number() OVER () AS rn FROM {rel}) WHERE rn <> 1"""


def bumped(rel: str, col: str) -> str:
    return f"""SELECT * EXCLUDE (rn) REPLACE (CASE WHEN rn = 1 THEN {col} + 1 ELSE {col} END AS {col})
               FROM (SELECT *, row_number() OVER () AS rn FROM {rel})"""


def duplicated(rel: str) -> str:
    return f"SELECT * FROM {rel} UNION ALL (SELECT * FROM {rel} LIMIT 1)"


def oracle_output(con, d, query: str) -> str:
    return save(con, d, f"{query}_good", all_queries()[query].oracle)


# -- batch checks -----------------------------------------------------------


def test_oracle_multiset_detects_each_corruption(batch):
    con, d = batch
    oracle = all_queries()["sliding_hourly_counter"].oracle
    good = oracle_output(con, d, "sliding_hourly_counter")
    assert checks.oracle_matches(con, good, oracle) == []
    for i, bad in enumerate([dropped(good), bumped(good, "n"), duplicated(good)]):
        assert checks.oracle_matches(con, save(con, d, f"bad{i}", bad), oracle)


def test_oracle_multiset_detects_renamed_column(batch):
    con, d = batch
    good = oracle_output(con, d, "cumulate_hourly")
    bad = save(con, d, "renamed", f"SELECT * EXCLUDE (n_events), n_events AS n FROM {good}")
    assert checks.oracle_matches(con, bad, all_queries()["cumulate_hourly"].oracle)


def test_sliding_sum(batch):
    con, d = batch
    good = oracle_output(con, d, "sliding_hourly_counter")
    assert checks.properties(con, "sliding_hourly_counter", good) == []
    for i, bad in enumerate([dropped(good), bumped(good, "n"), duplicated(good)]):
        out = save(con, d, f"sliding_bad{i}", bad)
        assert checks.properties(con, "sliding_hourly_counter", out)


def test_hourly_type_totals(batch):
    con, d = batch
    good = oracle_output(con, d, "hourly_event_metrics")
    assert checks.properties(con, "hourly_event_metrics", good) == []
    for i, bad in enumerate([dropped(good), bumped(good, "n_views"), duplicated(good)]):
        out = save(con, d, f"hourly_bad{i}", bad)
        assert checks.properties(con, "hourly_event_metrics", out)


@pytest.mark.parametrize("query", sorted(checks.JOIN_STAGES))
def test_join_stage_rows_and_yield(batch, query):
    con, d = batch
    good = oracle_output(con, d, query)
    assert checks.properties(con, query, good) == []
    # a duplicated row: more output rows than the driving side has
    assert checks.properties(con, query, save(con, d, f"{query}_dup", duplicated(good)))
    # every match lost: the yield falls to 0
    match_col = checks.JOIN_STAGES[query][0]
    unmatched = f"SELECT * REPLACE (NULL AS {match_col}) FROM {good}"
    assert checks.properties(con, query, save(con, d, f"{query}_none", unmatched))


# -- stream checks ----------------------------------------------------------


def test_stream_last_counts(stream):
    con, d, good, _ = stream
    assert checks.stream_last_counts(con, good, exclude_key=-1) == []
    last_dropped = f"""SELECT * FROM {good} QUALIFY window_ms <>
                         max(window_ms) OVER (PARTITION BY key, period_ms)
                         OR (key, period_ms) <> (SELECT (key, period_ms) FROM {good}
                                                 ORDER BY ALL LIMIT 1)"""
    for i, bad in enumerate([last_dropped, f"SELECT * REPLACE (n + 1 AS n) FROM {good}"]):
        assert checks.stream_last_counts(con, save(con, d, f"last_bad{i}", bad), -1)


def test_stream_increasing(stream):
    con, d, good, _ = stream
    assert checks.stream_increasing(con, good) == []
    lowered = f"""SELECT * REPLACE (CASE WHEN window_ms % {DAY} = {HOUR}
                                         THEN 0 ELSE n END AS n) FROM {good}"""
    for i, bad in enumerate([duplicated(good), lowered]):
        assert checks.stream_increasing(con, save(con, d, f"inc_bad{i}", bad))


def test_stream_consumed(stream):
    *_, generated = stream
    assert checks.stream_consumed(generated, generated) == []
    assert checks.stream_consumed(generated - 1, generated)


def test_cover_ends_finds_the_batch_that_takes_each_slice_in():
    progress = run.Progress()
    for batch, end, rows in [(0, 10.0, 0), (1, 11.0, 150), (2, 12.0, 0), (3, 13.0, 100)]:
        progress.records.append({"batch": batch, "end": end, "rows": rows})
    assert progress.cover_ends([100, 150, 250]) == [11.0, 11.0, 13.0]
    assert math.isnan(progress.cover_ends([251])[0])


# -- generator, metrics, processes ------------------------------------------


def test_events_are_seeded_and_never_share_a_millisecond():
    import numpy as np

    a = gen.events(np.random.default_rng(3), 5000, 50, hot_share=0.4)
    b = gen.events(np.random.default_rng(3), 5000, 50, hot_share=0.4)
    assert a.equals(b)
    ms = a.column("ts").cast("int64").to_numpy() // 1000
    assert (np.diff(ms) > 0).all()
    hot = (a.column("user_id").to_numpy() == gen.HOT_USER).mean()
    assert 0.35 < hot < 0.45


def test_parse_metric_formats():
    assert parse_metric("1,000", "sum") == 1000
    assert parse_metric("16.2 MiB", "size") == 16.2 * 2**20
    assert parse_metric("648 ms", "timing") == pytest.approx(0.648)
    text = "total (min, med, max (stageId: taskId))\n2.5 s (1 ms, 1 ms, 1 ms (stage 3.0: task 2))"
    assert parse_metric(text, "nsTiming") == 2.5
    assert parse_metric(None, "sum") == 0.0


def test_reap_all_waits_for_orphans():
    procs.become_subreaper()
    # the shell exits at once; its background child becomes ours
    subprocess.run(["sh", "-c", "sleep 0.5 & exit 0"], check=True)
    assert procs.descendants()
    assert procs.reap_all(grace=10) == []
    assert procs.descendants() == []


def test_run_outside_a_checkout_fails_without_a_session(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    code = run.main(["--workload", "flat_join", "--seed", "1", "--seconds", "1"])
    assert code != 0
    assert capsys.readouterr().out == ""
    assert procs.descendants() == []
