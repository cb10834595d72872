"""Streaming-twin parity: each Structured Streaming op must produce
the same rows as its batch twin on the same (event-time-ordered)
input, drained with Trigger.AvailableNow across multiple micro-batches
(maxFilesPerTrigger=1 forces cross-batch state) — the Spark analog of
the reference's bounded minicluster job tests (LPT/.../job/*
MiniclusterTest.java)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openmetrics_spark.operators.counters import sliding_counter
from openmetrics_spark.operators.dedup import keep_first
from openmetrics_spark.operators.joins import interval_join
from openmetrics_spark.operators.sessions import session_rollup
from openmetrics_spark.streaming import (
    run_to_memory,
    stream_from_dir,
    stream_interval_join,
    stream_keep_first,
    stream_session_rollup,
    stream_sliding_counter,
)

HOUR = 3600_000
MIN15 = 900_000


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Small ordered event stream written as several files (= several
    micro-batches under maxFilesPerTrigger=1). Files are written one at
    a time with strictly increasing mtimes: FileStreamSource orders the
    backlog by modification time, and a single multi-part write gives
    every part the same mtime — nondeterministic replay order would
    break the arrival-order premise of the keep-first parity test."""
    import os

    base = 1_700_000_000_000
    rows = []
    eid = 0
    for i in range(240):
        user = i % 7
        ts = base + i * 97_000  # ~97 s apart, in order
        etype = ["view", "click", "purchase"][i % 3]
        rows.append((eid, user, etype, ts))
        eid += 1
        if i % 11 == 0:  # duplicates for dedup ops
            rows.append((eid, user, etype, ts + 1_000))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, event_type STRING, ts_ms LONG"
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    out = str(tmp_path_factory.mktemp("stream_events"))
    t0 = 1_000_000_000  # fixed epoch secs; only relative order matters
    for i in range(4):
        before = set(os.listdir(out)) if os.path.exists(out) else set()
        df.filter((F.col("event_id") / 70).cast("int") == i).coalesce(
            1
        ).sortWithinPartitions("ts").write.mode("append").parquet(out)
        for name in set(os.listdir(out)) - before:
            p = os.path.join(out, name)
            os.utime(p, (t0 + i, t0 + i))
    return out


def _batch(spark, events_dir):
    return spark.read.parquet(events_dir)


def _stream(spark, events_dir, batch_df):
    return stream_from_dir(
        spark, events_dir, batch_df.schema, max_files_per_trigger=1
    )


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_sliding_counter_parity(spark, events_dir):
    b = _batch(spark, events_dir)
    s = _stream(spark, events_dir, b)
    got = run_to_memory(
        stream_sliding_counter(s, ["user_id"], "ts", HOUR, MIN15),
        output_mode="complete",
    )
    want = sliding_counter(b, ["user_id"], "ts", HOUR, MIN15)
    cols = ["user_id", "emit_ms", "n"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_session_rollup_parity(spark, events_dir, tmp_path):
    """Session windows emit in APPEND mode as the watermark closes them
    (complete mode does not replay evicted session state across
    micro-batches). A far-future sentinel event advances the final
    watermark so every real session closes — the test analog of the
    reference's end-of-input watermark in bounded minicluster runs."""
    b = _batch(spark, events_dir)
    sess_dir = str(tmp_path / "events_with_sentinel")
    sentinel_ms = 1_900_000_000_000
    b.write.mode("overwrite").parquet(sess_dir)
    spark.createDataFrame(
        [(999_999, -1, "view", sentinel_ms)],
        "event_id LONG, user_id LONG, event_type STRING, ts_ms LONG",
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms"))).select(
        *[f.name for f in b.schema.fields]
    ).write.mode("append").parquet(sess_dir)

    s = stream_from_dir(spark, sess_dir, b.schema, max_files_per_trigger=4)
    got = run_to_memory(
        stream_session_rollup(s, ["user_id"], "ts", gap_ms=10 * 60_000),
        output_mode="append",
    ).filter(F.col("user_id") >= 0)
    want = session_rollup(b, ["user_id"], "ts", gap_ms=10 * 60_000)
    cols = ["user_id", "session_start_ms", "session_end_ms", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_keep_first_parity(spark, events_dir):
    b = _batch(spark, events_dir)
    s = _stream(spark, events_dir, b)
    got = run_to_memory(
        stream_keep_first(s, ["user_id", "event_type"], "ts", retention_ms=86_400_000),
        output_mode="append",
    )
    want = keep_first(b, ["user_id", "event_type"], ["ts", "event_id"])
    cols = ["user_id", "event_type", "event_id"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_interval_join_parity(spark, events_dir):
    b = _batch(spark, events_dir)
    views_b = b.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    clicks_b = b.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    want = interval_join(
        views_b, clicks_b, ["u"], "vts", "cts", 0, 10 * 60_000
    ).select("view_id", "click_id")

    s = _stream(spark, events_dir, b)
    views_s = s.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    clicks_s = s.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("uc"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    ).withColumnRenamed("uc", "u2")
    got = run_to_memory(
        stream_interval_join(
            views_s,
            clicks_s.withColumnRenamed("u2", "u"),
            ["u"],
            "vts",
            "cts",
            0,
            10 * 60_000,
        ).select("view_id", "click_id"),
        output_mode="append",
    )
    cols = ["view_id", "click_id"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_last_time_and_count(spark, events_dir):
    pytest.importorskip("pandas")
    from openmetrics_spark.streaming.stateful import stream_last_time_and_count

    b = _batch(spark, events_dir)
    s = _stream(spark, events_dir, b)
    out = run_to_memory(
        stream_last_time_and_count(
            s, "user_id", "ts", bucket_ms=MIN15, horizon_ms=HOUR
        ),
        output_mode="update",
    )
    # final emission per key = the one at the key's max last_ms
    final = out.groupBy("key").agg(
        F.max_by(F.struct("last_ms", "n_horizon"), "last_ms").alias("s")
    ).select("key", "s.last_ms", "s.n_horizon")

    # batch reference: bucket-granular trailing count anchored at
    # each key's last event
    ms = F.unix_millis("ts")
    bucketed = b.select(
        F.col("user_id").alias("key"),
        ms.alias("ms"),
        (ms / MIN15).cast("long").alias("bucket"),
    )
    anchors = bucketed.groupBy("key").agg(F.max("ms").alias("last_ms"))
    want = (
        bucketed.join(anchors, "key")
        .filter(F.col("bucket") * MIN15 > F.col("last_ms") - HOUR)
        .groupBy("key", "last_ms")
        .agg(F.count(F.lit(1)).alias("n_horizon"))
    )
    cols = ["key", "last_ms", "n_horizon"]
    assert _rows(final, cols) == _rows(want, cols)


def test_stream_last_time_and_count_tws_parity(spark, events_dir):
    """The transformWithStateInPandas twin (the Spark-4-native state
    surface) must emit exactly what the GroupState path emits. The TWS
    state protocol needs the protobuf package at runtime; where it is
    absent (this container does not bundle it) the test records a
    skip — the GroupState path above remains the verified operator."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas state protocol needs protobuf",
    )
    from openmetrics_spark.streaming.stateful import (
        stream_last_time_and_count,
        stream_last_time_and_count_tws,
    )

    b = _batch(spark, events_dir)
    cols = ["key", "last_ms", "n_horizon"]
    outs = []
    for op in (stream_last_time_and_count, stream_last_time_and_count_tws):
        s = _stream(spark, events_dir, b)
        got = run_to_memory(
            op(s, "user_id", "ts", bucket_ms=MIN15, horizon_ms=HOUR),
            output_mode="update",
        )
        final = got.groupBy("key").agg(
            F.max_by(F.struct("last_ms", "n_horizon"), "last_ms").alias("s")
        ).select("key", "s.last_ms", "s.n_horizon")
        outs.append(_rows(final, cols))
    assert outs[0] == outs[1]


def test_stream_inferred_join_tws_parity(spark, events_dir, tmp_path):
    """The inferred join's transformWithStateInPandas twin (typed list
    state + native per-key event-time timers — SURVEY §2.7's migration
    target) must emit exactly what the GroupState path emits on the
    same staged replay. Both run _decide_ready, so a divergence can
    only be state/timer plumbing. The TWS state protocol needs the
    protobuf package at runtime; where it is absent (this container
    does not bundle it) the test records a skip — the GroupState path
    remains the verified operator."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas state protocol needs protobuf",
    )
    from openmetrics_spark.streaming.stateful import (
        stream_inferred_join,
        stream_inferred_join_tws,
    )

    b = _batch(spark, events_dir).withColumn(
        "k", (F.col("event_id") % 3).cast("string")
    )
    src_dir = str(tmp_path / "events_tws")
    b.drop("k").write.mode("overwrite").parquet(src_dir)
    spark.createDataFrame(
        [(999_999, -1, "view", 1_900_000_000_000)],
        "event_id LONG, user_id LONG, event_type STRING, ts_ms LONG",
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms"))).select(
        *[f.name for f in b.drop("k").schema.fields]
    ).write.mode("append").parquet(src_dir)

    cols = ["right_id", "u", "right_ms", "left_id", "left_ms", "late"]
    outs = []
    for op in (stream_inferred_join, stream_inferred_join_tws):
        s = stream_from_dir(
            spark, src_dir, b.drop("k").schema, max_files_per_trigger=4
        ).withColumn("k", (F.col("event_id") % 3).cast("string"))
        got = run_to_memory(
            op(
                s.filter(F.col("event_type") == "view"),
                s.filter(F.col("event_type") == "click"),
                user_col="user_id",
                left_id_col="event_id",
                right_id_col="event_id",
                left_ts_col="ts",
                right_ts_col="ts",
                scope_cols=("k",),
                window_before_ms=600_000,
                window_after_ms=0,
                delay_ms=2000,
            ),
            output_mode="append",
        )
        outs.append(_rows_nonesafe(got, cols))
    assert outs[0] == outs[1]


def test_stream_inferred_join_parity(spark, events_dir, tmp_path):
    """The BaseInferred state machine twin: scope-fallback (user, k) →
    (user) nearest-prior-view attribution of clicks, drained across
    micro-batches, must equal the batch inferred_join. A far-future
    sentinel view advances the final watermark so every pending click
    decides (the end-of-input watermark of the reference's bounded
    minicluster runs)."""
    from openmetrics_spark.operators.joins import Scope, inferred_join
    from openmetrics_spark.streaming import stream_inferred_join

    b = _batch(spark, events_dir).withColumn(
        "k", (F.col("event_id") % 3).cast("string")
    )
    views_b = b.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"),
        "k",
        "ts",
        F.col("event_id").alias("view_id"),
        F.unix_millis("ts").alias("view_ms"),
    )
    clicks_b = b.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("u"), "k", "ts"
    )
    want = inferred_join(
        views_b,
        clicks_b,
        scopes=[Scope(("u", "k")), Scope(("u",))],
        fk=None,
        left_ts="ts",
        right_ts="ts",
        window_before_ms=600_000,
        window_after_ms=0,
        left_payload=["view_id", "view_ms"],
        right_id="click_id",
        right_outer=True,
    ).select(
        "click_id",
        F.col("__lpick.view_id").alias("view_id"),
        F.col("__lpick.view_ms").alias("view_ms"),
    )

    src_dir = str(tmp_path / "events_with_sentinel")
    b.drop("k").write.mode("overwrite").parquet(src_dir)
    spark.createDataFrame(
        [(999_999, -1, "view", 1_900_000_000_000)],
        "event_id LONG, user_id LONG, event_type STRING, ts_ms LONG",
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms"))).select(
        *[f.name for f in b.drop("k").schema.fields]
    ).write.mode("append").parquet(src_dir)

    s = stream_from_dir(spark, src_dir, b.drop("k").schema, max_files_per_trigger=4)
    s = s.withColumn("k", (F.col("event_id") % 3).cast("string"))
    views_s = s.filter(F.col("event_type") == "view")
    clicks_s = s.filter(F.col("event_type") == "click")
    got = run_to_memory(
        stream_inferred_join(
            views_s,
            clicks_s,
            user_col="user_id",
            left_id_col="event_id",
            right_id_col="event_id",
            left_ts_col="ts",
            right_ts_col="ts",
            scope_cols=("k",),
            window_before_ms=600_000,
            window_after_ms=0,
            delay_ms=2000,
        ),
        output_mode="append",
    ).select(
        F.col("right_id").alias("click_id"),
        F.col("left_id").alias("view_id"),
        F.col("left_ms").alias("view_ms"),
    )
    cols = ["click_id", "view_id", "view_ms"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_add_latest_impressions_parity(spark, events_dir, tmp_path):
    """Streaming AddLatestImpressions must equal the batch twin:
    per-action ≤max_output most-recent impressions after excluding
    already-actioned contents, state-capped BEFORE the exclusion.
    Lookback stays at the 7 d default so the first_act TTL (which the
    batch twin, seeing all history, does not have) cannot bite inside
    the 6.5 h fixture; a sentinel view flushes pending actions."""
    from openmetrics_spark.operators.enrich import add_latest_impressions
    from openmetrics_spark.streaming.stateful import stream_add_latest_impressions

    b = _batch(spark, events_dir).withColumn(
        "content_id", (F.col("event_id") % 9).cast("long")
    )
    imps_b = b.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("impression_id"),
        F.col("ts_ms").alias("imp_ms"),
        "content_id",
    )
    acts_b = b.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("action_id"),
        F.col("ts_ms").alias("act_ms"),
        "content_id",
    )
    want = add_latest_impressions(imps_b, acts_b, max_state=5, max_output=3)

    src_dir = str(tmp_path / "events_with_sentinel")
    b.drop("content_id").write.mode("overwrite").parquet(src_dir)
    spark.createDataFrame(
        [(999_999, -1, "view", 1_900_000_000_000)],
        "event_id LONG, user_id LONG, event_type STRING, ts_ms LONG",
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms"))).select(
        *[f.name for f in b.drop("content_id").schema.fields]
    ).write.mode("append").parquet(src_dir)

    s = stream_from_dir(
        spark, src_dir, b.drop("content_id").schema, max_files_per_trigger=4
    ).withColumn("content_id", (F.col("event_id") % 9).cast("long"))
    imps_s = s.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("impression_id"),
        F.col("ts_ms").alias("imp_ms"),
        "content_id",
        "ts",
    )
    acts_s = s.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("action_id"),
        F.col("ts_ms").alias("act_ms"),
        "content_id",
        "ts",
    )
    got = run_to_memory(
        stream_add_latest_impressions(imps_s, acts_s, max_state=5, max_output=3),
        output_mode="append",
    )
    cols = ["action_id", "rank", "impression_id", "content", "gap_ms"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_cumulate_parity(spark, events_dir, tmp_path):
    """Streaming CUMULATE(15 m step, 1 h period) must equal the batch
    cumulate_metrics running sums; sentinel flushes the final period."""
    from openmetrics_spark.operators.metrics import cumulate_metrics
    from openmetrics_spark.streaming.stateful import stream_cumulate_counter

    b = _batch(spark, events_dir)
    want = cumulate_metrics(
        b,
        ["user_id"],
        "ts",
        step_ms=MIN15,
        period_ms=HOUR,
        metric_aggs={"n": F.count(F.lit(1))},
    ).select("period_ms", "window_ms", F.col("user_id").alias("key"), "n")

    src_dir = str(tmp_path / "events_with_sentinel")
    b.write.mode("overwrite").parquet(src_dir)
    spark.createDataFrame(
        [(999_999, -1, "view", 1_900_000_000_000)],
        "event_id LONG, user_id LONG, event_type STRING, ts_ms LONG",
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms"))).select(
        *[f.name for f in b.schema.fields]
    ).write.mode("append").parquet(src_dir)

    s = stream_from_dir(spark, src_dir, b.schema, max_files_per_trigger=4)
    got = run_to_memory(
        stream_cumulate_counter(s, "user_id", "ts", MIN15, HOUR),
        output_mode="append",
    ).filter(F.col("key") >= 0)
    cols = ["period_ms", "window_ms", "key", "n"]
    assert _rows(got, cols) == _rows(want, cols)


_CUM_SCHEMA = "event_id LONG, user_id LONG, ts_ms LONG"
_CUM_T = 1_700_000_000_000 // HOUR * HOUR
_SENTINEL_USER = -1


def _cumulate_slices(users, n_slices, per_slice_ms=20 * 60_000):
    """One ordered file per slice: every user has a row every 5 min."""
    slices, eid = [], 0
    for i in range(n_slices):
        rows = []
        for t in range(i * per_slice_ms, (i + 1) * per_slice_ms, 300_000):
            for u in users:
                rows.append((eid, u, _CUM_T + t))
                eid += 1
        slices.append(rows)
    return slices


def _cumulate_want(spark, slices):
    from openmetrics_spark.operators.metrics import cumulate_metrics

    b = spark.createDataFrame(
        [r for s in slices for r in s if r[1] != _SENTINEL_USER], _CUM_SCHEMA
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms")))
    return cumulate_metrics(
        b, ["user_id"], "ts", step_ms=MIN15, period_ms=HOUR,
        metric_aggs={"n": F.count(F.lit(1))},
    ).select("period_ms", "window_ms", F.col("user_id").alias("key"), "n")


def _cumulate_got(df):
    return df.filter(
        F.col("key").isNull() | (F.col("key") != _SENTINEL_USER)
    ).select("period_ms", "window_ms", "key", "n")


def test_stream_cumulate_null_keys_on_every_keying(spark, tmp_path):
    """Null user keys count as their own user on the per-user keying,
    the bucketed keying and the batch ``cumulate_metrics`` alike; a
    user id above 2^53 in the null key's bucket stays exact."""
    from openmetrics_spark.streaming.stateful import stream_cumulate_counter

    bucket = F.pmod(F.xxhash64(F.col("id")), F.lit(64))
    null_bucket = F.pmod(F.xxhash64(F.lit(None).cast("long")), F.lit(64))
    big = (
        spark.range(1000)
        .select((F.col("id") + F.lit(2**60)).alias("id"))
        .filter(bucket == null_bucket)
        .first()["id"]
    )
    slices = _cumulate_slices([1, 2, None, big], 3)
    slices[-1].append((10**6, _SENTINEL_USER, _CUM_T + 100 * HOUR))
    src = str(tmp_path / "src")
    _write_ordered_files(spark, src, slices, _CUM_SCHEMA)
    schema = spark.read.parquet(src).schema

    cols = ["period_ms", "window_ms", "key", "n"]
    want = _rows_nonesafe(_cumulate_want(spark, slices), cols)
    assert any(r[2] is None for r in want) and any(r[2] == big for r in want)
    for nb in (0, 64):
        s = stream_from_dir(spark, src, schema, max_files_per_trigger=1)
        got = run_to_memory(
            stream_cumulate_counter(s, "user_id", "ts", MIN15, HOUR, n_buckets=nb)
        )
        assert _rows_nonesafe(_cumulate_got(got), cols) == want, nb


def test_stream_cumulate_bucketed_restart(spark, tmp_path):
    """The bucketed CUMULATE state survives a stop and a restart on its
    checkpoint with the same bucket count, and a restart with another
    count fails on the first restored bucket instead of stranding
    users' open periods in the wrong buckets."""
    from pyspark.errors import StreamingQueryException

    from openmetrics_spark.streaming.stateful import stream_cumulate_counter

    slices = _cumulate_slices(list(range(20)), 4)
    slices[-1].append((10**6, _SENTINEL_USER, _CUM_T + 100 * HOUR))
    src, out, chk = (str(tmp_path / d) for d in ("src", "out", "chk"))

    def run(nb):
        s = stream_from_dir(spark, src, schema, max_files_per_trigger=1)
        q = (
            stream_cumulate_counter(s, "user_id", "ts", MIN15, HOUR, n_buckets=nb)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_ordered_files(spark, src, slices[:2], _CUM_SCHEMA)
    schema = spark.read.parquet(src).schema
    run(4)
    n_before = spark.read.parquet(out).count()
    assert n_before > 0

    _write_ordered_files(spark, src, slices[2:], _CUM_SCHEMA, t0=1_000_000_100)
    with pytest.raises(StreamingQueryException, match="n_buckets=4, this query n_buckets=8"):
        run(8)
    assert spark.read.parquet(out).count() == n_before

    run(4)
    cols = ["period_ms", "window_ms", "key", "n"]
    got = _cumulate_got(spark.read.parquet(out))
    assert _rows(got, cols) == _rows(_cumulate_want(spark, slices), cols)


def _rows_nonesafe(df, cols):
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def _dl_frames(df):
    """Derive an API/SDK delivery-log stream: every event an API row,
    every third also an SDK twin (+500 ms) sharing the
    client_request_id, every fifth with no client_request_id."""
    eid, uid = F.col("event_id"), F.col("user_id")
    cri = F.when(eid % 5 != 0, F.concat(F.lit("c"), eid))
    base = [
        (uid % 4).alias("platform_id"),
        F.concat(F.lit("u"), uid).alias("log_user_id"),
        cri.alias("client_request_id"),
    ]
    api = df.select(
        *base,
        F.concat(F.lit("r"), eid).alias("request_id"),
        F.lit(True).alias("api_execution"),
        F.col("ts_ms").alias("log_timestamp"),
        "ts",
    )
    sdk = df.filter(eid % 3 == 0).select(
        *base,
        F.concat(F.lit("s"), eid).alias("request_id"),
        F.lit(False).alias("api_execution"),
        (F.col("ts_ms") + 500).alias("log_timestamp"),
        F.timestamp_millis(F.col("ts_ms") + 500).alias("ts"),
    )
    return api.unionByName(sdk)


def test_stream_combine_delivery_logs_parity(spark, events_dir, tmp_path):
    """Streaming CombineDeliveryLog (2 s window state machine) must
    equal the batch twin: API beats SDK per client_request_id, no-cri
    rows pass through. All twins share their event's timestamp ±500 ms,
    so the 2 s streaming window and the batch whole-key group agree."""
    from openmetrics_spark.operators.flat import combine_delivery_logs
    from openmetrics_spark.streaming import stream_combine_delivery_logs

    b = _batch(spark, events_dir)
    dl_b = _dl_frames(b).drop("ts")
    want = combine_delivery_logs(dl_b).select(
        "platform_id",
        "log_user_id",
        "client_request_id",
        "request_id",
        "api_execution",
        F.col("log_timestamp").alias("log_ms"),
    )

    src_dir = str(tmp_path / "events_with_sentinel")
    b.write.mode("overwrite").parquet(src_dir)
    spark.createDataFrame(
        [(1_000_000, -1, "view", 1_900_000_000_000)],
        "event_id LONG, user_id LONG, event_type STRING, ts_ms LONG",
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms"))).select(
        *[f.name for f in b.schema.fields]
    ).write.mode("append").parquet(src_dir)

    s = stream_from_dir(spark, src_dir, b.schema, max_files_per_trigger=4)
    got = run_to_memory(
        stream_combine_delivery_logs(_dl_frames(s)), output_mode="append"
    ).filter(F.col("log_user_id") != "u-1")
    cols = [
        "platform_id",
        "log_user_id",
        "client_request_id",
        "request_id",
        "api_execution",
        "log_ms",
    ]
    assert _rows_nonesafe(got, cols) == _rows_nonesafe(want, cols)


def test_stream_reduce_redundant_impressions_parity(spark, events_dir, tmp_path):
    """Streaming ReduceRedundantTinyImpressions must equal the batch
    reduce + repoint: per key, dup impressions at +0/+1/+2 s with a
    1.5 s ttl (k=1 redundant, k=2 opens a new epoch), and actions
    referencing the k=1 impression are rewritten to its canonical."""
    from openmetrics_spark.operators.flat import (
        reduce_redundant_impressions,
        repoint_actions,
    )
    from openmetrics_spark.streaming import stream_reduce_redundant_impressions

    def imp_frames(df):
        eid = F.col("event_id")
        nk = eid % 3
        return (
            df.filter(F.col("event_type") == "view")
            .select(
                (F.col("user_id") % 4).alias("platform_id"),
                F.concat(F.lit("u"), F.col("user_id")).alias("log_user_id"),
                eid.alias("id"),
                F.col("ts_ms"),
                F.explode(F.sequence(F.lit(0), nk)).alias("k"),
            )
            .select(
                "platform_id",
                "log_user_id",
                F.concat(F.lit("m"), F.col("id"), F.lit("_"), F.col("k")).alias(
                    "impression_id"
                ),
                F.concat(F.lit("i"), F.col("id")).alias("insertion_id"),
                F.lit(None).cast("string").alias("view_id"),
                F.lit(None).cast("string").alias("content_id"),
                (F.col("ts_ms") + F.col("k") * 1000).alias("impression_ts"),
            )
            .withColumn("ts", F.timestamp_millis("impression_ts"))
        )

    def act_frames(df):
        eid = F.col("event_id")
        return (
            df.filter((F.col("event_type") == "view") & (eid % 3 >= 1))
            .select(
                (F.col("user_id") % 4).alias("platform_id"),
                F.concat(F.lit("u"), F.col("user_id")).alias("log_user_id"),
                F.concat(F.lit("a"), eid).alias("action_id"),
                F.concat(F.lit("m"), eid, F.lit("_1")).alias("impression_id"),
                F.concat(F.lit("i"), eid).alias("insertion_id"),
                F.lit(None).cast("string").alias("view_id"),
                F.lit(None).cast("string").alias("content_id"),
                (F.col("ts_ms") + 5000).alias("action_ts"),
            )
            .withColumn("ts", F.timestamp_millis("action_ts"))
        )

    b = _batch(spark, events_dir)
    imps_b, acts_b = imp_frames(b), act_frames(b)
    reduced = reduce_redundant_impressions(imps_b, ttl_ms=1500)
    want_imp = sorted(
        tuple(r)
        for r in reduced.remap.select(
            "impression_id", "canonical_impression_id", "is_redundant"
        ).collect()
    )
    want_act = sorted(
        tuple(r)
        for r in repoint_actions(
            acts_b.select("action_id", "impression_id"), reduced.remap
        ).collect()
    )

    src_dir = str(tmp_path / "events_with_sentinel")
    b.write.mode("overwrite").parquet(src_dir)
    spark.createDataFrame(
        [(1_000_002, -1, "view", 1_900_000_000_000)],
        "event_id LONG, user_id LONG, event_type STRING, ts_ms LONG",
    ).withColumn("ts", F.timestamp_millis(F.col("ts_ms"))).select(
        *[f.name for f in b.schema.fields]
    ).write.mode("append").parquet(src_dir)

    s = stream_from_dir(spark, src_dir, b.schema, max_files_per_trigger=4)
    got = run_to_memory(
        # remap retention must cover the impression→action gap (the
        # reference sets both to the 1 d join window; here the epoch
        # ttl is shrunk to 1.5 s to exercise the chain, so the
        # retention is widened past the +5 s action offset explicitly)
        stream_reduce_redundant_impressions(
            imp_frames(s), act_frames(s), ttl_ms=1500, remap_retention_ms=10_000
        ),
        output_mode="append",
    ).filter(~F.col("event_id").startswith("m1000002"))
    got_imp = sorted(
        tuple(r)
        for r in got.filter(F.col("kind") == 0)
        .select("event_id", "canonical_impression_id", "is_redundant")
        .collect()
    )
    got_act = sorted(
        tuple(r)
        for r in got.filter(F.col("kind") == 1)
        .select("event_id", "canonical_impression_id")
        .collect()
    )
    assert got_imp == want_imp
    assert got_act == want_act


def _write_ordered_files(spark, out_dir, batches, schema, t0=1_000_000_000):
    """Write each batch as one file with strictly increasing mtimes
    (from ``t0`` seconds) so FileStreamSource replays them in order."""
    import os

    for i, rows in enumerate(batches):
        before = set(os.listdir(out_dir)) if os.path.exists(out_dir) else set()
        spark.createDataFrame(rows, schema).withColumn(
            "ts", F.timestamp_millis(F.col("ts_ms"))
        ).coalesce(1).write.mode("append").parquet(out_dir)
        for name in set(os.listdir(out_dir)) - before:
            os.utime(os.path.join(out_dir, name), (t0 + i, t0 + i))


def test_stream_late_split_side_table(spark, tmp_path):
    """A row behind the watermark must surface tagged late=True (the
    etl_side/late_* side table) instead of being silently dropped."""
    from openmetrics_spark.streaming import stream_late_split

    T = 1_700_000_000_000
    HOUR_ = 3_600_000
    src = str(tmp_path / "src")
    schema = "event_id LONG, user_id LONG, ts_ms LONG"
    _write_ordered_files(
        spark,
        src,
        [
            [(1, 1, T), (2, 2, T + HOUR_)],        # wm after batch 1: T+1h-1s
            [(3, 1, T + 1000), (4, 2, T + 2 * HOUR_)],  # 3 is late
        ],
        schema,
    )
    full_schema = spark.read.parquet(src).schema
    s = stream_from_dir(spark, src, full_schema, max_files_per_trigger=1)
    got = run_to_memory(
        stream_late_split(s, "ts", delay_ms=1000, key_cols=["user_id"]),
        output_mode="append",
    )
    tags = {r["event_id"]: r["late"] for r in got.collect()}
    assert tags == {1: False, 2: False, 3: True, 4: False}


def test_stream_inferred_join_late_side_output(spark, tmp_path):
    """A right row arriving behind the watermark lands in the late
    side channel (late=True, unjoined) — LATE_EVENTS_TAG — rather than
    mis-joining against evicted candidates."""
    from openmetrics_spark.streaming import stream_inferred_join

    T = 1_700_000_000_000
    HOUR_ = 3_600_000
    src = str(tmp_path / "src")
    schema = "event_id LONG, user_id LONG, event_type STRING, ts_ms LONG"
    _write_ordered_files(
        spark,
        src,
        [
            # batch 1: a view + an on-time click 5s later, plus a
            # watermark pusher at +1h on another user
            [(10, 1, "view", T), (11, 1, "click", T + 5000),
             (12, 9, "view", T + HOUR_)],
            # batch 2: click at T+6s — one hour behind the watermark
            [(13, 1, "click", T + 6000), (14, 9, "view", T + 2 * HOUR_)],
        ],
        schema,
    )
    full_schema = spark.read.parquet(src).schema
    s = stream_from_dir(spark, src, full_schema, max_files_per_trigger=1)
    got = run_to_memory(
        stream_inferred_join(
            s.filter(F.col("event_type") == "view"),
            s.filter(F.col("event_type") == "click"),
            user_col="user_id",
            left_id_col="event_id",
            right_id_col="event_id",
            left_ts_col="ts",
            right_ts_col="ts",
            scope_cols=(),
            window_before_ms=600_000,
            window_after_ms=0,
            delay_ms=1000,
        ),
        output_mode="append",
    )
    rows = {r["right_id"]: (r["left_id"], r["late"]) for r in got.collect()}
    assert rows[11] == (10, False)   # on-time click joined to its view
    assert rows[13] == (None, True)  # late click -> side channel


def test_stream_state_functions_keep_64bit_ids(spark, tmp_path):
    """Ids and content ids above 2^53 come out of the inferred join and
    AddLatestImpressions exact. Batch 2 holds one user's view and click
    with 2^60+ ids next to many users whose pending clicks time out in
    the same batch, so the Arrow batch holds more state rows than data
    rows and pyspark pads its data columns with nulls; each group's
    own slice of it must still reach the state function as int64."""
    from openmetrics_spark.streaming.stateful import (
        stream_add_latest_impressions,
        stream_inferred_join,
    )

    T = 1_700_000_000_000
    HOUR_ = 3_600_000
    BIG = 2**60 + 1
    users = range(100, 300)  # enough timed-out keys in every state partition
    batches = [
        [(10 * u, u, "view", T, 1) for u in users]
        + [(10 * u + 1, u, "click", T + 5000, 2) for u in users]
        + [(1, 9, "view", T + HOUR_, 0)],
        [
            (BIG, 5, "view", T + HOUR_ + 1000, BIG + 4),
            (BIG + 2, 5, "click", T + HOUR_ + 6000, 7),
            (2, 9, "view", T + 2 * HOUR_, 0),
        ],
        [(3, 9, "view", T + 3 * HOUR_, 0)],
    ]
    src = str(tmp_path / "src")
    schema = "event_id LONG, user_id LONG, event_type STRING, ts_ms LONG, content_id LONG"
    _write_ordered_files(spark, src, batches, schema)
    s = stream_from_dir(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    views = s.filter(F.col("event_type") == "view")
    clicks = s.filter(F.col("event_type") == "click")

    joined = run_to_memory(
        stream_inferred_join(
            views,
            clicks,
            user_col="user_id",
            left_id_col="event_id",
            right_id_col="event_id",
            left_ts_col="ts",
            right_ts_col="ts",
            window_before_ms=600_000,
        ),
        output_mode="append",
    )
    pairs = {r["right_id"]: r["left_id"] for r in joined.collect()}
    assert pairs[BIG + 2] == BIG
    assert pairs[10 * 100 + 1] == 10 * 100

    def side(df, id_col, ms_col):
        return df.select(
            "user_id",
            F.col("event_id").alias(id_col),
            F.col("ts_ms").alias(ms_col),
            "content_id",
            "ts",
        )

    latest = run_to_memory(
        stream_add_latest_impressions(
            side(views, "impression_id", "imp_ms"),
            side(clicks, "action_id", "act_ms"),
        ),
        output_mode="append",
    )
    got = {
        (r["impression_id"], r["content"])
        for r in latest.collect()
        if r["action_id"] == BIG + 2
    }
    assert got == {(BIG, BIG + 4)}


def test_streaming_ttl_inferred_join_semantics(spark, sf_dir):
    """The production-TTL join's eviction semantics, as invariants:
    the drop population is non-empty AND every FK match/drop respects
    the TTL arithmetic (a match's reach is < TTL; a drop's reach
    exceeds TTL minus the worst decision latency)."""
    from openmetrics_spark.queries.streaming_q import (
        _TTL_MS,
        streaming_ttl_inferred_join,
    )

    df = streaming_ttl_inferred_join(spark, sf_dir).cache()
    n = df.count()
    matched = df.filter(F.col("matched_click").isNotNull())
    dropped = df.filter(F.col("fk_dropped") == 1)
    assert n > 0
    assert matched.count() > 0, "TTL gate vacuous: nothing matched"
    assert dropped.count() > 0, "TTL gate vacuous: nothing dropped"
    # every match's reach is bounded by the TTL: availability floor is
    # dec_wm - TTL and dec_wm > act_ms, so act_ms - click_ms < TTL
    too_far = matched.filter(
        F.col("act_ms") - F.col("click_ms") >= _TTL_MS
    ).count()
    assert too_far == 0
    # (that drops happen ONLY for distant references is pinned by the
    # DuckDB oracle's eviction model in the driver gate — the output
    # frame deliberately does not re-expose the evicted target's time)
    df.unpersist()


def test_streaming_ttl_late_channel_semantics(spark, sf_dir):
    """The late side channel catches EVERY delivery-delayed row (the
    split runs in front of the join, so the engine's stateful-input
    filter can silently drop nothing) and late rows never join."""
    from openmetrics_spark.queries.streaming_q import (
        streaming_ttl_inferred_join,
        streaming_ttl_late_channel,
    )

    df = streaming_ttl_late_channel(spark, sf_dir).cache()
    late = df.filter(F.col("channel") == "late")
    ok = df.filter(F.col("channel") == "ok")
    n_late, n_ok = late.count(), ok.count()
    assert n_late > 0, "late channel vacuous"
    # the channels partition the purchase stream: same total as the
    # all-on-time variant's output
    total = streaming_ttl_inferred_join(spark, sf_dir).count()
    assert n_late + n_ok == total, (n_late, n_ok, total)
    # late rows are side-output only: no join attempt, no match
    assert late.filter(F.col("matched_click").isNotNull()).count() == 0
    assert late.filter(F.col("fk_dropped") != 0).count() == 0
    # exactly the delivery-shifted population can be late
    assert late.filter(F.col("action_id") % 5 != 0).count() == 0
    df.unpersist()
