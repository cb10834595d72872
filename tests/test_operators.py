"""Operator unit tests on tiny hand-built frames — the analog of the
reference's operator-harness tests (SURVEY §5: drive explicit
elements, assert emissions)."""

from __future__ import annotations

from pyspark.sql import functions as F

from openmetrics_spark.operators.counters import last_time_and_count, sliding_counter
from openmetrics_spark.operators.dedup import keep_first, pick_best
from openmetrics_spark.operators.joins import Scope, asof_join, inferred_join, interval_join
from openmetrics_spark.operators.sessions import session_rollup


def _ev(spark, rows):
    df = spark.createDataFrame(rows, "id long, key string, ms long, v double")
    return df.withColumn("ts", F.timestamp_millis("ms"))


def test_keep_first_picks_earliest_with_tiebreak(spark):
    df = _ev(
        spark,
        [
            (1, "a", 1000, 1.0),
            (2, "a", 500, 2.0),
            (3, "a", 500, 3.0),  # same ts as id=2 → id wins ties
            (4, "b", 100, 4.0),
        ],
    )
    out = keep_first(df, ["key"], ["ms", "id"]).orderBy("key").collect()
    assert [(r.key, r.id) for r in out] == [("a", 2), ("b", 4)]


def test_pick_best_max_value(spark):
    df = _ev(spark, [(1, "a", 0, 5.0), (2, "a", 1, 9.0), (3, "b", 2, 1.0)])
    out = pick_best(df, ["key"], [(-F.col("v")).alias("nv"), F.col("id")])
    got = {(r.key, r.id) for r in out.collect()}
    assert got == {("a", 2), ("b", 3)}


def test_sliding_counter_trailing_window(spark):
    # one event at t=0 (bucket 0): with window=4*slide it must appear in
    # emits at slide*1..4 only
    df = _ev(spark, [(1, "a", 0, 1.0)])
    out = sliding_counter(df, ["key"], "ts", window_ms=4000, slide_ms=1000)
    emits = sorted(r.emit_ms for r in out.collect())
    assert emits == [1000, 2000, 3000, 4000]
    assert all(r.n == 1 for r in out.collect())


def test_sliding_counter_sums_buckets(spark):
    df = _ev(spark, [(1, "a", 0, 1.0), (2, "a", 1500, 1.0)])  # buckets 0 and 1000
    out = {r.emit_ms: r.n for r in sliding_counter(df, ["key"], "ts", 2000, 1000).collect()}
    # emit at 2000 covers buckets {0,1000} → 2; emit 1000 covers {0} → 1;
    # emit 3000 covers {1000, 2000} → 1
    assert out == {1000: 1, 2000: 2, 3000: 1}


def test_last_time_and_count_horizon(spark):
    df = _ev(spark, [(1, "a", 0, 1.0), (2, "a", 10_000, 1.0), (3, "b", 4000, 1.0)])
    # per-key anchor (reference semantics): a anchors at 10 000 →
    # horizon (5000, 10000] holds one event; b anchors at ITS OWN last
    # event 4000 → (-1000, 4000] holds it, n=1 (the old global-anchor
    # variant said 0 — keys idle near the dataset end differed from the
    # streaming twin/reference)
    out = {r.key: (r.last_ms, r.n_horizon) for r in last_time_and_count(df, ["key"], "ts", 5000).collect()}
    assert out == {"a": (10_000, 1), "b": (4000, 1)}


def test_last_time_and_count_fixed_anchor(spark):
    df = _ev(spark, [(1, "a", 0, 1.0), (2, "a", 10_000, 1.0), (3, "b", 4000, 1.0)])
    out = {
        r.key: (r.last_ms, r.n_horizon)
        for r in last_time_and_count(df, ["key"], "ts", 5000, anchor_ms=10_000).collect()
    }
    assert out == {"a": (10_000, 1), "b": (4000, 0)}


def test_session_rollup_gap(spark):
    df = _ev(
        spark,
        [(1, "a", 0, 1.0), (2, "a", 1000, 2.0), (3, "a", 10_000, 3.0)],
    )
    out = session_rollup(df, ["key"], "ts", gap_ms=5000).orderBy("session_start_ms").collect()
    assert [(r.session_start_ms, r.session_end_ms, r.n_events) for r in out] == [
        (0, 1000, 2),
        (10_000, 10_000, 1),
    ]


def test_asof_join_backward_inclusive_with_tolerance(spark):
    left = _ev(spark, [(1, "a", 1000, 0.0), (2, "a", 5000, 0.0), (3, "b", 100, 0.0)])
    right = (
        _ev(spark, [(10, "a", 1000, 0.0), (11, "a", 1200, 0.0)])
        .select("key", F.col("id").alias("rid"), "ts")
    )
    out = asof_join(
        left,
        right,
        on=["key"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["rid"],
        tolerance_ms=2000,
    )
    got = {r.id: r.rid for r in out.collect()}
    # id=1 matches rid=10 (same ms, inclusive); id=2 sees rid=11 at 1200
    # but 5000-1200=3800 > tolerance → null; id=3 has no right rows
    assert got == {1: 10, 2: None, 3: None}


def test_interval_join_bounds(spark):
    left = _ev(spark, [(1, "a", 1000, 0.0)]).select("id", "key", F.col("ts").alias("lts"))
    right = _ev(
        spark, [(10, "a", 999, 0.0), (11, "a", 1000, 0.0), (12, "a", 3000, 0.0), (13, "a", 3001, 0.0)]
    ).select(F.col("id").alias("rid"), F.col("key").alias("rkey"), F.col("ts").alias("rts"))
    r2 = right.withColumnRenamed("rkey", "key")
    out = interval_join(left, r2, ["key"], "lts", "rts", 0, 2000)
    got = sorted(r.rid for r in out.collect())
    assert got == [11, 12]


def test_inferred_join_ranked_pick(spark):
    """One ranked pick: FK first, then scope by scope; a lower rank wins
    before distance is compared, within a rank the nearest, then the
    earlier left row; the content filter narrows candidates."""
    left = spark.createDataFrame(
        [
            ("i_1", "u", "r1", "c1", 100_000),
            ("i_2", "u", "r2", "c1", 105_000),
            ("i_3", "u", "r1", "c2", 110_000),
            ("i_4", "v", "r9", "c1", 200_000),
            ("i_5", "v", "r9", "c1", 202_000),
            ("i_6", "w", "r5", "c1", 300_000),
            ("i_7", "w", "r5", "c2", 295_000),
        ],
        "ins_id string, user string, req string, content string, ms long",
    ).withColumn("ts", F.timestamp_millis("ms"))
    right = spark.createDataFrame(
        [
            # FK hit: i_1 although scope 1 has i_2 at 500 ms
            ("m_10", "i_1", "u", "r2", "c1", 105_500),
            # dangling FK falls through to scope 1 (u, r2)
            ("m_11", "i_9", "u", "r2", "c1", 105_200),
            # scope 1 (u, r1) keeps i_1 at 4.9 s; scope 2 has i_2 at 100 ms
            ("m_12", None, "u", "r1", None, 104_900),
            # content filter: i_6 is nearer but carries c1
            ("m_13", None, "w", "r5", "c2", 300_500),
            # empty content id: no filter, the nearer i_6 wins
            ("m_16", None, "w", "r5", "", 300_500),
            # equal distance (1 s each way): the earlier left row wins
            ("m_14", None, "v", "r9", "c1", 201_000),
            # no candidate anywhere
            ("m_15", None, "z", "r0", "c1", 500_000),
        ],
        "imp_id string, ins_fk string, user string, req string, content string, ms long",
    ).withColumn("ts", F.timestamp_millis("ms"))

    def run(right_outer):
        out = inferred_join(
            left,
            right,
            scopes=[Scope(("user", "req")), Scope(("user",))],
            fk=("ins_fk", "ins_id"),
            left_ts="ts",
            right_ts="ts",
            window_before_ms=10_000,
            window_after_ms=1_000,
            left_payload=["ins_id", "ms"],
            right_id="imp_id",
            right_outer=right_outer,
            content_filter=("content", "content"),
        )
        rows = out.select("imp_id", F.col("__lpick.ins_id").alias("pick")).collect()
        assert len(rows) == len({r.imp_id for r in rows})  # one row per right id
        return {r.imp_id: r.pick for r in rows}

    want = {
        "m_10": "i_1",
        "m_11": "i_2",
        "m_12": "i_1",
        "m_13": "i_7",
        "m_16": "i_6",
        "m_14": "i_4",
        "m_15": None,
    }
    assert run(right_outer=True) == want
    assert run(right_outer=False) == {k: v for k, v in want.items() if v is not None}


def test_inferred_join_tagged_key(spark):
    """The tagged key of the one candidate join: a key field takes the
    wider of the two sides' types, so an int key matches a bigint one
    and a bigint beyond int's range neither matches nor raises; a pair
    equal only on the coarser of two scopes sharing ``uid`` is ranked
    by that scope; an empty string key is dropped on the scope ranks
    but not on the FK rank."""
    left = spark.createDataFrame(
        [
            ("v1", 7, "a", "p1", 100_000),
            ("v2", 7, "b", "", 101_000),
            ("v3", 8, "", "p3", 100_000),
            ("v4", 8, "x", "p4", 100_400),
        ],
        "lid string, uid int, k string, pk string, ms long",
    ).withColumn("ts", F.timestamp_millis("ms"))
    right = spark.createDataFrame(
        [
            # scope 1 (uid, k) keeps v2 at 800 ms over scope 2's v1 at 200 ms
            ("c1", 7, "b", None, 100_200),
            # equal only on scope 2 (uid): ranked there, nearest wins
            ("c2", 7, "z", None, 100_100),
            # 2^32 + 7 would wrap to uid 7 in an int cast
            ("c3", 2**32 + 7, "a", None, 100_000),
            # an empty FK still joins on the FK rank (v2's pk is "")
            ("c4", 8, "q", "", 100_000),
            # an empty k never matches on scope 1 (v3 at 500 ms)
            ("c5", 8, "", None, 100_500),
        ],
        "cid string, uid bigint, k string, fk string, ms long",
    ).withColumn("ts", F.timestamp_millis("ms"))
    out = inferred_join(
        left,
        right,
        scopes=[Scope(("uid", "k")), Scope(("uid",))],
        fk=("fk", "pk"),
        left_ts="ts",
        right_ts="ts",
        window_before_ms=10_000,
        window_after_ms=1_000,
        left_payload=["lid"],
        right_id="cid",
        right_outer=True,
    )
    got = {r.cid: r.pick for r in out.select("cid", F.col("__lpick.lid").alias("pick")).collect()}
    assert got == {"c1": "v2", "c2": "v1", "c3": None, "c4": "v2", "c5": "v4"}


def test_add_latest_impressions_exclusion_and_caps(spark):
    from openmetrics_spark.operators.enrich import add_latest_impressions

    # user 1: impressions on contents 10,11,12 at t=100,200,300;
    # actions: content 11 at t=250 (pre-action), content 12 at t=400.
    imp = spark.createDataFrame(
        [(1, 100, 100, 10), (1, 101, 200, 11), (1, 102, 300, 12)],
        "user_id long, impression_id long, imp_ms long, content_id long",
    )
    act = spark.createDataFrame(
        [(1, 900, 250, 11), (1, 901, 400, 12)],
        "user_id long, action_id long, act_ms long, content_id long",
    )
    out = add_latest_impressions(imp, act, max_state=30, max_output=25)
    rows = {(r.action_id, r.rank): (r.impression_id, r.content) for r in out.collect()}
    # action 900 (t=250): candidates imp 100,101; content 11 first
    # actioned AT 250 (not strictly after) → excluded; keeps only 100.
    # action 901 (t=400): candidates 100,101,102; contents 11 (t=250)
    # and 12 (t=400 = this action, ts<=ats) excluded → keeps only 100.
    assert rows == {(900, 1): (100, 10), (901, 1): (100, 10)}


def test_add_latest_impressions_output_cap_after_exclusion(spark):
    from openmetrics_spark.operators.enrich import add_latest_impressions

    # 4 impressions, distinct contents; one content actioned earlier.
    imp = spark.createDataFrame(
        [(1, i, 100 + i, i) for i in range(4)],
        "user_id long, impression_id long, imp_ms long, content_id long",
    )
    act = spark.createDataFrame(
        [(1, 800, 90, 3), (1, 801, 500, 99)],
        "user_id long, action_id long, act_ms long, content_id long",
    )
    out = add_latest_impressions(imp, act, max_state=3, max_output=2)
    got = sorted(
        (r.action_id, r.rank, r.impression_id) for r in out.collect()
    )
    # action 801: state cap keeps 3 most recent (imp 3,2,1); imp 3's
    # content was actioned at t=90 ≤ 500 → excluded; output cap 2 keeps
    # imp 2 (rank 1), imp 1 (rank 2). imp 0 never enters state.
    assert [r for r in got if r[0] == 801] == [(801, 1, 2), (801, 2, 1)]


def test_add_latest_impressions_hot_user_brute_parity(spark):
    """Adversarial hot user: one user owns ~all traffic (interleaved
    impressions/actions, repeated contents, same-ms ties, lookback
    expiries). The pair-free seq-join must reproduce a brute-force
    replay of the reference semantics exactly — and its join work is
    O(actions × max_state) by construction, so the fixture also
    documents that a hot key costs 30×actions, not imps×actions."""
    import random

    from openmetrics_spark.operators.enrich import add_latest_impressions

    rng = random.Random(7)
    n_imp, n_act, lookback = 400, 120, 500
    imps = [
        (1, 1000 + i, rng.randrange(0, 3000), rng.randrange(0, 40))
        for i in range(n_imp)
    ]
    acts = [
        (1, 9000 + i, rng.randrange(0, 3200), rng.randrange(0, 40))
        for i in range(n_act)
    ]
    # a second, cold user proves per-user isolation
    imps += [(2, 5000, 10, 1), (2, 5001, 20, 2)]
    acts += [(2, 9900, 30, 3)]
    imp = spark.createDataFrame(
        imps, "user_id long, impression_id long, imp_ms long, content_id long"
    )
    act = spark.createDataFrame(
        acts, "user_id long, action_id long, act_ms long, content_id long"
    )
    max_state, max_output = 7, 5
    out = add_latest_impressions(
        imp, act, max_state=max_state, max_output=max_output,
        lookback_ms=lookback,
    )
    got = sorted(
        (r.action_id, r.rank, r.impression_id, r.content, r.gap_ms)
        for r in out.collect()
    )

    # brute-force replay of the reference order of operations
    first_act: dict[tuple[int, int], int] = {}
    for u, aid, ams, c in acts:
        k = (u, c)
        if k not in first_act or ams < first_act[k]:
            first_act[k] = ams
    want = []
    for u, aid, ams, _c in acts:
        cand = [
            (i_ms, iid, c)
            for (iu, iid, i_ms, c) in imps
            if iu == u and i_ms < ams and i_ms >= ams - lookback
        ]
        cand.sort(key=lambda t: (-t[0], -t[1]))  # recency, id desc
        state = cand[:max_state]
        kept = [
            (i_ms, iid, c)
            for (i_ms, iid, c) in state
            if (u, c) not in first_act or first_act[(u, c)] > ams
        ][:max_output]
        for rank, (i_ms, iid, c) in enumerate(kept, start=1):
            want.append((aid, rank, iid, c, ams - i_ms))
    assert got == sorted(want)


def test_restructure_and_fix_delivery_log(spark):
    from openmetrics_spark.operators.flat import (
        fix_delivery_log,
        restructure_delivery_log,
    )

    df = spark.createDataFrame(
        [
            # legacy row: insertions under execution, empty-string FK
            ("d1", "", None, [], [{"insertion_id": "i1"}]),
            # modern row untouched
            ("d2", "v2", 4, [{"insertion_id": "i2"}], None),
        ],
        "request_id string, view_id string, traffic_type int, "
        "response_insertions array<struct<insertion_id:string>>, "
        "execution_insertions array<struct<insertion_id:string>>",
    )
    out = fix_delivery_log(restructure_delivery_log(df))
    rows = {r.request_id: r for r in out.collect()}
    assert "execution_insertions" not in out.columns
    assert rows["d1"].response_insertions[0].insertion_id == "i1"
    assert rows["d1"].view_id is None  # '' scrubbed to null
    assert rows["d1"].traffic_type == 1  # defaulted to PRODUCTION
    assert rows["d2"].response_insertions[0].insertion_id == "i2"
    assert rows["d2"].traffic_type == 4


def test_filter_non_buyers(spark):
    from openmetrics_spark.operators.filters import filter_non_buyers

    df = spark.createDataFrame(
        [("a", [1, 2]), ("b", [3]), ("c", None)],
        "action_id string, user_sparse_feature_hashes array<bigint>",
    )
    kept, dropped = filter_non_buyers(df, [2, 9])
    assert {r.action_id for r in kept.collect()} == {"b", "c"}
    d = dropped.collect()
    assert [r.action_id for r in d] == ["a"]
    assert d[0].dropped_reason == "non_buyer"


def test_merge_details_reattaches_payload(spark):
    from openmetrics_spark.operators.flat import merge_details

    tiny = spark.createDataFrame(
        [(1, "r1", "imp1"), (1, "r2", "imp2")],
        "platform_id long, request_id string, impression_id string",
    )
    details = spark.createDataFrame(
        [(1, "r1", "shoes", "UA")],
        "platform_id long, request_id string, search_query string, user_agent string",
    )
    out = merge_details(tiny, details, ["platform_id", "request_id"])
    rows = {r.impression_id: r for r in out.collect()}
    assert rows["imp1"].search_query == "shoes"
    assert rows["imp2"].search_query is None  # left join keeps unmatched


def test_isbot_full_list(spark):
    """The bot filter carries the full public isbot list (the same
    upstream the reference copies, BotUtil.java:12-13): classic
    crawlers, HTTP libraries, and headless agents flag; real browser
    agents pass; the two upstream patterns the reference disables
    (bare-word / name-slash-version) stay disabled so okhttp-style
    agents pass."""
    from openmetrics_spark.operators.filters import is_bot
    from pyspark.sql import functions as F

    cases = [
        ("Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)", True),
        ("Mozilla/5.0 (compatible; bingbot/2.0)", True),
        ("curl/8.4.0", True),
        ("python-requests/2.31.0", True),
        ("Wget/1.21", True),
        # upstream isbot only catches Scrapy via the generic
        # name/version pattern the reference disables — so not a bot
        # here, faithfully
        ("Scrapy/2.11 (+https://scrapy.org)", False),
        ("Mozilla/5.0 (X11; Linux x86_64) HeadlessChrome/119.0", True),
        ("facebookexternalhit/1.1", True),
        ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 Chrome/120.0 Safari/537.36", False),
        ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) Version/17.0 Mobile/15E148 Safari/604.1", False),
        ("okhttp/4.12.0", False),  # reference-disabled pattern
        (None, False),
    ]
    df = spark.createDataFrame([(ua,) for ua, _ in cases], "ua STRING")
    got = [r.b for r in df.select(is_bot(F.col("ua")).alias("b")).collect()]
    assert got == [want for _, want in cases]


def test_user_join_version_merge(spark):
    """UserUpdateMerger field rules (UserUpdateMerger.java:37-110):
    last non-empty user id wins, is_internal_user is sticky-true,
    ignore_usage takes the latest update's value, properties replace
    wholesale; events before the first update get no user."""
    from pyspark.sql import functions as F

    from openmetrics_spark.operators.joins import user_join

    upd = spark.createDataFrame(
        [
            # t=1000: full record
            (1, "lu1", 1000, 1, "uA", False, True, '{"a":1}'),
            # t=2000: partial — only marks internal (no user id/props)
            (1, "lu1", 2000, 2, None, True, False, None),
            # t=3000: partial — new user id, no internal flag
            (1, "lu1", 3000, 3, "uB", False, False, None),
        ],
        "platform_id LONG, log_user_id STRING, log_timestamp LONG, event_id LONG,"
        " user_id STRING, is_internal_user BOOLEAN, ignore_usage BOOLEAN,"
        " properties_json STRING",
    )
    events = spark.createDataFrame(
        [(1, "lu1", 500), (1, "lu1", 1500), (1, "lu1", 2500), (1, "lu1", 3500)],
        "platform_id LONG, log_user_id STRING, ms LONG",
    ).withColumn("ts", F.timestamp_millis("ms"))
    got = {
        r.ms: (r.user_id, r.is_internal_user, r.ignore_usage, r.properties_json)
        for r in user_join(
            events, upd, event_ts="ts", order_col="event_id"
        ).collect()
    }
    assert got[500] == (None, None, None, None)  # before any update
    assert got[1500] == ("uA", False, True, '{"a":1}')
    # internal flag sticks from t=2000 on; ignore_usage follows latest
    assert got[2500] == ("uA", True, False, '{"a":1}')
    assert got[3500] == ("uB", True, False, '{"a":1}')


def test_set_log_timestamp_overwrites(spark):
    """SetLogTimestamp stamps log_timestamp from the transport record
    time unconditionally (SetLogTimestampTest.java pins the same:
    even a default-instance event gets ctx.timestamp())."""
    from openmetrics_spark.operators.validate import set_log_timestamp

    df = spark.createDataFrame(
        [(1, 999), (2, None)], "event_id LONG, log_timestamp LONG"
    ).withColumn("__kafka_timestamp", F.timestamp_millis(F.col("event_id") * 1000))
    got = {r.event_id: r.log_timestamp for r in set_log_timestamp(df).collect()}
    assert got == {1: 1000, 2: 2000}


def test_other_content_ids_map(spark):
    """OtherContentIdsConverter: configured property keys become a
    {String.hashCode(key) -> value} map; absent keys are absent;
    numbers stringify (OtherContentIdsConverter.java:41-58)."""
    from openmetrics_spark.functions.hashing import java_string_hash
    from openmetrics_spark.operators.flat import other_content_ids

    # golden: Java "storeId".hashCode()
    assert java_string_hash("abc") == 96354  # JDK-pinned value
    df = spark.createDataFrame(
        [('{"storeId": "s1", "brandId": 7}',), ('{"storeId": "s2"}',), ("{}",)],
        "props STRING",
    )
    got = [
        r.m
        for r in df.select(
            other_content_ids(F.col("props"), ["storeId", "brandId"]).alias("m")
        ).collect()
    ]
    sk, bk = java_string_hash("storeId"), java_string_hash("brandId")
    assert got[0] == {sk: "s1", bk: "7"}
    assert got[1] == {sk: "s2"}
    assert got[2] == {}


def test_connected_components_chain_and_clique(spark):
    """A 6-node chain (worst-case diameter for pointer jumping), a
    triangle, and an isolated pair must resolve to min-id components."""
    from openmetrics_spark.llm.dedup import connected_components

    edges = [
        # chain 1-2-3-4-5-6
        (2, 1), (2, 3), (4, 3), (5, 4), (6, 5),
        # triangle 10-11-12
        (10, 11), (11, 12), (10, 12),
        # pair
        (20, 21),
    ]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    out = {
        r["id"]: r["component"]
        for r in connected_components(df, "doc_a", "doc_b").collect()
    }
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_scrub_pii_redacts_identifiers(spark):
    """Emails, IPv4s, and phone-shaped digit runs become typed
    redaction tokens; prose years and short numbers survive."""
    from openmetrics_spark.llm.text import pii_counts, scrub_pii

    rows = [
        (1, "contact jane.doe+spam@example.co.uk or call +1 (415) 555-0199 now"),
        (2, "server at 192.168.1.254 answered in 2021 with code 404"),
        (3, "plain text with no identifiers at all"),
        (4, "two mails: a@b.io c.d@e-f.org and line 8005551234"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    e, i, p = pii_counts(F.col("text"))
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            scrub_pii(F.col("text")).alias("clean"),
            e.alias("emails"),
            i.alias("ips"),
            p.alias("phones"),
        ).collect()
    }
    assert got[1]["emails"] == 1 and got[1]["phones"] == 1
    assert got[1]["clean"] == "contact <EMAIL> or call <PHONE> now"
    assert got[2]["ips"] == 1 and got[2]["emails"] == 0
    assert got[2]["clean"] == "server at <IP> answered in 2021 with code 404"
    assert got[3]["clean"] == rows[2][1]
    assert got[4]["emails"] == 2 and got[4]["phones"] == 1
    assert got[4]["clean"] == "two mails: <EMAIL> <EMAIL> and line <PHONE>"


def test_repetition_stats_flags_degenerate_docs(spark):
    from openmetrics_spark.llm.text import dup_ngram_fraction, mean_token_len, tokens

    rows = [
        (1, "spam spam spam spam spam spam"),
        (2, "every token here is fully distinct okay"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            dup_ngram_fraction(tokens("text"), 2).alias("dup2"),
            mean_token_len(tokens("text")).alias("mlen"),
        ).collect()
    }
    assert out[1]["dup2"] == 0.8  # 5 bigrams, 1 distinct
    assert out[1]["mlen"] == 4.0
    assert out[2]["dup2"] == 0.0


def test_bucket_floor_semantics_on_negative_millis(spark):
    """Epoch bucketing must FLOOR, like SQL `//` and window(): a
    truncating cast rounds negative millis toward zero, putting a
    pre-1970 event in the bucket AFTER its own timestamp."""
    from openmetrics_spark.operators.counters import sliding_counter

    df = spark.createDataFrame(
        [(-1,), (-3_600_001,)], "ms LONG"
    ).select(F.timestamp_millis("ms").alias("ts"), F.lit("k").alias("k"))
    out = sliding_counter(df, ["k"], "ts", 3_600_000, 3_600_000)
    emits = sorted(r["emit_ms"] for r in out.collect())
    # event at -1ms is in bucket [-3600000, 0) -> emitted at 0;
    # event at -3600001ms is in bucket [-7200000, -3600000) -> -3600000
    assert emits == [-3_600_000, 0]


def test_time_decayed_counts_semantics(spark):
    """Hand-checkable decay: with half-life buckets of 1000 ms and
    events at buckets 0, 1, 2 (counts 4, 2, 1), the anchor is bucket
    2 and decayed = 1*1 + 2*0.5 + 4*0.25 = 3.0 exactly; n_events = 7.
    A key with only old events decays toward zero but keeps its raw
    count."""
    from openmetrics_spark.operators.counters import time_decayed_counts

    rows = (
        [("a", 2500)] + [("a", 1500)] * 2 + [("a", 500)] * 4 + [("b", 100)]
    )
    df = spark.createDataFrame(rows, "k STRING, ms LONG").select(
        "k", F.timestamp_millis("ms").alias("ts")
    )
    got = {
        r["k"]: r
        for r in time_decayed_counts(
            df, ["k"], "ts", halflife_ms=1000, max_k=40
        ).collect()
    }
    assert got["a"]["n_events"] == 7
    assert got["a"]["decayed"] == 3.0
    assert got["a"]["decayed_scaled"] == 3 * (1 << 40)
    # b's only event is 2 half-lives before the anchor: 1 * 2^-2
    assert got["b"]["n_events"] == 1
    assert got["b"]["decayed"] == 0.25


def test_pagerank_integer_semantics(spark, sf_dir):
    """PageRank invariants: positive BIGINT ranks, deterministic
    top-k, and total mass ≤ SCALE (floor division only LEAKS mass,
    never creates it — the deterministic quantization the oracle
    relies on)."""
    from openmetrics_spark.queries.graph_q import (
        _SCALE,
        _TOPK,
        supplier_pagerank,
    )

    out1 = supplier_pagerank(spark, sf_dir).collect()
    out2 = supplier_pagerank(spark, sf_dir).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    assert 0 < len(out1) <= _TOPK
    assert all(r.rank_e9 > 0 for r in out1)
    assert sum(r.rank_e9 for r in out1) <= _SCALE


def test_ushape_attribution_credit_budget(spark, sf_dir):
    """Per-purchase credit sums to exactly 10000 bp for n<=2 touches
    and to 8000 + (n-2)*(2000 DIV (n-2)) for n>=3 — i.e. never more
    than 10000, short only by the deterministic integer remainder;
    touches after a user's last purchase receive nothing."""
    from openmetrics_spark.queries.events_q import (
        purchase_attribution_ushape,
    )

    out = purchase_attribution_ushape(spark, sf_dir).collect()
    assert out
    by_p: dict[int, list] = {}
    for r in out:
        by_p.setdefault(r.purchase_id, []).append(r)
    for pid, rows in by_p.items():
        n = len(rows)
        total = sum(r.credit_bp for r in rows)
        if n <= 2:
            assert total == 10000, (pid, n, total)
        else:
            assert total == 8000 + (n - 2) * (2000 // (n - 2)), (pid, n)
        assert 9000 <= total <= 10000
