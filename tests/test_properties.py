"""Property-based tests: random event graphs vs pure-Python models of
the operator semantics (hypothesis). The reference's operator-harness
tests enumerate hand-picked orderings; properties sweep the same space
randomly — out-of-order arrivals, ties, duplicate keys, empty sides.

Few examples per property (Spark per-example overhead dominates), but
each example is a full adversarial mini-graph.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

MIN10 = 600_000

events = st.lists(
    st.tuples(
        st.integers(0, 3),  # user
        st.integers(0, 2),  # k (scope key)
        st.integers(0, 2_000_000),  # ts offset ms
    ),
    min_size=0,
    max_size=25,
)


@given(
    views=events,
    clicks=events,
    # click FKs: absent, a view id, or dangling (no view has id >= 25)
    fks=st.lists(st.one_of(st.none(), st.integers(0, 40)), max_size=25),
)
@SET
def test_inferred_join_matches_python_model(spark, views, clicks, fks):
    """FK first (dangling ids fall through), then scope fallback:
    (u, k) preferred, (u) fallback, window [-10m, 0], right-outer.
    Model mirrors the ranked pick's
    min_by(struct(rank, dist, lms, payload)) tie-break."""
    from openmetrics_spark.operators.joins import Scope, inferred_join

    base = 1_700_000_000_000
    vrows = [
        (i, u, str(k), base + ts) for i, (u, k, ts) in enumerate(views)
    ]
    fks = fks + [None] * (len(clicks) - len(fks))
    crows = [
        (1000 + i, fk, u, str(k), base + ts)
        for i, ((u, k, ts), fk) in enumerate(zip(clicks, fks))
    ]
    vdf = spark.createDataFrame(
        vrows or [(None, None, None, None)],
        "view_id long, u long, k string, ms long",
    ).filter(F.col("view_id").isNotNull()).withColumn(
        "ts", F.timestamp_millis("ms")
    )
    cdf = spark.createDataFrame(
        crows or [(None, None, None, None, None)],
        "click_id long, fk long, u long, k string, ms long",
    ).filter(F.col("click_id").isNotNull()).withColumn(
        "ts", F.timestamp_millis("ms")
    )
    out = inferred_join(
        vdf,
        cdf,
        scopes=[Scope(("u", "k")), Scope(("u",))],
        fk=("fk", "view_id"),
        left_ts="ts",
        right_ts="ts",
        window_before_ms=MIN10,
        window_after_ms=0,
        left_payload=["view_id", "ms"],
        right_id="click_id",
        right_outer=True,
    ).select("click_id", F.col("__lpick.view_id").alias("view_id"))
    got = {r.click_id: r.view_id for r in out.collect()}

    def pick(cfk, cu, ck, cms):
        # rank 0: the FK names a view (no time window)
        hits = [v for v in vrows if cfk is not None and v[0] == cfk]
        if hits:
            return min(hits, key=lambda c: (c[3], c[0]))[0]
        for scoped in (True, False):
            cands = [
                (vid, vu, vk, vms)
                for vid, vu, vk, vms in vrows
                if vu == cu
                and cms - MIN10 <= vms <= cms
                and (not scoped or vk == ck)
            ]
            if cands:
                # min_by(struct(rank, dist, lms, struct(view_id, ms)))
                best = min(cands, key=lambda c: (abs(c[3] - cms), c[3], c[0]))
                return best[0]
        return None

    want = {cid: pick(cfk, cu, ck, cms) for cid, cfk, cu, ck, cms in crows}
    assert got == want  # right-outer: every click present exactly once


@given(
    evs=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 4_000_000)),
        min_size=1,
        max_size=30,
    )
)
@SET
def test_sliding_counter_matches_python_model(spark, evs):
    """Trailing window sum at every slide boundary — emits exactly the
    windows any contributing bucket feeds, with exact counts."""
    from openmetrics_spark.operators.counters import sliding_counter

    window, slide = 3_600_000, 900_000
    k = window // slide
    base = 1_700_000_000_000
    df = spark.createDataFrame(
        [(u, base + ts) for u, ts in evs], "u long, ms long"
    ).withColumn("ts", F.timestamp_millis("ms"))
    got = {
        (r.u, r.emit_ms): r.n
        for r in sliding_counter(df, ["u"], "ts", window, slide).collect()
    }

    want: dict = {}
    for u, ts in evs:
        bucket = (base + ts) // slide * slide
        for i in range(1, k + 1):
            key = (u, bucket + i * slide)
            want[key] = want.get(key, 0) + 1
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(0, 5)),
        min_size=1,
        max_size=30,
    )
)
@SET
def test_keep_first_matches_python_model(spark, rows):
    """First-by-(ts, id) per key — including exact ts ties."""
    from openmetrics_spark.operators.dedup import keep_first

    df = spark.createDataFrame(
        [(i, key, ts) for i, (key, ts, _) in enumerate(rows)],
        "id long, key long, ts long",
    )
    got = {r.key: r.id for r in keep_first(df, ["key"], ["ts", "id"]).collect()}
    want: dict = {}
    for i, (key, ts, _) in enumerate(rows):
        if key not in want or (ts, i) < want[key]:
            want[key] = (ts, i)
    assert got == {k: v[1] for k, v in want.items()}


# ---------------------------------------------------------------------------
# Upsert engines vs a dict-based reference model
# ---------------------------------------------------------------------------

_upsert_batches = st.lists(
    st.lists(
        st.tuples(
            st.integers(0, 3),          # pk
            st.integers(0, 9),          # payload version
            st.integers(0, 3),          # hour bucket (partition)
            st.integers(0, 5),          # precombine ts offset
        ),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)

_T0 = 1704067200000
_HOUR = 3_600_000


def _model_upsert(batches):
    """Dict reference: last-write-wins per (pk, hour) by precombine,
    ties to the later batch; within a batch the max-precombine row
    wins and FULL ties (same pk, hour, precombine) break to the max
    payload — the engines' payload-JSON ordering, which for single-
    field "p<digit>" payloads is exactly string-max."""
    state = {}
    for rows in batches:
        best = {}
        for pk, payload, hour, ts in rows:
            key = (pk, hour)
            cand = (ts, f"p{payload}")
            if key not in best or cand > best[key]:
                best[key] = cand
        for (pk, hour), (ts, payload) in best.items():
            cur = state.get((pk, hour))
            if cur is None or ts >= cur[0]:
                state[(pk, hour)] = (ts, payload)
    return {
        (f"k{pk}", payload, _T0 + hour * _HOUR + ts)
        for (pk, hour), (ts, payload) in state.items()
    }


@given(batches=_upsert_batches)
@SET
def test_cow_and_mor_match_python_model(spark, tmp_path_factory, batches):
    """Both upsert engines must equal the dict model on arbitrary
    batch sequences — including stale replays, intra-batch FULL-tie
    duplicates and cross-partition key reuse — and MOR must equal COW
    whether or not a compaction ran mid-sequence."""
    from openmetrics_spark.sources.upsert import MorUpsertTable, UpsertTable

    base = tmp_path_factory.mktemp("prop_upsert")
    cow = UpsertTable(str(base / "cow"), ["pk"], "ts_ms")
    mor = MorUpsertTable(str(base / "mor"), ["pk"], "ts_ms")
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [
                (f"k{pk}", f"p{payload}", _T0 + hour * _HOUR + ts)
                for pk, payload, hour, ts in rows
            ],
            "pk string, payload string, ts_ms long",
        )
        cow.upsert(df)
        mor.upsert(df)
        if i == len(batches) // 2:
            mor.compact(spark)

    want_raw = _model_upsert(batches)
    got_cow = {
        (r["pk"], r["payload"], r["ts_ms"])
        for r in cow.read(spark).collect()
    }
    got_mor = {
        (r["pk"], r["payload"], r["ts_ms"])
        for r in mor.read_snapshot(spark).collect()
    }
    assert got_cow == want_raw
    assert got_mor == want_raw


# ---------------------------------------------------------------------------
# k-means vs a pure-Python Lloyd model
# ---------------------------------------------------------------------------

_vec_sets = st.lists(
    st.lists(st.integers(1, 9), min_size=4, max_size=4),
    min_size=4,
    max_size=16,
    unique_by=tuple,
)


def _model_kmeans(vecs, k, iters):
    """Pure-Python spherical Lloyd with the operator's exact rules:
    init = k lowest ids, assignment by cosine argmax with ties to the
    HIGHEST centroid id, centroids = raw integer member sums (cosine
    is scale-invariant), empty cells drop out. Sequential-fold float
    ops mirror the Spark expression order."""
    import math

    def cos(a, b):
        d = 0.0
        for x, y in zip(a, b):
            d += float(x) * float(y)
        na = 0.0
        nb = 0.0
        for x in a:
            na += float(x) * float(x)
        for y in b:
            nb += float(y) * float(y)
        return d / (math.sqrt(na) * math.sqrt(nb))

    cents = {i: list(vecs[i]) for i in range(min(k, len(vecs)))}
    assign = {}
    for it in range(iters):
        assign = {}
        for vid, v in enumerate(vecs):
            best = max(
                cents.items(), key=lambda kv: (cos(v, kv[1]), kv[0])
            )[0]
            assign[vid] = best
        if it == iters - 1:
            break
        sums = {}
        for vid, cell in assign.items():
            s = sums.setdefault(cell, [0, 0, 0, 0])
            for i, x in enumerate(vecs[vid]):
                s[i] += x
        cents = sums
    return assign


@given(vecs=_vec_sets)
@SET
def test_kmeans_matches_python_model(spark, vecs):
    from openmetrics_spark.llm.cluster import kmeans_assign

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vid"]: r["cell"]
        for r in kmeans_assign(
            df, "vec_id", "embedding", k=3, iters=2, dim=4
        ).collect()
    }
    # the model must compute on the engine's exact x1000-quantized
    # grid: cosine is scale-invariant mathematically but NOT in IEEE
    # (sqrt(1e6*x) != 1000*sqrt(x) at the last ulp), and near-tie
    # assignments can flip on that ulp
    scaled = [[1000 * x for x in v] for v in vecs]
    assert got == _model_kmeans(scaled, 3, 2)


# ---------------------------------------------------------------------------
# gap-fill + forward fill vs a pure-Python model
# ---------------------------------------------------------------------------

_series = st.lists(
    st.tuples(
        st.integers(0, 1),    # series key
        st.integers(0, 12),   # hour offset
        st.integers(0, 500),  # value in cents
    ),
    min_size=1,
    max_size=20,
)


@given(rows=_series)
@SET
def test_dense_series_matches_python_model(spark, rows):
    """The gap-fill shape of hourly_dense_series: dense grid over the
    global hour bounds per key, zero-filled counts, gap flags, and an
    ignore-nulls forward fill — checked against a dict model on random
    sparse series (leading gaps, all-gap keys, single-hour spans)."""
    from pyspark.sql import Window

    _T0 = 1704067200000
    H = 3_600_000
    df = spark.createDataFrame(
        [(f"k{k}", _T0 + h * H, c / 100.0) for k, h, c in rows],
        "key string, ms long, value double",
    ).withColumn("ts", F.timestamp_millis("ms"))

    hourly = (
        df.select("key", (F.col("ms") / H).cast("long").alias("h"), "value")
        .groupBy("key", "h")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("sv"),
        )
    )
    bounds = df.agg(
        (F.min("ms") / H).cast("long").alias("h0"),
        (F.max("ms") / H).cast("long").alias("h1"),
    )
    grid = (
        hourly.select("key").distinct()
        .crossJoin(F.broadcast(bounds))
        .select("key", F.explode(F.sequence("h0", "h1")).alias("h"))
    )
    w = Window.partitionBy("key").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    got = {
        (r["key"], r["h"]): (r["n_events"], r["is_gap"], r["filled"])
        for r in grid.join(hourly, ["key", "h"], "left")
        .select(
            "key",
            "h",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.when(F.col("n").isNull(), 1).otherwise(0).cast("long").alias("is_gap"),
            F.last("sv", ignorenulls=True).over(w).alias("filled"),
        )
        .collect()
    }

    # dict model (absolute hour index, matching ms // H)
    base_h = _T0 // H
    per = {}
    for k, h, c in rows:
        key = f"k{k}"
        n, sv = per.get((key, base_h + h), (0, 0))
        per[(key, base_h + h)] = (n + 1, sv + c)
    h0 = base_h + min(h for _, h, _ in rows)
    h1 = base_h + max(h for _, h, _ in rows)
    want = {}
    for key in {f"k{k}" for k, _, _ in rows}:
        last = None
        for h in range(h0, h1 + 1):
            if (key, h) in per:
                n, sv = per[(key, h)]
                last = sv
                want[(key, h)] = (n, 0, last)
            else:
                want[(key, h)] = (0, 1, last)
    assert got == want


_mw_events = st.lists(
    st.tuples(
        st.integers(0, 3),          # key
        st.integers(0, 4_000_000),  # ts offset ms
        st.integers(1, 5),          # value
    ),
    min_size=0,
    max_size=30,
)

_mw_configs = st.lists(
    st.sampled_from(
        [
            # (tag, window_ms, slide_ms) — window multiple of slide;
            # mixed slide groups exercise the per-slide bucketing
            (1, 600_000, 300_000),
            (2, 1_200_000, 300_000),
            (3, 3_600_000, 900_000),
            (4, 1_800_000, 900_000),
            (5, 7_200_000, 1_800_000),
        ]
    ),
    min_size=1,
    max_size=4,
    unique_by=lambda c: c[0],
)


@given(evs=_mw_events, configs=_mw_configs, use_value=st.booleans())
@SET
def test_multi_window_counter_matches_sliding_counter(
    spark, evs, configs, use_value
):
    """The fused multi-config operator must equal one sliding_counter
    per config (tagged) on random events, random config subsets, and
    both count and value-sum modes — the guard that keeps the
    counter-job consolidation honest beyond the library defaults."""
    from openmetrics_spark.operators.counters import (
        multi_window_counter,
        sliding_counter,
    )

    base = 1_700_000_000_000
    rows = [(k, base + ts, v) for k, ts, v in evs]
    df = spark.createDataFrame(
        rows, "k LONG, ms LONG, v LONG"
    ).withColumn("ts", F.timestamp_millis("ms")).drop("ms")
    vcol = "v" if use_value else None

    got = {
        (r.k, r.window_tag, r.emit_ms, r.n)
        for r in multi_window_counter(
            df, ["k"], "ts", configs, value_col=vcol
        ).collect()
    }
    want = set()
    for tag, w, s in configs:
        for r in sliding_counter(df, ["k"], "ts", w, s, value_col=vcol).collect():
            want.add((r.k, tag, r.emit_ms, r.n))
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
def test_z_interleave_bijective_and_engine_exact(spark, pairs):
    """Morton interleave must be a bijection on the 16-bit grid (no
    two (x, y) cells share a z-value) and the Spark expression must
    equal the DuckDB spelling value-for-value — the property that lets
    the layout decision itself be driver hash-gated."""
    import duckdb

    from openmetrics_spark.functions.zorder import (
        z_interleave,
        z_interleave_sql,
    )

    df = spark.createDataFrame(pairs, "x LONG, y LONG")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", z_interleave(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    assert len(set(got.values())) == len(pairs)  # bijective on cells
    duck = duckdb.connect()
    duck.execute("CREATE TABLE t (x BIGINT, y BIGINT)")
    duck.executemany("INSERT INTO t VALUES (?, ?)", [list(p) for p in pairs])
    want = {
        (x, y): z
        for x, y, z in duck.execute(
            f"SELECT x, y, {z_interleave_sql('x', 'y')} FROM t"
        ).fetchall()
    }
    assert got == want
    # de-interleaving even/odd bits recovers the inputs (round trip)
    for (x, y), z in got.items():
        rx = sum(((z >> (2 * i)) & 1) << i for i in range(16))
        ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (rx, ry) == (x, y)


# ---------------------------------------------------------------------------
# r7 operators: pair-free AddLatestImpressions vs a brute-force model,
# CMS one-sidedness vs exact counts.
# ---------------------------------------------------------------------------

_imp_rows = st.lists(
    st.tuples(
        st.integers(0, 2),       # user
        st.integers(0, 3000),    # ms
        st.integers(0, 6),       # content
    ),
    min_size=0,
    max_size=30,
)
_act_rows = st.lists(
    st.tuples(
        st.integers(0, 2),
        st.integers(0, 3200),
        st.integers(0, 6),
    ),
    min_size=0,
    max_size=12,
)


@given(imps=_imp_rows, acts=_act_rows)
@SET
def test_add_latest_impressions_matches_python_model(spark, imps, acts):
    """The seq-equi-join rewrite vs a direct replay of the reference
    semantics (state cap before exclusion, output cap after, lookback
    prefix, (ms, id)-desc recency ties) on arbitrary interleavings."""
    from openmetrics_spark.operators.enrich import add_latest_impressions

    max_state, max_output, lookback = 4, 3, 800
    imp_rows = [(u, 1000 + i, ms, c) for i, (u, ms, c) in enumerate(imps)]
    act_rows = [(u, 9000 + i, ms, c) for i, (u, ms, c) in enumerate(acts)]
    imp = spark.createDataFrame(
        imp_rows or [(0, 0, -10**9, 0)],
        "user_id long, impression_id long, imp_ms long, content_id long",
    )
    act = spark.createDataFrame(
        act_rows or [(0, 0, -10**9, 0)],
        "user_id long, action_id long, act_ms long, content_id long",
    )
    got = sorted(
        tuple(r)
        for r in add_latest_impressions(
            imp, act, max_state=max_state, max_output=max_output,
            lookback_ms=lookback,
        ).collect()
        if r.action_id != 0 or act_rows
    )
    first_act: dict = {}
    for u, aid, ams, c in act_rows:
        k = (u, c)
        if k not in first_act or ams < first_act[k]:
            first_act[k] = ams
    want = []
    for u, aid, ams, _c in act_rows:
        cand = [
            (ims, iid, c)
            for (iu, iid, ims, c) in imp_rows
            if iu == u and ims < ams and ims >= ams - lookback
        ]
        cand.sort(key=lambda t: (-t[0], -t[1]))
        kept = [
            (ims, iid, c)
            for (ims, iid, c) in cand[:max_state]
            if (u, c) not in first_act or first_act[(u, c)] > ams
        ][:max_output]
        for rank, (ims, iid, c) in enumerate(kept, start=1):
            want.append((aid, rank, iid, c, ams - ims))
    assert got == sorted(want)


_cms_vals = st.lists(st.integers(-50, 50), min_size=0, max_size=60)


@given(vals=_cms_vals)
@SET
def test_cms_estimates_dominate_exact_counts(spark, vals):
    """Count-Min one-sided error on arbitrary value streams: every
    point estimate >= the exact count, and the counter table's total
    per hash row equals the stream length (no mass lost)."""
    from collections import Counter

    from openmetrics_spark.operators.sketches import (
        CMS_DEPTH,
        cms_counters,
        cms_point_estimate,
    )

    df = spark.createDataFrame(
        [(v,) for v in vals] or [(None,)], "v long"
    )
    counters = cms_counters(df, [], "v")
    exact = Counter(vals)
    if not exact:
        assert counters.count() == 0
        return
    per_row = {
        r.j: r.s
        for r in counters.groupBy("j")
        .agg(F.sum("c").alias("s"))
        .collect()
    }
    assert per_row == {j: len(vals) for j in range(CMS_DEPTH)}
    keys = df.filter(F.col("v").isNotNull()).distinct()
    est = {
        r.v: r.est_count
        for r in cms_point_estimate(counters, keys, "v").collect()
    }
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)


redundant_imps = st.lists(
    st.tuples(
        st.integers(0, 2),   # user
        st.integers(0, 2),   # insertion key (some NULL via 0 -> view/content path)
        st.integers(0, 20_000),  # ts offset ms (spans several ttl epochs)
    ),
    min_size=0,
    max_size=24,
)


@given(imps=redundant_imps)
@SET
def test_reduce_redundant_matches_python_model(spark, imps):
    """The redundancy epoch chain (ReduceRedundantTinyImpressions):
    first impression per key canonical until first_ts + ttl; inside
    the window -> redundant, mapped to the epoch's canonical; past it
    -> NEW epoch. Ties at the same ts break by impression_id. The
    model walks rows sorted (ts, impression_id) per key — exactly the
    operator's applyInPandas walk AND the composed-pipeline oracle's
    recursive CTE, so this property pins all three against each other
    on arbitrary multi-epoch, tied, singleton-mixed inputs."""
    from openmetrics_spark.operators.flat import reduce_redundant_impressions

    TTL = 1500
    base = 1_700_000_000_000
    rows = [
        (f"m{i}", 0, f"u{u}", f"i{k}", base + ts)
        for i, (u, k, ts) in enumerate(imps)
    ]
    df = spark.createDataFrame(
        rows or [(None, None, None, None, None)],
        "impression_id string, platform_id long, log_user_id string,"
        " insertion_id string, impression_ts long",
    ).filter(F.col("impression_id").isNotNull())
    df = df.select(
        "platform_id", "log_user_id", "impression_id", "insertion_id",
        F.lit(None).cast("string").alias("view_id"),
        F.lit(None).cast("string").alias("content_id"),
        "impression_ts",
    )
    got = {
        r["impression_id"]: (r["canonical_impression_id"], r["is_redundant"])
        for r in reduce_redundant_impressions(df, ttl_ms=TTL).remap.collect()
    }

    # python model
    by_key: dict[tuple, list] = {}
    for mid, p, u, ins, ts in rows:
        by_key.setdefault((p, u, ins), []).append((ts, mid))
    want = {}
    for key, members in by_key.items():
        canon, replace_after = None, None
        for ts, mid in sorted(members):
            if canon is None or ts > replace_after:
                canon, replace_after = mid, ts + TTL
                want[mid] = (mid, False)
            else:
                want[mid] = (canon, True)
    assert got == want


dl_rows = st.lists(
    st.tuples(
        st.integers(0, 2),            # user
        st.integers(0, 3),            # cri bucket (0 -> NULL)
        st.booleans(),                # api_execution
        st.integers(0, 10_000),       # ts offset
    ),
    min_size=0,
    max_size=24,
)


@given(rows=dl_rows)
@SET
def test_combine_delivery_logs_matches_python_model(spark, rows):
    """CombineDeliveryLog: per (platform, user, client_request_id) the
    API row wins over SDK, then earlier log_timestamp, then smaller
    request_id; rows without a client_request_id pass through — swept
    over arbitrary API/SDK mixes including multi-way ties and
    cri-less duplicates."""
    from openmetrics_spark.operators.flat import combine_delivery_logs

    base = 1_700_000_000_000
    data = [
        (0, f"u{u}", f"r{i}", f"c{cri}" if cri else None, api, base + ts)
        for i, (u, cri, api, ts) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data or [(None,) * 6],
        "platform_id long, log_user_id string, request_id string,"
        " client_request_id string, api_execution boolean,"
        " log_timestamp long",
    ).filter(F.col("request_id").isNotNull())
    got = sorted(
        r["request_id"] for r in combine_delivery_logs(df).collect()
    )

    best: dict = {}
    passthrough = []
    for p, u, rid, cri, api, ts in data:
        if cri is None:
            passthrough.append(rid)
            continue
        key = (p, u, cri)
        cand = (0 if api else 1, ts, rid)
        if key not in best or cand < best[key]:
            best[key] = cand
    want = sorted([c[2] for c in best.values()] + passthrough)
    assert got == want


_wire_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=24
)

_wire_envs = st.lists(
    st.tuples(
        st.integers(0, 3),           # platform
        _wire_text,                  # log_user_id (adversarial)
        _wire_text,                  # view content_id
        st.integers(0, 2_000_000),   # ts
        st.integers(0, 3),           # number of cart items on the action
    ),
    min_size=1,
    max_size=8,
)


@given(envs=_wire_envs)
@SET
def test_wire_codec_roundtrip_is_lossless(spark, envs):
    """encode_log_requests ∘ decode_log_requests must be the identity
    on every LogRequest field the schema carries — including nested
    response-insertion and cart arrays, empty strings, quotes,
    newlines, control characters and non-ASCII in string fields (the
    oracle-gated wire query only exercises integer-derived ids; this
    pins the codec itself against adversarial payloads)."""
    from openmetrics_spark.sources.envelope import (
        LOG_REQUEST,
        decode_log_requests,
        encode_log_requests,
    )

    base = 1_700_000_000_000
    rows = []
    for i, (p, lu, cid, ts, ncart) in enumerate(envs):
        cart = [(f"cc{j}~{cid}", j + 1, 1000 * j) for j in range(ncart)]
        rows.append(
            {
                "platform_id": p,
                "log_user_id": lu,
                "log_timestamp": base + ts,
                "event_api_timestamp": base + ts,
                "views": [
                    {
                        "platform_id": None,
                        "view_id": f"v{i}",
                        "session_id": None,
                        "log_user_id": None,
                        "user_agent": lu[::-1] or None,
                        "name": None,
                        "content_id": cid,
                        "log_timestamp": None,
                        "event_api_timestamp": None,
                    }
                ],
                "actions": [
                    {
                        "platform_id": None,
                        "action_id": f"a{i}",
                        "impression_id": None,
                        "insertion_id": None,
                        "request_id": None,
                        "view_id": None,
                        "session_id": None,
                        "log_user_id": None,
                        "content_id": cid or None,
                        "action_type": 8,
                        "custom_action_type": None,
                        "cart": [
                            {
                                "content_id": c,
                                "quantity": q,
                                "price_usd_micros_per_unit": pr,
                            }
                            for c, q, pr in cart
                        ]
                        or None,
                        "properties_json": None,
                        "log_timestamp": None,
                        "event_api_timestamp": None,
                    }
                ],
            }
        )
    env = spark.createDataFrame(rows, LOG_REQUEST)
    back = decode_log_requests(encode_log_requests(env))

    def canon(df):
        return sorted(
            (
                r["platform_id"],
                r["log_user_id"],
                r["log_timestamp"],
                tuple(
                    (v["view_id"], v["user_agent"], v["content_id"])
                    for v in (r["views"] or [])
                ),
                tuple(
                    (
                        a["action_id"],
                        a["content_id"],
                        tuple(
                            (c["content_id"], c["quantity"],
                             c["price_usd_micros_per_unit"])
                            for c in (a["cart"] or [])
                        ),
                    )
                    for a in (r["actions"] or [])
                ),
            )
            for r in df.collect()
        )

    assert canon(back) == canon(env)
