"""The COMPOSED flat-output-join pipeline as one driver-gated query —
raw LogRequest envelopes → 8-way split + push-down → validate (error
side output) → keep-first dedup → CombineDeliveryLog → tiny insertions
→ view→insertion inferred join → insertion→impression inferred join
(3-scope fallback) → ReduceRedundantTinyImpressions + action
re-pointing → ToTinyAction cart fan-out → impression→action inferred
join → MergeDetails (+dropped side output) → FlatResponseInsertion
session cogroup — and the TAIL (r10): user temporal join →
AddLatestImpressions → clearUserId PII strip before every sink
(stages 20-22; FlatOutputJob.java:962-996, :980-989, :1181-1188).

Reference: the composed FlatOutputJob.java:394-1044 topology
(pipeline/README.md:91). Every stage here is the SAME operator the
per-stage bfj_q queries gate individually; what this query adds is the
stage BOUNDARIES — each stage consumes the previous stage's real
output (the insertion→impression view scope keys on the view→insertion
join's MATCHED view, the action join's left side is the post-redundant
canonical impression set, action FKs are re-pointed through the remap,
the flat cogroup consumes merged attributed actions), which is where
composition bugs live.

Output is a MANIFEST: one row per stage with its row count and a
whole-stage content checksum (bit_xor of a 60-bit md5 over each row's
canonical string — any value drift anywhere in the chain flips it),
plus the three join-yield rows in basis points. The DuckDB oracle
replays the identical chain (the redundant-impression epoch walk as a
recursive CTE), so the driver's hash compare pins every stage
boundary at once.

Fixture graph (one coherent derivation from ``events``, consistent
with the per-stage bfj_q conventions): views from 'view' events,
delivery logs (API + SDK twin) and impressions from 'click' events,
actions (with carts) from 'purchase' events; duplicate twins on
id%7==0 (+10 ms), invalid children on id%11==0, FK present / dangling
/ absent on the %2/%4/%5/%7 patterns; purchases with id%10==0 target
the user's last GUARANTEED-REDUNDANT impression (m_4 of a %9 triplet)
so the action re-pointing boundary is exercised by construction — a
repoint regression re-routes those FKs through the content scope and
flips stages 12/13; children carry NO platform / log_user (the
envelope push-down is load-bearing for every downstream join key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from openmetrics_spark.operators.dedup import keep_first
from openmetrics_spark.operators.enrich import add_latest_impressions
from openmetrics_spark.operators.flat import (
    clear_user_id,
    combine_delivery_logs,
    fix_delivery_log,
    flat_response_insertions,
    merge_details_with_drops,
    reduce_redundant_impressions,
    repoint_actions,
    to_tiny_actions,
)
from openmetrics_spark.operators.joins import Scope, asof_join, inferred_join
from openmetrics_spark.operators.validate import (
    validate_action,
    validate_delivery_log,
    validate_impression,
    validate_view,
)
from openmetrics_spark.queries import register
from openmetrics_spark.schemas import EVENT_SCHEMAS, RESPONSE_INSERTION
from openmetrics_spark.sources.envelope import (
    CHILD_TYPES,
    _nullable,
    _plural,
    split_log_requests,
)
from openmetrics_spark.tables import pin, stage_parquet, table

MIN10 = 10 * 60 * 1000
MIN30 = 30 * 60 * 1000
DAY = 24 * 60 * 60 * 1000
REDUNDANT_TTL_MS = 5000
LOOKBACK7D = 7 * DAY


# ---------------------------------------------------------------------------
# fixture derivation
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str, skew: bool = False) -> DataFrame:
    """Base derivation + the two same-user FK windows (prev_view /
    prev_imp) — identical to bfj_q's conventions.

    ``skew=True`` plants ONE power-law hot key: every ``user_id % 8 == 0``
    user collapses onto ``log_user_id = 'uhot'`` (~12-13% of ALL events on
    one key; those users are all ``% 4 == 0`` so the hot key lives on a
    single ``(platform_id=0, 'uhot')`` state partition). This is the
    reference's logged-out/bot shape — a shared id concentrating a whole
    key's state and compute on one task (KeyUtil.java:27-98) — and the
    skewed manifest gates that every stage still hash-matches under it."""
    lu = F.concat(F.lit("u"), F.col("user_id"))
    if skew:
        lu = F.when(F.col("user_id") % 8 == 0, F.lit("uhot")).otherwise(lu)
    e = table(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        F.unix_millis("ts").alias("ms"),
        (F.col("user_id") % 4).alias("platform_id"),
        lu.alias("log_user_id"),
        "event_type",
    )
    w = (
        Window.partitionBy("platform_id", "log_user_id")
        .orderBy("ms", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return e.withColumn(
        "prev_view",
        F.last(
            F.when(
                F.col("event_type") == "view", F.concat(F.lit("v"), F.col("id"))
            ),
            ignorenulls=True,
        ).over(w),
    ).withColumn(
        "prev_imp",
        F.last(
            F.when(
                (F.col("event_type") == "click") & (F.col("id") % 3 != 0),
                F.concat(F.lit("m"), F.col("id"), F.lit("_0")),
            ),
            ignorenulls=True,
        ).over(w),
    ).withColumn(
        # content of the user's most recent k=0 impression — purchases
        # reference content the user actually saw, like real traffic
        "prev_imp_content",
        F.last(
            F.when(
                (F.col("event_type") == "click") & (F.col("id") % 3 != 0),
                F.concat(F.lit("c"), (F.col("id") * 2) % 40),
            ),
            ignorenulls=True,
        ).over(w),
    ).withColumn(
        # the user's most recent GUARANTEED-REDUNDANT impression: m_4 of
        # an id%9==0 triplet sits inside m_2's 5 s epoch by construction,
        # so a purchase FK targeting it MUST be re-pointed to m_2 before
        # the action join — the boundary repoint_actions exercises
        "prev_imp_red",
        F.last(
            F.when(
                (F.col("event_type") == "click") & (F.col("id") % 9 == 0),
                F.concat(F.lit("m"), F.col("id"), F.lit("_4")),
            ),
            ignorenulls=True,
        ).over(w),
    )


def _child(schema: T.StructType, **vals: Column) -> Column:
    """A child struct with every schema field, missing ones NULL —
    keeps the three envelope selects union-compatible."""
    ns = _nullable(schema)
    cols = []
    for f in ns.fields:
        c = vals.get(f.name)
        if c is None:
            c = F.lit(None)
        cols.append(c.cast(f.dataType).alias(f.name))
    return F.struct(*cols)


def _opt(cond: Column, struct: Column) -> Column:
    """[struct] when cond else [] — typed from the struct itself."""
    return F.when(cond, F.array(struct)).otherwise(
        F.slice(F.array(struct), 1, 0)
    )


def _envelopes(
    spark: SparkSession, sf_dir: str, skew: bool = False
) -> DataFrame:
    e = _events(spark, sf_dir, skew)
    empty = {
        name: F.lit(None)
        .cast(T.ArrayType(_nullable(EVENT_SCHEMAS[name])))
        .alias(_plural(name))
        for name in CHILD_TYPES
    }

    def env(df: DataFrame, **arrays: Column) -> DataFrame:
        cols = [
            "platform_id",
            "log_user_id",
            F.col("ms").alias("log_timestamp"),
            F.col("ms").alias("event_api_timestamp"),
        ]
        for name in CHILD_TYPES:
            col = arrays.get(name)
            cols.append(
                col.alias(_plural(name)) if col is not None else empty[name]
            )
        return df.select(*cols)

    vid = F.concat(F.lit("v"), F.col("id"))
    view_env = env(
        e.filter(F.col("event_type") == "view"),
        view=F.concat(
            F.array(
                _child(
                    EVENT_SCHEMAS["view"],
                    view_id=vid,
                    content_id=F.concat(F.lit("c"), F.col("id") % 40),
                )
            ),
            _opt(
                F.col("id") % 7 == 0,
                _child(
                    EVENT_SCHEMAS["view"],
                    view_id=vid,
                    content_id=F.concat(F.lit("c"), F.col("id") % 40),
                    log_timestamp=F.col("ms") + 10,
                ),
            ),
            _opt(
                F.col("id") % 11 == 0,
                _child(EVENT_SCHEMAS["view"], view_id=F.lit("")),
            ),
        ),
    )

    ins_arr = F.array(
        *[
            F.struct(
                F.concat(F.lit("i"), F.col("id"), F.lit(f"_{k}")).alias(
                    "insertion_id"
                ),
                F.concat(F.lit("c"), (F.col("id") * 2 + k) % 40).alias(
                    "content_id"
                ),
                F.lit(k).cast("long").alias("position"),
                F.lit(None).cast("long").alias("retrieval_rank"),
            )
            for k in (0, 1)
        ]
    ).cast(T.ArrayType(_nullable(RESPONSE_INSERTION)))
    cri = F.when(F.col("id") % 5 != 0, F.concat(F.lit("c"), F.col("id")))
    # id%4==0 delivery logs carry view_id = "" (proto3 unset), not
    # NULL: FixDeliveryLog must null it before anything keys on it,
    # and stage 8's view_fk string ("-" for null vs "" raw) pins that
    # repair at the driver — a fix regression flips the checksum
    dl_view = F.when(F.col("id") % 4 != 0, F.col("prev_view")).otherwise(
        F.lit("")
    )
    clicks = e.filter(F.col("event_type") == "click")
    dl_env = env(
        clicks,
        delivery_log=F.concat(
            F.array(
                _child(
                    EVENT_SCHEMAS["delivery_log"],
                    request_id=F.concat(F.lit("r"), F.col("id")),
                    client_request_id=cri,
                    view_id=dl_view,
                    api_execution=F.lit(True),
                    response_insertions=ins_arr,
                )
            ),
            _opt(
                F.col("id") % 3 == 0,
                _child(
                    EVENT_SCHEMAS["delivery_log"],
                    request_id=F.concat(F.lit("s"), F.col("id")),
                    client_request_id=cri,
                    api_execution=F.lit(False),
                    log_timestamp=F.col("ms") + 500,
                ),
            ),
            _opt(
                F.col("id") % 11 == 0,
                _child(EVENT_SCHEMAS["delivery_log"], request_id=F.lit("")),
            ),
        ),
        impression=F.concat(
            *[
                _opt(
                    (F.col("id") + k) % 3 != 0,
                    _imp_child(k),
                )
                for k in (0, 1)
            ],
            _opt(
                (F.col("id") % 7 == 0) & (F.col("id") % 3 != 0),
                _imp_child(0, dup_offset=10),
            ),
            _opt(
                F.col("id") % 11 == 0,
                _child(
                    EVENT_SCHEMAS["impression"],
                    impression_id=F.concat(F.lit("mx"), F.col("id")),
                    log_timestamp=F.col("ms") + 60000,
                ),
            ),
            # redundancy triplet (id%9==0): three impressions of the
            # SAME insertion i_0 — m_2 (+60005, epoch-1 canonical),
            # m_4 (+60008, inside m_2's ttl → redundant), m_3 (+67000,
            # past first+ttl → NEW epoch canonical) — the organic food
            # for ReduceRedundantTinyImpressions' epoch chain
            *[
                _opt(F.col("id") % 9 == 0, _imp_same_insertion(sfx, off))
                for sfx, off in ((2, 60005), (4, 60008), (3, 67000))
            ],
        ),
    )

    cart_t = f"array<{_nullable(EVENT_SCHEMAS['action'])['cart'].dataType.elementType.simpleString()}>"
    # purchases reference content the user actually saw (their most
    # recent k=0 impression); first-session purchases fall back to an
    # even-index content so the odd-index cart extras can never
    # collide with it under array_distinct
    c_act = F.coalesce(
        F.col("prev_imp_content"), F.concat(F.lit("c"), (F.col("id") * 2) % 40)
    )

    def cart_item(content: Column, qty: Column, price: Column) -> Column:
        return F.struct(
            content.alias("content_id"),
            qty.cast("long").alias("quantity"),
            price.cast("long").alias("price_usd_micros_per_unit"),
        )

    cart = (
        F.when(F.col("id") % 3 == 1, F.lit(None).cast(cart_t))
        .when(
            F.col("id") % 2 == 0,
            F.array(
                cart_item(
                    c_act, 1 + F.col("id") % 3, 100000 * (1 + F.col("id") % 5)
                ),
                cart_item(
                    F.concat(F.lit("c"), (F.col("id") + 7) % 40),
                    F.lit(2),
                    F.lit(200000),
                ),
            ).cast(cart_t),
        )
        .otherwise(
            # odd-index contents: disjoint from every even-index c_act
            F.array(
                cart_item(
                    F.concat(
                        F.lit("c"), ((F.col("id") + 3) % 20) * 2 + 1
                    ),
                    F.lit(3),
                    F.lit(300000),
                ),
                cart_item(
                    F.concat(
                        F.lit("c"), ((F.col("id") + 9) % 20) * 2 + 1
                    ),
                    F.lit(2),
                    F.lit(200000),
                ),
            ).cast(cart_t)
        )
    )
    atype = (
        F.when(F.col("id") % 3 == 1, 2)
        .when(F.col("id") % 3 == 0, 3)
        .otherwise(8)
    )

    # even-id purchases carry an explicit impression FK; every fifth of
    # those (id%10==0) targets the user's last guaranteed-REDUNDANT
    # impression (m_4 of a %9 triplet) so the remap is load-bearing for
    # the action join, not just the impression suppression
    act_fk = F.when(
        F.col("id") % 2 == 0,
        F.when(
            F.col("id") % 10 == 0,
            F.coalesce(F.col("prev_imp_red"), F.col("prev_imp")),
        ).otherwise(F.col("prev_imp")),
    )

    def act_child(ts: Column | None = None) -> Column:
        return _child(
            EVENT_SCHEMAS["action"],
            action_id=F.concat(F.lit("a"), F.col("id")),
            impression_id=act_fk,
            content_id=c_act,
            action_type=atype,
            cart=cart,
            log_timestamp=ts,
        )

    act_env = env(
        e.filter(F.col("event_type") == "purchase"),
        action=F.concat(
            F.array(act_child()),
            _opt(F.col("id") % 7 == 0, act_child(F.col("ms") + 10)),
            _opt(
                F.col("id") % 11 == 0,
                _child(
                    EVENT_SCHEMAS["action"],
                    action_id=F.concat(F.lit("ax"), F.col("id")),
                ),
            ),
        ),
    )
    return view_env.unionByName(dl_env).unionByName(act_env)


def _imp_child(k: int, dup_offset: int = 0) -> Column:
    ik = F.col("id") + k
    return _child(
        EVENT_SCHEMAS["impression"],
        impression_id=F.concat(F.lit("m"), F.col("id"), F.lit(f"_{k}")),
        insertion_id=F.when(ik % 5 == 0, F.lit(None).cast("string"))
        .when(ik % 7 == 0, F.concat(F.lit("i"), F.col("id"), F.lit("_9")))
        .otherwise(F.concat(F.lit("i"), F.col("id"), F.lit(f"_{k}"))),
        request_id=F.when(ik % 2 == 0, F.concat(F.lit("r"), F.col("id"))),
        view_id=F.when(
            (ik % 11 == 0) & (F.col("id") % 4 != 0), F.col("prev_view")
        ),
        content_id=F.concat(F.lit("c"), (F.col("id") * 2 + k) % 40),
        log_timestamp=F.col("ms") + 60000 + k + dup_offset,
    )


def _imp_same_insertion(sfx: int, offset: int) -> Column:
    return _child(
        EVENT_SCHEMAS["impression"],
        impression_id=F.concat(F.lit("m"), F.col("id"), F.lit(f"_{sfx}")),
        insertion_id=F.concat(F.lit("i"), F.col("id"), F.lit("_0")),
        content_id=F.concat(F.lit("c"), (F.col("id") * 2) % 40),
        log_timestamp=F.col("ms") + offset,
    )


# ---------------------------------------------------------------------------
# manifest machinery
# ---------------------------------------------------------------------------


def _cs(col: Column) -> Column:
    """60-bit md5 of a canonical row string — engine-exact (DuckDB:
    CAST('0x'||substr(md5(s),1,15) AS BIGINT))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _stage(ord_: int, name: str, df: DataFrame, s: Column) -> DataFrame:
    h = df.select(_cs(s).alias("__h"))
    return h.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.expr("bit_xor(__h)"), F.lit(0))
        .cast("long")
        .alias("checksum"),
    ).select(
        F.lit(ord_).cast("long").alias("stage_ord"),
        F.lit(name).alias("stage"),
        F.col("n_rows").cast("long").alias("n_rows"),
        "checksum",
    )


def _yield_bp(ord_: int, name: str, num: DataFrame, den: DataFrame) -> DataFrame:
    n = num.agg(F.count(F.lit(1)).alias("__n"))
    d = den.agg(F.count(F.lit(1)).alias("__d"))
    return n.crossJoin(d).select(
        F.lit(ord_).cast("long").alias("stage_ord"),
        F.lit(name).alias("stage"),
        # guard the degenerate empty-denominator slice: both engines
        # yield 0 instead of a NULL row vs a DuckDB div-by-zero
        F.expr(
            "CAST(CASE WHEN __d = 0 THEN 0"
            " ELSE __n * 10000 DIV __d END AS BIGINT)"
        ).alias("n_rows"),
        F.lit(0).cast("long").alias("checksum"),
    )


def _nz(c: str | Column, sentinel: str = "-") -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return F.coalesce(col.cast("string"), F.lit(sentinel))


def _j(*cols: Column) -> Column:
    return F.concat_ws("|", *cols)


# ---------------------------------------------------------------------------
# the FlatOutputJob TAIL (stages 20-22), shared batch + streaming
# ---------------------------------------------------------------------------
#
# The reference does not stop at flat sessions: joinUserAndOutput
# (FlatOutputJob.java:962-996) temporally joins user data onto the
# joined output, AddLatestImpressions (:980-989) attaches the <=30/<=25
# most recent prior impressions to every joined action, and
# outputJoinedEvents strips the authenticated userId from all three
# sinks (:1181-1188 via UserInfoUtil.clearUserId). These three stages
# consume the SAME kept/merged/flat frames both manifests already gate,
# so one helper serves batch and streaming under the shared oracle.


def _user_versions(
    spark: SparkSession, sf_dir: str, skew: bool = False
) -> DataFrame:
    """Versioned user-profile fixture: every id%6==0 event emits a
    profile snapshot at its event time; same-(user, ms) collisions
    collapse deterministically to the max id. Mirrors the oracle's
    ``uvers`` CTE."""
    e = _events(spark, sf_dir, skew)
    return (
        e.filter(F.col("id") % 6 == 0)
        .groupBy("platform_id", "log_user_id", F.col("ms").alias("ver_ms"))
        .agg(F.max("id").alias("__mid"))
        .select(
            "platform_id",
            "log_user_id",
            "ver_ms",
            F.concat(F.lit("s"), (F.col("__mid") % 5).cast("string")).alias(
                "seg"
            ),
        )
    )


def _ukey() -> Column:
    return F.concat_ws(
        "|", F.col("platform_id").cast("string"), F.col("log_user_id")
    )


def _tail_stages(
    spark: SparkSession,
    sf_dir: str,
    kept: DataFrame,
    merged: DataFrame,
    flat_rows: DataFrame,
    skew: bool = False,
) -> list[DataFrame]:
    """Manifest stages 20-22 over the pipeline's own outputs (see block
    comment). 100 TB: the as-of is the one-shuffle union+last_value
    core (never a range join), AddLatestImpressions is the pair-free
    bounded-explode form (O(actions x 30), hot-user-safe), and the PII
    strip is a pure projection."""
    # -- 20: user temporal join on the joined output (impressions +
    # actions through ONE as-of pass, the TemporalJoinFunction core)
    uev = (
        kept.select(
            "platform_id",
            "log_user_id",
            F.col("impression_id").alias("pk"),
            F.col("impression_ms").alias("ms"),
        )
        .unionByName(
            merged.select(
                "platform_id",
                "log_user_id",
                F.col("tiny_id").alias("pk"),
                F.col("action_ts").alias("ms"),
            )
        )
        .withColumn("__lts", F.timestamp_millis("ms"))
    )
    uvers = _user_versions(spark, sf_dir, skew).withColumn(
        "__rts", F.timestamp_millis("ver_ms")
    )
    uj = pin(
        asof_join(
            uev,
            uvers,
            on=["platform_id", "log_user_id"],
            left_ts="__lts",
            right_ts="__rts",
            right_cols=["seg", "ver_ms"],
        ).select("pk", "seg", "ver_ms")
    )

    # -- 21: AddLatestImpressions on the joined actions
    imp_in = kept.select(
        _ukey().alias("u"),
        "impression_id",
        F.col("impression_ms").alias("imp_ms"),
        "content_id",
    )
    act_in = merged.select(
        _ukey().alias("u"),
        F.col("tiny_id").alias("action_id"),
        F.col("action_ts").alias("act_ms"),
        F.substring_index("tiny_id", "~", -1).alias("content_id"),
    )
    li = pin(
        add_latest_impressions(
            imp_in,
            act_in,
            user_col="u",
            content_col="content_id",
            max_state=30,
            max_output=25,
            lookback_ms=LOOKBACK7D,
        )
    )

    # -- 22: clearUserId before every sink — the authenticated id rides
    # the rows at THREE nesting depths (top level, struct field, struct
    # inside array); the checksum reads all three post-strip, and the
    # oracle hard-codes '-' for each, so a skipped or shallow strip
    # flips the stage. log_user_id must SURVIVE (the reference keeps it).
    def mk(df: DataFrame, kind: str, pk_col: Column) -> DataFrame:
        uid = F.concat(F.lit("U"), F.substring("log_user_id", 2, 100))
        return df.select(
            F.lit(kind).alias("kind"),
            pk_col.alias("pk"),
            "log_user_id",
            uid.alias("user_id"),
            F.struct(
                uid.alias("user_id"),
                F.col("log_user_id").alias("log_user_id"),
            ).alias("user_info"),
            F.array(F.struct(uid.alias("user_id"))).alias("nested"),
        )

    pii = pin(
        clear_user_id(
            mk(kept, "imp", F.col("impression_id"))
            .unionByName(mk(merged, "act", F.col("tiny_id")))
            .unionByName(
                mk(
                    flat_rows,
                    "flat",
                    F.concat(
                        F.col("insertion_id"),
                        F.lit(":"),
                        F.col("session_start_ms").cast("string"),
                    ),
                )
            )
        )
    )

    return [
        _stage(20, "user_joined", uj, _j(_nz("pk"), _nz("seg"), _nz("ver_ms"))),
        _stage(
            21,
            "latest_impressions",
            li,
            _j(
                _nz("action_id"),
                _nz("rank"),
                _nz("impression_id"),
                _nz("content"),
                _nz("gap_ms"),
            ),
        ),
        _stage(
            22,
            "pii_stripped_outputs",
            pii,
            _j(
                _nz("kind"),
                _nz("pk"),
                _nz("user_id"),
                _nz(F.col("user_info.user_id")),
                _nz(F.col("user_info.log_user_id")),
                _nz(F.element_at(F.col("nested"), 1)["user_id"]),
                _nz("log_user_id"),
            ),
        ),
    ]


# ---------------------------------------------------------------------------
# the pipeline
# ---------------------------------------------------------------------------


def _run_pipeline(
    spark: SparkSession, sf_dir: str, skew: bool = False
) -> list[DataFrame]:
    env = _envelopes(spark, sf_dir, skew)
    streams = split_log_requests(env)
    views_raw = pin(streams["view"])
    dls_raw = pin(fix_delivery_log(streams["delivery_log"]))
    imps_raw = pin(streams["impression"])
    acts_raw = pin(streams["action"])

    v_ok, v_err = validate_view(views_raw)
    dl_ok, dl_err = validate_delivery_log(dls_raw)
    i_ok, i_err = validate_impression(imps_raw)
    a_ok, a_err = validate_action(acts_raw)
    errs = pin(
        v_err.select(F.lit("view").alias("kind"), F.col("view_id").alias("pk"), "error_reason")
        .unionByName(dl_err.select(F.lit("delivery_log").alias("kind"), F.col("request_id").alias("pk"), "error_reason"))
        .unionByName(i_err.select(F.lit("impression").alias("kind"), F.col("impression_id").alias("pk"), "error_reason"))
        .unionByName(a_err.select(F.lit("action").alias("kind"), F.col("action_id").alias("pk"), "error_reason"))
    )

    views = pin(keep_first(v_ok, ["platform_id", "view_id"], ["log_timestamp", "view_id"]))
    imps = pin(keep_first(i_ok, ["platform_id", "impression_id"], ["log_timestamp", "impression_id"]))
    acts = pin(keep_first(a_ok, ["platform_id", "action_id"], ["log_timestamp", "action_id"]))
    # dropped duplicates as a MULTISET difference (ok ∖ kept), exactly
    # the oracle's rn>1 semantics: a duplicate sharing the kept row's
    # timestamp still counts dropped (the old ts != kept-ts filter
    # missed it); exceptAll removes one instance per kept row
    def _dropped(ok: DataFrame, kept: DataFrame, kind: str, pk: str) -> DataFrame:
        proj = lambda d: d.select("platform_id", F.col(pk).alias("pk"), "log_timestamp")  # noqa: E731
        return (
            proj(ok)
            .exceptAll(proj(kept))
            .select(F.lit(kind).alias("kind"), "pk", "log_timestamp")
        )

    dup_dropped = pin(
        _dropped(v_ok, views, "view", "view_id")
        .unionByName(_dropped(i_ok, imps, "impression", "impression_id"))
        .unionByName(_dropped(a_ok, acts, "action", "action_id"))
    )

    combined = pin(combine_delivery_logs(dl_ok))
    insertions = pin(
        combined.select(
            "platform_id",
            "log_user_id",
            "request_id",
            F.col("view_id").alias("view_fk"),
            F.col("log_timestamp").alias("insertion_ms"),
            F.explode("response_insertions").alias("__i"),
        ).select(
            "platform_id",
            "log_user_id",
            "request_id",
            "view_fk",
            "insertion_ms",
            F.col("__i.insertion_id").alias("insertion_id"),
            F.col("__i.content_id").alias("content_id"),
            F.col("__i.position").alias("position"),
        )
    )

    # -- view → insertion ---------------------------------------------------
    # Each inferred join's output is staged to parquet, not pin()ned:
    # that is the pipeline's lineage cut, where the reference splits
    # the same chain at Kafka topics. The next stage's plan starts from
    # a file scan instead of reprinting the whole upstream chain once
    # per scope rank, which multiplies with every chained join.
    stage_sfx = "_skewed" if skew else ""
    v_side = views.select(
        "platform_id",
        "log_user_id",
        "view_id",
        F.col("log_timestamp").alias("view_ms"),
    ).withColumn("ts", F.timestamp_millis("view_ms"))
    ins_side = insertions.withColumn("ts", F.timestamp_millis("insertion_ms"))
    vjoin = inferred_join(
        left=v_side,
        right=ins_side,
        scopes=[Scope(("platform_id", "log_user_id"))],
        fk=("view_fk", "view_id"),
        left_ts="ts",
        right_ts="ts",
        window_before_ms=MIN10,
        window_after_ms=1000,
        left_payload=["view_id", "view_ms"],
        right_id="insertion_id",
        right_outer=True,
    )
    ins2 = stage_parquet(
        vjoin.select(
            "platform_id",
            "log_user_id",
            "request_id",
            "insertion_id",
            "content_id",
            "position",
            "insertion_ms",
            F.col("__lpick.view_id").alias("view_id"),
        ),
        f"bfj_pipeline_ins2{stage_sfx}",
    )

    # -- insertion → impression ----------------------------------------------
    ins_left = ins2.withColumn("ts", F.timestamp_millis("insertion_ms"))
    imp_right = imps.select(
        "platform_id",
        "log_user_id",
        "impression_id",
        F.col("insertion_id").alias("insertion_fk"),
        "request_id",
        "view_id",
        "content_id",
        F.col("log_timestamp").alias("impression_ms"),
    ).withColumn("ts", F.timestamp_millis("impression_ms"))
    ijoin = inferred_join(
        left=ins_left,
        right=imp_right,
        scopes=[
            Scope(("platform_id", "log_user_id", "request_id")),
            Scope(("platform_id", "log_user_id", "view_id")),
            Scope(("platform_id", "log_user_id", "content_id")),
        ],
        fk=("insertion_fk", "insertion_id"),
        left_ts="ts",
        right_ts="ts",
        window_before_ms=MIN30,
        window_after_ms=1000,
        left_payload=["insertion_id", "insertion_ms"],
        right_id="impression_id",
        right_outer=True,
        content_filter=("content_id", "content_id"),
    )
    imp_joined = stage_parquet(
        ijoin.select(
            "platform_id",
            "log_user_id",
            "impression_id",
            "content_id",
            "impression_ms",
            F.col("__lpick.insertion_id").alias("insertion_id"),
        ),
        f"bfj_pipeline_imp_joined{stage_sfx}",
    )
    imp_matched = imp_joined.filter(F.col("insertion_id").isNotNull())

    # -- redundant reduction --------------------------------------------------
    red = reduce_redundant_impressions(
        imp_matched.select(
            "platform_id",
            "log_user_id",
            "impression_id",
            "insertion_id",
            F.lit(None).cast("string").alias("view_id"),
            "content_id",
            F.col("impression_ms").alias("impression_ts"),
        ),
        ttl_ms=REDUNDANT_TTL_MS,
    )
    remap = pin(red.remap)
    kept = pin(
        imp_matched.join(
            remap.filter(~F.col("is_redundant")).select("impression_id"),
            "impression_id",
        )
    )

    # -- tiny actions + re-point ----------------------------------------------
    tiny = to_tiny_actions(
        acts.select(
            "platform_id",
            "log_user_id",
            "action_id",
            "impression_id",
            "insertion_id",
            "request_id",
            "view_id",
            "content_id",
            "action_type",
            "cart",
            "log_timestamp",
        )
    )
    tiny2 = pin(
        repoint_actions(tiny, remap).withColumn(
            "tiny_id", F.concat(F.col("action_id"), F.lit("~"), F.col("content_id"))
        )
    )

    # -- impression → action ---------------------------------------------------
    imp_left = kept.select(
        "platform_id",
        "log_user_id",
        "impression_id",
        "insertion_id",
        "content_id",
        "impression_ms",
    ).withColumn("ts", F.timestamp_millis("impression_ms"))
    act_right = tiny2.withColumn("ts", F.timestamp_millis("action_ts"))
    ajoin = inferred_join(
        left=imp_left,
        right=act_right,
        scopes=[Scope(("platform_id", "log_user_id", "content_id"))],
        fk=("impression_id", "impression_id"),
        left_ts="ts",
        right_ts="ts",
        window_before_ms=DAY,
        window_after_ms=1000,
        left_payload=["impression_id", "insertion_id", "impression_ms"],
        right_id="tiny_id",
        right_outer=True,
    )
    act_joined = stage_parquet(
        ajoin.select(
            "platform_id",
            "log_user_id",
            "tiny_id",
            "action_id",
            "action_type",
            "quantity",
            "price_usd_micros_per_unit",
            "action_ts",
            F.col("__lpick.impression_id").alias("matched_impression_id"),
            F.col("__lpick.insertion_id").alias("matched_insertion_id"),
        ),
        f"bfj_pipeline_act_joined{stage_sfx}",
    )
    attributed = act_joined.filter(F.col("matched_impression_id").isNotNull())

    # -- merge details ----------------------------------------------------------
    details = acts.filter(F.col("action_id").cast("string").isNotNull()).select(
        "action_id",
        F.concat(
            F.lit("t"), F.substring("action_id", 2, 100).cast("long") % 6
        ).alias("custom_action_type"),
        (F.substring("action_id", 2, 100).cast("long") % 13).alias("__mod13"),
    ).filter(F.col("__mod13") != 0).drop("__mod13")
    merged, dropped = merge_details_with_drops(attributed, details, ["action_id"])
    merged = pin(merged)
    dropped = pin(dropped)

    # -- flat sessions ------------------------------------------------------------
    flat = flat_response_insertions(
        kept.select(
            "platform_id",
            "log_user_id",
            "insertion_id",
            "impression_id",
            "content_id",
            F.col("impression_ms").alias("impression_ts"),
        ),
        merged.select(
            "platform_id",
            "log_user_id",
            F.col("matched_insertion_id").alias("insertion_id"),
            "action_id",
            F.col("action_type").cast("int").alias("action_type"),
            "quantity",
            "action_ts",
        ),
        gap_ms=DAY,
    )
    flat_rows = pin(
        flat.select(
            "platform_id",
            "log_user_id",
            "insertion_id",
            "session_start_ms",
            F.array_join(
                F.array_sort(
                    F.transform("impressions", lambda x: x["impression_id"])
                ),
                ",",
            ).alias("imp_ids"),
            F.array_join(
                F.array_sort(
                    F.transform(
                        "actions",
                        lambda x: F.concat(
                            x["action_id"], F.lit(":"), x["quantity"]
                        ),
                    )
                ),
                ",",
            ).alias("act_ids"),
            F.aggregate(
                "actions", F.lit(0).cast("long"), lambda s, x: s + x["quantity"]
            ).alias("total_quantity"),
        )
    )

    return [
        _stage(1, "raw_view", views_raw, _j(_nz("view_id"), _nz("log_user_id"), _nz("log_timestamp"))),
        _stage(2, "raw_delivery_log", dls_raw, _j(_nz("request_id"), _nz("client_request_id"), F.when(F.col("api_execution"), "1").otherwise("0"), _nz("log_timestamp"), F.size(F.coalesce(F.col("response_insertions"), F.array())).cast("string"))),
        _stage(3, "raw_impression", imps_raw, _j(_nz("impression_id"), _nz("insertion_id"), _nz("request_id"), _nz("view_id"), _nz("content_id"), _nz("log_timestamp"))),
        _stage(4, "raw_action", acts_raw, _j(_nz("action_id"), _nz("impression_id"), _nz("action_type"), F.size(F.coalesce(F.col("cart"), F.array())).cast("string"), _nz("log_timestamp"))),
        _stage(5, "validate_errors", errs, _j(_nz("kind"), _nz("pk"), _nz("error_reason"))),
        _stage(6, "dedup_dropped", dup_dropped, _j(_nz("kind"), _nz("pk"), _nz("log_timestamp"))),
        _stage(7, "combined_delivery_logs", combined, _j(_nz("request_id"), _nz("client_request_id"))),
        _stage(8, "tiny_insertions", insertions, _j(_nz("insertion_id"), _nz("view_fk"), _nz("content_id"), _nz("position"), _nz("insertion_ms"))),
        _stage(9, "view_insertion_matched", ins2.filter(F.col("view_id").isNotNull()), _j(_nz("insertion_id"), _nz("view_id"))),
        _stage(10, "impression_matched", imp_matched, _j(_nz("impression_id"), _nz("insertion_id"))),
        _stage(11, "redundant_remapped", remap.filter(F.col("is_redundant")), _j(_nz("impression_id"), _nz("canonical_impression_id"))),
        _stage(12, "tiny_actions", tiny2, _j(_nz("tiny_id"), _nz("impression_id"), _nz("action_type"), _nz("quantity"), _nz("price_usd_micros_per_unit"))),
        _stage(13, "action_attributed", attributed, _j(_nz("tiny_id"), _nz("matched_impression_id"), _nz("matched_insertion_id"))),
        _stage(14, "merged_details", merged, _j(_nz("tiny_id"), _nz("custom_action_type"))),
        _stage(15, "merge_dropped", dropped, _j(_nz("tiny_id"))),
        _stage(16, "flat_sessions", flat_rows, _j(_nz("platform_id"), _nz("log_user_id"), _nz("insertion_id"), _nz("session_start_ms"), _nz("imp_ids"), _nz("act_ids"), _nz("total_quantity"))),
        _yield_bp(17, "yield_view_ins_bp", ins2.filter(F.col("view_id").isNotNull()), ins2),
        _yield_bp(18, "yield_impression_bp", imp_matched, imp_joined),
        _yield_bp(
            19,
            "yield_action_bp",
            attributed.select("action_id").distinct(),
            act_joined.select("action_id").distinct(),
        ),
        *_tail_stages(spark, sf_dir, kept, merged, flat_rows, skew),
    ]


# ---------------------------------------------------------------------------
# the oracle
# ---------------------------------------------------------------------------

def _e_sql(skew: bool = False) -> str:
    # the SQL twin of _events' skew knob: user_id % 8 == 0 collapses to
    # ONE hot log_user_id (same CASE both engines → oracle stays exact)
    lu = (
        "CASE WHEN user_id % 8 = 0 THEN 'uhot'"
        " ELSE 'u' || CAST(user_id AS VARCHAR) END"
        if skew
        else "'u' || CAST(user_id AS VARCHAR)"
    )
    return f"""
  SELECT event_id AS id, epoch_ms(ts) AS ms,
         user_id % 4 AS platform_id,
         {lu} AS log_user_id,
         event_type
  FROM events
"""


_E_SQL = _e_sql()

_CS = "CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT)"


def _cs_sql(s: str) -> str:
    return _CS.format(s=s)


def _stage_sql(ord_: int, name: str, from_sql: str, s: str) -> str:
    return f"""
SELECT CAST({ord_} AS BIGINT) AS stage_ord, '{name}' AS stage,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(bit_xor({_cs_sql(s)}), 0) AS BIGINT) AS checksum
FROM {from_sql}"""


def _oracle(skew: bool = False) -> str:
    nz = "coalesce({c}, '-')"

    def j(*parts: str) -> str:
        return "concat_ws('|', " + ", ".join(parts) + ")"

    s = lambda c: f"CAST({c} AS VARCHAR)"  # noqa: E731
    body = f"""
WITH RECURSIVE e AS ({_e_sql(skew)}),
w AS MATERIALIZED (
  SELECT *,
    last_value(CASE WHEN event_type = 'view'
                    THEN 'v' || CAST(id AS VARCHAR) END IGNORE NULLS)
      OVER (PARTITION BY platform_id, log_user_id ORDER BY ms, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_view,
    last_value(CASE WHEN event_type = 'click' AND id % 3 <> 0
                    THEN 'm' || CAST(id AS VARCHAR) || '_0' END IGNORE NULLS)
      OVER (PARTITION BY platform_id, log_user_id ORDER BY ms, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_imp,
    last_value(CASE WHEN event_type = 'click' AND id % 3 <> 0
                    THEN 'c' || CAST((id * 2) % 40 AS VARCHAR) END IGNORE NULLS)
      OVER (PARTITION BY platform_id, log_user_id ORDER BY ms, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_imp_content,
    last_value(CASE WHEN event_type = 'click' AND id % 9 = 0
                    THEN 'm' || CAST(id AS VARCHAR) || '_4' END IGNORE NULLS)
      OVER (PARTITION BY platform_id, log_user_id ORDER BY ms, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_imp_red
  FROM e
),
-- children post split+push-down --------------------------------------------
rawv AS MATERIALIZED (
  SELECT platform_id, log_user_id, 'v' || CAST(id AS VARCHAR) AS view_id,
         ms AS ts FROM w WHERE event_type = 'view'
  UNION ALL
  SELECT platform_id, log_user_id, 'v' || CAST(id AS VARCHAR), ms + 10
  FROM w WHERE event_type = 'view' AND id % 7 = 0
  UNION ALL
  SELECT platform_id, log_user_id, '', ms
  FROM w WHERE event_type = 'view' AND id % 11 = 0
),
rawdl AS MATERIALIZED (
  SELECT id, platform_id, log_user_id, 'r' || CAST(id AS VARCHAR) AS request_id,
         CASE WHEN id % 5 <> 0 THEN 'c' || CAST(id AS VARCHAR) END AS cri,
         CASE WHEN id % 4 <> 0 THEN prev_view END AS view_fk,
         1 AS api, ms AS ts, 2 AS n_ins
  FROM w WHERE event_type = 'click'
  UNION ALL
  SELECT id, platform_id, log_user_id, 's' || CAST(id AS VARCHAR),
         CASE WHEN id % 5 <> 0 THEN 'c' || CAST(id AS VARCHAR) END,
         NULL, 0, ms + 500, 0
  FROM w WHERE event_type = 'click' AND id % 3 = 0
  UNION ALL
  SELECT id, platform_id, log_user_id, '', NULL, NULL, NULL, ms, 0
  FROM w WHERE event_type = 'click' AND id % 11 = 0
),
rawimp AS MATERIALIZED (
  SELECT w.id, k, platform_id, log_user_id,
         'm' || CAST(w.id AS VARCHAR) || '_' || CAST(k AS VARCHAR) AS impression_id,
         CASE WHEN (w.id + k) % 5 = 0 THEN NULL
              WHEN (w.id + k) % 7 = 0 THEN 'i' || CAST(w.id AS VARCHAR) || '_9'
              ELSE 'i' || CAST(w.id AS VARCHAR) || '_' || CAST(k AS VARCHAR)
         END AS insertion_fk,
         CASE WHEN (w.id + k) % 2 = 0 THEN 'r' || CAST(w.id AS VARCHAR) END AS request_id,
         CASE WHEN (w.id + k) % 11 = 0 AND w.id % 4 <> 0 THEN prev_view END AS view_id,
         'c' || CAST((w.id * 2 + k) % 40 AS VARCHAR) AS content_id,
         ms + 60000 + k AS ts
  FROM w, range(2) r(k)
  WHERE event_type = 'click' AND (w.id + k) % 3 <> 0
  UNION ALL
  SELECT w.id, 0, platform_id, log_user_id,
         'm' || CAST(w.id AS VARCHAR) || '_0',
         CASE WHEN w.id % 5 = 0 THEN NULL
              WHEN w.id % 7 = 0 THEN 'i' || CAST(w.id AS VARCHAR) || '_9'
              ELSE 'i' || CAST(w.id AS VARCHAR) || '_0' END,
         CASE WHEN w.id % 2 = 0 THEN 'r' || CAST(w.id AS VARCHAR) END,
         CASE WHEN w.id % 11 = 0 AND w.id % 4 <> 0 THEN prev_view END,
         'c' || CAST((w.id * 2) % 40 AS VARCHAR),
         ms + 60010
  FROM w WHERE event_type = 'click' AND w.id % 7 = 0 AND w.id % 3 <> 0
  UNION ALL
  SELECT id, 0, platform_id, log_user_id, 'mx' || CAST(id AS VARCHAR),
         NULL, NULL, NULL, NULL, ms + 60000
  FROM w WHERE event_type = 'click' AND id % 11 = 0
  UNION ALL
  SELECT w.id, x.k, platform_id, log_user_id,
         'm' || CAST(w.id AS VARCHAR) || '_' || CAST(x.k AS VARCHAR),
         'i' || CAST(w.id AS VARCHAR) || '_0', NULL, NULL,
         'c' || CAST((w.id * 2) % 40 AS VARCHAR), ms + x.off
  FROM w, (VALUES (2, 60005), (4, 60008), (3, 67000)) x(k, off)
  WHERE event_type = 'click' AND w.id % 9 = 0
),
rawact AS MATERIALIZED (
  SELECT id, platform_id, log_user_id, 'a' || CAST(id AS VARCHAR) AS action_id,
         CASE WHEN id % 2 = 0 THEN
           CASE WHEN id % 10 = 0 THEN coalesce(prev_imp_red, prev_imp)
                ELSE prev_imp END
         END AS impression_fk,
         coalesce(prev_imp_content,
                  'c' || CAST((id * 2) % 40 AS VARCHAR)) AS content_id,
         CASE WHEN id % 3 = 1 THEN 2 WHEN id % 3 = 0 THEN 3 ELSE 8 END AS action_type,
         CASE WHEN id % 3 = 1 THEN 0 ELSE 2 END AS cart_n,
         ms AS ts
  FROM w WHERE event_type = 'purchase'
  UNION ALL
  SELECT id, platform_id, log_user_id, 'a' || CAST(id AS VARCHAR),
         CASE WHEN id % 2 = 0 THEN
           CASE WHEN id % 10 = 0 THEN coalesce(prev_imp_red, prev_imp)
                ELSE prev_imp END
         END,
         coalesce(prev_imp_content, 'c' || CAST((id * 2) % 40 AS VARCHAR)),
         CASE WHEN id % 3 = 1 THEN 2 WHEN id % 3 = 0 THEN 3 ELSE 8 END,
         CASE WHEN id % 3 = 1 THEN 0 ELSE 2 END, ms + 10
  FROM w WHERE event_type = 'purchase' AND id % 7 = 0
  UNION ALL
  SELECT id, platform_id, log_user_id, 'ax' || CAST(id AS VARCHAR),
         NULL, NULL, NULL, 0, ms
  FROM w WHERE event_type = 'purchase' AND id % 11 = 0
),
-- validate --------------------------------------------------------------------
verr AS (SELECT * FROM rawv WHERE view_id = ''),
vok AS MATERIALIZED (SELECT * FROM rawv WHERE view_id <> ''),
dlerr AS (SELECT * FROM rawdl WHERE request_id = ''),
dlok AS MATERIALIZED (SELECT * FROM rawdl WHERE request_id <> ''),
ierr AS (SELECT * FROM rawimp WHERE insertion_fk IS NULL AND content_id IS NULL),
iok AS MATERIALIZED (SELECT * FROM rawimp WHERE NOT (insertion_fk IS NULL AND content_id IS NULL)),
aerr AS (SELECT * FROM rawact
         WHERE impression_fk IS NULL AND content_id IS NULL AND cart_n = 0),
aok AS MATERIALIZED (SELECT * FROM rawact
        WHERE NOT (impression_fk IS NULL AND content_id IS NULL AND cart_n = 0)),
errs AS (
  SELECT 'view' AS kind, view_id AS pk, 'missing_view_id' AS error_reason FROM verr
  UNION ALL
  SELECT 'delivery_log', request_id, 'missing_request_id' FROM dlerr
  UNION ALL
  SELECT 'impression', impression_id, 'missing_joinable_id' FROM ierr
  UNION ALL
  SELECT 'action', action_id, 'missing_joinable_id' FROM aerr
),
-- dedup -------------------------------------------------------------------------
vded AS (
  SELECT *, row_number() OVER (PARTITION BY platform_id, view_id ORDER BY ts) AS rn
  FROM vok
),
views AS MATERIALIZED (SELECT * FROM vded WHERE rn = 1),
ided AS (
  SELECT *, row_number() OVER (PARTITION BY platform_id, impression_id ORDER BY ts) AS rn
  FROM iok
),
imps AS MATERIALIZED (SELECT * FROM ided WHERE rn = 1),
aded AS (
  SELECT *, row_number() OVER (PARTITION BY platform_id, action_id ORDER BY ts) AS rn
  FROM aok
),
acts AS MATERIALIZED (SELECT * FROM aded WHERE rn = 1),
dups AS (
  SELECT 'view' AS kind, view_id AS pk, ts FROM vded WHERE rn > 1
  UNION ALL SELECT 'impression', impression_id, ts FROM ided WHERE rn > 1
  UNION ALL SELECT 'action', action_id, ts FROM aded WHERE rn > 1
),
-- combine ------------------------------------------------------------------------
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY platform_id, log_user_id, cri
    ORDER BY CASE WHEN api = 1 THEN 0 ELSE 1 END, ts, request_id
  ) AS brn
  FROM dlok WHERE cri IS NOT NULL
),
combined AS MATERIALIZED (
  SELECT id, platform_id, log_user_id, request_id, cri, view_fk, api, ts, n_ins
  FROM best WHERE brn = 1
  UNION ALL
  SELECT id, platform_id, log_user_id, request_id, cri, view_fk, api, ts, n_ins
  FROM dlok WHERE cri IS NULL
),
ins AS MATERIALIZED (
  SELECT c.id, c.platform_id, c.log_user_id, c.request_id, c.view_fk,
         c.ts AS insertion_ms,
         'i' || CAST(c.id AS VARCHAR) || '_' || CAST(k AS VARCHAR) AS insertion_id,
         'c' || CAST((c.id * 2 + k) % 40 AS VARCHAR) AS content_id,
         k AS position
  FROM combined c, range(2) r(k) WHERE c.api = 1
),
-- view -> insertion ----------------------------------------------------------------
vm0 AS (
  SELECT i.insertion_id, v.view_id, v.ts AS view_ms
  FROM ins i JOIN views v
    ON i.view_fk = v.view_id AND i.platform_id = v.platform_id
),
vrem AS (SELECT * FROM ins WHERE insertion_id NOT IN (SELECT insertion_id FROM vm0)),
vs1 AS (
  SELECT i.insertion_id, v.view_id, v.ts AS view_ms,
         row_number() OVER (PARTITION BY i.insertion_id
           ORDER BY abs(v.ts - i.insertion_ms), v.ts, v.view_id) AS rn
  FROM vrem i JOIN views v
    ON i.platform_id = v.platform_id AND i.log_user_id = v.log_user_id
   AND v.ts BETWEEN i.insertion_ms - {MIN10} AND i.insertion_ms + 1000
),
vm AS (SELECT insertion_id, view_id, view_ms FROM vm0
       UNION ALL SELECT insertion_id, view_id, view_ms FROM vs1 WHERE rn = 1),
ins2 AS MATERIALIZED (
  SELECT i.*, vm.view_id
  FROM ins i LEFT JOIN vm ON i.insertion_id = vm.insertion_id
),
-- insertion -> impression -------------------------------------------------------------
im0 AS (
  SELECT r.impression_id, s.insertion_id
  FROM imps r JOIN ins2 s
    ON r.insertion_fk = s.insertion_id AND r.platform_id = s.platform_id
  WHERE r.insertion_fk IS NOT NULL
),
irem1 AS (SELECT * FROM imps
          WHERE impression_id NOT IN (SELECT impression_id FROM im0)),
is1 AS (
  SELECT r.impression_id, s.insertion_id,
         row_number() OVER (PARTITION BY r.impression_id
           ORDER BY abs(s.insertion_ms - r.ts), s.insertion_ms, s.insertion_id) AS rn
  FROM irem1 r JOIN ins2 s
    ON r.platform_id = s.platform_id AND r.log_user_id = s.log_user_id
   AND r.request_id = s.request_id
   AND s.insertion_ms BETWEEN r.ts - {MIN30} AND r.ts + 1000
   AND (r.content_id IS NULL OR r.content_id = '' OR r.content_id = s.content_id)
  WHERE r.request_id IS NOT NULL
),
im1 AS (SELECT impression_id, insertion_id FROM is1 WHERE rn = 1),
irem2 AS (SELECT * FROM irem1
          WHERE impression_id NOT IN (SELECT impression_id FROM im1)),
is2 AS (
  SELECT r.impression_id, s.insertion_id,
         row_number() OVER (PARTITION BY r.impression_id
           ORDER BY abs(s.insertion_ms - r.ts), s.insertion_ms, s.insertion_id) AS rn
  FROM irem2 r JOIN ins2 s
    ON r.platform_id = s.platform_id AND r.log_user_id = s.log_user_id
   AND r.view_id = s.view_id
   AND s.insertion_ms BETWEEN r.ts - {MIN30} AND r.ts + 1000
   AND (r.content_id IS NULL OR r.content_id = '' OR r.content_id = s.content_id)
  WHERE r.view_id IS NOT NULL
),
im2 AS (SELECT impression_id, insertion_id FROM is2 WHERE rn = 1),
irem3 AS (SELECT * FROM irem2
          WHERE impression_id NOT IN (SELECT impression_id FROM im2)),
is3 AS (
  SELECT r.impression_id, s.insertion_id,
         row_number() OVER (PARTITION BY r.impression_id
           ORDER BY abs(s.insertion_ms - r.ts), s.insertion_ms, s.insertion_id) AS rn
  FROM irem3 r JOIN ins2 s
    ON r.platform_id = s.platform_id AND r.log_user_id = s.log_user_id
   AND r.content_id = s.content_id
   AND s.insertion_ms BETWEEN r.ts - {MIN30} AND r.ts + 1000
  WHERE r.content_id IS NOT NULL
),
im3 AS (SELECT impression_id, insertion_id FROM is3 WHERE rn = 1),
im AS (SELECT * FROM im0 UNION ALL SELECT * FROM im1
       UNION ALL SELECT * FROM im2 UNION ALL SELECT * FROM im3),
imp_matched AS MATERIALIZED (
  SELECT r.platform_id, r.log_user_id, r.impression_id, r.content_id,
         r.ts AS impression_ms, im.insertion_id
  FROM imps r JOIN im ON r.impression_id = im.impression_id
),
-- redundant epoch walk -------------------------------------------------------------
rrows AS MATERIALIZED (
  SELECT platform_id, log_user_id, insertion_id, impression_id, impression_ms,
         row_number() OVER (PARTITION BY platform_id, log_user_id, insertion_id
                            ORDER BY impression_ms, impression_id) AS rn
  FROM imp_matched
),
walk(platform_id, log_user_id, insertion_id, rn, impression_id,
     canonical_impression_id, canon_ms) AS (
  SELECT platform_id, log_user_id, insertion_id, rn, impression_id,
         impression_id, impression_ms
  FROM rrows WHERE rn = 1
  UNION ALL
  SELECT r.platform_id, r.log_user_id, r.insertion_id, r.rn, r.impression_id,
         CASE WHEN r.impression_ms <= wk.canon_ms + {REDUNDANT_TTL_MS}
              THEN wk.canonical_impression_id ELSE r.impression_id END,
         CASE WHEN r.impression_ms <= wk.canon_ms + {REDUNDANT_TTL_MS}
              THEN wk.canon_ms ELSE r.impression_ms END
  FROM rrows r JOIN walk wk
    ON r.platform_id = wk.platform_id AND r.log_user_id = wk.log_user_id
   AND r.insertion_id = wk.insertion_id AND r.rn = wk.rn + 1
),
remap AS MATERIALIZED (
  SELECT impression_id, canonical_impression_id,
         impression_id <> canonical_impression_id AS is_redundant
  FROM walk
),
kept AS MATERIALIZED (
  SELECT m.* FROM imp_matched m JOIN remap
    ON m.impression_id = remap.impression_id
  WHERE NOT remap.is_redundant
),
-- tiny actions + re-point -----------------------------------------------------------
tiny AS MATERIALIZED (
  SELECT id, platform_id, log_user_id, action_id, impression_fk, content_id,
         action_type, CAST(1 AS BIGINT) AS quantity,
         CAST(NULL AS BIGINT) AS price, ts
  FROM acts WHERE action_type = 2
  UNION ALL
  SELECT id, platform_id, log_user_id, action_id, NULL,
         content_id, action_type,
         CASE WHEN id % 2 = 0 THEN CAST(1 + id % 3 AS BIGINT) ELSE 1 END,
         CASE WHEN id % 2 = 0 THEN CAST(100000 * (1 + id % 5) AS BIGINT) END, ts
  FROM acts WHERE action_type IN (3, 8)
  UNION ALL
  SELECT id, platform_id, log_user_id, action_id, NULL,
         'c' || CAST((id + 7) % 40 AS VARCHAR), action_type,
         CAST(2 AS BIGINT), CAST(200000 AS BIGINT), ts
  FROM acts WHERE action_type IN (3, 8) AND id % 2 = 0
  UNION ALL
  SELECT id, platform_id, log_user_id, action_id, NULL,
         'c' || CAST(((id + 3) % 20) * 2 + 1 AS VARCHAR), action_type,
         CAST(3 AS BIGINT), CAST(300000 AS BIGINT), ts
  FROM acts WHERE action_type IN (3, 8) AND id % 2 = 1
  UNION ALL
  SELECT id, platform_id, log_user_id, action_id, NULL,
         'c' || CAST(((id + 9) % 20) * 2 + 1 AS VARCHAR), action_type,
         CAST(2 AS BIGINT), CAST(200000 AS BIGINT), ts
  FROM acts WHERE action_type IN (3, 8) AND id % 2 = 1
),
tiny2 AS MATERIALIZED (
  SELECT t.*, action_id || '~' || content_id AS tiny_id,
         coalesce(rm.canonical_impression_id, t.impression_fk) AS fk2
  FROM tiny t LEFT JOIN remap rm
    ON t.impression_fk = rm.impression_id AND rm.is_redundant
),
-- impression -> action ---------------------------------------------------------------
am0 AS (
  SELECT t.tiny_id, kp.impression_id, kp.insertion_id
  FROM tiny2 t JOIN kept kp
    ON t.fk2 = kp.impression_id AND t.platform_id = kp.platform_id
  WHERE t.fk2 IS NOT NULL
),
arem AS (SELECT * FROM tiny2 WHERE tiny_id NOT IN (SELECT tiny_id FROM am0)),
as1 AS (
  SELECT t.tiny_id, kp.impression_id, kp.insertion_id,
         row_number() OVER (PARTITION BY t.tiny_id
           ORDER BY abs(kp.impression_ms - t.ts), kp.impression_ms,
                    kp.impression_id) AS rn
  FROM arem t JOIN kept kp
    ON t.platform_id = kp.platform_id AND t.log_user_id = kp.log_user_id
   AND t.content_id = kp.content_id
   AND kp.impression_ms BETWEEN t.ts - {DAY} AND t.ts + 1000
  WHERE t.content_id IS NOT NULL
),
am AS (SELECT tiny_id, impression_id, insertion_id FROM am0
       UNION ALL SELECT tiny_id, impression_id, insertion_id FROM as1 WHERE rn = 1),
act_joined AS MATERIALIZED (
  SELECT t.platform_id, t.log_user_id, t.tiny_id, t.action_id, t.action_type,
         t.quantity, t.price, t.ts AS action_ts,
         am.impression_id AS matched_impression_id,
         am.insertion_id AS matched_insertion_id
  FROM tiny2 t LEFT JOIN am ON t.tiny_id = am.tiny_id
),
attributed AS MATERIALIZED (SELECT * FROM act_joined WHERE matched_impression_id IS NOT NULL),
-- merge details -------------------------------------------------------------------------
details AS MATERIALIZED (
  SELECT action_id,
         't' || CAST(CAST(substr(action_id, 2) AS BIGINT) % 6 AS VARCHAR)
           AS custom_action_type
  FROM acts WHERE CAST(substr(action_id, 2) AS BIGINT) % 13 <> 0
),
merged AS MATERIALIZED (
  SELECT a.*, d.custom_action_type
  FROM attributed a JOIN details d USING (action_id)
),
dropped AS (
  SELECT a.* FROM attributed a
  WHERE action_id NOT IN (SELECT action_id FROM details)
),
-- flat sessions ---------------------------------------------------------------------------
funion AS MATERIALIZED (
  SELECT platform_id, log_user_id, insertion_id, impression_ms AS ms,
         impression_id AS imp_id, CAST(NULL AS VARCHAR) AS act_str,
         CAST(NULL AS BIGINT) AS qty
  FROM kept
  UNION ALL
  SELECT platform_id, log_user_id, matched_insertion_id, action_ts,
         NULL, action_id || ':' || CAST(quantity AS VARCHAR), quantity
  FROM merged
),
fo AS (
  SELECT *, CASE WHEN lag(ms) OVER fw IS NULL
                   OR ms - lag(ms) OVER fw >= {DAY}
                 THEN 1 ELSE 0 END AS is_new
  FROM funion
  WINDOW fw AS (PARTITION BY platform_id, log_user_id, insertion_id ORDER BY ms)
),
fs AS (
  SELECT *, sum(is_new) OVER (
    PARTITION BY platform_id, log_user_id, insertion_id ORDER BY ms
    ROWS UNBOUNDED PRECEDING) AS sess
  FROM fo
),
flat AS MATERIALIZED (
  SELECT platform_id, log_user_id, insertion_id,
         min(ms) AS session_start_ms,
         coalesce(string_agg(imp_id, ',' ORDER BY imp_id)
                  FILTER (WHERE imp_id IS NOT NULL), '') AS imp_ids,
         coalesce(string_agg(act_str, ',' ORDER BY act_str)
                  FILTER (WHERE act_str IS NOT NULL), '') AS act_ids,
         CAST(coalesce(sum(qty), 0) AS BIGINT) AS total_quantity
  FROM fs
  GROUP BY platform_id, log_user_id, insertion_id, sess
),
-- tail: user temporal join ---------------------------------------------------------------
ujl AS (
  SELECT platform_id, log_user_id, impression_id AS pk, impression_ms AS ms
  FROM kept
  UNION ALL
  SELECT platform_id, log_user_id, tiny_id, action_ts FROM merged
),
uvers AS MATERIALIZED (
  SELECT platform_id, log_user_id, ms AS ver_ms,
         's' || CAST(max(id) % 5 AS VARCHAR) AS seg
  FROM w WHERE id % 6 = 0
  GROUP BY 1, 2, 3
),
user_joined AS MATERIALIZED (
  SELECT l.pk, u.seg, u.ver_ms
  FROM ujl l ASOF LEFT JOIN uvers u
    ON l.platform_id = u.platform_id AND l.log_user_id = u.log_user_id
   AND l.ms >= u.ver_ms
),
-- tail: AddLatestImpressions --------------------------------------------------------------
li_imp AS (
  SELECT CAST(platform_id AS VARCHAR) || '|' || log_user_id AS u,
         impression_id, impression_ms AS imp_ms, content_id
  FROM kept
),
li_act AS (
  SELECT CAST(platform_id AS VARCHAR) || '|' || log_user_id AS u,
         tiny_id AS action_id, action_ts AS act_ms,
         split_part(tiny_id, '~', 2) AS content_id
  FROM merged
),
li_fa AS (
  SELECT u, content_id, min(act_ms) AS first_act_ms FROM li_act GROUP BY 1, 2
),
li_cand AS (
  SELECT a.action_id, a.act_ms, a.u, i.impression_id, i.imp_ms, i.content_id,
         row_number() OVER (PARTITION BY a.action_id
           ORDER BY i.imp_ms DESC, i.impression_id DESC) AS r1
  FROM li_act a JOIN li_imp i ON a.u = i.u
   AND i.imp_ms < a.act_ms AND i.imp_ms >= a.act_ms - {LOOKBACK7D}
),
li_kept AS (
  SELECT c.action_id, c.impression_id, c.content_id, c.act_ms, c.imp_ms,
         row_number() OVER (PARTITION BY c.action_id
           ORDER BY c.imp_ms DESC, c.impression_id DESC) AS rnk
  FROM li_cand c
  LEFT JOIN li_fa fa ON fa.u = c.u AND fa.content_id = c.content_id
  WHERE c.r1 <= 30
    AND (fa.first_act_ms IS NULL OR fa.first_act_ms > c.act_ms)
),
latest_imps AS MATERIALIZED (
  SELECT action_id, CAST(rnk AS BIGINT) AS rank, impression_id,
         content_id AS content, act_ms - imp_ms AS gap_ms
  FROM li_kept WHERE rnk <= 25
),
-- tail: clearUserId before every sink ------------------------------------------------------
pii AS MATERIALIZED (
  SELECT 'imp' AS kind, impression_id AS pk, log_user_id FROM kept
  UNION ALL
  SELECT 'act', tiny_id, log_user_id FROM merged
  UNION ALL
  SELECT 'flat', insertion_id || ':' || CAST(session_start_ms AS VARCHAR),
         log_user_id
  FROM flat
)
"""
    stages = [
        _stage_sql(1, "raw_view", "rawv",
                   j(s("view_id"), s("log_user_id"), s("ts"))),
        _stage_sql(2, "raw_delivery_log", "rawdl",
                   j(s("request_id"), nz.format(c=s("cri")),
                     "CASE WHEN api = 1 THEN '1' ELSE '0' END",
                     s("ts"), s("n_ins"))),
        _stage_sql(3, "raw_impression", "rawimp",
                   j(s("impression_id"), nz.format(c=s("insertion_fk")),
                     nz.format(c=s("request_id")), nz.format(c=s("view_id")),
                     nz.format(c=s("content_id")), s("ts"))),
        _stage_sql(4, "raw_action", "rawact",
                   j(s("action_id"), nz.format(c=s("impression_fk")),
                     nz.format(c=s("action_type")), s("cart_n"), s("ts"))),
        _stage_sql(5, "validate_errors", "errs",
                   j(s("kind"), s("pk"), s("error_reason"))),
        _stage_sql(6, "dedup_dropped", "dups", j(s("kind"), s("pk"), s("ts"))),
        _stage_sql(7, "combined_delivery_logs", "combined",
                   j(s("request_id"), nz.format(c=s("cri")))),
        _stage_sql(8, "tiny_insertions", "ins",
                   j(s("insertion_id"), nz.format(c=s("view_fk")),
                     s("content_id"), s("position"), s("insertion_ms"))),
        _stage_sql(9, "view_insertion_matched",
                   "(SELECT * FROM ins2 WHERE view_id IS NOT NULL)",
                   j(s("insertion_id"), s("view_id"))),
        _stage_sql(10, "impression_matched", "imp_matched",
                   j(s("impression_id"), s("insertion_id"))),
        _stage_sql(11, "redundant_remapped",
                   "(SELECT * FROM remap WHERE is_redundant)",
                   j(s("impression_id"), s("canonical_impression_id"))),
        _stage_sql(12, "tiny_actions", "tiny2",
                   j(s("tiny_id"), nz.format(c=s("fk2")), s("action_type"),
                     s("quantity"), nz.format(c=s("price")))),
        _stage_sql(13, "action_attributed", "attributed",
                   j(s("tiny_id"), s("matched_impression_id"),
                     s("matched_insertion_id"))),
        _stage_sql(14, "merged_details", "merged",
                   j(s("tiny_id"), s("custom_action_type"))),
        _stage_sql(15, "merge_dropped", "dropped", j(s("tiny_id"))),
        _stage_sql(16, "flat_sessions", "flat",
                   j(s("platform_id"), s("log_user_id"), s("insertion_id"),
                     s("session_start_ms"), s("imp_ids"), s("act_ids"),
                     s("total_quantity"))),
        f"""
SELECT CAST(17 AS BIGINT), 'yield_view_ins_bp',
       CAST(CASE WHEN (SELECT count(*) FROM ins2) = 0 THEN 0
            ELSE (SELECT count(*) FROM ins2 WHERE view_id IS NOT NULL) * 10000
                 // (SELECT count(*) FROM ins2) END AS BIGINT),
       CAST(0 AS BIGINT)""",
        f"""
SELECT CAST(18 AS BIGINT), 'yield_impression_bp',
       CAST(CASE WHEN (SELECT count(*) FROM imps) = 0 THEN 0
            ELSE (SELECT count(*) FROM imp_matched) * 10000
                 // (SELECT count(*) FROM imps) END AS BIGINT),
       CAST(0 AS BIGINT)""",
        f"""
SELECT CAST(19 AS BIGINT), 'yield_action_bp',
       CAST(CASE WHEN (SELECT count(DISTINCT action_id) FROM act_joined) = 0
            THEN 0
            ELSE (SELECT count(DISTINCT action_id) FROM attributed) * 10000
                 // (SELECT count(DISTINCT action_id) FROM act_joined)
            END AS BIGINT), CAST(0 AS BIGINT)""",
        _stage_sql(20, "user_joined", "user_joined",
                   j(s("pk"), nz.format(c=s("seg")),
                     nz.format(c=s("ver_ms")))),
        _stage_sql(21, "latest_impressions", "latest_imps",
                   j(s("action_id"), s("rank"), s("impression_id"),
                     s("content"), s("gap_ms"))),
        _stage_sql(22, "pii_stripped_outputs", "pii",
                   j(s("kind"), s("pk"), "'-'", "'-'", s("log_user_id"),
                     "'-'", s("log_user_id"))),
    ]
    return body + "\nUNION ALL\n".join(stages)


_PIPELINE_ORACLE = _oracle()
_PIPELINE_ORACLE_SKEWED = _oracle(skew=True)


@register(
    "bfj_pipeline_manifest",
    oracle=_PIPELINE_ORACLE,
    # NOT a bench headliner, deliberately: fresh-process wall at sf0.1
    # swings 31-87 s shot to shot (GC/worker-churn dominated — the
    # ~80-stage topology amplifies every pause), which would inject
    # phantom regressions into the cross-round median comparison. Its
    # performance record is scripts/bench_bfj_pipeline.py (reps-5
    # in-process trimmed mean — r9: 32.5 s, spread 3.4 s at sf0.1),
    # tracked per round in docs/SCALE.md alongside the per-stage
    # profile and the 8x probe (1.9x).
    tags=("bfj", "pipeline"),
)
def bfj_pipeline_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole FlatOutputJob topology end-to-end, gated as a per-stage
    manifest (see module docstring). 100 TB posture: every stage is the
    already-plan-audited operator (bucketed equi-joins + nearest-pick
    aggregates, broadcast one-row bounds, applyInPandas only on the
    multi-row redundancy keys); the manifest adds one count+bit_xor
    aggregate per stage over pinned intermediates, so the chain is
    scanned once per stage boundary, not once per manifest row."""
    parts = _run_pipeline(spark, sf_dir)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "bfj_pipeline_manifest_skewed",
    oracle=_PIPELINE_ORACLE_SKEWED,
    tags=("bfj", "pipeline", "skew"),
)
def bfj_pipeline_manifest_skewed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full 22-stage FlatOutputJob manifest under a PLANTED HOT KEY:
    ~12-13% of all events collapse onto one ``(platform_id=0, 'uhot')``
    key (the reference's logged-out/bot shape, KeyUtil.java:27-98 —
    a power-law user that concentrates an entire key's windows, dedup
    groups, session cogroups, as-of joins and AddLatestImpressions state
    on one task). Every stage must still hash-match the DuckDB oracle
    computed over the SAME skewed derivation — correctness under skew,
    not just uniform fixtures. The sf0.1 skewed-vs-uniform wall-clock
    probe is recorded in docs/SCALE.md (the 100x concern: sub-linear
    degradation, no single-task blow-up)."""
    parts = _run_pipeline(spark, sf_dir, skew=True)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
