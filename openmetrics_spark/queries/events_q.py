"""Event-stream queries over the ``events`` table — each instantiates
one operator family from the reference pipeline (SURVEY §2) on the
driver's event stream: (event_id, ts, user_id, event_type, value,
props).

The mapping: ``user_id`` plays (platform, log_user_id); ``event_type``
plays the typed-stream split; ``value`` plays counts/GMV; ``props``
plays Properties.struct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openmetrics_spark.operators.counters import (
    epoch_bucket_ms,
    last_time_and_count,
    sliding_counter,
    top_n,
)
from openmetrics_spark.operators.dedup import keep_first, pick_best
from openmetrics_spark.operators.joins import asof_join
from openmetrics_spark.operators.metrics import cumulate_metrics, tumbling_metrics
from openmetrics_spark.operators.sessions import session_rollup
from openmetrics_spark.functions.money import exact_sum, exact_units
from openmetrics_spark.queries import register
from openmetrics_spark.tables import table

MIN15 = 15 * 60 * 1000
HOUR = 60 * 60 * 1000
HOUR4 = 4 * HOUR
DAY = 24 * HOUR
WEEK = 7 * DAY

# ---------------------------------------------------------------------------
# dedup — KeepFirstRow (reference: common/functions/KeepFirstRow.java:13-49)
# ---------------------------------------------------------------------------

_KEEP_FIRST_ORACLE = """
SELECT user_id, event_type, event_id AS first_event_id,
       epoch_ms(ts) AS first_ms, value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY ts, event_id
  ) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("keep_first_dedup", oracle=_KEEP_FIRST_ORACLE, tags=("dedup",))
def keep_first_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user, type) wins — KeepFirstRow semantics.
    Implemented as min_by aggregation (map-side combinable), not a
    row_number window: shuffle is O(keys), not O(events)."""
    ev = table(spark, sf_dir, "events")
    first = keep_first(ev, ["user_id", "event_type"], ["ts", "event_id"])
    return first.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("first_event_id"),
        F.unix_millis("ts").alias("first_ms"),
        "value",
    )


# ---------------------------------------------------------------------------
# sliding counters (reference: common/functions/SlidingHourlyCounter.java,
# SlidingDailyCounter.java — 1 h / 15 m and 1-7-30 d / 4 h)
# ---------------------------------------------------------------------------

_SLIDING_HOURLY_ORACLE = """
WITH b AS (
  SELECT user_id, (epoch_ms(ts) // 900000) * 900000 AS bucket_ms,
         count(*) AS bn
  FROM events
  GROUP BY 1, 2
)
SELECT user_id, bucket_ms + i * 900000 AS emit_ms,
       CAST(sum(bn) AS BIGINT) AS n
FROM b, range(1, 5) r(i)
GROUP BY 1, 2
"""


@register("sliding_hourly_counter", oracle=_SLIDING_HOURLY_ORACLE, headline=True, tags=("counter",))
def sliding_hourly_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1 h count per user at every 15 m emit boundary —
    SlidingHourlyCounter semantics. Pre-tumbles to 15 m buckets before
    the 4× window expansion, so raw events shuffle once."""
    ev = table(spark, sf_dir, "events")
    return sliding_counter(ev, ["user_id"], "ts", HOUR, MIN15)


_SLIDING_DAILY_ORACLE = """
WITH b AS (
  SELECT event_type, (epoch_ms(ts) // 14400000) * 14400000 AS bucket_ms,
         count(*) AS bn
  FROM events
  GROUP BY 1, 2
)
SELECT event_type, bucket_ms + i * 14400000 AS emit_ms,
       CAST(sum(bn) AS BIGINT) AS n
FROM b, range(1, 7) r(i)
GROUP BY 1, 2
"""


@register("sliding_daily_counter", oracle=_SLIDING_DAILY_ORACLE, tags=("counter",))
def sliding_daily_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1 d count per event type at every 4 h emit boundary —
    the SlidingDailyCounter shape (1/7/30 d buckets share the 4 h
    tumble; this instantiates the 1 d bucket)."""
    ev = table(spark, sf_dir, "events")
    return sliding_counter(ev, ["event_type"], "ts", DAY, HOUR4)


_LTC_ORACLE = """
WITH mx AS (
  SELECT user_id, max(epoch_ms(ts)) AS anchor FROM events GROUP BY user_id
)
SELECT e.user_id,
       max(epoch_ms(ts)) AS last_ms,
       CAST(sum(CASE WHEN epoch_ms(ts) > anchor - 604800000
                      AND epoch_ms(ts) <= anchor THEN 1 ELSE 0 END)
            AS BIGINT) AS n_horizon
FROM events e JOIN mx ON e.user_id = mx.user_id
GROUP BY e.user_id
"""


@register("last_time_and_count", oracle=_LTC_ORACLE, tags=("counter",))
def last_time_and_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: last event time + trailing-7 d count anchored at the
    USER's own last event — LastTimeAndCount semantics (reference:
    common/functions/LastTimeAndCount.java:36-299 tracks each key's
    last timestamp and TTL-trailing count; 90 d in prod)."""
    ev = table(spark, sf_dir, "events")
    return last_time_and_count(ev, ["user_id"], "ts", WEEK)


# ---------------------------------------------------------------------------
# sessionization (reference: FlatResponseInsertion session cogroup,
# job/join/FlatOutputJob.java:998-1044 — EventTimeSessionWindows 1 d gap)
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, epoch_ms(ts) AS ms, value,
         CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)) IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)) >= 1800000
              THEN 1 ELSE 0 END AS is_new
  FROM events
), s AS (
  SELECT user_id, ms, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
)
SELECT user_id, min(ms) AS session_start_ms, max(ms) AS session_end_ms,
       count(*) AS n_events, round(SUM(CAST(floor((value) * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS total_value
FROM s
GROUP BY user_id, sess
"""


@register("session_rollup_30m", oracle=_SESSION_ORACLE, headline=True, tags=("session",))
def session_rollup_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30 m-gap sessions per user with per-session rollups — the batch
    twin of the reference's event-time session-window cogroup."""
    ev = table(spark, sf_dir, "events")
    return session_rollup(
        ev,
        ["user_id"],
        "ts",
        30 * 60 * 1000,
        aggs=[F.round(exact_sum(F.col("value"), 100), 2).alias("total_value")],
    )


# ---------------------------------------------------------------------------
# as-of join (reference: common/functions/TemporalJoinFunction.java:25-207,
# userjoin/UserJoin.java — latest dimension row <= fact time)
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS purchase_ms
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, epoch_ms(ts) AS click_ms, max(event_id) AS click_id
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, epoch_ms(ts)
)
SELECT purchase_id, p.user_id AS user_id, purchase_ms,
       CASE WHEN purchase_ms - click_ms <= 3600000 THEN click_id END AS click_id,
       CASE WHEN purchase_ms - click_ms <= 3600000 THEN click_ms END AS click_ms
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND p.purchase_ms >= c.click_ms
"""


@register("asof_attribution", oracle=_ASOF_ORACLE, headline=True, tags=("join",))
def asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach the most recent prior click (≤1 h) to every purchase —
    as-of join semantics (TemporalJoinFunction / UserJoin). The Spark
    implementation is the union+last_value trick: one shuffle of
    |purchases|+|clicks| rows, no range explosion."""
    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        "ts",
        F.unix_millis("ts").alias("purchase_ms"),
    )
    # collapse same-millisecond clicks deterministically (max id), so
    # as-of tie-breaks are engine-independent
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.unix_millis("ts").alias("click_ms"))
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.timestamp_millis(F.col("click_ms")))
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="click_ts",
        right_cols=["click_id", "click_ms"],
        tolerance_ms=3600000,
    )
    return joined.select("purchase_id", "user_id", "purchase_ms", "click_id", "click_ms")


# ---------------------------------------------------------------------------
# interval join (reference: inferred/BaseInferred.java explicit-id windowed
# join; FlatOutputJob join windows [-10m,0]/[-30m,0]/[-1d,0])
# ---------------------------------------------------------------------------

_INTERVAL_ORACLE = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, epoch_ms(ts) AS pms
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id AS cuser, epoch_ms(ts) AS cms
  FROM events WHERE event_type = 'click'
)
SELECT purchase_id, user_id,
       CAST(sum(CASE WHEN cms IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks
FROM p LEFT JOIN c
  ON user_id = cuser AND cms >= pms - 3600000 AND cms < pms
GROUP BY purchase_id, user_id
"""


@register("interval_click_counts", oracle=_INTERVAL_ORACLE, tags=("join",))
def interval_click_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks within the hour before each purchase — the windowed
    explicit-id join shape of the inferred-reference join ([-1h, 0)
    here; the reference uses [-10m,0]/[-30m,0]/[-1d,0])."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_millis("ts").alias("pms"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cuser"), F.unix_millis("ts").alias("cms")
    )
    j = p.join(
        c,
        (p.user_id == c.cuser)
        & (c.cms >= p.pms - F.lit(3600000))
        & (c.cms < p.pms),
        "left",
    )
    return j.groupBy("purchase_id", "user_id").agg(
        F.sum(F.when(F.col("cms").isNotNull(), 1).otherwise(0)).alias("n_clicks")
    )


# ---------------------------------------------------------------------------
# pick-best merge (reference: common/functions/CombineDeliveryLog.java:22-210
# — merge rows sharing a key in a short window, highest priority wins)
# ---------------------------------------------------------------------------

_PICK_BEST_ORACLE = """
SELECT user_id, bucket_ms, event_id, value
FROM (
  SELECT user_id, (epoch_ms(ts) // 900000) * 900000 AS bucket_ms,
         event_id, value,
         row_number() OVER (
           PARTITION BY user_id, (epoch_ms(ts) // 900000) * 900000
           ORDER BY value DESC, event_id
         ) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("pick_best_15m", oracle=_PICK_BEST_ORACLE, tags=("dedup",))
def pick_best_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best (max-value) event per user per 15 m bucket —
    CombineDeliveryLog's pick-highest-priority-within-window semantics
    as a map-side-combinable aggregation."""
    ev = table(spark, sf_dir, "events")
    bucketed = ev.select(
        "user_id",
        epoch_bucket_ms("ts", MIN15).alias("bucket_ms"),
        "event_id",
        "value",
    )
    return pick_best(
        bucketed,
        ["user_id", "bucket_ms"],
        [(-F.col("value")).alias("neg_value"), F.col("event_id")],
    )


# ---------------------------------------------------------------------------
# content metrics (reference: job/contentmetrics resources/*.sql — unified
# stream + TUMBLE hourly/daily + CUMULATE)
# ---------------------------------------------------------------------------

_HOURLY_METRICS_ORACLE = """
SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_ms,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signups,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       round(SUM(CAST(floor((CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS revenue
FROM events
GROUP BY 1
"""


@register("hourly_event_metrics", oracle=_HOURLY_METRICS_ORACLE, headline=True, tags=("metrics",))
def hourly_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified event stream → hourly tumbling metric sums (the
    reference's 1_create_unified_event_stream.sql +
    2/3/4 hourly content metrics, re-keyed to the events table)."""
    ev = table(spark, sf_dir, "events")
    t = F.col("event_type")
    aggs = {
        "n_views": F.sum(F.when(t == "view", 1).otherwise(0)),
        "n_clicks": F.sum(F.when(t == "click", 1).otherwise(0)),
        "n_purchases": F.sum(F.when(t == "purchase", 1).otherwise(0)),
        "n_signups": F.sum(F.when(t == "signup", 1).otherwise(0)),
        "n_errors": F.sum(F.when(t == "error", 1).otherwise(0)),
        "revenue": F.round(
            exact_sum(F.when(t == "purchase", F.col("value")).otherwise(0.0), 100), 2
        ),
    }
    return tumbling_metrics(ev, [], "ts", HOUR, aggs)


_DAILY_METRICS_ORACLE = """
SELECT (epoch_ms(ts) // 86400000) * 86400000 AS window_ms,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(SUM(CAST(floor((CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS revenue
FROM events
GROUP BY 1
"""


@register("daily_event_metrics", oracle=_DAILY_METRICS_ORACLE, tags=("metrics",))
def daily_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling metrics incl. exact distinct users (the
    reference's daily content metrics, 5/6/7_...sql)."""
    ev = table(spark, sf_dir, "events")
    aggs = {
        "n_events": F.count(F.lit(1)),
        "n_users": F.countDistinct("user_id"),
        "revenue": F.round(
            exact_sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0),
                100,
            ),
            2,
        ),
    }
    return tumbling_metrics(ev, [], "ts", DAY, aggs)


_CUMULATE_ORACLE = """
WITH h AS (
  SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_ms,
         count(*) AS ne,
         SUM(CAST(floor((CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM events
  GROUP BY 1
)
SELECT (window_ms // 86400000) * 86400000 AS period_ms, window_ms,
       CAST(sum(ne) OVER w AS BIGINT) AS n_events,
       round(CAST(sum(rev_c) OVER w AS BIGINT) / 100.0, 2) AS revenue
FROM h
WINDOW w AS (PARTITION BY window_ms // 86400000 ORDER BY window_ms
             ROWS UNBOUNDED PRECEDING)
"""


@register("cumulate_hourly", oracle=_CUMULATE_ORACLE, tags=("metrics",))
def cumulate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATE(1 h step, 1 d period): intra-day cumulative totals at
    each hour — emulation of the reference's
    10_create_view_cumulated_content_metrics.sql (Flink CUMULATE).
    Running sum runs over the per-hour aggregate, not raw events."""
    ev = table(spark, sf_dir, "events")
    aggs = {
        "n_events": F.count(F.lit(1)),
        "rev_c": F.sum(
            exact_units(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0),
                100,
            )
        ),
    }
    out = cumulate_metrics(ev, [], "ts", HOUR, DAY, aggs)
    return out.select(
        "period_ms",
        "window_ms",
        "n_events",
        F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# cumulated per-content metrics in the Kinesis JSON envelope
# (reference: job/contentmetrics/resources/15_create_table_..._kinesis.sql
# + 16_insert_into_..._kinesis.sql — header.id = dt@platform@content
# dedups replays downstream; contentId top-level = partition key)
# ---------------------------------------------------------------------------

_KINESIS_ENVELOPE_ORACLE = """
WITH h AS (
  SELECT concat('c', CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS VARCHAR)) AS content_id,
         (epoch_ms(ts) // 3600000) * 3600000 AS window_ms,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nav,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pur,
         SUM(CAST(floor((CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM events
  GROUP BY 1, 2
), c AS (
  SELECT content_id, (window_ms // 86400000) * 86400000 AS period_ms, window_ms,
         CAST(sum(v) OVER w AS BIGINT) AS views,
         CAST(sum(nav) OVER w AS BIGINT) AS navigates,
         CAST(sum(pur) OVER w AS BIGINT) AS purchases,
         CAST(sum(rev_c) OVER w AS BIGINT) AS gmv_usd_cents
  FROM h
  WINDOW w AS (PARTITION BY content_id, window_ms // 86400000 ORDER BY window_ms
               ROWS UNBOUNDED PRECEDING)
)
SELECT strftime(epoch_ms(period_ms), '%Y-%m-%d') AS dt,
       content_id AS contentId,
       '1.0' AS header_version,
       'Metric' AS header_source_id,
       strftime(epoch_ms(period_ms), '%Y-%m-%d') || '@1@' || content_id AS header_id,
       'TODO' AS header_correlation_id,
       CAST(1 AS BIGINT) AS platform_id,
       'content-metrics' AS message_type,
       window_ms + 3600000 AS event_ts_ms,
       views, navigates, purchases, gmv_usd_cents
FROM c
"""


@register("cumulated_metrics_envelope", oracle=_KINESIS_ENVELOPE_ORACLE, tags=("metrics", "sink"))
def cumulated_metrics_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-content CUMULATE(1 h, 1 d) metrics wrapped in the Kinesis
    JSON envelope and flattened so every header/body field is
    value-checked (the struct/JSON rendering itself is pinned by the
    codec round-trip test)."""
    from openmetrics_spark.sources.sinks import kinesis_metric_envelope

    ev = table(spark, sf_dir, "events")
    t = F.col("event_type")
    content = F.concat(
        F.lit("c"), (F.get_json_object("props", "$.k").cast("int") % 10).cast("string")
    )
    aggs = {
        "views": F.sum(F.when(t == "view", 1).otherwise(0)),
        "navigates": F.sum(F.when(t == "click", 1).otherwise(0)),
        "purchases": F.sum(F.when(t == "purchase", 1).otherwise(0)),
        "rev_c": F.sum(
            exact_units(F.when(t == "purchase", F.col("value")).otherwise(0.0), 100)
        ),
    }
    cum = cumulate_metrics(
        ev.withColumn("content_id", content), ["content_id"], "ts", HOUR, DAY, aggs
    )
    rows = (
        cum.withColumn("gmv_usd_cents", F.col("rev_c").cast("long"))
        .withColumn("platform_id", F.lit(1).cast("long"))
        .withColumn(
            "dt", F.date_format(F.timestamp_millis(F.col("period_ms")), "yyyy-MM-dd")
        )
        .withColumn("event_ts_ms", F.col("window_ms") + F.lit(HOUR))
    )
    env = kinesis_metric_envelope(
        rows,
        content_col="content_id",
        platform_col="platform_id",
        dt_col="dt",
        event_ts_ms_col="event_ts_ms",
        metric_cols={
            "views": "views",
            "navigates": "navigates",
            "purchases": "purchases",
            "gmvUsdCents": "gmv_usd_cents",
        },
    )
    return env.select(
        "dt",
        "contentId",
        F.col("header.version").alias("header_version"),
        F.col("header.sourceId").alias("header_source_id"),
        F.col("header.id").alias("header_id"),
        F.col("header.correlationId").alias("header_correlation_id"),
        F.col("header.platformId").alias("platform_id"),
        F.col("header.messageType").alias("message_type"),
        F.unix_millis(F.col("header.eventDateTimestamp")).alias("event_ts_ms"),
        F.col("body.metrics.views").alias("views"),
        F.col("body.metrics.navigates").alias("navigates"),
        F.col("body.metrics.purchases").alias("purchases"),
        F.col("body.metrics.gmvUsdCents").alias("gmv_usd_cents"),
    )


# ---------------------------------------------------------------------------
# top-n (reference: job/counter/TopNEmitter.java + top-query computation
# CounterJob.java:393-455)
# ---------------------------------------------------------------------------

_TOP_TYPES_ORACLE = """
SELECT event_type, n FROM (
  SELECT event_type, count(*) AS n FROM events GROUP BY event_type
) ORDER BY n DESC, event_type LIMIT 3
"""


@register("top_event_types", oracle=_TOP_TYPES_ORACLE, tags=("counter",))
def top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types by frequency — TopNEmitter as
    TakeOrderedAndProject over a pre-aggregate."""
    ev = table(spark, sf_dir, "events")
    return top_n(ev, ["event_type"], F.count(F.lit(1)), 3, tiebreak=["event_type"])


# ---------------------------------------------------------------------------
# semi-structured props (reference: Properties.struct free-form payloads,
# job/join/OtherContentIdsConverter.java — extract typed keys from JSON)
# ---------------------------------------------------------------------------

_PROPS_ORACLE = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
       count(*) AS n,
       round(SUM(CAST(floor((value) * 100 + 0.5) AS BIGINT)) / 100.0 / count(*), 6) AS avg_value
FROM events
GROUP BY 1
"""


@register("props_json_metrics", oracle=_PROPS_ORACLE, tags=("props",))
def props_json_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract a typed key from the free-form JSON props column and
    aggregate on it (OtherContentIdsConverter's job: pull configured
    property keys out of Properties.struct)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                exact_sum(F.col("value"), 100) / F.count(F.lit(1)), 6
            ).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# inferred-reference join (reference: common/functions/inferred/
# BaseInferred.java:39-734 — scope-fallback nearest-in-time join; instances
# ViewResponseInsertion/InsertionImpression/ImpressionAction
# ProcessFunction.java). Here: attribute each click to the nearest prior
# view by the same user within 10 m, trying the more specific scope
# (user_id, props.k) first and falling back to (user_id) — the same
# most→least-specific ancestor walk as getLeftJoinIds. right_outer keeps
# unattributed clicks (the view→insertion instance's behavior).
# ---------------------------------------------------------------------------

_INFERRED_ORACLE = """
WITH clicks AS (
  SELECT event_id AS click_id, user_id, epoch_ms(ts) AS click_ms,
         json_extract_string(props, '$.k') AS k
  FROM events WHERE event_type = 'click'
),
views AS (
  SELECT event_id AS view_id, user_id, epoch_ms(ts) AS view_ms,
         json_extract_string(props, '$.k') AS k
  FROM events WHERE event_type = 'view'
),
s1 AS (
  SELECT c.click_id, v.view_id, v.view_ms,
         row_number() OVER (PARTITION BY c.click_id
           ORDER BY c.click_ms - v.view_ms, v.view_ms, v.view_id) AS rn
  FROM clicks c JOIN views v
    ON c.user_id = v.user_id AND c.k = v.k
   AND v.view_ms BETWEEN c.click_ms - 600000 AND c.click_ms
),
m1 AS (SELECT click_id, view_id, view_ms FROM s1 WHERE rn = 1),
s2 AS (
  SELECT c.click_id, v.view_id, v.view_ms,
         row_number() OVER (PARTITION BY c.click_id
           ORDER BY c.click_ms - v.view_ms, v.view_ms, v.view_id) AS rn
  FROM clicks c JOIN views v
    ON c.user_id = v.user_id
   AND v.view_ms BETWEEN c.click_ms - 600000 AND c.click_ms
  WHERE c.click_id NOT IN (SELECT click_id FROM m1)
),
m2 AS (SELECT click_id, view_id, view_ms FROM s2 WHERE rn = 1),
m AS (SELECT * FROM m1 UNION ALL SELECT * FROM m2)
SELECT c.click_id, c.user_id, c.click_ms, m.view_id, m.view_ms
FROM clicks c LEFT JOIN m ON c.click_id = m.click_id
"""


@register("inferred_view_attribution", oracle=_INFERRED_ORACLE, headline=True, tags=("join",))
def inferred_view_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scope-fallback nearest-in-time inferred join: each click gets the
    temporally-nearest view ≤10 m before it by the same user, preferring
    views sharing the click's props.k; unmatched clicks kept (right
    outer). Both scopes' candidates come from one equi-join on a
    rank-tagged key — no nested-loop — and one min_by aggregate over
    their ranks picks, so a (u, k) match is never overridden by a
    nearer (u) candidate."""
    from openmetrics_spark.operators.joins import Scope, inferred_join

    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        k.alias("k"),
        "ts",
        F.col("event_id").alias("view_id"),
        F.unix_millis("ts").alias("view_ms"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        k.alias("k"),
        "ts",
    )
    joined = inferred_join(
        views,
        clicks,
        scopes=[Scope(("user_id", "k")), Scope(("user_id",))],
        fk=None,
        left_ts="ts",
        right_ts="ts",
        window_before_ms=600000,
        window_after_ms=0,
        left_payload=["view_id", "view_ms"],
        right_id="click_id",
        right_outer=True,
    )
    return joined.select(
        "click_id",
        "user_id",
        F.unix_millis("ts").alias("click_ms"),
        F.col("__lpick.view_id").alias("view_id"),
        F.col("__lpick.view_ms").alias("view_ms"),
    )


# ---------------------------------------------------------------------------
# AddLatestImpressions — per action, the ≤25 most recent prior impressions
# by the same user, excluding already-actioned contents (reference:
# common/functions/AddLatestImpressions.java:33-386 — Personalize negative
# samples; state cap 30 applies before exclusion, output cap 25 after).
# Views play impressions, purchases play actions, props.k plays content_id.
# ---------------------------------------------------------------------------

def _latest_imp_oracle(lookback_ms: int = 604800000) -> str:
    """AddLatestImpressions reconstruction, parameterized on the
    impression-candidate lookback so the streaming twin (which runs
    with a span-covering lookback to keep stream == batch exact — see
    streaming_q.streaming_latest_impressions) shares the oracle."""
    return f"""
WITH imp AS (
  SELECT user_id, event_id AS impression_id, epoch_ms(ts) AS imp_ms,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events WHERE event_type = 'view'
), act AS (
  SELECT user_id, event_id AS action_id, epoch_ms(ts) AS act_ms,
         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
  FROM events WHERE event_type = 'purchase'
), fa AS (
  SELECT user_id, k, min(act_ms) AS first_act_ms FROM act GROUP BY 1, 2
), cand AS (
  SELECT a.action_id, a.act_ms, a.user_id, i.impression_id, i.imp_ms, i.k,
         row_number() OVER (PARTITION BY a.action_id
           ORDER BY i.imp_ms DESC, i.impression_id DESC) AS r1
  FROM act a JOIN imp i ON a.user_id = i.user_id
   AND i.imp_ms < a.act_ms AND i.imp_ms >= a.act_ms - {lookback_ms}
), kept AS (
  SELECT c.action_id, c.impression_id, c.k, c.act_ms, c.imp_ms,
         row_number() OVER (PARTITION BY c.action_id
           ORDER BY c.imp_ms DESC, c.impression_id DESC) AS rank
  FROM cand c LEFT JOIN fa ON fa.user_id = c.user_id AND fa.k = c.k
  WHERE c.r1 <= 30 AND (fa.first_act_ms IS NULL OR fa.first_act_ms > c.act_ms)
)
SELECT action_id, CAST(rank AS BIGINT) AS rank, impression_id,
       k AS content, act_ms - imp_ms AS gap_ms
FROM kept WHERE rank <= 25
"""


_LATEST_IMP_ORACLE = _latest_imp_oracle()


@register("latest_impressions_negatives", oracle=_LATEST_IMP_ORACLE, tags=("join", "enrich"))
def latest_impressions_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per purchase: the ≤25 most recent prior views (7 d lookback) by
    the same user whose content the user never actioned before —
    AddLatestImpressions. One user-keyed join bounded by the lookback,
    both ranking windows reuse the action-id exchange, and the
    exclusion set is a broadcast (user, content) aggregate."""
    from openmetrics_spark.operators.enrich import add_latest_impressions

    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    imp = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("impression_id"),
        F.unix_millis("ts").alias("imp_ms"),
        k.alias("k"),
    )
    act = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("action_id"),
        F.unix_millis("ts").alias("act_ms"),
        k.alias("k"),
    )
    return add_latest_impressions(imp, act, content_col="k")


# ---------------------------------------------------------------------------
# top-queries gating — RightSeenOutput + TopNFilter (reference:
# common/functions/RightSeenOutput.java:17-100, job/counter/TopNFilter.
# java:17-100, top-query computation CounterJob.java:393-455: lowercase
# the query string, drop blank/over-length ones (searchQueryLengthLimit
# = 100), xxhash64-seed-0 it, sliding-count per hash, keep hot ones,
# gate the metric stream on membership). The query string derives from
# props.k ('Q' || k); clicks elect the hot set, purchase counts are
# gated on it. Keys travel as the reference's query_hex
# (Long.toHexString of the hash, FlatUtil.java:845-882).
# ---------------------------------------------------------------------------


def _gated_oracle() -> str:
    from openmetrics_spark.functions.hashing_sql import query_hex_sql

    hashed_keys = query_hex_sql(
        """
SELECT k, lower('Q' || CAST(k AS VARCHAR)) AS __q
FROM (SELECT DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      FROM events WHERE event_type IN ('click', 'purchase'))
WHERE strlen(lower('Q' || CAST(k AS VARCHAR))) BETWEEN 1 AND 100
"""
    )
    return f"""
WITH hx AS (SELECT k, query_hex FROM {hashed_keys}),
cb AS (
  SELECT h.query_hex,
         (epoch_ms(ts) // 259200000) * 259200000 AS bucket_ms,
         count(*) AS bn
  FROM events e
  JOIN hx h ON CAST(json_extract_string(e.props, '$.k') AS INTEGER) = h.k
  WHERE e.event_type = 'click' GROUP BY 1, 2
), top AS (
  SELECT query_hex, bucket_ms + i * 259200000 AS emit_ms,
         CAST(sum(bn) AS BIGINT) AS n_clicks
  FROM cb, range(1, 5) r(i) GROUP BY 1, 2 HAVING sum(bn) >= 3
), pb AS (
  SELECT h.query_hex,
         (epoch_ms(ts) // 259200000) * 259200000 AS bucket_ms,
         count(*) AS bn
  FROM events e
  JOIN hx h ON CAST(json_extract_string(e.props, '$.k') AS INTEGER) = h.k
  WHERE e.event_type = 'purchase' GROUP BY 1, 2
), pur AS (
  SELECT query_hex, bucket_ms + i * 259200000 AS emit_ms,
         CAST(sum(bn) AS BIGINT) AS n_purchases
  FROM pb, range(1, 5) r(i) GROUP BY 1, 2
)
SELECT p.query_hex, p.emit_ms, p.n_purchases, t.n_clicks
FROM pur p JOIN top t ON p.query_hex = t.query_hex AND p.emit_ms = t.emit_ms
"""


@register("gated_query_counts", oracle=_gated_oracle(), tags=("counter", "join"))
def gated_query_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase counts per (query_hex, 12 d window sliding 3 d), gated
    on the query being 'hot' (≥3 clicks) in the same window — the
    top-queries computation (lowercase → length-cap → xxhash64 →
    hex) + RightSeenOutput membership gate. The hash runs once per
    DISTINCT query and broadcast-joins back onto the event stream (at
    100 TB queries dedupe by orders of magnitude — never hash per
    event); the hot set is tiny → broadcast join; both sides
    pre-tumble to 3 d buckets before the 4× window expansion so raw
    events shuffle once."""
    from openmetrics_spark.jobs.counter import query_hex_col

    DAY3 = 3 * DAY
    DAY12 = 12 * DAY
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    events = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        k.alias("k"), "ts", "event_type"
    )
    q = F.lower(F.concat(F.lit("Q"), F.col("k").cast("string")))
    hx = (
        events.select("k").distinct()
        .filter((F.length(q) >= 1) & (F.length(q) <= 100))
        .withColumn("query_hex", query_hex_col(q))
    )
    keyed = events.join(F.broadcast(hx), "k")
    clicks = keyed.filter(F.col("event_type") == "click").select("query_hex", "ts")
    purchases = keyed.filter(F.col("event_type") == "purchase").select(
        "query_hex", "ts"
    )
    top = (
        sliding_counter(clicks, ["query_hex"], "ts", DAY12, DAY3)
        .filter(F.col("n") >= 3)
        .withColumnRenamed("n", "n_clicks")
    )
    pur = sliding_counter(
        purchases, ["query_hex"], "ts", DAY12, DAY3
    ).withColumnRenamed("n", "n_purchases")
    return pur.join(F.broadcast(top), ["query_hex", "emit_ms"]).select(
        "query_hex", "emit_ms", "n_purchases", "n_clicks"
    )


# ---------------------------------------------------------------------------
# content lookup join — ContentApiSegment (reference: common/job/
# ContentApiSegment.java:81-180 — async HTTP + cache enrichment of each
# event with content dimensions). Batch form: broadcast-join the small
# content dimension table; documents (doc_id < 100) plays the content
# catalog, props.k plays content_id.
# ---------------------------------------------------------------------------

_CONTENT_LOOKUP_ORACLE = """
SELECT d.lang, d.source, count(*) AS n_events,
       round(SUM(CAST(floor((e.value) * 100 + 0.5) AS BIGINT)) / 100.0 / count(*), 6) AS avg_value
FROM events e
JOIN (SELECT doc_id, lang, source FROM documents WHERE doc_id < 100) d
  ON CAST(json_extract_string(e.props, '$.k') AS INTEGER) = d.doc_id
GROUP BY 1, 2
"""


@register("content_lookup_enrich", oracle=_CONTENT_LOOKUP_ORACLE, tags=("join", "enrich"))
def content_lookup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich events with content-catalog dimensions via an explicit
    broadcast hash join (the Content API lookup join without the HTTP
    hop: at 100 TB the fact side streams through map tasks, the
    ~catalog-sized dim ships once per executor), then aggregate per
    (lang, source)."""
    ev = table(spark, sf_dir, "events")
    docs = table(spark, sf_dir, "documents")
    dim = docs.filter(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("k"), "lang", "source"
    )
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(k.alias("k"), "value")
        .join(F.broadcast(dim), "k")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                exact_sum(F.col("value"), 100) / F.count(F.lit(1)), 6
            ).alias("avg_value"),
        )
    )


_DECAYED_ORACLE = """
WITH b AS (
  SELECT user_id, (epoch_ms(ts) // 86400000) * 86400000 AS bucket_ms,
         count(*) AS bn
  FROM events GROUP BY 1, 2
), a AS (
  SELECT max(bucket_ms) AS anchor_ms FROM b
), wtd AS (
  SELECT user_id, bn,
         CASE WHEN (anchor_ms - bucket_ms) // 86400000 <= 40
              THEN CAST(1 AS BIGINT)
                   << CAST(40 - (anchor_ms - bucket_ms) // 86400000 AS INT)
              ELSE 0 END AS w
  FROM b, a
)
SELECT user_id,
       CAST(sum(bn) AS BIGINT) AS n_events,
       CAST(sum(bn * w) AS BIGINT) AS decayed_scaled,
       round(CAST(CAST(sum(bn * w) AS BIGINT) AS DOUBLE)
             / 1099511627776.0, 6) AS decayed
FROM wtd GROUP BY user_id
"""


@register(
    "decayed_user_counts", oracle=_DECAYED_ORACLE, tags=("counter",)
)
def decayed_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed per-user event counts (half-life =
    1 day, anchored at the latest day bucket) — the feature-store
    upgrade of a plain trailing window: an event k days old counts
    2^-k. Engine-exact the bucketed way (operators/counters.
    time_decayed_counts): the weight is an integer shift, never float
    pow, so the driver hash-gates the decayed values themselves.
    One O(users x active days) bucket shuffle + a broadcast anchor."""
    from openmetrics_spark.operators.counters import time_decayed_counts

    ev = table(spark, sf_dir, "events")
    return time_decayed_counts(
        ev, ["user_id"], "ts", halflife_ms=86_400_000, max_k=40
    )


# ---------------------------------------------------------------------------
# purchase_attribution_ushape — position-based multi-touch attribution
# (the standard U-shape model): each purchase distributes credit over
# the user's touches (views/clicks) since their previous purchase —
# 40% first touch, 40% last touch, 20% split across the middle.
# Credit lives in integer BASIS POINTS (10000 = full credit), the
# middle split is integer DIV (n-2) — deterministic remainder drop,
# never an order-dependent float — so the model output is hash-gated.
# ---------------------------------------------------------------------------

_ATTR_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
), seg AS (
  SELECT *,
         sum(is_p) OVER (PARTITION BY user_id ORDER BY ms, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS s
  FROM ev
), segn AS (
  SELECT user_id, event_id, ms, event_type, coalesce(s, 0) AS s FROM seg
), purch AS (
  SELECT user_id, s, event_id AS purchase_id FROM segn
  WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, s, event_id, event_type, ms,
         row_number() OVER (PARTITION BY user_id, s ORDER BY ms, event_id)
           AS pos,
         count(*) OVER (PARTITION BY user_id, s) AS n
  FROM segn WHERE event_type <> 'purchase'
)
SELECT t.user_id, p.purchase_id, t.event_id AS touch_id, t.event_type,
       CAST(t.pos AS BIGINT) AS pos,
       CAST(CASE WHEN t.n = 1 THEN 10000
                 WHEN t.n = 2 THEN 5000
                 WHEN t.pos = 1 OR t.pos = t.n THEN 4000
                 ELSE 2000 // (t.n - 2) END AS BIGINT) AS credit_bp
FROM touch t JOIN purch p ON t.user_id = p.user_id AND t.s = p.s
"""


@register(
    "purchase_attribution_ushape",
    oracle=_ATTR_ORACLE,
    tags=("metrics", "attribution"),
)
def purchase_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shape multi-touch attribution: segment each user's stream by
    purchases (segment id = count of PRIOR purchases — one running-sum
    window), rank the segment's touches, credit 40/40/20 in integer
    basis points, and join touches to the segment's purchase on
    (user, segment) — an equi-join whose key includes the segment, so
    a hot user's history hashes across partitions. No interval join,
    no per-pair enumeration: two window passes + one bounded join.
    Touches after a user's last purchase fall in a segment with no
    purchase row and drop out of the inner join (unattributed, as the
    model demands). 100 TB shape: windows partition by user (the same
    per-user serialization as any keyed stream); everything else is
    hash-distributed."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            "user_id",
            "event_id",
            F.unix_millis("ts").alias("ms"),
            "event_type",
            (F.col("event_type") == "purchase").cast("long").alias("is_p"),
        )
    )
    w_seg = (
        Window.partitionBy("user_id")
        .orderBy("ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = ev.withColumn("s", F.coalesce(F.sum("is_p").over(w_seg), F.lit(0)))
    purch = seg.filter(F.col("event_type") == "purchase").select(
        "user_id", "s", F.col("event_id").alias("purchase_id")
    )
    w_pos = Window.partitionBy("user_id", "s").orderBy("ms", "event_id")
    w_n = Window.partitionBy("user_id", "s")
    touch = (
        seg.filter(F.col("event_type") != "purchase")
        .withColumn("pos", F.row_number().over(w_pos))
        .withColumn("n", F.count(F.lit(1)).over(w_n))
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(10000))
        .when(F.col("n") == 2, F.lit(5000))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), F.lit(4000))
        .otherwise(F.expr("2000 DIV (n - 2)"))
    )
    return touch.join(purch, ["user_id", "s"]).select(
        "user_id",
        "purchase_id",
        F.col("event_id").alias("touch_id"),
        "event_type",
        F.col("pos").cast("long").alias("pos"),
        credit.cast("long").alias("credit_bp"),
    )
