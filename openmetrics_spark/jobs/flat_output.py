"""The flat-output job: the reference's multi-stage streaming join
pipeline as a batch DataFrame DAG (reference:
pipeline/.../job/join/FlatOutputJob.java:394-1044; logical flow in
SURVEY §3.1):

    validate → dedupe (keep-first) → traffic/bot filters
    → combine delivery logs (API beats SDK per client_request_id)
    → tiny projections (cart fan-out on actions)
    → inferred join: view → response insertion   (right-outer, [-10m, +1s])
    → inferred join: insertion → impression      (inner,       [-30m, +1s])
    → inferred join: impression → action         (inner,       [-1d,  +1s])
    → reduce redundant impressions (+ re-point actions)
    → flat response insertions (session cogroup, 1 d gap)
    → PII strip

Every drop lands in a named side table (the reference's
etl_side/dropped_*/late_* outputs).

Scale notes: each inferred-join stage shuffles on its scope keys —
all scopes share the (platform_id, log_user_id) prefix, so Spark
reuses the exchange across the fallback stages; the dims stay
per-user so skew maps to hot users (AQE skew-join splits those).
Each join's output is staged to parquet before the next stage reads
it: the lineage cut the reference makes at its Kafka topics, without
which every downstream plan reprints the whole upstream chain once per
scope rank.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openmetrics_spark.operators.dedup import keep_first
from openmetrics_spark.operators.filters import (
    filter_bots,
    filter_non_buyers,
    filter_non_production,
)
from openmetrics_spark.operators.flat import (
    clear_user_id,
    combine_delivery_logs,
    fix_delivery_log,
    flat_response_insertions,
    merge_details,
    reduce_redundant_impressions,
    repoint_actions,
    restructure_delivery_log,
    to_tiny_actions,
    to_tiny_impressions,
    to_tiny_insertions,
    to_tiny_view,
)
from openmetrics_spark.operators.joins import Scope, inferred_join
from openmetrics_spark.operators.validate import (
    validate_action,
    validate_delivery_log,
    validate_impression,
    validate_view,
)
from openmetrics_spark.tables import stage_parquet

MIN10 = 10 * 60 * 1000
MIN30 = 30 * 60 * 1000
DAY = 24 * 60 * 60 * 1000
SEC1 = 1000


@dataclass
class FlatOutputConfig:
    """Join windows — defaults mirror the reference's flags
    (FlatOutputJob.java:165-240)."""

    view_insertion_before_ms: int = MIN10
    insertion_impression_before_ms: int = MIN30
    impression_action_before_ms: int = DAY
    max_out_of_order_ms: int = SEC1
    redundant_impression_ttl_ms: int = DAY
    flat_response_insertion_gap_ms: int = DAY
    # BuyerPredicate config (FlatOutputJob.java:279-284): sparse
    # feature hashes that mark non-buyer (internal/test) users
    non_buyer_feature_hashes: tuple[int, ...] = ()


def run_flat_output(
    view: DataFrame,
    delivery_log: DataFrame,
    impression: DataFrame,
    action: DataFrame,
    cfg: FlatOutputConfig | None = None,
) -> dict[str, DataFrame]:
    """Returns the output tables + side tables, keyed by name."""
    cfg = cfg or FlatOutputConfig()
    side: dict[str, DataFrame] = {}
    # per-call stage tags: a later run must not overwrite the files
    # this run's lazy outputs still read
    run = uuid.uuid4().hex

    # 1. validate (errors → side), 2. dedupe first-wins per primary key
    view, side["invalid_view"] = validate_view(view)
    delivery_log, side["invalid_delivery_log"] = validate_delivery_log(delivery_log)
    impression, side["invalid_impression"] = validate_impression(impression)
    action, side["invalid_action"] = validate_action(action)

    view = keep_first(view, ["platform_id", "view_id"], ["log_timestamp"])
    delivery_log = keep_first(
        delivery_log, ["platform_id", "request_id"], ["log_timestamp"]
    )
    impression = keep_first(
        impression, ["platform_id", "impression_id"], ["log_timestamp"]
    )
    action = keep_first(action, ["platform_id", "action_id"], ["log_timestamp"])

    # 2b. legacy-layout normalization + field repairs
    # (RestructureDeliveryLog / FixDeliveryLog, FlatOutputJob.java:437-442)
    delivery_log = fix_delivery_log(restructure_delivery_log(delivery_log))

    # 3. traffic + bot filters (reference applies them before the join
    # fan-out "to improve throughput" — FlatOutputJob.java:435-442)
    delivery_log, side["dropped_shadow_delivery_log"] = filter_non_production(
        delivery_log
    )
    delivery_log, side["dropped_bot_delivery_log"] = filter_bots(delivery_log)
    view, side["dropped_bot_view"] = filter_bots(view)

    # 4. combine API+SDK delivery logs
    combined_dl = combine_delivery_logs(delivery_log)

    # 5. tiny projections
    tiny_view = to_tiny_view(view)
    tiny_ins = to_tiny_insertions(combined_dl)
    tiny_imp = to_tiny_impressions(impression)
    tiny_act = to_tiny_actions(action)

    # 6. view → response insertion (right-outer: insertions without a
    # view pass through with null view — ViewResponseInsertion
    # ProcessFunction.java:10-48)
    ins_joined = inferred_join(
        left=tiny_view.withColumn("ts", F.timestamp_millis("view_ts")),
        right=tiny_ins.withColumn("ts", F.timestamp_millis("insertion_ts")),
        scopes=[Scope(("platform_id", "log_user_id"))],
        fk=("view_id", "view_id"),
        left_ts="ts",
        right_ts="ts",
        window_before_ms=cfg.view_insertion_before_ms,
        window_after_ms=cfg.max_out_of_order_ms,
        left_payload=["view_id", "view_ts"],
        right_id="insertion_id",
        right_outer=True,
    )
    insertions = stage_parquet(ins_joined, f"flat_output_{run}_ins").select(
        "platform_id",
        "log_user_id",
        F.coalesce(F.col("__lpick.view_id"), F.col("view_id")).alias("view_id"),
        "request_id",
        "insertion_id",
        "content_id",
        "position",
        "insertion_ts",
    ).drop("__lpick")

    # 7. insertion → impression (inner; unjoined impressions → side)
    imp_joined = inferred_join(
        left=insertions.withColumn("ts", F.timestamp_millis("insertion_ts")),
        right=tiny_imp.withColumn("ts", F.timestamp_millis("impression_ts")),
        scopes=[
            Scope(("platform_id", "log_user_id", "request_id")),
            Scope(("platform_id", "log_user_id", "view_id")),
            Scope(("platform_id", "log_user_id", "content_id")),
        ],
        fk=("insertion_id", "insertion_id"),
        left_ts="ts",
        right_ts="ts",
        window_before_ms=cfg.insertion_impression_before_ms,
        window_after_ms=cfg.max_out_of_order_ms,
        left_payload=[
            "insertion_id",
            "request_id",
            "view_id",
            "content_id",
            "position",
            "insertion_ts",
        ],
        right_id="impression_id",
        right_outer=True,
        content_filter=("content_id", "content_id"),
    )
    imp_joined = stage_parquet(imp_joined, f"flat_output_{run}_imp")
    side["dropped_unjoined_impression"] = imp_joined.filter(
        F.col("__lpick").isNull()
    ).drop("__lpick")
    impressions = (
        imp_joined.filter(F.col("__lpick").isNotNull())
        .select(
            "platform_id",
            "log_user_id",
            "impression_id",
            F.col("__lpick.insertion_id").alias("insertion_id"),
            F.col("__lpick.request_id").alias("request_id"),
            F.col("__lpick.view_id").alias("view_id"),
            F.coalesce(F.col("content_id"), F.col("__lpick.content_id")).alias(
                "content_id"
            ),
            F.col("__lpick.position").alias("position"),
            "impression_ts",
        )
    )

    # 8. impression → action (inner; unjoined actions → side)
    act_joined = inferred_join(
        left=impressions.withColumn("ts", F.timestamp_millis("impression_ts")),
        right=tiny_act.withColumn("ts", F.timestamp_millis("action_ts")),
        scopes=[
            Scope(("platform_id", "log_user_id", "insertion_id")),
            Scope(("platform_id", "log_user_id", "request_id")),
            Scope(("platform_id", "log_user_id", "view_id")),
            Scope(("platform_id", "log_user_id", "content_id")),
        ],
        fk=("impression_id", "impression_id"),
        left_ts="ts",
        right_ts="ts",
        window_before_ms=cfg.impression_action_before_ms,
        window_after_ms=cfg.max_out_of_order_ms,
        left_payload=[
            "impression_id",
            "insertion_id",
            "request_id",
            "view_id",
            "content_id",
            "position",
            "impression_ts",
        ],
        right_id="action_id",
        right_outer=True,
        content_filter=("content_id", "content_id"),
    )
    act_joined = stage_parquet(act_joined, f"flat_output_{run}_act")
    side["dropped_unjoined_action"] = act_joined.filter(
        F.col("__lpick").isNull()
    ).drop("__lpick")
    actions = (
        act_joined.filter(F.col("__lpick").isNotNull())
        .select(
            "platform_id",
            "log_user_id",
            "action_id",
            "action_type",
            F.col("__lpick.impression_id").alias("impression_id"),
            F.col("__lpick.insertion_id").alias("insertion_id"),
            F.col("__lpick.request_id").alias("request_id"),
            F.col("__lpick.view_id").alias("view_id"),
            F.coalesce(F.col("content_id"), F.col("__lpick.content_id")).alias(
                "content_id"
            ),
            "quantity",
            "price_usd_micros_per_unit",
            "action_ts",
        )
    )

    # 9. redundant impressions: suppress + re-point actions
    reduced = reduce_redundant_impressions(impressions, cfg.redundant_impression_ttl_ms)
    side["redundant_impression"] = reduced.redundant
    impressions = reduced.kept
    actions = repoint_actions(actions, reduced.remap)

    # 9b. BuyerPredicate: drop flat events of configured non-buyer
    # users (no-op unless hashes are configured and the column exists)
    if (
        cfg.non_buyer_feature_hashes
        and "user_sparse_feature_hashes" in actions.columns
    ):
        actions, side["dropped_non_buyer_action"] = filter_non_buyers(
            actions, list(cfg.non_buyer_feature_hashes)
        )

    # 10. flat response insertions (session cogroup, 1 d gap)
    flat = flat_response_insertions(
        impressions, actions, cfg.flat_response_insertion_gap_ms
    )

    # 10b. merge details: re-attach request-level payload (search
    # query, user agent) onto joined impressions by primary key —
    # MergeImpressionDetails as a plain pk join (Catalyst broadcasts
    # the small side; no stateful cache needed)
    request_details = combined_dl.select(
        "platform_id", "request_id", "search_query", "user_agent"
    )
    detailed = merge_details(
        impressions, request_details, ["platform_id", "request_id"]
    )

    # 11. PII strip on everything that leaves the job
    out = {
        "joined_impression": clear_user_id(impressions),
        "joined_action": clear_user_id(actions),
        "joined_impression_detailed": clear_user_id(detailed),
        "flat_response_insertion": clear_user_id(flat),
    }
    out.update({f"side_{k}": v for k, v in side.items()})
    return out
