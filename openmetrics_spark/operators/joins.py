"""Time-aware joins.

The reference's join layer is all event-time, state+timer machinery;
these are the batch (DataFrame) twins:

- ``asof_join`` — TemporalJoinFunction / UserJoin semantics: each left
  (fact) row is enriched with the latest right (dimension) row whose
  timestamp is <= the fact's (reference:
  pipeline/.../common/functions/TemporalJoinFunction.java:25-207,
  userjoin/UserJoin.java:36-358).
- ``interval_join`` — the explicit-FK portion of the inferred-reference
  join: right rows match left rows within an event-time interval
  (reference: pipeline/.../common/functions/inferred/BaseInferred.java,
  explicit-id path :304-481).
- ``inferred_join`` — the full scope-fallback join: try the explicit
  FK, then the most specific ancestor key, fall back scope by scope,
  nearest-in-time within each scope (reference: BaseInferred.java:39-734,
  the binary-searched nearest match at :605-650, and the three
  instances ViewResponseInsertion/InsertionImpression/
  ImpressionAction ProcessFunction.java).

Scale notes: ``asof_join`` uses the union+last_value trick — ONE
shuffle+sort of |L|+|R| rows, no range-explosion, no per-key loop; this
is the standard scalable as-of on MPP engines. ``inferred_join`` is
partition-then-aggregate with one partitioning for every rank: each
side is read once and exploded into one tagged key per rank (the rank
plus that rank's key values, NULL in the fields it does not use), so
ONE equi-join on the tagged key (a hash/SMJ join, never a nested loop)
yields the candidates of the FK and of every scope, with the time
window as its residual filter. The candidates go through ONE shuffle
on the right id and one ``min_by(rank, |Δt|, ...)`` aggregate. No
per-rank join, no union, no anti-join chain, no lineage cut inside the
operator: callers that chain inferred joins cut lineage with
``tables.stage_parquet`` at their stage boundaries.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, NumericType


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    tolerance_ms: int | None = None,
) -> DataFrame:
    """Left-outer as-of (backward, inclusive): attach the most recent
    right row with ``right_ts <= left_ts`` per ``on`` key.

    Union both sides, sort once per key by (ts, side) with the right
    side winning ties, and carry the last non-null right payload
    forward. |L|+|R| rows through one shuffle — never a range join.
    """
    from pyspark.sql import Window

    lms = F.unix_millis(F.col(left_ts))
    rms = F.unix_millis(F.col(right_ts))
    payload = F.struct(rms.alias("__rms"), *[F.col(c) for c in right_cols])

    l_tag = left.select(
        *on,
        lms.alias("__ms"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        F.lit(None).cast(
            right.select(payload.alias("__rpay")).schema["__rpay"].dataType
        ).alias("__rpay"),
    )
    r_tag = right.select(
        *on,
        rms.alias("__ms"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(
            left.select(
                F.struct(*[F.col(c) for c in left.columns]).alias("__lrow")
            ).schema["__lrow"].dataType
        ).alias("__lrow"),
        payload.alias("__rpay"),
    )
    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(*on)
        .orderBy("__ms", "__side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.withColumn(
        "__match", F.last("__rpay", ignorenulls=True).over(w)
    ).filter(F.col("__side") == 1)
    if tolerance_ms is not None:
        matched = matched.withColumn(
            "__match",
            F.when(
                F.col("__ms") - F.col("__match.__rms") <= F.lit(tolerance_ms),
                F.col("__match"),
            ),
        )
    out_cols = [F.col(f"__lrow.{c}").alias(c) for c in left.columns] + [
        F.col(f"__match.{c}").alias(c) for c in right_cols
    ]
    return matched.select(*out_cols)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_ms: int,
    upper_ms: int,
    how: str = "inner",
) -> DataFrame:
    """Join right rows to left rows with
    ``left_ts + lower_ms <= right_ts <= left_ts + upper_ms`` (all in
    epoch millis), equi on ``on``. The equi keys make it a hash/SMJ
    join with the range as a residual filter — no NLJ."""
    lms = F.unix_millis(left[left_ts])
    rms = F.unix_millis(right[right_ts])
    cond = [left[c] == right[c] for c in on] + [
        rms >= lms + F.lit(lower_ms),
        rms <= lms + F.lit(upper_ms),
    ]
    joined = left.join(right, cond, how)
    return joined


@dataclass(frozen=True)
class Scope:
    """One inference scope: the equi-keys to match on, most → least
    specific, mirroring getLeftJoinIds orderings (reference:
    pipeline/.../inferred/ImpressionActionProcessFunction.java:38-56)."""

    keys: tuple[str, ...]


def _q(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _key_type(spark, col: str, a: DataType, b: DataType) -> str:
    """The SQL type both sides of key column ``col`` are cast to: their
    own type when they agree, else the wider of two numeric types as
    Spark's coercion picks it (int + bigint -> bigint). A cast never
    narrows, so no key value can raise under ANSI; keys of unrelated
    types are an error rather than a silent string comparison."""
    if a == b:
        return a.simpleString()
    if not (isinstance(a, NumericType) and isinstance(b, NumericType)):
        raise TypeError(
            f"inferred_join key {col!r} is {a.simpleString()} on one side and "
            f"{b.simpleString()} on the other; cast one side first"
        )
    expr = f"coalesce(CAST(NULL AS {a.simpleString()}), CAST(NULL AS {b.simpleString()})) AS t"
    return spark.range(0).selectExpr(expr).schema["t"].dataType.simpleString()


def _tagged_keys(
    fk_col: str | None,
    scopes: Sequence[Scope],
    fk_type: str | None,
    fields: dict[str, tuple[str, str]],
) -> str:
    """SQL for one side's tagged keys: ``explode`` of an array with one
    arm per rank, each a ``named_struct('r', rank, ...)`` holding that
    rank's key values and NULL in every field it does not use, or NULL
    when one of its keys is null (or, for a string key of a scope, empty).
    ``fk_col`` is this side's FK column (rank 0); ``fields`` maps each
    scope key column to its struct field and type."""

    def arm(rank: int, valid: list[str], used: dict[str, str]) -> str:
        vals = [f"'r', {rank}"]
        if fk_type is not None:
            vals.append(f"'fk', CAST({used.get('fk', 'NULL')} AS {fk_type})")
        vals += [
            f"'{f}', CAST({used.get(c, 'NULL')} AS {t})" for c, (f, t) in fields.items()
        ]
        return f"CASE WHEN {' AND '.join(valid)} THEN named_struct({', '.join(vals)}) END"

    arms = []
    if fk_col is not None:
        arms.append(arm(0, [f"{_q(fk_col)} IS NOT NULL"], {"fk": _q(fk_col)}))
    for rank, scope in enumerate(scopes, start=1):
        valid = []
        for c in scope.keys:
            valid.append(f"{_q(c)} IS NOT NULL")
            if fields[c][1] == "string":
                valid.append(f"{_q(c)} <> ''")
        arms.append(arm(rank, valid, {c: _q(c) for c in scope.keys}))
    return f"explode(array({', '.join(arms)})) AS __k"


def inferred_join(
    left: DataFrame,
    right: DataFrame,
    scopes: Sequence[Scope],
    fk: tuple[str, str] | None,
    left_ts: str,
    right_ts: str,
    window_before_ms: int,
    window_after_ms: int,
    left_payload: Sequence[str],
    right_id: str,
    right_outer: bool = False,
    content_filter: tuple[str, str] | None = None,
) -> DataFrame:
    """Scope-fallback nearest-in-time join (the batch oracle of the
    reference's BaseInferred state machine), as ONE equi-join on a
    tagged key and ONE ranked pick.

    Every candidate (right row, left row) pair carries a rank:

    - rank 0: if ``fk=(right_fk_col, left_pk_col)`` is given, the right
      row's FK equals the left row's PK (the "explicit id join"; no
      time window). A dangling FK yields no rank-0 candidate, so the
      row falls through to the scopes.
    - rank i+1: scope i's equi-keys are all non-null (and non-empty
      for strings) and equal, the left timestamp is within
      ``[right_ts - window_before_ms, right_ts + window_after_ms]``,
      and, with ``content_filter=(left_col, right_col)``, the left row
      carries the right row's content id whenever the right row has
      one (reference: inferred/ContentId.java:66-95).

    Each side is read once and exploded into one tagged key ``__k`` per
    rank whose keys are valid: ``(r, fk, k0, k1, ...)``, with one field
    per key column of any rank, typed as the wider of the two sides'
    columns, and NULL in the fields rank ``r`` does not use. Equal
    tagged keys are exactly the equal keys of one rank, so a single
    equi-join on ``__k`` (one shuffle or broadcast, never a nested
    loop) yields every rank's candidates; the window and content filter
    are its residual condition on ranks > 0.

    The candidates are shuffled once on the right id and reduced by one
    ``min_by`` over ``(rank, |Δt|, left_ms, left_payload)`` (``|Δt|`` is
    0 on rank 0): the lowest rank wins before distance is compared, so
    a row matched at scope i keeps that pick even when scope i+1 has a
    nearer candidate; within a rank the temporally nearest, then
    earlier, then smallest payload wins — deterministic (reference:
    BaseInferred.java:605-650).

    ``right_outer=True`` keeps unmatched right rows with a null
    ``__lpick`` (the view→insertion instance); else they are dropped
    (inner, like insertion→impression and impression→action).

    The operator does not cut lineage. Callers that chain joins, each
    stage's left being the previous stage's output, cut lineage at the
    stage boundaries with ``tables.stage_parquet`` (the reference
    splits the same chain at Kafka topics).

    Returns: right columns + ``__lpick`` struct of ``left_payload``.
    """
    if fk is None and not scopes:
        raise ValueError("inferred_join needs an fk or at least one scope")
    spark = right.sparkSession
    ltypes = {f.name: f.dataType for f in left.schema.fields}
    rtypes = {f.name: f.dataType for f in right.schema.fields}
    rfk, lpk = fk if fk is not None else (None, None)
    fk_type = None if fk is None else _key_type(spark, lpk, rtypes[rfk], ltypes[lpk])
    cols = dict.fromkeys(c for s in scopes for c in s.keys)
    fields = {
        c: (f"k{j}", _key_type(spark, c, ltypes[c], rtypes[c]))
        for j, c in enumerate(cols)
    }

    lsel = [
        f"unix_millis({_q(left_ts)}) AS __lms",
        f"struct({', '.join(_q(c) for c in left_payload)}) AS __lrow",
        _tagged_keys(lpk, scopes, fk_type, fields),
    ]
    rsel = [
        f"{_q(right_id)} AS __rid",
        f"unix_millis({_q(right_ts)}) AS __rms",
        _tagged_keys(rfk, scopes, fk_type, fields),
    ]
    residual = [
        f"__lms >= __rms - {int(window_before_ms)}",
        f"__lms <= __rms + {int(window_after_ms)}",
    ]
    if content_filter is not None:
        lc, rc = content_filter
        lsel.append(f"{_q(lc)} AS __lcontent")
        rsel.append(f"{_q(rc)} AS __rcontent")
        residual.append(
            "(__rcontent IS NULL OR __rcontent = '' OR __lcontent = __rcontent)"
        )
    # explicit side aliases: left/right usually derive from the same
    # base frame, and same-name equality on shared-lineage frames
    # trips Spark's "trivially true equals predicate" ambiguity
    l = left.selectExpr(*lsel).where("__k IS NOT NULL").alias("__L")
    r = right.selectExpr(*rsel).where("__k IS NOT NULL").alias("__R")
    cond = f"__L.__k = __R.__k AND (__R.__k.r = 0 OR ({' AND '.join(residual)}))"
    pick = (
        r.join(l, F.expr(cond), "inner")
        .selectExpr(
            "__rid",
            "named_struct('rank', __R.__k.r,"
            " 'd', CASE WHEN __R.__k.r = 0 THEN 0L ELSE abs(__lms - __rms) END,"
            " '__lms', __lms, '__lrow', __lrow) AS __ord",
            "__lrow",
        )
        .groupBy("__rid")
        .agg(F.expr("min_by(__lrow, __ord) AS __lpick"))
    )
    how = "left" if right_outer else "inner"
    keyed = right.selectExpr("*", f"{_q(right_id)} AS __rid")
    return keyed.join(pick, on="__rid", how=how).drop("__rid")


def fifo_dedupe(
    left: DataFrame,
    pk: str,
    order_cols: Sequence[str],
) -> tuple[DataFrame, DataFrame]:
    """FIFO dedupe by primary join key — the DUPLICATE_EVENTS_TAG side
    channel (reference: inferred/BaseInferred.java:336-343: the first
    LHS row stored under a primary key wins; any later LHS row with the
    same key goes to the duplicate side output and never joins).

    Batch twin: rank rows per ``pk`` by ``order_cols`` (event time
    first, plus a deterministic tiebreak) and split rank 1 / rank >1.
    One shuffle on ``pk``; the window is a map-side rank within each
    hash partition, so this scales like any groupBy on the same key.

    Returns ``(kept, duplicates)`` with the input columns unchanged.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(pk).orderBy(*[F.col(c) for c in order_cols])
    ranked = left.withColumn("__rn", F.row_number().over(w))
    kept = ranked.filter(F.col("__rn") == 1).drop("__rn")
    dups = ranked.filter(F.col("__rn") > 1).drop("__rn")
    return kept, dups


def field_mismatches(
    joined: DataFrame,
    record_id: str,
    ts_col: str,
    fields: Sequence[tuple[str, str, str]],
) -> DataFrame:
    """MismatchErrorTag side channel (reference:
    common/util/JoinValueSetter.java:40-100 via
    common/error/MismatchErrorTag.java): while filling a joined row,
    a field whose LHS value is already non-empty is NEVER overwritten —
    if the RHS carries a different non-empty value, a MismatchError
    record {field, lhs value, rhs value, record id, log timestamp} is
    emitted to the side output instead.

    ``fields`` is ``(field_name, lhs_col, rhs_col)``; one output row
    per joined row per disagreeing field. Implemented as an
    explode over a per-row literal array of field structs — a narrow
    projection, no shuffle, no UDF.

    Returns columns: ``record_id, field, lhs_value, rhs_value, ms``.
    """
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("field"),
                F.col(lhs).cast("string").alias("lhs_value"),
                F.col(rhs).cast("string").alias("rhs_value"),
            )
            for name, lhs, rhs in fields
        ]
    )
    nonempty = lambda c: c.isNotNull() & (c != "")  # noqa: E731
    return (
        joined.select(
            F.col(record_id).alias("record_id"),
            F.col(ts_col).alias("ms"),
            F.explode(pairs).alias("p"),
        )
        .filter(
            nonempty(F.col("p.lhs_value"))
            & nonempty(F.col("p.rhs_value"))
            & (F.col("p.lhs_value") != F.col("p.rhs_value"))
        )
        .select(
            "record_id",
            F.col("p.field").alias("field"),
            F.col("p.lhs_value").alias("lhs_value"),
            F.col("p.rhs_value").alias("rhs_value"),
            "ms",
        )
    )


USER_MERGE_RULES = {
    # field-wise REPLACE, not proto mergeFrom (UserUpdateMerger.java:
    # 37-110): a later update's non-empty user id wins; "once an
    # internal user, always an internal user"; ignore_usage takes the
    # latest update's value; properties replace wholesale.
    "user_id": "last_non_empty",
    "is_internal_user": "sticky_true",
    "ignore_usage": "latest",
    "properties_json": "latest_non_null",
}


def effective_users(
    users: DataFrame,
    on: Sequence[str] = ("platform_id", "log_user_id"),
    ts_col: str = "log_timestamp",
    order_col: str | None = None,
    rules: dict[str, str] | None = None,
) -> DataFrame:
    """Versioned "effective user" per key: each update row becomes the
    fold of every update at or before it (reference:
    userjoin/UserUpdateMerger.java:19-110 advanceTo — the reference
    folds the sorted update list imperatively; one pass of running
    window aggregates is the same fold, map-side sorted within each
    key partition). ``order_col`` breaks same-timestamp update ties
    (defaults to the first rule column)."""
    from pyspark.sql import Window

    rules = USER_MERGE_RULES if rules is None else rules
    present = [c for c in rules if c in users.columns]
    order = [F.col(ts_col)] + (
        [F.col(order_col)] if order_col is not None else []
    )
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = users
    for c in present:
        rule = rules[c]
        if rule == "last_non_empty":
            src = F.when(F.col(c).isNotNull() & (F.col(c) != ""), F.col(c))
            expr = F.last(src, ignorenulls=True).over(w)
        elif rule == "sticky_true":
            expr = F.max(F.coalesce(F.col(c), F.lit(False)).cast("int")).over(w) == 1
        elif rule == "latest":
            expr = F.last(F.col(c), ignorenulls=False).over(w)
        else:  # latest_non_null
            expr = F.last(F.col(c), ignorenulls=True).over(w)
        out = out.withColumn(c, expr)
    return out


def user_join(
    events: DataFrame,
    users: DataFrame,
    on: Sequence[str] = ("platform_id", "log_user_id"),
    event_ts: str = "ts",
    user_ts_ms: str = "log_timestamp",
    user_cols: Sequence[str] | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """UserJoin (reference: userjoin/UserJoin.java:36-358): attach the
    effective (version-merged) user at each event's timestamp. Batch
    form: fold the updates into versions (``effective_users``), then
    one as-of join — |events| + |updates| rows through one shuffle.
    Same-timestamp versions collapse to the last fold so the as-of
    pick is deterministic.

    ``event_ts`` is a TimestampType column; ``user_ts_ms`` is the
    update stream's epoch-millis long (the flat USER schema's
    log_timestamp)."""
    from pyspark.sql import Window

    eff = effective_users(users, on, ts_col=user_ts_ms, order_col=order_col)
    cols = [c for c in (user_cols or USER_MERGE_RULES) if c in eff.columns]
    # one version per (key, ts): the final fold at that instant —
    # order_col is the only live tiebreak (ts is a partition constant;
    # without one, fall back to ALL merged fields desc — a total order
    # over the output columns, so two versions that still tie are
    # identical in everything the join emits and the pick can't leak
    # nondeterminism downstream)
    if order_col is not None:
        worder = [F.col(order_col).desc()]
    elif cols:
        worder = [F.col(c).desc() for c in cols]
    else:
        worder = [F.lit(1)]
    wv = Window.partitionBy(*on, user_ts_ms).orderBy(*worder)
    eff = (
        eff.withColumn("__vn", F.row_number().over(wv))
        .filter(F.col("__vn") == 1)
        .drop("__vn")
        .select(
            *on,
            F.timestamp_millis(F.col(user_ts_ms)).alias("__user_ts"),
            *cols,
        )
    )
    return asof_join(
        events,
        eff,
        on=on,
        left_ts=event_ts,
        right_ts="__user_ts",
        right_cols=cols,
    )
