"""Temporal joins Spark lacks as built-ins: as-of (backward) join and
point-in-interval join, composed from unions/windows/equi-joins so
Catalyst keeps the whole plan codegen'd and shuffle-minimal.

Both are standard analytics-engine operators (DuckDB ships ASOF JOIN
natively — the oracle uses it; kdb+/pandas ``merge_asof`` are the other
common references). The reference tool's closest shape is the
engine-comparison "latest prior result" lookup, but these are built as
first-class generic operators for the events table.

Scale notes
-----------
* ``asof_join`` is the classic union-merge formulation: tag both sides,
  sort within the key partition, carry the last right-side row forward.
  ONE shuffle on the key (both inputs), one window pass — vs the naive
  inequality join which is a per-key cross product. The window
  partitions by the join key, so per-key history sorts on one reducer:
  right-sized for billions of bounded-history keys (users, instruments);
  a single pathological key with 10^8 rows would need time-bucket
  pre-splitting with boundary carry (not implemented — documented).
* ``interval_join`` buckets time: intervals explode into the fixed-width
  buckets they cover, points join on (key, bucket) and range-filter.
  Because a point falls in exactly one bucket, a matching pair meets in
  exactly one bucket — no post-join dedup. Candidate fan-out is bounded
  by interval_length / bucket_sec, never by table size; there is no
  inequality join and no CartesianProduct in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .reports import ntz_epoch

# last-touch attribution spec — shared with oracles.events_asof_sql
# (change both sides together)
ASOF_PROBE_TYPE = "purchase"
ASOF_TOUCH_TYPE = "click"

# point-in-interval bucket width — shared with oracles.session_errors_sql
INTERVAL_BUCKET_SEC = 3600


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Backward as-of join: for every ``left`` row, attach the single
    ``right`` row with the greatest ``right.ts <= left.ts`` for the
    same ``key`` (DuckDB ``ASOF LEFT JOIN`` / pandas ``merge_asof``
    semantics, ties included).

    ``right`` MUST be unique per (key, ts) — pre-reduce duplicates
    upstream (e.g. arg-max by a unique id) so the matched row is
    deterministic. All non-(key, ts) right columns are carried as one
    struct, so legitimately-NULL right values cannot mix rows.

    Union-merge shape: one shuffle on ``key`` for both inputs, one
    window pass, everything codegen'd — never an inequality join.
    """
    carry = [c for c in right.columns if c not in (key, ts)]
    if not carry:
        raise ValueError("right side needs at least one payload column")
    overlap = set(carry) & set(left.columns)
    if overlap:
        raise ValueError(f"right payload columns collide with left: {overlap}")
    l_extra = [c for c in left.columns if c not in (key, ts)]
    lt = left.select(
        key,
        ts,
        F.lit(1).alias("_tag"),
        *l_extra,
        F.lit(None)
        .cast(f"struct<{','.join(f'{c}:{right.schema[c].dataType.simpleString()}' for c in carry)}>")
        .alias("_rv"),
    )
    rt = right.select(
        key,
        ts,
        F.lit(0).alias("_tag"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in l_extra
        ],
        F.struct(*carry).alias("_rv"),
    )
    # right rows sort BEFORE left rows at the same ts (tag 0 < 1): a
    # right row at exactly left.ts matches (the <= contract)
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "_tag", *tiebreak)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = lt.unionByName(rt).withColumn(
        "_match", F.last("_rv", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("_tag") == 1).select(
        key,
        ts,
        *l_extra,
        *[F.col(f"_match.{c}").alias(c) for c in carry],
    )


def last_touch_attribution(events: DataFrame) -> DataFrame:
    """Last-touch attribution over the event log: each ``ASOF_PROBE_TYPE``
    event (purchase) attributed to the most recent ``ASOF_TOUCH_TYPE`` event
    (click) by the same user at or before it — the canonical as-of-join
    consumer. Touches are pre-reduced to one row per (user, second)
    keeping the max event_id (epoch is second-granular, so concurrent
    touches must collapse deterministically before the as-of match).

    Emits one row per probe event: probe (user_id, event_id, p_epoch),
    matched touch (click_id, click_epoch, click_value — NULL when no
    prior touch) and the attribution lag in seconds.
    """
    e = events.select(
        "user_id",
        "event_id",
        "event_type",
        ntz_epoch("ts").alias("epoch"),
        "value",
    )
    touches = (
        e.filter(F.col("event_type") == ASOF_TOUCH_TYPE)
        .groupBy("user_id", "epoch")
        .agg(
            F.max("event_id").alias("click_id"),
            F.max_by("value", "event_id").alias("click_value"),
        )
        .select(
            "user_id",
            "epoch",
            F.col("epoch").cast("long").alias("click_epoch"),
            F.col("click_id").cast("long").alias("click_id"),
            "click_value",
        )
    )
    probes = e.filter(F.col("event_type") == ASOF_PROBE_TYPE).select(
        "user_id", "epoch", "event_id"
    )
    out = asof_join(probes, touches, key="user_id", ts="epoch", tiebreak=("event_id",))
    return out.select(
        "user_id",
        F.col("event_id").cast("long").alias("event_id"),
        F.col("epoch").cast("long").alias("p_epoch"),
        "click_id",
        "click_epoch",
        (F.col("epoch").cast("long") - F.col("click_epoch")).alias("lag_sec"),
        "click_value",
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    pt: str,
    start: str,
    end: str,
    bucket_sec: int = INTERVAL_BUCKET_SEC,
) -> DataFrame:
    """Point-in-interval equi-ized range join: every ``points`` row
    paired with every ``intervals`` row of the same ``key`` whose
    [start, end] contains ``pt`` (closed bounds).

    Intervals explode into the fixed-width time buckets they cover; the
    join key is (key, bucket) and the range predicate filters after the
    hash join — no inequality join, no CartesianProduct. A point lies
    in exactly one bucket, so each qualifying pair is produced exactly
    once (no dedup pass). Interval columns must not collide with point
    columns.
    """
    overlap = (set(points.columns) & set(intervals.columns)) - {key}
    if overlap:
        raise ValueError(f"column collision between sides: {overlap}")
    b_pts = points.withColumn("_b", F.expr(f"{pt} DIV {bucket_sec}"))
    b_ivl = intervals.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.expr(f"{start} DIV {bucket_sec}"),
                F.expr(f"{end} DIV {bucket_sec}"),
            )
        ),
    )
    return (
        b_pts.join(b_ivl, on=[key, "_b"])
        .filter((F.col(pt) >= F.col(start)) & (F.col(pt) <= F.col(end)))
        .drop("_b")
    )


def session_error_attribution(events: DataFrame) -> DataFrame:
    """Attribute ``error`` events to the user session they landed in:
    sessions are built from the NON-error activity (reports.
    events_sessions gaps-and-islands), then errors join in by
    point-in-interval containment. Sessions with no errors keep a zero
    count (left join back), errors outside any session drop — the
    standard reliability rollup ("which sessions saw errors?").
    """
    from .reports import events_sessions

    non_err = events.filter(F.col("event_type") != "error")
    sessions = events_sessions(non_err)
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", ntz_epoch("ts").cast("long").alias("err_epoch")
    )
    hits = interval_join(
        errors,
        sessions.select("user_id", "session", "t_start", "t_end"),
        key="user_id",
        pt="err_epoch",
        start="t_start",
        end="t_end",
    )
    cnt = hits.groupBy("user_id", "session").agg(
        F.count("*").cast("long").alias("n_errors")
    )
    return (
        sessions.join(cnt, ["user_id", "session"], "left")
        .select(
            "user_id",
            "session",
            "n_events",
            "t_start",
            "t_end",
            F.coalesce(F.col("n_errors"), F.lit(0)).cast("long").alias("n_errors"),
        )
    )
