"""Temporal join operators — as-of join, range join, cascade rollup.

None of these exist in dumbo (batch k/v only) and none are single
built-ins in Spark; each is a *composition* of DataFrame primitives
chosen for its shuffle shape at 100 TB (SURVEY §2.4 'theta/range/as-of'
row — the operators a time-series/feature-store workload needs):

- :func:`asof_last_event` — per row, the most recent prior row of
  another kind: expressed as a carried-forward window value
  (last IGNORE NULLS over a ROWS frame), ONE shuffle on the partition
  key, no join at all. The classic implementation (per-row subquery or
  range join) is quadratic; this is linear and sort-merge friendly.
- :func:`range_self_join` — pairs of events within a time window:
  bucketed equi-join (each left row probes exactly two bucket keys),
  never an inequality cross join. Pair volume bounds the cost, and the
  equi-join shuffles hash-partitioned like any other join.
- :func:`cascade_rollup` — hypertable-style multi-resolution rollup
  (minute → hour → day) where each level re-aggregates the previous:
  legal because the aggregates are algebraic (counts and exact decimal
  sums re-sum losslessly). At scale the fine levels are materialized
  tables and the cascade is incremental; the plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dumbo_spark.functions.numeric import dmoney
from dumbo_spark.operators._checkpoint import pin


def asof_last_event(
    events: DataFrame,
    target_type: str = "purchase",
    source_type: str = "click",
    tolerance_sec: int | None = None,
) -> DataFrame:
    """For each `target_type` event: the most recent strictly-prior
    `source_type` event by the same user (as-of join, backward).

    ``tolerance_sec`` bounds staleness (pandas ``merge_asof``'s
    ``tolerance`` / kdb's windowed aj): a prior source event older than
    the bound is no match, and the target row is dropped like any other
    unmatched target. Event-enrichment pipelines almost always want
    this — attributing a purchase to a click from three weeks ago is
    noise, not signal. Plan shape is unchanged (the bound is a post-
    window predicate, still one shuffle, no join)."""
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_src = F.col("event_type") == source_type
    carried = events.select("user_id", "event_id", "ts", "event_type").withColumns(
        {
            "last_src_id": F.last(F.when(is_src, F.col("event_id")), ignorenulls=True).over(w),
            "last_src_us": F.last(F.when(is_src, us), ignorenulls=True).over(w),
        }
    )
    matched = carried.where(
        (F.col("event_type") == target_type) & F.col("last_src_id").isNotNull()
    )
    if tolerance_sec is not None:
        matched = matched.where(
            us - F.col("last_src_us") <= F.lit(tolerance_sec * 1_000_000)
        )
    return matched.select(
        "user_id",
        F.col("event_id").alias("target_id"),
        F.col("last_src_id").alias("source_id"),
        (us - F.col("last_src_us")).alias("gap_us"),
    )


def range_self_join(events: DataFrame, window_sec: int = 60) -> DataFrame:
    """Count ordered event pairs per user within `window_sec` of each
    other (0 < t_b − t_a ≤ window).

    Bucketing makes the range condition an equi-join: a pair within W
    seconds spans at most two W-sized buckets, so the left side probes
    (bucket, bucket+1) and each candidate matches exactly one key — no
    duplicates, no cross join, shuffle ∝ rows × 2.
    """
    win_us = window_sec * 1_000_000
    us = F.unix_micros("ts")
    base = events.select("user_id", F.col("event_id").alias("eid"), us.alias("us"))
    bucket = F.expr(f"us DIV {win_us}")  # integer division — no double round-trip
    left = base.select(
        "user_id",
        F.col("eid").alias("eid_a"),
        F.col("us").alias("us_a"),
        F.explode(F.array(bucket, bucket + F.lit(1))).alias("bucket"),
    )
    right = base.select(
        "user_id",
        F.col("eid").alias("eid_b"),
        F.col("us").alias("us_b"),
        bucket.alias("bucket"),
    )
    pairs = left.join(right, ["user_id", "bucket"]).where(
        (F.col("us_b") > F.col("us_a")) & (F.col("us_b") - F.col("us_a") <= win_us)
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


def cascade_rollup(events: DataFrame) -> DataFrame:
    """Day-level aggregates computed through a minute→hour→day cascade
    of re-aggregations (continuous-aggregate/hypertable pattern).
    Bit-identical to direct day aggregation because count and decimal
    sum are algebraic — which is exactly what the oracle checks."""
    minute = events.groupBy(
        F.date_trunc("minute", "ts").alias("m"), "event_type"
    ).agg(F.count("*").alias("cnt"), F.sum(dmoney("value")).alias("val"))
    hour = minute.groupBy(
        F.date_trunc("hour", "m").alias("h"), "event_type"
    ).agg(F.sum("cnt").alias("cnt"), F.sum("val").alias("val"))
    day = hour.groupBy(
        F.date_format(F.date_trunc("day", "h"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.sum("cnt").alias("n_events"),
        F.sum("val").cast("double").alias("sum_value"),
    )
    return day

def asof_next_event(
    events: DataFrame, target_type: str = "click", source_type: str = "purchase"
) -> DataFrame:
    """Forward as-of: for each `target_type` event, the NEXT
    `source_type` event by the same user — completing the as-of pair
    with :func:`asof_last_event`. Same linear shape: a carried
    first-value over the following-rows frame, one shuffle, no join."""
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    is_src = F.col("event_type") == source_type
    carried = events.select("user_id", "event_id", "ts", "event_type").withColumns(
        {
            "next_src_id": F.first(F.when(is_src, F.col("event_id")), ignorenulls=True).over(w),
            "next_src_us": F.first(F.when(is_src, us), ignorenulls=True).over(w),
        }
    )
    return (
        carried.where(
            (F.col("event_type") == target_type) & F.col("next_src_id").isNotNull()
        )
        .select(
            "user_id",
            F.col("event_id").alias("target_id"),
            F.col("next_src_id").alias("source_id"),
            (F.col("next_src_us") - us).alias("gap_us"),
        )
    )


def conversion_funnel(events: DataFrame) -> DataFrame:
    """Ordered view→click→purchase funnel per user: each stage's
    timestamp must follow the previous stage's FIRST occurrence; the
    result is one row per funnel stage with the user count that
    reached it.

    Shape: one conditional-min aggregate per user (single shuffle,
    partial-aggregated) followed by a tiny stage-count union — no
    self-joins, no per-stage scans. The canonical product-analytics
    query over an event stream of any size.
    """
    us = F.unix_micros("ts")
    # one pass: per user, first view + the sorted click/purchase
    # timestamp arrays (bounded by one user's history); stage 2/3 are
    # "first element strictly after the previous stage" array lookups
    per_user = (
        events.select("user_id", F.col("event_type").alias("et"), us.alias("us"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("et") == "view", F.col("us"))).alias("t_view"),
            F.sort_array(
                F.collect_list(F.when(F.col("et") == "click", F.col("us")))
            ).alias("clicks"),
            F.sort_array(
                F.collect_list(F.when(F.col("et") == "purchase", F.col("us")))
            ).alias("purchases"),
        )
    )

    def first_after(arr, thr):
        return F.array_min(F.filter(arr, lambda x: x > thr))

    staged = per_user.withColumn(
        "t_click", first_after(F.col("clicks"), F.col("t_view"))
    ).withColumn("t_purchase", first_after(F.col("purchases"), F.col("t_click")))
    counts = staged.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("reached_view"),
        F.count("t_click").alias("reached_click"),
        F.count("t_purchase").alias("reached_purchase"),
    )
    return counts.select(
        F.explode(
            F.array(
                F.struct(F.lit("1_view").alias("stage"), F.col("reached_view").alias("n_users")),
                F.struct(F.lit("2_click").alias("stage"), F.col("reached_click").alias("n_users")),
                F.struct(F.lit("3_purchase").alias("stage"), F.col("reached_purchase").alias("n_users")),
            )
        ).alias("s")
    ).select("s.stage", "s.n_users")


def copresence_sessions(events: DataFrame, gap_min: int = 30) -> DataFrame:
    """Interval-OVERLAP join over derived session spans: for every pair
    of users, how many of their session pairs overlapped in time — the
    co-presence / contact-graph rollup (who is active when who is
    active), and the interval-join class :func:`range_self_join`'s
    point-to-point bucketing can't express.

    Candidates come from bucketing each session onto the hour grid it
    covers (``sequence`` of hour indices, exploded): two overlapping
    closed intervals must share a covered hour, so the candidate join
    is an EQUI-join on (hour bucket) — never an inequality cross join —
    and the exact overlap predicate (s_a ≤ e_b ∧ s_b ≤ e_a) prunes the
    rest. Shared-multi-hour pairs are deduped on session identity
    before counting. Fan-out is sessions-per-hour², the co-presence
    density itself — the output's own size, not an artifact.
    """
    from dumbo_spark.operators.events import events_sessionized

    HOUR_US = 3_600_000_000
    s = events_sessionized(events, gap_min=gap_min).select(
        "user_id",
        "session_id",
        F.col("session_start_us").alias("s"),
        F.col("session_end_us").alias("e"),
    )
    bucketed = s.select(
        "user_id",
        "session_id",
        "s",
        "e",
        F.explode(
            F.sequence(F.expr(f"s DIV {HOUR_US}"), F.expr(f"e DIV {HOUR_US}"))
        ).alias("hb"),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.hb") == F.col("b.hb"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .where(
            (F.col("a.s") <= F.col("b.e")) & (F.col("b.s") <= F.col("a.e"))
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.session_id").alias("sess_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.session_id").alias("sess_b"),
        )
        .distinct()
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count("*").alias("n_overlaps")
    )


def position_attribution(events: DataFrame, window_minutes: int = 30) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution:
    every click within ``window_minutes`` before a purchase earns
    credit — first and last touch 0.4 each, interior touches split the
    remaining 0.2 evenly (single touch 1.0, two touches 0.5/0.5). The
    multi-touch generalization of the last-touch ``asof_last_click``.

    Plan: candidate (click, purchase) pairs come from the same
    user-keyed equi-join + time-band filter as ``click_attribution``
    (equi-join on user_id; the range is a post-join filter, never a
    cross product). Ranks then window per PURCHASE — group size is
    bounded by clicks-in-30-minutes, millions of tiny groups, no skew
    hazard. Credit arithmetic is IEEE-identical across engines; the
    6dp rounding follows the house convention.
    """
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    pairs = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES")
        ),
    )
    w_rank = Window.partitionBy("purchase_id").orderBy("click_ts", "click_id")
    w_all = Window.partitionBy("purchase_id")
    rn = F.row_number().over(w_rank)
    n = F.count("*").over(w_all)
    credit = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((rn == 1) | (rn == n), F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - F.lit(2)).cast("double"))
    )
    return pairs.select(
        "purchase_id",
        "click_id",
        rn.alias("position"),
        n.alias("n_touches"),
        F.round(credit, 6).alias("credit"),
    )


def asof_nearest_event(
    events: DataFrame,
    target_type: str = "purchase",
    source_type: str = "click",
    tolerance_sec: int = 3600,
) -> DataFrame:
    """Nearest-in-time as-of join (pandas ``merge_asof
    direction='nearest'``): each target event matches the closest
    ``source_type`` event by the same user in EITHER direction within
    ``tolerance_sec``; ties go to the earlier (backward) match —
    completing the as-of family (backward :func:`asof_last_event`,
    forward ``asof_next_event``, bounded variants).

    Plan: one user-partitioned window pass carries BOTH the last prior
    and first following source event (two frame variants of the same
    sort), then the winner is a pure row-local comparison — still one
    shuffle, no join, same shape as the directional forms.
    """
    us = F.unix_micros("ts")
    base = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wb = base.rowsBetween(Window.unboundedPreceding, -1)
    wf = base.rowsBetween(1, Window.unboundedFollowing)
    is_src = F.col("event_type") == source_type
    tol_us = tolerance_sec * 1_000_000

    carried = events.select("user_id", "event_id", "ts", "event_type").withColumns(
        {
            "back_id": F.last(F.when(is_src, F.col("event_id")), ignorenulls=True).over(wb),
            "back_us": F.last(F.when(is_src, us), ignorenulls=True).over(wb),
            "fwd_id": F.first(F.when(is_src, F.col("event_id")), ignorenulls=True).over(wf),
            "fwd_us": F.first(F.when(is_src, us), ignorenulls=True).over(wf),
        }
    )
    back_gap = us - F.col("back_us")
    fwd_gap = F.col("fwd_us") - us
    back_ok = F.col("back_id").isNotNull() & (back_gap <= tol_us)
    fwd_ok = F.col("fwd_id").isNotNull() & (fwd_gap <= tol_us)
    use_back = back_ok & (~fwd_ok | (back_gap <= fwd_gap))
    matched = carried.where(
        (F.col("event_type") == target_type) & (back_ok | fwd_ok)
    )
    return matched.select(
        "user_id",
        F.col("event_id").alias("target_id"),
        F.when(use_back, F.col("back_id")).otherwise(F.col("fwd_id")).alias("source_id"),
        F.when(use_back, back_gap).otherwise(-fwd_gap).alias("gap_us"),
    )


def funnel_time_bounded(events: DataFrame, bound_sec: int = 3600) -> DataFrame:
    """Time-bounded ordered funnel: view → click → purchase where each
    stage must complete within ``bound_sec`` of the PREVIOUS stage —
    the conversion-velocity variant of :func:`conversion_funnel`
    (a purchase three weeks after the click is a different journey,
    not this funnel).

    Same one-pass shape: per-user conditional-min + sorted stage
    arrays (bounded by one user's history), stage lookups are
    "first element in (prev, prev + bound]" array expressions — no
    self-joins, no per-stage scans, one shuffle.
    """
    us = F.unix_micros("ts")
    bound_us = bound_sec * 1_000_000
    per_user = (
        events.select("user_id", F.col("event_type").alias("et"), us.alias("us"))
        .groupBy("user_id")
        .agg(
            F.min(F.when(F.col("et") == "view", F.col("us"))).alias("t_view"),
            F.sort_array(
                F.collect_list(F.when(F.col("et") == "click", F.col("us")))
            ).alias("clicks"),
            F.sort_array(
                F.collect_list(F.when(F.col("et") == "purchase", F.col("us")))
            ).alias("purchases"),
        )
    )

    def first_within(arr, thr):
        return F.array_min(
            F.filter(arr, lambda x: (x > thr) & (x <= thr + F.lit(bound_us)))
        )

    staged = per_user.withColumn(
        "t_click", first_within(F.col("clicks"), F.col("t_view"))
    ).withColumn("t_purchase", first_within(F.col("purchases"), F.col("t_click")))
    counts = staged.agg(
        F.count("t_view").alias("reached_view"),
        F.count("t_click").alias("reached_click"),
        F.count("t_purchase").alias("reached_purchase"),
    )
    return counts.select(
        F.explode(
            F.array(
                F.struct(F.lit("1_view").alias("stage"), F.col("reached_view").alias("n_users")),
                F.struct(F.lit("2_click").alias("stage"), F.col("reached_click").alias("n_users")),
                F.struct(F.lit("3_purchase").alias("stage"), F.col("reached_purchase").alias("n_users")),
            )
        ).alias("s")
    ).select("s.stage", "s.n_users")


def cart_abandonment(events: DataFrame, window_minutes: int = 60) -> DataFrame:
    """Daily cart abandonment: of the users who clicked on a given
    day, how many never purchased within ``window_minutes`` of any of
    that day's clicks — the inverse of the conversion funnel and the
    metric a checkout team actually watches.

    Converters come from the same user-keyed click⋈purchase time-band
    equi-join as the attribution family (bounded candidates); both
    sides then collapse to per-(day, user) flags and one counting
    aggregate per day. Rates are ratios of exact longs.
    """
    # lazy checkpoint (r15, guide §2.4): the click slice feeds both the
    # conversion band-join and the clickers rollup — unpinned it
    # scanned the event table twice
    clicks = pin(
        events.where(F.col("event_type") == "click").select(
            "user_id",
            F.col("ts").alias("click_ts"),
            F.col("ts").cast("date").alias("day"),
        )
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
    )
    converted = (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES")
            ),
        )
        .select("day", "user_id")
        .distinct()
        .withColumn("_conv", F.lit(1))
    )
    clickers = clicks.select("day", "user_id").distinct()
    per_day = (
        clickers.join(converted, ["day", "user_id"], "left")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_clickers"),
            F.count("_conv").alias("n_converted"),
        )
    )
    return per_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_clickers",
        "n_converted",
        F.round(
            (F.col("n_clickers") - F.col("n_converted")).cast("double")
            / F.col("n_clickers").cast("double"),
            6,
        ).alias("abandonment_rate"),
    )
