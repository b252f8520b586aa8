"""Event-time window operators (batch forms).

Dumbo is batch-only (SURVEY §2.4: no watermarks, windows, state, or
late-data handling — timestamps were strings/epochs by convention,
§1.2). These operators are therefore pure gap rows: the capabilities a
stream pipeline needs, expressed first in batch form so they carry a
full SQL oracle, and re-used by dumbo_spark.streaming with
``readStream`` + ``withWatermark`` for the continuous versions.

Determinism notes: the fixture's nanosecond timestamps are truncated
to microseconds at scan (sources/catalog.py), and session-gap logic
compares epoch *microseconds* (exact integers) rather than intervals,
so batch and oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dumbo_spark.functions.numeric import dmoney, dsum
from dumbo_spark.operators._checkpoint import pin

SESSION_GAP_MIN = 30


def events_by_day(events: DataFrame) -> DataFrame:
    """Daily rollup by event type (calendar bucketing — dumbo carried
    timestamps as strings and had nothing like this)."""
    # calendar buckets go out as ISO strings: date/timestamp objects
    # round-trip differently through Arrow/pandas per engine, strings
    # hash identically everywhere
    return (
        events.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
    )


def events_tumbling_1h(events: DataFrame) -> DataFrame:
    """Tumbling event-time window (batch form of the streaming op).

    ``F.window`` is the same operator Structured Streaming uses; in
    batch it degenerates to epoch-aligned bucketing, which is what the
    oracle's date_trunc('hour') computes.
    """
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def events_sliding_1h_30m(events: DataFrame) -> DataFrame:
    """Sliding event-time window (1h window, 30m slide): every event
    lands in exactly two windows. Same ``F.window`` operator streaming
    uses; the oracle enumerates the two epoch-aligned candidate starts
    per event."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def events_session_window(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Gap sessionization via the built-in ``session_window`` operator
    (the one Structured Streaming shares). Merge rule: windows merge
    iff they overlap, i.e. a gap strictly smaller than ``gap_min``
    continues a session — the oracle's islands computation uses >= for
    the break accordingly."""
    return (
        events.groupBy(F.session_window("ts", f"{gap_min} minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


def assign_sessions(
    df: DataFrame, gap_min: int, id_col: str = "session_id"
) -> DataFrame:
    """Gap-islands session assignment — THE shared sessionizer core:
    lag(ts) → gap>Δ flag → cumulative sum = island id (SURVEY §7.3#4).
    Appends ``id_col`` (0-based per user), keeps every input column;
    callers pre-select/filter (``df`` must carry ``user_id``,
    ``event_id``, ``ts``). Gap comparison is on exact epoch
    microseconds with BATCH ``>`` semantics: a gap strictly greater
    than ``gap_min`` starts a new island. (The streaming
    ``session_window`` twin closes at ``>=`` — the two semantics are
    intentionally distinct; factoring this into one helper keeps the
    batch family from drifting, ADVICE r4.)

    Scale: one shuffle on user_id; islands never span users, so the
    window never serializes more than one user's events per task — at
    100 TB that is the natural partitioning (and AQE splits stragglers).
    """
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_min * 60 * 1_000_000
    flagged = df.withColumn(
        "_new_island",
        F.when(us - F.lag(us).over(w) > gap_us, 1).otherwise(0),
    )
    return flagged.withColumn(
        id_col,
        F.sum("_new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("_new_island")


def events_sessionized(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Gap-based sessionization per user (batch form) — the islands
    trick via :func:`assign_sessions`, rolled up per session. The
    streaming twin uses ``session_window`` / ``applyInPandasWithState``
    (dumbo_spark.streaming)."""
    sessions = assign_sessions(
        events.select("user_id", "event_id", "ts", "value"), gap_min
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        F.unix_micros(F.max("ts")).alias("session_end_us"),
        dsum("value", "sum_value"),
    )


def trailing_window_totals(events: DataFrame, hours: int = 1) -> DataFrame:
    """Per-event trailing totals over a RANGE (time-interval) frame:
    for each event, how many events and how much value the same user
    produced in the preceding hour INCLUDING this event.

    This is the window-frame class ROWS frames can't express — the
    frame width varies per row with event density. Ordering by exact
    epoch microseconds makes the frame bounds integer arithmetic, so
    the row set per frame (and the decimal sum over it) is
    engine-independent even when events share a timestamp.

    Scale: one shuffle by user_id; within a partition Spark keeps a
    sliding aggregate buffer over the sorted run — O(n) per user, no
    per-row rescan, bounded memory at any history length.
    """
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us.alias("ts_us"))
        .rangeBetween(-hours * 3_600_000_000, 0)
    )
    return events.select(
        "user_id",
        "event_id",
        us.alias("ts_us"),
        F.count("*").over(w).alias("n_trailing"),
        F.sum(dmoney("value")).over(w).cast("double").alias("sum_trailing"),
    )


def event_gap_stats(events: DataFrame) -> DataFrame:
    """Inter-event gap distribution per event type: count, mean, and
    exact p50/p95 of the microsecond gap between a user's consecutive
    events of that type — the latency/cadence profile queries a
    monitoring pipeline runs on its event stream.

    One window pass (partitioned by user+type, never global) computes
    the lag; one partial-agg shuffle profiles the gaps. Exact
    percentiles here keep the oracle bit-exact; the documented scale
    path for heavy groups is ``approx_percentile`` (see
    agg.approx_percentiles for the pairing rationale).
    """
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gaps = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("gap_us", us - F.lag(us).over(w))
        .where(F.col("gap_us").isNotNull())
    )
    return gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.round(F.avg("gap_us"), 4).alias("avg_gap_us"),
        F.round(F.percentile("gap_us", F.lit(0.5)), 4).alias("p50_gap_us"),
        F.round(F.percentile("gap_us", F.lit(0.95)), 4).alias("p95_gap_us"),
    )


def value_anomalies(events: DataFrame, z_threshold: float = 3.0) -> DataFrame:
    """Z-score outlier detection per (user, event type): events whose
    value sits more than ``z_threshold`` sample standard deviations
    from that group's mean — the standard first-line monitoring screen
    for a metrics/event stream.

    Two shuffles on the same (user_id, event_type) key: a partial-agg
    groupBy for the moments, then an equi-join back. Deliberately NOT
    a window: the stats are one row per group so the join-back side is
    tiny, and a heavily-skewed user never forces a giant single-task
    window partition. Groups need n ≥ 2 (sample stddev defined) and
    stddev > 0.
    """
    stats = (
        events.groupBy("user_id", "event_type")
        .agg(
            F.count("*").alias("_n"),
            F.avg("value").alias("_mean"),
            F.stddev_samp("value").alias("_sd"),
        )
        .where((F.col("_n") >= 2) & (F.col("_sd") > 0))
    )
    z = (F.col("value") - F.col("_mean")) / F.col("_sd")
    return (
        events.join(stats, ["user_id", "event_type"])
        .withColumn("z", F.round(z, 4))
        .where(F.abs(F.col("z")) > z_threshold)
        .select("event_id", "user_id", "event_type", "value", "z")
    )


def user_streaks(events: DataFrame) -> DataFrame:
    """Longest consecutive-day activity streak per user — the *islands*
    half of gaps-and-islands (:func:`events_sessionized` is the gaps
    half): distinct active days, then ``day − row_number`` is constant
    within a run of consecutive days, so grouping on that anchor labels
    each island without any self-join.

    Scale: distinct on (user, day) is a partial-agg shuffle; the
    row_number window partitions by user over *days* (≤ a few thousand
    rows per user regardless of event volume, since days are already
    distinct — the window input is bounded by calendar time, not event
    count); two more partial aggs roll islands up. No global window.
    """
    day = F.to_date("ts")
    active = events.select("user_id", day.alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = active.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = islands.groupBy("user_id", "anchor").agg(
        F.count("*").alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("streak_len").alias("n_active_days"),
        F.max("streak_len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over the event stream: for
    each (event_type → next event_type by the same user) pair, the
    count and the conditional probability — the sequence-model view of
    user behavior (what follows a click?).

    One window shuffle on user_id computes ``lead``; the pair counts
    are a partial agg; the probability normalizer is a window over the
    aggregated matrix, which has |types|² rows — trivially small at any
    corpus scale, so the non-partial window is safe by construction.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .where(F.col("next_type").isNotNull())
    )
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count("*").alias("n")
    )
    total = F.sum("n").over(Window.partitionBy("event_type"))
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / total, 6).alias("p"),
    )


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """Time-weighted average of ``value`` per user: each event's value
    holds until the user's next event, and the mean weights by holding
    duration (TimescaleDB ``time_weight``'s LOCF flavor) — the correct
    average for irregularly-sampled gauges, where the arithmetic mean
    over-counts bursts.

    Determinism: weights are exact integer microseconds and values are
    exact DECIMAL(18,2), so the weighted sum is exact decimal
    arithmetic regardless of aggregation order; only the final single
    division runs in binary floating point, identically in both
    engines. One window shuffle on user_id + one partial agg.
    """
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        events.select("user_id", "ts", "event_id", dmoney("value").alias("v"))
        .withColumn("dt_us", F.lead(us).over(w) - us)
        .where(F.col("dt_us").isNotNull())
    )
    return seg.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.sum("dt_us").alias("total_us"),
        F.round(
            F.sum(F.col("v") * F.col("dt_us")).cast("double")
            / F.sum("dt_us").cast("double"),
            6,
        ).alias("twa_value"),
    )


def user_retention(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day
    (cohort), counted by how many distinct users of that cohort were
    active N days later — THE product-analytics rollup for an event
    stream.

    Shape: first-seen via one partial-agg groupBy(user); activity days
    via a distinct on (user, day); one equi-join on user_id joins the
    cohort onto activity (AQE-broadcastable: one row per user); final
    partial-agg count-distinct per (cohort, offset). No window, no
    skew hazard — every stage keys on user_id or the small
    (cohort, offset) pair.
    """
    day = F.date_format("ts", "yyyy-MM-dd")
    first = events.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    active = events.select("user_id", day.alias("active_day")).distinct()
    return (
        active.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("active_day"), F.col("cohort_day")).alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def cumulative_new_users(events: DataFrame) -> DataFrame:
    """Daily acquisition curve: new users per day (first-ever activity)
    and the cumulative running total — the growth chart behind
    :func:`user_retention`'s cohort matrix.

    Per-user first-seen is a partial-agg groupBy; the running sum
    windows over the per-DAY aggregate, whose size is bounded by
    calendar time, so the unpartitioned window is safe by construction
    (same argument as :func:`event_transitions`' normalizer).
    """
    first = events.groupBy("user_id").agg(
        F.min(F.date_format("ts", "yyyy-MM-dd")).alias("day")
    )
    daily = first.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


def conversion_lag_histogram(events: DataFrame) -> DataFrame:
    """View→purchase conversion-lag distribution: per user, days
    between first view and first subsequent purchase, bucketed by day
    — the time-to-convert histogram behind :func:`conversion_funnel`'s
    stage counts.

    One conditional-min partial agg per user, then a tiny per-bucket
    count; integer-µs day arithmetic keeps bucket edges exact.
    """
    us = F.unix_micros("ts")
    per = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("_v"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("_p"),
    )
    converted = per.where(
        F.col("_v").isNotNull() & F.col("_p").isNotNull() & (F.col("_p") >= F.col("_v"))
    )
    lag_days = F.floor((F.col("_p") - F.col("_v")) / F.lit(86_400_000_000))
    return converted.groupBy(lag_days.alias("lag_days")).agg(
        F.count("*").alias("n_users")
    )


def value_anomalies_mad(events: DataFrame, k: float = 3.5) -> DataFrame:
    """ROBUST outlier screen per (user, event type): flag events whose
    value deviates from the group median by more than ``k`` scaled
    median-absolute-deviations (0.6745·|x−med|/MAD > k in the classic
    formulation; we use the equivalent 1.4826·MAD normalizer). The
    robust twin of :func:`value_anomalies`: mean/stddev are themselves
    dragged by the outliers they are supposed to find, median/MAD are
    not — this is the screen that still works when 5% of a feed is
    garbage.

    Same skew-safe shape as the z-score form, one extra round: two
    partial-agg + join-back passes on (user_id, event_type) — medians
    are per-group scalars, so the join-back sides stay tiny and no
    window ever serializes a whole user's history into one task.
    """
    keys = ["user_id", "event_type"]
    med = events.groupBy(*keys).agg(
        F.percentile("value", F.lit(0.5)).alias("_med")
    )
    # NOTE (r15): pinning with_dev with a lazy checkpoint — to stop the
    # events⋈med join running twice — was MEASURED 4× SLOWER
    # (1.10→4.17 s): the two "duplicate" joins are pruned, pipelined
    # broadcast probes, while the checkpoint materializes the full
    # corpus-width frame. Keep the recompute.
    with_dev = events.join(med, keys).withColumn(
        "_dev", F.abs(F.col("value") - F.col("_med"))
    )
    mad = with_dev.groupBy(*keys).agg(
        F.percentile("_dev", F.lit(0.5)).alias("_mad")
    )
    robust_z = F.col("_dev") / (F.lit(1.4826) * F.col("_mad"))
    return (
        with_dev.join(mad, keys)
        .where((F.col("_mad") > 0) & (robust_z > k))
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.round(robust_z, 4).alias("robust_z"),
        )
    )


def value_drift_screen(
    events: DataFrame,
    split_ts: str = "2024-01-16",
    bucket_width: float = 10.0,
) -> DataFrame:
    """Distribution-drift monitor: per event type, a bucketed
    two-sample Kolmogorov–Smirnov statistic comparing the value
    distribution BEFORE vs AFTER ``split_ts`` — the screen a feature
    pipeline runs to catch upstream drift before a model does.

    Exact KS needs a global order over values; the bucketed form
    compares the two empirical CDFs at fixed bucket edges instead, so
    the only window runs over the per-type HISTOGRAM (≤ a few hundred
    rows per type regardless of event volume — the same
    bounded-window-input argument as :func:`event_transitions`). All
    counts are exact integers; the CDF division is the single
    floating-point step, identical in both engines.
    """
    bucket = F.floor(dmoney("value") / F.lit(bucket_width).cast("decimal(18,2)")).cast(
        "long"
    )
    tagged = events.select(
        "event_type",
        bucket.alias("bucket"),
        F.when(F.col("ts") < F.lit(split_ts).cast("timestamp"), 1)
        .otherwise(0)
        .alias("_old"),
    )
    hist = tagged.groupBy("event_type", "bucket").agg(
        F.sum("_old").alias("n_old"),
        F.sum(1 - F.col("_old")).alias("n_new"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("event_type")
    cdf_gap = F.abs(
        F.sum("n_old").over(w).cast("double") / F.sum("n_old").over(tot)
        - F.sum("n_new").over(w).cast("double") / F.sum("n_new").over(tot)
    )
    gaps = hist.select(
        "event_type",
        F.sum("n_old").over(tot).alias("n_old_total"),
        F.sum("n_new").over(tot).alias("n_new_total"),
        cdf_gap.alias("_gap"),
    )
    return gaps.groupBy("event_type", "n_old_total", "n_new_total").agg(
        F.round(F.max("_gap"), 6).alias("ks_stat")
    )


def timeseries_gapfill(events: DataFrame) -> DataFrame:
    """Resample each user's ``value`` gauge to a regular DAILY grid with
    LOCF forward-fill — the classic time-series regularization step
    (pandas ``resample().ffill()``, TimescaleDB ``time_bucket_gapfill``)
    that dumbo had no window/sequence machinery to express.

    Per user: the daily observation is the LAST event of the day
    (ordered by ts, event_id — deterministic under ties); the grid spans
    the user's own first..last active day via ``sequence()`` + explode;
    missing days inherit the previous observed value through
    ``last(ignorenulls=True)`` over a user-partitioned window.

    Scale notes: every stage keys on user_id — the groupBy for the
    span, the join of grid onto observations, and the fill window all
    co-partition, so one shuffle's partitioning serves all three (no
    global order anywhere). Grid fan-out is bounded by span-days per
    user, independent of event volume. Values are passed through
    untouched (no float arithmetic), so results are hash-exact.
    """
    day = F.to_date("ts")
    w_last = Window.partitionBy("user_id", "_day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    daily = (
        events.select("user_id", "ts", "event_id", "value", day.alias("_day"))
        .withColumn("_rn", F.row_number().over(w_last))
        .where(F.col("_rn") == 1)
        .select("user_id", "_day", "value")
    )
    span = daily.groupBy("user_id").agg(
        F.min("_day").alias("_d0"), F.max("_day").alias("_d1")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence("_d0", "_d1", F.expr("interval 1 day"))).alias("_day"),
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "_day"], "left")
        .select(
            "user_id",
            F.date_format("_day", "yyyy-MM-dd").alias("day"),
            F.last("value", ignorenulls=True).over(w_fill).alias("value_filled"),
            F.col("value").isNotNull().alias("is_observed"),
        )
    )


def group_regression(events: DataFrame) -> DataFrame:
    """Per-event-type ordinary-least-squares trend of ``value`` against
    time (x = day number): slope, intercept, and r² — the drift line a
    monitoring pipeline fits per metric.

    Determinism (the reason this is NOT ``regr_slope``): slope/r² are
    ratios of co-moment sums, and summing doubles is shuffle-order
    dependent. Here every sum is exact — x is an integer day number
    (Sx, Sxx are BIGINTs), y goes through DECIMAL(18,2) (Sy, Sxy, Syy
    are exact decimals) — so both engines reduce identical exact sums
    and only the final closed-form division runs in floating point,
    identically. One partial-agg shuffle on a 5-value key; scales as a
    pure scan-aggregate.
    """
    x = F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01")))
    v = dmoney("value")
    pre = events.select(
        "event_type",
        x.alias("_x"),
        v.alias("_v"),
        (v * v).alias("_v2"),
        (v * x.cast("decimal(18,0)")).alias("_xv"),
    )
    sums = pre.groupBy("event_type").agg(
        F.count("*").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_x").cast("long") * F.col("_x")).alias("_sxx"),
        F.sum("_v").alias("_sy"),
        F.sum("_xv").alias("_sxy"),
        F.sum("_v2").alias("_syy"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    syy = F.col("_syy").cast("double")
    cov_n = n * sxy - sx * sy  # n² × covariance
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return sums.select(
        "event_type",
        F.col("_n").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round((cov_n * cov_n) / (var_x * var_y), 6).alias("r2"),
    )


def scd2_state_intervals(events: DataFrame) -> DataFrame:
    """SCD Type-2 interval table from an event log: treat each user's
    ``event_type`` as their current state, collapse CONSECUTIVE
    same-state events into one validity interval, and emit
    ``[valid_from, valid_to)`` rows with an open (NULL) ``valid_to`` on
    the current state — the slowly-changing-dimension build step every
    warehouse derives from a change stream, and a second gaps-and-
    islands application (:func:`user_streaks` does it over days; this
    runs over ordered state changes).

    Island labeling without self-joins: within each user's (ts,
    event_id) order, ``row_number() − row_number() per (user, state)``
    is constant inside a run of equal states, so grouping on that
    anchor collapses runs in one pass. Windows partition by user (and
    user+state) — bounded per-key input, no global order; interval
    bounds are exact integer microseconds.
    """
    us = F.unix_micros("ts")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_state = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = events.select(
        "user_id", "event_type", "ts", "event_id", us.alias("_us")
    ).withColumn(
        "_anchor", F.row_number().over(w_all) - F.row_number().over(w_state)
    )
    intervals = runs.groupBy("user_id", "event_type", "_anchor").agg(
        F.min("_us").alias("valid_from_us"),
        F.max("_us").alias("_last_us"),
        F.count("*").alias("n_events"),
    )
    w_iv = Window.partitionBy("user_id").orderBy("valid_from_us")
    return intervals.select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from_us",
        F.lead("valid_from_us").over(w_iv).alias("valid_to_us"),
        "n_events",
        F.lead("valid_from_us").over(w_iv).isNull().alias("is_current"),
    )


def dau_wau_stickiness(events: DataFrame) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness ratio per day — the
    product-engagement headline metric. COUNT(DISTINCT) over a sliding
    window has no direct window-function form (in Spark or standard
    SQL); the scalable identity used here: each (user, active-day)
    contributes to the 7 metric days ``[day, day+6]``, so exploding a
    7-element ``sequence`` and re-distincting turns the sliding
    distinct into a plain partial-agg groupBy.

    Scale: the explode is a fixed ×7 fan-out of the (user, day)
    DISTINCT set (calendar-bounded per user, not event-bounded), and
    both distincts are map-side-combinable shuffles on small keys — no
    window at all, no per-day rescan of history. Counts are exact
    integers; the ratio is one rounded division.
    """
    day = F.to_date("ts")
    active = events.select("user_id", day.alias("d")).distinct()
    dau = active.groupBy(F.col("d").alias("metric_day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    contrib = active.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6), F.expr("interval 1 day"))
        ).alias("metric_day"),
    ).distinct()
    wau = contrib.groupBy("metric_day").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "metric_day")  # inner: only days with activity
        .select(
            F.date_format("metric_day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau").cast("double"), 6).alias(
                "stickiness"
            ),
        )
    )


def bounce_rate(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Daily bounce rate: share of sessions containing exactly one
    event, bucketed by session-start day — the engagement-quality
    metric layered directly on :func:`events_sessionized` (same
    islands sessionization, same gap), so one operator's output feeds
    the next exactly as a dashboard pipeline composes them.

    The session rollup inherits events_sessionized's one-shuffle
    shape; the day rollup is a partial agg over sessions. Counts are
    exact; the rate is one rounded division.
    """
    sessions = events_sessionized(events, gap_min)
    day = F.date_format(F.timestamp_micros("session_start_us"), "yyyy-MM-dd")
    return (
        sessions.groupBy(day.alias("day"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
        )
        .withColumn(
            "bounce_rate",
            F.round(F.col("n_bounces").cast("double") / F.col("n_sessions"), 6),
        )
    )


def session_path_topk(
    events: DataFrame, gap_min: int = SESSION_GAP_MIN, steps: int = 3, k: int = 10
) -> DataFrame:
    """Top-k session entry paths: the first ``steps`` event types of
    each gap-session, joined with '>' — clickstream path mining, the
    "how do sessions start" product question.

    Composition of the islands sessionizer (:func:`events_sessionized`)
    with an order-exact per-session path assembly: collect_list of
    (µs, event_id, type) structs sorted lexicographically, so the path
    string is a pure function of the event order — engine-stable even
    under timestamp ties. Per-session groups are bounded by one user's
    session; the path-frequency agg is |distinct paths| ≤ |types|^steps
    rows; the final cut is TakeOrderedAndProject (per-task heap).
    """
    sessions = assign_sessions(
        events.select("user_id", "event_id", "ts", "event_type"), gap_min
    )
    paths = sessions.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.slice(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.unix_micros("ts").alias("us"),
                                F.col("event_id").alias("eid"),
                                F.col("event_type").alias("et"),
                            )
                        )
                    ),
                    1,
                    steps,
                ),
                lambda x: x["et"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("path").asc())
        .limit(k)
    )


def error_bursts(
    events: DataFrame, gap_min: int = 30, min_events: int = 2
) -> DataFrame:
    """Error-burst detection: runs of ≥ ``min_events`` error events per
    user with no ``gap_min``-minute quiet period inside — the
    monitoring primitive behind "is this client stuck in a retry
    loop". The islands sessionizer applied to the FILTERED error
    stream with a tight gap, plus a HAVING cut.

    Scale: the error filter pushes into the scan (most events are not
    errors, so the windowed stage sees a fraction of the stream); one
    shuffle on user_id; bursts never span users.
    """
    errs = events.where(F.col("event_type") == "error").select(
        "user_id", "event_id", "ts"
    )
    bursts = assign_sessions(errs, gap_min, id_col="burst_id")
    return (
        bursts.groupBy("user_id", "burst_id")
        .agg(
            F.count("*").alias("n_errors"),
            F.unix_micros(F.min("ts")).alias("burst_start_us"),
            F.unix_micros(F.max("ts")).alias("burst_end_us"),
        )
        .where(F.col("n_errors") >= min_events)
    )


def dow_hour_heatmap(events: DataFrame) -> DataFrame:
    """Day-of-week × hour activity heatmap (ISO weekday 1=Mon..7=Sun)
    with each cell's share of all traffic — the seasonality profile
    behind capacity planning and anomaly baselines.

    One partial-agg scan to ≤ 168 cells; the total joins back as a
    broadcast scalar; shares divide exact longs.
    """
    # lazy checkpoint: cells feeds the total scalar AND the share
    # stream — one fact scan instead of two (r15 optimization)
    cells = pin(
        events.groupBy(
            (F.weekday("ts") + F.lit(1)).alias("dow"),
            F.hour("ts").alias("hr"),
        ).agg(F.count("*").alias("n_events"))
    )
    total = cells.agg(F.sum("n_events").alias("n_total"))
    return cells.crossJoin(F.broadcast(total)).select(
        "dow",
        "hr",
        "n_events",
        F.round(F.col("n_events").cast("double") / F.col("n_total").cast("double"), 6).alias(
            "share"
        ),
    )


def cohort_ltv(events: DataFrame) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by FIRST-PURCHASE
    week (acquisition = first paying week), purchase revenue
    accumulated per week offset — the money-weighted companion of
    :func:`user_retention` (which counts users; this sums what they
    spend).

    Week arithmetic is exact integers (epoch-days // 7), revenue is
    exact decimal, and the cumulative sum windows over the cohort ×
    offset AGGREGATE (bounded by weeks², not events) — the same
    bounded-window argument as the retention matrix.
    """
    wnum = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) / 7
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .groupBy("user_id", wnum.alias("w"))
        .agg(F.sum(dmoney("value")).alias("rev"))
    )
    first = purchases.groupBy("user_id").agg(F.min("w").alias("cohort_w"))
    per_cell = (
        purchases.join(first, "user_id")
        .groupBy(
            F.col("cohort_w"),
            (F.col("w") - F.col("cohort_w")).cast("int").alias("week_offset"),
        )
        .agg(F.sum("rev").alias("_rev"))
    )
    w = (
        Window.partitionBy("cohort_w")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_cell.select(
        F.date_format(
            F.date_add(
                F.lit("1970-01-01").cast("date"), (F.col("cohort_w") * 7).cast("int")
            ),
            "yyyy-MM-dd",
        ).alias("cohort_week"),
        "week_offset",
        F.col("_rev").cast("double").alias("revenue"),
        F.sum("_rev").over(w).cast("double").alias("cum_revenue"),
    )


def ab_test_readout(
    events: DataFrame, split_pct: int = 50, min_purchases: int = 14
) -> DataFrame:
    """A/B experiment readout with consistent hash assignment: users
    land in variant A when their md5 bucket is below ``split_pct``
    (the same entity-stable assignment as split_train_test — a user
    keeps their variant across sessions, engines, and reruns), the
    metric is "heavy purchaser" (≥ ``min_purchases`` purchase events —
    a near-median cut on the fixtures; plain did-purchase saturates at
    1.0 here, which would make the pooled z denominator zero), and
    each variant row carries the two-proportion z statistic against
    the other arm.

    Every number derives from exact integer counts; the z denominator
    uses the pooled rate — both engines evaluate the identical IEEE
    expression over identical longs, rounded 4dp.

    Scale: one per-user conditional aggregate (single shuffle), then a
    2-row frame; the window sums over 2 rows.
    """
    from dumbo_spark.operators.sampling import _md5_bucket

    per_user = (
        events.groupBy("user_id")
        .agg(
            (
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
                >= min_purchases
            )
            .cast("int")
            .alias("converted")
        )
        .withColumn(
            "variant",
            F.when(_md5_bucket(F.col("user_id"), 100) < split_pct, "A").otherwise("B"),
        )
    )
    arms = per_user.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    w = Window.partitionBy()
    tot_u = F.sum("n_users").over(w)
    tot_c = F.sum("n_converted").over(w)
    oth_u = (tot_u - F.col("n_users")).cast("double")
    oth_c = (tot_c - F.col("n_converted")).cast("double")
    rate = F.col("n_converted").cast("double") / F.col("n_users").cast("double")
    oth_rate = oth_c / oth_u
    pool = tot_c.cast("double") / tot_u.cast("double")
    z = (rate - oth_rate) / F.sqrt(
        pool * (F.lit(1.0) - pool)
        * (F.lit(1.0) / F.col("n_users").cast("double") + F.lit(1.0) / oth_u)
    )
    # degenerate readouts (one-arm extract, all-converted/none-converted
    # pool) return a NULL z instead of an ANSI divide-by-zero crash —
    # the CASE short-circuits before the division evaluates
    z = F.when(
        (oth_u > 0) & (tot_c > 0) & (tot_c < tot_u), z
    )
    return arms.select(
        "variant",
        "n_users",
        "n_converted",
        F.round(rate, 6).alias("conversion_rate"),
        F.round(z, 4).alias("z_vs_other"),
    )


def daily_autocorrelation(events: DataFrame, max_lag: int = 7) -> DataFrame:
    """Autocorrelation of the daily event-count series at lags
    1..``max_lag`` — the seasonality diagnostic (weekly traffic shows
    a spike at lag 7) that decides whether forecasts/anomaly baselines
    need a seasonal term.

    Exactness: the series is integer daily counts; for each lag the
    Pearson r comes from integer co-moment sums (n, Σx, Σy, Σxx, Σyy,
    Σxy — all BIGINT-exact), finished in one closed-form double
    expression — the group_regression discipline, so both engines
    produce bit-identical r.

    Scale: the corpus-sized stage is one partial-agg to |days| rows;
    everything after operates on the tiny daily series (self-join on
    day+lag, ≤ days·max_lag rows).
    """
    daily = events.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        )
    ).agg(F.count("*").alias("cnt"))

    lags = daily.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select(F.col("day").alias("d"), F.col("cnt").alias("x"))
    b = daily.select(F.col("day").alias("d2"), F.col("cnt").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("d2") == F.col("d") + F.col("lag"))
        .select("lag", "x", "y")
    )
    mom = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    cov = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double") / nd
    vx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double") / nd
    vy = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double") / nd
    return mom.select(
        "lag", "n", F.round(cov / F.sqrt(vx * vy), 6).alias("autocorr")
    )


def recency_weighted_value(events: DataFrame) -> DataFrame:
    """Per-user recency-weighted engagement score: purchase values
    decayed by half per week of age — the freshness-aware ranking
    signal behind churn/value models.

    Exactness trick: the decay weight is 2^-age_weeks, an EXACT
    decimal (1/2, 1/4, ... 1/1024), so value·weight stays exact
    decimal and the per-user sum is order-independent — a float
    ``exp(-λ·age)`` would make every sum shuffle-order-dependent.
    Age anchors to the corpus max timestamp (broadcast 1-row
    aggregate, no driver action).

    Scale: one partial agg for the anchor, one per-user agg; weights
    are a scan expression.
    """
    anchor = events.agg(F.max(F.col("ts").cast("date")).alias("_maxd"))
    weeks = F.floor(
        F.datediff(F.col("_maxd"), F.col("ts").cast("date")) / F.lit(7.0)
    ).cast("int")
    # exact dyadic decimal weights: 2^-w for w = 0..10, 0 beyond
    weight = F.lit(0).cast("decimal(11,10)")
    for w in range(10, -1, -1):
        weight = F.when(weeks == w, F.lit(2.0 ** -w).cast("decimal(11,10)")).otherwise(
            weight
        )
    contrib = dmoney("value") * weight
    return (
        events.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(contrib).cast("double").alias("recency_score"),
        )
    )


def daily_new_vs_returning(events: DataFrame) -> DataFrame:
    """Daily new-vs-returning active users — the first dashboard every
    product team builds: actives per day split by whether the day is
    the user's first-seen day.

    Two partial aggregates ((user, day) distinct actives and per-user
    first day) joined on user — exact integers end to end; no windows.
    """
    active = events.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    first = active.groupBy("user_id").agg(F.min("day").alias("first_day"))
    per_day = (
        active.join(first, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_active"),
            F.count(F.when(F.col("day") == F.col("first_day"), 1)).alias("n_new"),
        )
    )
    return per_day.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
    )


def peak_concurrency(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Peak concurrent sessions per day by sweep line: sessionize
    (islands), explode each session into a +1 start / −1 end endpoint,
    and take the max running sum per day — the capacity-planning
    number ("how many users at once", not "how many users").

    Tie discipline: endpoints order by (µs, delta DESC) so a session
    starting exactly when another ends counts as concurrent — and the
    order is total, so the running sum is deterministic. Sessions that
    span midnight are handled by a per-day CARRY (sessions already
    open at 00:00, a tiny day-keyed aggregate): the day's true
    concurrency is carry + running sum, and the peak also considers
    the carry itself (the first in-day endpoint may be an END). The
    sweep window partitions per DAY (bounded by a day's session
    endpoints); for extreme per-day volumes the same running sum
    decomposes over hour buckets with the offsets trick
    (operators/packing.py).
    """
    # the sessionize+groupBy subtree feeds THREE branches
    # (endpoints, covered-days via days, carry) — lazily checkpoint
    # so it runs once, not per branch (r15 optimization, guide
    # §2.4; consumers are windows/aggregates, not size-estimated
    # joins, so no AQE stat is lost)
    sessions = pin(
        assign_sessions(events.select("user_id", "event_id", "ts"), gap_min)
        .groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("s_us"),
            F.unix_micros(F.max("ts")).alias("e_us"),
        )
    )
    # explode(array(start, end)) instead of a two-branch unionByName:
    # the sessionize+groupBy subtree is evaluated ONCE, not once per
    # endpoint branch (r15 optimization, guide §2.4)
    endpoints = sessions.select(
        F.explode(
            F.array(
                F.struct(F.col("s_us").alias("us"), F.lit(1).alias("delta")),
                F.struct(F.col("e_us").alias("us"), F.lit(-1).alias("delta")),
            )
        ).alias("_e")
    ).select("_e.us", "_e.delta")
    day = F.to_date(F.timestamp_micros(F.col("us")))
    w_sweep = Window.partitionBy("day").orderBy(
        F.col("us").asc(), F.col("delta").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    swept = endpoints.withColumn("day", day).withColumn(
        "running", F.sum("delta").over(w_sweep)
    )
    per_day = swept.groupBy("day").agg(F.max("running").alias("_mx"))
    # Day axis: every day COVERED by a session (explode start..end),
    # not just endpoint days — a day lying strictly inside a multi-day
    # session has no endpoints, but its true concurrency is the carry
    # (ADVICE r4: endpoint-derived days silently dropped such days).
    # Fan-out is bounded by session length in days (gap-bounded).
    covered = sessions.select(
        F.to_date(F.timestamp_micros(F.col("s_us"))).alias("start_day"),
        F.explode(
            F.sequence(
                F.to_date(F.timestamp_micros(F.col("s_us"))),
                F.to_date(F.timestamp_micros(F.col("e_us"))),
            )
        ).alias("day"),
    )
    days = covered.select("day").distinct()
    # carry: sessions open at each day's 00:00 — exactly the covered
    # days after the session's start day, so it falls out of the same
    # explode (fan-out bounded by session length, not the calendar;
    # replaces the r5 sessions×days broadcast nested loop — VERDICT r5
    # item 4).
    carry = (
        covered.where(F.col("day") > F.col("start_day"))
        .groupBy("day")
        .agg(F.count("*").alias("_carry"))
    )
    return (
        days.join(per_day, "day", "left")
        .join(carry, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (
                F.coalesce(F.col("_carry"), F.lit(0))
                + F.greatest(F.coalesce(F.col("_mx"), F.lit(0)), F.lit(0).cast("long"))
            ).alias("peak_concurrent"),
        )
    )


def session_depth_histogram(
    events: DataFrame, gap_min: int = SESSION_GAP_MIN
) -> DataFrame:
    """Session depth distribution: how many sessions contain 1, 2, …
    events — the engagement-shape histogram behind bounce analysis
    (:func:`bounce_rate` reads its first bar) and session-length SLOs.

    Islands sessionizer → per-session count → distribution; shares
    divide exact longs. Bounded by |sessions| then |distinct depths|.
    """
    depths = (
        assign_sessions(events.select("user_id", "event_id", "ts"), gap_min)
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("depth"))
    )
    # lazy checkpoint: hist feeds the total scalar AND the share
    # stream — one sessionize+aggregate pass instead of two (r15)
    hist = pin(depths.groupBy("depth").agg(F.count("*").alias("n_sessions")))
    total = hist.agg(F.sum("n_sessions").alias("n_total"))
    return hist.crossJoin(F.broadcast(total)).select(
        "depth",
        "n_sessions",
        F.round(
            F.col("n_sessions").cast("double") / F.col("n_total").cast("double"), 6
        ).alias("share"),
    )


def value_drift_psi(
    events: DataFrame,
    split_ts: str = "2024-01-16",
    bucket_width: float = 10.0,
    smooth: int = 1,
) -> DataFrame:
    """Population Stability Index per event type — the
    industry-standard binned drift scalar (credit-model monitoring's
    PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ)) complementing the KS screen
    (:func:`value_drift_screen`; same fixed decimal buckets, same
    before/after split).

    Laplace smoothing (``smooth`` added to every bucket count on both
    sides) keeps empty bins finite and deterministic; shares then
    divide exact integers, and the per-type sum runs over the bounded
    per-type histogram. Convention: PSI < 0.1 stable, 0.1–0.25 drift
    watch, > 0.25 action.
    """
    bucket = F.floor(dmoney("value") / F.lit(bucket_width).cast("decimal(18,2)")).cast(
        "long"
    )
    tagged = events.select(
        "event_type",
        bucket.alias("bucket"),
        F.when(F.col("ts") < F.lit(split_ts).cast("timestamp"), 1)
        .otherwise(0)
        .alias("before"),
    )
    hist = tagged.groupBy("event_type", "bucket").agg(
        F.sum("before").alias("n_before"),
        F.sum(F.lit(1) - F.col("before")).alias("n_after"),
    )
    totals = hist.groupBy("event_type").agg(
        F.sum("n_before").alias("tb"),
        F.sum("n_after").alias("ta"),
        F.count("*").alias("n_bins"),
    )
    j = hist.join(F.broadcast(totals), "event_type")
    p = (F.col("n_before") + F.lit(smooth)).cast("double") / (
        F.col("tb") + F.col("n_bins") * F.lit(smooth)
    ).cast("double")
    q = (F.col("n_after") + F.lit(smooth)).cast("double") / (
        F.col("ta") + F.col("n_bins") * F.lit(smooth)
    ).cast("double")
    contrib = (p - q) * F.log(p / q)
    return (
        j.withColumn("_c", contrib)
        .groupBy("event_type")
        .agg(
            F.max("n_bins").alias("n_bins"),
            F.round(F.sum("_c"), 6).alias("psi"),
        )
    )


#: Exactness horizon for :func:`ewma_event_volume`: the scaled weights
#: 3^a·4^b are exact doubles only while 3^a ≤ 2^53, i.e. a ≤ 33 — a
#: window of at most 34 observations. Values above 34 would silently
#: reintroduce libm-dependent coefficients (the r9 ADVICE finding).
EWMA_EXACT_HORIZON = 34


def ewma_event_volume(
    events: DataFrame, horizon: int = EWMA_EXACT_HORIZON
) -> DataFrame:
    """EWMA (α = 1/4) of daily event counts per type — the classic
    exponential-smoothing volume baseline CUSUM/KS screens sit next
    to — computed with EXACT integer arithmetic instead of the usual
    float recurrence (the repo's recency_weighted_value discipline).

    Unbounded, the recurrence is
        s_1 = x_1;  s_t = 3/4·s_{t−1} + 1/4·x_t
        ⇒  4^{t−1}·s_t = 3^{t−1}·x_1 + Σ_{i=2..t} 3^{t−i}·4^{i−2}·x_i
    but 3^{t−1} stops being an exact double at t = 35 (3^34 > 2^53), so
    past ``horizon`` observations the operator switches to the SLIDING
    RESTART the round-9 review asked for: with r = max(1, t−horizon+1),

        s_t = recurrence over x_r..x_t with s_r = x_r
        ⇒  4^{t−r}·s_t = 3^{t−r}·x_r + Σ_{i=r+1..t} 3^{t−i}·4^{i−r−1}·x_i

    For t ≤ horizon this is literally the original formula (r = 1), so
    short series — including every current fixture, 30 days/type — are
    bit-identical to the pre-guard operator. For longer series the
    truncation error vs the infinite recurrence is ≤ (3/4)^(horizon−1)
    ≈ 7·10⁻⁵ relative — below the EWMA's own forgetting at α = 1/4 —
    and, crucially, BOTH engines compute the same truncated rational
    exactly, which is what oracle hashing needs. ``horizon`` > 34
    raises: exactness is the operator's contract.

    Every scaled weight 3^a·2^{2b} is an exactly-representable double
    (a ≤ horizon−1 ≤ 33 so 3^a < 2^53; powers of two are free), cast
    to DECIMAL(38,0) where the weighted sum is exact and
    ORDER-INDEPENDENT — a float recurrence would make the result
    depend on aggregation order and engine libm, which is exactly what
    breaks oracle hashing. The only floating step is the final
    S_t / 4^{t−r} (one nearest-double conversion + a power-of-two
    divide), rounded to 6dp.

    The day index is the per-type observation sequence (row_number
    over day): the self-join is now bounded at |types|·T·horizon rows
    — bytes at any corpus size. DECIMAL(38,0) headroom: max weight
    4^33 ≈ 7·10^19, so daily counts up to ~10^18 fit.

    Output: (event_type, day, n_events, ewma) per observed day.
    """
    if not 1 <= horizon <= EWMA_EXACT_HORIZON:
        raise ValueError(
            f"ewma_event_volume horizon must be in [1, {EWMA_EXACT_HORIZON}] "
            f"(3^{horizon - 1} is not an exact double past that), got {horizon}"
        )
    daily = events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    idx = daily.withColumn("t", F.row_number().over(w))
    a = idx.select(
        "event_type",
        F.col("day").alias("day_t"),
        "t",
        F.col("n").alias("x_t"),
    )
    b = idx.select(
        "event_type", F.col("t").alias("i"), F.col("n").alias("x_i")
    )
    # restart index r = max(1, t - horizon + 1); for t <= horizon this
    # degenerates to r = 1 and the original full-history coefficients
    r = F.greatest(F.lit(1), F.col("t") - F.lit(horizon - 1))
    coef = F.when(
        F.col("i") == r, F.pow(F.lit(3.0), F.col("t") - F.col("i"))
    ).otherwise(
        F.pow(F.lit(3.0), F.col("t") - F.col("i"))
        * F.pow(F.lit(4.0), F.col("i") - r - 1)
    )
    term = coef.cast("decimal(38,0)") * F.col("x_i").cast("decimal(38,0)")
    scaled = (
        a.join(b, "event_type")
        .where(
            (F.col("i") <= F.col("t"))
            & (F.col("i") >= F.col("t") - F.lit(horizon - 1))
        )
        .groupBy("event_type", "day_t", "t", "x_t")
        .agg(F.sum(term).alias("_s"))
    )
    span = F.least(F.col("t") - 1, F.lit(horizon - 1))
    return scaled.select(
        "event_type",
        F.col("day_t").alias("day"),
        F.col("x_t").cast("bigint").alias("n_events"),
        F.round(
            F.col("_s").cast("double") / F.pow(F.lit(4.0), span), 6
        ).alias("ewma"),
    )


def seasonal_anomalies(events: DataFrame, z_threshold: float = 2.5) -> DataFrame:
    """Seasonality-adjusted daily anomaly screen: a plain z-score over
    daily totals (:func:`value_anomalies`' shape) flags every weekend
    twice a week, so the expected value here is the DAY-OF-WEEK mean
    per event type, and anomalies are days whose residual against
    their own weekday's norm exceeds ``z_threshold`` residual-sigmas —
    the on-call "is today actually weird" screen.

    Three bounded aggregates: daily rollup (|days|×|types| rows), dow
    means (≤7×|types|, broadcast), residual sigma per type (|types|,
    broadcast). Daily totals are exact DECIMAL sums surfaced at 2dp,
    so the double-precision stats are computed from identical inputs
    in any engine; z rounds to 4dp.

    Output: (day, event_type, daily_value, z_score) for flagged days.
    """
    from dumbo_spark.functions.numeric import dsum

    # NOTE (r15): checkpointing daily/resid — to fold the plan's four
    # scan branches — measured slightly SLOWER (warm 1.9→2.4 s), the
    # same frozen-200-partition overhead as lang_source_contingency.
    # Tiny-aggregate recomputes stay.
    daily = (
        events.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(dsum("value", "_dv"))
        .select(
            "day",
            "event_type",
            F.col("_dv").cast("double").alias("daily_value"),
            F.dayofweek(F.to_date("day")).alias("_dow"),
        )
    )
    dow_means = daily.groupBy("event_type", "_dow").agg(
        F.avg("daily_value").alias("_mu")
    )
    resid = daily.join(F.broadcast(dow_means), ["event_type", "_dow"]).withColumn(
        "_r", F.col("daily_value") - F.col("_mu")
    )
    sigma = resid.groupBy("event_type").agg(
        F.sqrt(F.avg(F.col("_r") * F.col("_r"))).alias("_sd")
    )
    # _sd == 0 (constant series / every day its own dow mean) must not
    # divide: Spark 0/0 is NaN (ordered GREATEST, so it would flag every
    # day) while DuckDB yields NULL — make z NULL in that case so both
    # engines drop the rows identically (round-5 review finding).
    z = F.when(F.col("_sd") > 0, F.round(F.col("_r") / F.col("_sd"), 4))
    return (
        resid.join(F.broadcast(sigma), "event_type")
        .withColumn("z_score", z)
        .where(F.abs(F.col("z_score")) >= z_threshold)
        .select("day", "event_type", "daily_value", "z_score")
    )


def daily_value_percentiles(events: DataFrame) -> DataFrame:
    """Daily p50/p95 of event value per day — the band-chart feed
    behind every latency/size dashboard, computed EXACTLY with
    agg.grouped_exact_percentiles (range-partitioned ranks +
    interpolation): a day's events never serialize through one task,
    which is the difference between this and a
    ``percentile() OVER (PARTITION BY day)`` at 100 TB/day.

    Output: (day, p50_value, p95_value) — one row per day.
    """
    from dumbo_spark.operators.agg import grouped_exact_percentiles

    daily = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "value", "event_id"
    )
    return grouped_exact_percentiles(
        daily, "day", "value", ["event_id"], (0.5, 0.95),
        ("p50_value", "p95_value"),
    ).orderBy("day")


def session_conversion_rate(
    events: DataFrame, gap_min: int = SESSION_GAP_MIN
) -> DataFrame:
    """Daily session conversion rate: the share of sessions containing
    at least one purchase, bucketed by session-start day —
    :func:`bounce_rate`'s revenue-side sibling (same islands
    sessionizer via :func:`assign_sessions`, same day rollup), the
    topline e-commerce funnel number.

    Output: (day, n_sessions, n_converted, conversion_rate).
    """
    sessions = assign_sessions(
        events.select("user_id", "event_id", "ts", "event_type"), gap_min
    )
    per = sessions.groupBy("user_id", "session_id").agg(
        F.unix_micros(F.min("ts")).alias("_start_us"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("_conv"),
    )
    day = F.date_format(F.timestamp_micros("_start_us"), "yyyy-MM-dd")
    return (
        per.groupBy(day.alias("day"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("_conv").cast("long").alias("n_converted"),
        )
        .withColumn(
            "conversion_rate",
            F.round(
                F.col("n_converted").cast("double") / F.col("n_sessions"), 6
            ),
        )
    )


def transition_dwell_times(events: DataFrame) -> DataFrame:
    """Per-transition dwell profile: for each (from → to) event-type
    pair within a user's stream, how many transitions and the mean
    gap — :func:`event_transitions`' counts extended with the timing
    dimension (the input to "where do users stall" funnels).

    One lag window per user (total order on (ts, event_id)), one
    partial-agg rollup; gaps are exact epoch-microsecond integers and
    the mean is one rounded division.

    Output: (from_type, to_type, n_transitions, avg_gap_sec).
    """
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = events.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
        (us - F.lag(us).over(w)).alias("_gap_us"),
    ).where(F.col("from_type").isNotNull())
    return t.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n_transitions"),
        F.round(
            (F.sum("_gap_us").cast("double") / F.count("*")) / 1e6, 4
        ).alias("avg_gap_sec"),
    )


def error_rate_by_hour(events: DataFrame) -> DataFrame:
    """Error share by hour of day: the diurnal reliability profile
    ("do errors spike at peak or during the nightly batch window") —
    one conditional-aggregate scan to 24 rows.

    Output: (hour_of_day, n_events, n_errors, error_rate).
    """
    return (
        events.groupBy(F.hour("ts").alias("hour_of_day"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("long")).alias("n_errors"),
        )
        .withColumn(
            "error_rate",
            F.round(
                F.col("n_errors").cast("double") / F.col("n_events").cast("double"),
                6,
            ),
        )
        .orderBy("hour_of_day")
    )


def event_mix_weekly_drift(events: DataFrame) -> DataFrame:
    """Week-over-week event-type mix drift: each ISO week's type-share
    vector compared to the previous week's by L1 (total variation ×2)
    distance — the composition-shift monitor that catches "clicks
    collapsed, errors doubled" even when total volume is flat
    (value_drift_psi watches value distributions; this watches the
    type mix).

    Weekly shares are exact-count ratios; the drift lag runs over the
    |weeks|×|types| frame (tiny). The first OBSERVED week emits NULL
    drift, and drift compares consecutive OBSERVED weeks: a calendar
    week with zero events has no share vector (0/0), so after an
    ingestion outage the next row measures drift across the gap —
    by design, since "the mix during silence" is undefined.

    Output: (week, n_events, l1_drift) ascending by week.
    """
    week = F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd")
    # lazy checkpoint (r15): the weekly cell aggregate feeds THREE
    # branches (both grid distincts + the densify join) — three corpus
    # scans in the audited plan for a |weeks|·|types|-row frame
    cell = pin(
        events.groupBy(week.alias("week"), "event_type").agg(F.count("*").alias("_c"))
    )
    # dense week×type grid over OBSERVED weeks (both sides tiny): a
    # type absent in an observed week must contribute its full share
    # to the L1 (a bare lag over sparse cells would skip it)
    grid = cell.select("week").distinct().crossJoin(
        cell.select("event_type").distinct()
    )
    full = grid.join(cell, ["week", "event_type"], "left").fillna(0, "_c")
    tot = Window.partitionBy("week")
    shares = full.select(
        "week",
        "event_type",
        (F.col("_c").cast("double") / F.sum("_c").over(tot)).alias("_share"),
        F.sum("_c").over(tot).alias("_n"),
    )
    w = Window.partitionBy("event_type").orderBy("week")
    d = shares.withColumn("_prev", F.lag("_share").over(w))
    return (
        d.groupBy("week")
        .agg(
            F.max("_n").alias("n_events"),
            F.when(
                F.count("_prev") > 0,
                F.round(F.sum(F.abs(F.col("_share") - F.col("_prev"))), 6),
            ).alias("l1_drift"),
        )
        .orderBy("week")
    )


def user_active_days_histogram(events: DataFrame) -> DataFrame:
    """Engagement-frequency histogram: how many users were active on
    1, 2, … distinct days — the stickiness SHAPE behind
    :func:`dau_wau_stickiness`'s single ratio (a bimodal histogram
    means two populations, which the ratio hides).

    Per-user distinct-day count (bounded groups) then a tiny rollup;
    shares divide exact longs.

    Output: (n_active_days, n_users, share) ascending.
    """
    per = events.groupBy("user_id").agg(
        F.countDistinct(F.date_format("ts", "yyyy-MM-dd")).alias("n_active_days")
    )
    # lazy checkpoint: hist feeds the total scalar AND the share
    # stream — one fact scan instead of two (r15 optimization)
    hist = pin(per.groupBy("n_active_days").agg(F.count("*").alias("n_users")))
    total = hist.agg(F.sum("n_users").alias("_t"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "n_active_days",
            "n_users",
            F.round(
                F.col("n_users").cast("double") / F.col("_t").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("n_active_days")
    )


def interval_coverage_daily(
    events: DataFrame, gap_min: int = SESSION_GAP_MIN
) -> DataFrame:
    """Per-day UNION-of-intervals coverage: how many microseconds of
    each day had at least one session open — the utilization complement
    of :func:`peak_concurrency` (peak answers "how many at once",
    coverage answers "for how long at all", the SLA/occupancy number).
    Overlapping sessions must not double-count, so this is the classic
    merge-overlapping-intervals sweep, not a sum of durations.

    Shape: sessionize (shared gap-islands core) → explode each session
    onto its covered days (fan-out bounded by session length) → clip to
    day boundaries → per-day island merge (ordered window over ONE
    day's intervals — bounded by a day's session count, the
    peak_concurrency argument) → island spans summed per day.
    Single-event sessions span 0 µs and contribute nothing; days no
    session touches don't appear (coverage 0).

    Output: (day, covered_us, n_intervals) ascending by day.
    """
    sessions = (
        assign_sessions(events.select("user_id", "event_id", "ts"), gap_min)
        .groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("s_us"),
            F.unix_micros(F.max("ts")).alias("e_us"),
        )
    )
    covered = sessions.select(
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.to_date(F.timestamp_micros(F.col("s_us"))),
                F.to_date(F.timestamp_micros(F.col("e_us"))),
            )
        ).alias("day"),
    )
    day_start = F.unix_micros(F.col("day").cast("timestamp"))
    day_end = F.unix_micros(F.date_add(F.col("day"), 1).cast("timestamp"))
    clipped = covered.select(
        "day",
        F.greatest(F.col("s_us"), day_start).alias("cs"),
        F.least(F.col("e_us"), day_end).alias("ce"),
    ).where(F.col("ce") > F.col("cs"))
    w = Window.partitionBy("day").orderBy("cs", "ce")
    prev_max = F.max("ce").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = clipped.withColumn(
        "_new", F.when(prev_max.isNull() | (F.col("cs") > prev_max), 1).otherwise(0)
    ).withColumn(
        "_isl", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    islands = flagged.groupBy("day", "_isl").agg(
        (F.max("ce") - F.min("cs")).alias("_span")
    )
    return (
        islands.groupBy("day")
        .agg(
            F.sum("_span").alias("covered_us"),
            F.count("*").alias("n_intervals"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "covered_us",
            "n_intervals",
        )
        .orderBy("day")
    )


def _round6_half_up(v: float) -> float:
    """SQL-ROUND twin for driver-side compares: 6dp half-away-from-zero
    over the double's exact decimal expansion — matching DuckDB ROUND
    closely enough for the oracle compares, unlike builtin round()'s
    half-to-even. Precisely (ADVICE r8): the three engines' semantics
    differ only at measure-zero representation boundaries — Spark's
    F.round rounds the double's SHORTEST decimal repr (BigDecimal via
    Double.toString), DuckDB rounds a scaled double, and this rounds
    the exact binary expansion — so a double just below x.xxxxx5 whose
    shortest repr ends in 5 can disagree across all three."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(v).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def cusum_drift(
    events: DataFrame, k_frac: float = 0.25, h_frac: float = 2.0
) -> DataFrame:
    """One-sided CUSUM drift detection over the daily mean event value:
    S_d = max(0, S_{d-1} + (x_d − μ − k)) with alarm when S_d > h —
    the classic sequential change-point monitor (Page 1954), catching
    slow sustained drifts that per-day z-score screens
    (value_anomalies) miss by design. k (slack) and h (threshold) are
    the usual σ-scaled settings (k = k_frac·σ, h = h_frac·σ), with μ/σ
    taken from the series itself (retrospective monitoring form).

    The recursion is NON-associative (the max-with-zero reset), so no
    window/prefix-sum decomposition exists — but the state walks the
    DAILY rollup, which is calendar-bounded at any corpus scale: the
    fact table reduces by one partial-agg shuffle and only the
    day-level frame (hundreds of rows per year) enters the sequential
    pass, which runs as ONE Arrow-batched applyInPandas group — the
    same bounded-frame argument as moving_avg_daily's global window,
    with state never touching corpus-sized data. The oracle re-runs
    the identical recursion level-by-level in a recursive CTE.

    Output: (day, daily_mean, cusum, alarm) ascending, 6dp.
    """
    import pandas as pd

    # lazy checkpoint: daily feeds the mu/sigma scalars AND the walk
    # frame — one fact scan instead of two (r15 optimization)
    daily = pin(
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.avg(F.col("value").cast("double")).alias("x"))
    )
    stats = daily.agg(
        F.avg("x").alias("_mu"),
        F.stddev_samp("x").alias("_sigma"),
    )
    frame = daily.crossJoin(F.broadcast(stats)).withColumn(
        "_g", F.lit(1)
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        mu = pdf["_mu"].iloc[0]
        sigma = pdf["_sigma"].iloc[0] or 0.0
        k, h = k_frac * sigma, h_frac * sigma
        s, out = 0.0, []
        for x in pdf["x"]:
            s = max(0.0, s + (x - mu - k))
            out.append(s)
        pdf["cusum"] = out
        # alarm compares 6dp-ROUNDED quantities on both sides (ADVICE
        # r6): mu/sigma come from partition-order-dependent double
        # summation, and the max(0,·) reset + strict '>' are
        # discontinuous, so the unrounded compare could flip on a
        # last-ulp mu divergence from the oracle; rounding both s and
        # h to the repo-wide 6dp grain stabilizes it (the oracle
        # compares ROUND(s,6) > ROUND(h,6) identically). Rounding is
        # HALF-AWAY-FROM-ZERO over the double's exact decimal
        # expansion — Decimal(float).quantize(HALF_UP) — matching SQL
        # ROUND semantics; Python's builtin round() is half-to-even
        # and would diverge on an exact .5 boundary (ADVICE r7).
        rh = _round6_half_up
        pdf["alarm"] = [rh(v) > rh(h) for v in out]
        return pdf[["day", "x", "cusum", "alarm"]]

    return (
        frame.groupBy("_g")
        .applyInPandas(walk, "day string, x double, cusum double, alarm boolean")
        .select(
            "day",
            F.round("x", 6).alias("daily_mean"),
            F.round("cusum", 6).alias("cusum"),
            "alarm",
        )
        .orderBy("day")
    )


def ks_drift_exact(events: DataFrame, split_ts: str = "2024-01-16") -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov statistic per event type,
    before vs after ``split_ts`` — the unbucketed upgrade of
    :func:`value_drift_screen` (which compares CDFs only at fixed
    bucket edges and can miss drift inside a bucket). Same relation as
    approx_percentiles vs the exact percentile family.

    Exact-integer discipline: at each DISTINCT value, the CDF gap is
    |cumA·nB − cumB·nA| / (nA·nB) — the numerator is computed in
    DECIMAL(38,0) (cum·n products overflow BIGINT near 10¹⁰ events)
    and maximized exactly; the single float step is the final
    division, identical in both engines, rounded to 6dp.

    Scale: the per-(type, value) count is a partial agg (the only
    corpus-sized pass); the cumulative window runs over DISTINCT
    VALUES per type — bounded by the value domain (2dp money: ≤ a few
    100k rows per type), never by event volume — the same
    bounded-window argument as value_drift_screen's histogram.

    Output: (event_type, n_before, n_after, ks_stat).
    """
    tagged = events.select(
        "event_type",
        "value",
        F.when(F.col("ts") < F.lit(split_ts).cast("timestamp"), 1)
        .otherwise(0)
        .alias("before"),
    )
    per_v = tagged.groupBy("event_type", "value").agg(
        F.sum("before").alias("ca"),
        F.sum(F.lit(1) - F.col("before")).alias("cb"),
    )
    w = Window.partitionBy("event_type").orderBy("value")
    cum = per_v.select(
        "event_type",
        F.sum("ca").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cuma"
        ),
        F.sum("cb").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cumb"
        ),
    )
    totals = per_v.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    num = F.abs(
        F.col("cuma").cast("decimal(38,0)") * F.col("nb")
        - F.col("cumb").cast("decimal(38,0)") * F.col("na")
    )
    return (
        cum.join(F.broadcast(totals), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("na").cast("bigint").alias("n_before"),
            F.max("nb").cast("bigint").alias("n_after"),
            F.max(num).alias("_ks_num"),
        )
        .select(
            "event_type",
            "n_before",
            "n_after",
            F.when(
                (F.col("n_before") > 0) & (F.col("n_after") > 0),
                F.round(
                    F.col("_ks_num").cast("double")
                    / (
                        F.col("n_before").cast("double")
                        * F.col("n_after").cast("double")
                    ),
                    6,
                ),
            ).alias("ks_stat"),
        )
    )


def mannwhitney_value_shift(
    events: DataFrame, split_ts: str = "2024-01-16"
) -> DataFrame:
    """Mann–Whitney U (rank-sum) test statistic per event type, before
    vs after ``split_ts`` — the rank-based location-shift complement to
    the KS screen's shape test: U answers "do after-values tend to be
    LARGER?", robust to outliers where a t-test is not. Reported with
    the common-language effect size CLES = U/(nA·nB) = P(before >
    after) + ½P(tie) (Vargha–Delaney A).

    Exact-integer discipline: midranks over ties are half-integers, so
    the pipeline carries DOUBLED rank sums — for a distinct value
    spanning combined ranks [r+1, r+c], 2·midrank = 2r + c + 1 —
    giving 2·R_A as an exact DECIMAL(38,0) sum and
    2·U_A = 2·R_A − nA(nA+1) exactly. U is presented as the exact
    half-integer double (x.0 / x.5 — no rounding needed), CLES as one
    6dp-rounded division.

    Scale shape: identical to :func:`ks_drift_exact` — one partial agg
    per (type, value), a window over the value-domain-bounded distinct
    frame, broadcast totals.

    Output: (event_type, n_before, n_after, u_stat, cles).
    """
    tagged = events.select(
        "event_type",
        "value",
        F.when(F.col("ts") < F.lit(split_ts).cast("timestamp"), 1)
        .otherwise(0)
        .alias("before"),
    )
    per_v = tagged.groupBy("event_type", "value").agg(
        F.sum("before").alias("ca"),
        F.sum(F.lit(1) - F.col("before")).alias("cb"),
    )
    w = Window.partitionBy("event_type").orderBy("value")
    prev = F.coalesce(
        F.sum(F.col("ca") + F.col("cb")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    midrank2 = F.lit(2) * prev + (F.col("ca") + F.col("cb")) + F.lit(1)
    contrib = F.col("ca").cast("decimal(38,0)") * midrank2.cast(
        "decimal(38,0)"
    )
    per_type = per_v.select("event_type", "ca", "cb", contrib.alias("_c")).groupBy(
        "event_type"
    ).agg(
        F.sum("ca").cast("bigint").alias("n_before"),
        F.sum("cb").cast("bigint").alias("n_after"),
        F.sum("_c").alias("_r2a"),
    )
    u2 = (
        F.col("_r2a")
        - F.col("n_before").cast("decimal(38,0)")
        * (F.col("n_before") + 1).cast("decimal(38,0)")
    )
    return per_type.select(
        "event_type",
        "n_before",
        "n_after",
        (u2.cast("double") / F.lit(2.0)).alias("u_stat"),
        F.when(
            (F.col("n_before") > 0) & (F.col("n_after") > 0),
            F.round(
                u2.cast("double")
                / (
                    F.lit(2.0)
                    * F.col("n_before").cast("double")
                    * F.col("n_after").cast("double")
                ),
                6,
            ),
        ).alias("cles"),
    )


def error_rate_wilson(events: DataFrame, z: float = 1.96) -> DataFrame:
    """Hourly error rate with a Wilson-score 95% interval — the
    uncertainty-aware upgrade of :func:`error_rate_by_hour` (a 3am
    hour with 40 events and one error should not alarm like a peak
    hour with 40k and 1k; the Wilson interval says so, where a normal
    approximation misbehaves at small n / extreme p).

        center = (p + z²/2n) / (1 + z²/n)
        half   = z·√(p(1−p)/n + z²/4n²) / (1 + z²/n)

    Determinism: p = e/n is one division of exact integers; the
    remaining arithmetic is a fixed expression over (p, n, z) written
    identically in the oracle — correctly-rounded IEEE ops on
    identical inputs, 4dp-rounded bounds (the repo's derived-ratio
    convention). One conditional-aggregate scan to 24 rows.

    Output: (hour_of_day, n_events, n_errors, error_rate 6dp,
    wilson_lo 4dp, wilson_hi 4dp).
    """
    base = events.groupBy(F.hour("ts").alias("hour_of_day")).agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("event_type") == "error").cast("long")).alias(
            "n_errors"
        ),
    )
    n = F.col("n_events").cast("double")
    p = F.col("n_errors").cast("double") / n
    z2 = F.lit(z * z)
    denom = F.lit(1.0) + z2 / n
    center = p + z2 / (F.lit(2.0) * n)
    half = F.lit(z) * F.sqrt(
        p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n)
    )
    return base.select(
        "hour_of_day",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("n_errors").cast("bigint").alias("n_errors"),
        F.round(p, 6).alias("error_rate"),
        F.round(F.greatest((center - half) / denom, F.lit(0.0)), 4).alias(
            "wilson_lo"
        ),
        F.round(F.least((center + half) / denom, F.lit(1.0)), 4).alias(
            "wilson_hi"
        ),
    ).orderBy("hour_of_day")
