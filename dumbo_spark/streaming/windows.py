"""Structured Streaming variants of the event-window operators.

Dumbo has no streaming at all (SURVEY §2.4: batch only; continuous
execution, watermarks, windows, state and late-data handling are all
gap rows). These are the continuous twins of operators/events.py:
same logical windows, expressed with ``readStream`` + ``withWatermark``
so late data is bounded and state is evictable — the properties a
100 TB/day event pipeline needs.

Correctness strategy: the batch forms carry the DuckDB oracles; the
streaming forms are checked by unit tests that run them with
``trigger(availableNow=True)`` over the same fixture files and assert
equality with the batch results (tests/test_streaming.py). The
windowing operators (``F.window``, ``F.session_window``) are the very
same Catalyst expressions in both modes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from dumbo_spark.functions.numeric import dsum
from dumbo_spark.operators._checkpoint import pin
from dumbo_spark.session import ensure_runtime_confs


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture (same canonical
    schema as the batch catalog: nanos → µs timestamps)."""
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        # the file streaming source requires a directory; fixtures are
        # single files — expose one through a symlink dir (real
        # pipelines read a growing directory, which needs none of this)
        from dumbo_spark.streaming.runners import _scratch_dir

        d = _scratch_dir(prefix="dumbo_spark_stream_")
        os.symlink(path, os.path.join(d, "events.parquet"))
        path = d
    stream = spark.readStream.schema(raw_schema).parquet(path)
    # Same canonicalization rule as sources/catalog.py::load_table —
    # nanos-long fixtures get the DIV-1000 rewrite; TIMESTAMP_NTZ
    # fixtures are cast to session-tz (UTC) TimestampType so watermarks
    # and instant functions resolve identically to the batch side.
    ts_type = raw_schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return stream


def tumbling_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming tumbling 1h aggregate — continuous twin of
    operators/events.py::events_tumbling_1h. The watermark bounds both
    late-data acceptance and state retention."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_stream(events: DataFrame, gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Streaming gap-sessionization via ``session_window`` — the
    built-in stateful operator whose merge semantics match the batch
    islands computation (operators/events.py::events_sessionized)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )


def run_to_memory(
    spark: SparkSession, stream_df: DataFrame, name: str, mode: str = "complete"
) -> DataFrame:
    """Execute a streaming query to completion over the available data
    (availableNow trigger) and return the result as a batch DataFrame.
    ``mode``: "complete" for aggregations, "append" for joins/selects.

    The result is SNAPSHOTTED (an eager pin): ``spark.table(name)``
    is a lazy by-name reference that a later run reusing the same
    query name would silently rebind — and read PARTIALLY-FILLED
    mid-run — so a held result frame from a previous invocation would
    corrupt (r11 review finding)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return pin(spark.table(name), eager=True)


def click_purchase_stream_join(
    clicks: DataFrame, purchases: DataFrame,
    watermark: str = "2 hours", within_minutes: int = 30,
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to every
    click by the same user in the preceding ``within_minutes``.

    The dual watermarks plus the two-sided time bound are what make
    the join's state FINITE: Spark evicts buffered click rows once the
    purchase-side watermark passes ``click_ts + within``, so state is
    bounded by (event rate × window), not by stream length — the
    property that lets this run forever at 100 TB/day. Batch twin for
    the correctness check: the identical join condition on the static
    DataFrames (tests/test_streaming.py).
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")
        )
    )
    return c.join(p, cond).select(
        F.col("p_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


def click_purchase_stream_left_join(
    clicks: DataFrame, purchases: DataFrame,
    watermark: str = "2 hours", within_minutes: int = 30,
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the unmatched-click
    half :func:`click_purchase_stream_join` drops (VERDICT r4 #7):
    every click row is emitted, with null purchase columns once the
    watermark proves no purchase can still arrive inside the
    ``within_minutes`` window.

    The outer semantics are what make the watermark LOAD-BEARING
    rather than just an eviction bound: Spark may emit the
    null-extended row only after ``purchase-side watermark >
    click_ts + within`` — emitting earlier could contradict a
    late-but-in-watermark purchase. So unmatched rows trail the
    stream by (watermark delay + window); a forever-run emits them
    continuously, an availableNow replay needs the source to push the
    final watermark past the last real click (the runner appends
    sentinel files for exactly that).

    State stays bounded exactly as in the inner join: rate × (delay +
    window). Batch twin: LEFT JOIN with the identical interval
    condition.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")
        )
    )
    return c.join(p, cond, "leftOuter").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


def click_purchase_stream_left_join_dedup(
    clicks: DataFrame, purchases: DataFrame,
    watermark: str = "2 hours", within_minutes: int = 30,
) -> DataFrame:
    """:func:`click_purchase_stream_left_join` hardened for an
    AT-LEAST-ONCE purchase feed (VERDICT r5 #7): the purchase side
    passes through ``dropDuplicatesWithinWatermark`` before the outer
    interval join, so redelivered purchase events (retried producers,
    replayed partitions — the normal failure mode of a real event bus)
    join exactly once instead of fanning out duplicate attribution
    rows.

    Why ``dropDuplicatesWithinWatermark`` and not ``dropDuplicates``:
    plain streaming dropDuplicates keeps EVERY seen key in state
    forever (unbounded at 100 TB/day); the within-watermark form
    evicts a key once the watermark passes its event time + delay, so
    dedup state is bounded by (rate × delay) — and a redelivery
    arriving later than the watermark delay is late data by
    definition, already dropped by the watermark itself. Two chained
    stateful operators (dedup → symmetric-hash outer join) are legal
    in append mode because both are watermark-bounded.

    Settled output on a duplicated replay equals the batch LEFT JOIN
    against the DISTINCT purchase set — streaming_attribution_outer's
    oracle verbatim, which is the point: duplication upstream, none
    downstream.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = (
        purchases.select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
        .dropDuplicatesWithinWatermark(["purchase_id"])
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")
        )
    )
    return c.join(p, cond, "leftOuter").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


def click_purchase_stream_full_join(
    clicks: DataFrame, purchases: DataFrame,
    watermark: str = "2 hours", within_minutes: int = 30,
) -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the join-type
    matrix (inner → left outer → full outer): unmatched clicks emit
    null purchase columns AND unattributed purchases (no qualifying
    click before them) emit null click columns, each once its side's
    watermark proves the interval closed empty. The operational read:
    the null-click rows are "organic purchases", a number attribution
    pipelines must report, not drop.

    Same bounded state as the one-sided forms (rate × (delay +
    window)); null emission trails the watermark on BOTH sides, so an
    availableNow replay needs sentinels on both streams (the runner
    provides them). Batch twin: FULL JOIN with the identical interval
    condition.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")
        )
    )
    return c.join(p, cond, "fullOuter").select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )

def click_purchase_stream_semi_join(
    clicks: DataFrame, purchases: DataFrame,
    watermark: str = "2 hours", within_minutes: int = 30,
) -> DataFrame:
    """LEFT SEMI stream-stream interval join — "which clicks
    converted": each attributed click emits ONCE however many
    qualifying purchases follow it, and unmatched clicks silently
    expire with the watermark. Completes the streaming join-type
    matrix (inner → left outer → full outer → left semi); the
    existence-only shape is what funnel/conversion pipelines actually
    consume, and emitting the click instead of the (click × purchase)
    product keeps the sink rate bounded by the CLICK stream even when
    a user buys many times inside the window.

    Same bounded state as the other forms (rate × (delay + window)).
    Batch twin: LEFT SEMI with the identical interval condition /
    SQL EXISTS — the oracle in registry.py.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")
        )
    )
    return c.join(p, cond, "left_semi").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        F.unix_micros("click_ts").alias("click_us"),
    )
