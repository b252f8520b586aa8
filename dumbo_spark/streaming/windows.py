"""Structured Streaming variants of the event-window operators.

Dumbo has no streaming at all (SURVEY §2.4: batch only; continuous
execution, watermarks, windows, state and late-data handling are all
gap rows). These are the continuous twins of operators/events.py:
same logical windows, expressed with ``readStream`` + ``withWatermark``
so late data is bounded and state is evictable — the properties a
100 TB/day event pipeline needs.

The stream-stream interval join is one function,
:func:`click_purchase_stream_join`, whose ``how`` is Spark's own join
type (inner, leftOuter, fullOuter, left_semi) — the mapping of dumbo's
one reduce-side join onto ``df.join(..., how=...)`` that SURVEY.md's
join rows record.

Correctness strategy: the batch forms carry the DuckDB oracles; the
streaming forms are checked by unit tests that run them with
``trigger(availableNow=True)`` over the same fixture files and assert
equality with the batch results (tests/test_streaming.py). The
windowing operators (``F.window``, ``F.session_window``) are the very
same Catalyst expressions in both modes.
"""

from __future__ import annotations

import os

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


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete") -> DataFrame:
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
    return pin(stream_df.sparkSession.table(name), eager=True)


def click_purchase_stream_join(
    clicks: DataFrame, purchases: DataFrame, how: str = "inner",
    within_minutes: int = 30,
) -> DataFrame:
    """Stream-stream interval join of clicks to purchases: a purchase
    matches every click by the same user in the ``within_minutes``
    before it. ``how`` is Spark's join type: ``inner``, ``leftOuter``
    (unmatched clicks too), ``fullOuter`` (also the unattributed
    "organic" purchases) or ``left_semi`` (each converted click once).

    Both inputs carry their watermark on ``ts`` (the caller applies it,
    so a purchase stream can pass ``dropDuplicatesWithinWatermark``
    first — the at-least-once feed; Spark refuses a second watermark
    after that dedup). The watermarks plus the two-sided time bound make
    the join state FINITE: a buffered click is evicted once the
    purchase-side watermark passes ``click_ts + within``, so state is
    bounded by rate × (delay + window), not by stream length. The outer
    and semi forms make the watermark load-bearing, not just an eviction
    bound: a null-extended row may only be emitted once the watermark
    proves no match can still arrive, so an availableNow replay needs
    its sources to push the final watermark past the last real row.

    Output: ``user_id, click_id, click_us`` for ``left_semi``, else
    ``user_id`` (the non-null side's), ``click_id``, ``purchase_id`` and
    ``lag_us``. Watermarks are no-ops on static frames, so the same call
    is the batch twin (``click_attribution``) the streaming forms are
    checked against.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")
        )
    )
    joined = c.join(p, cond, how)
    if how == "left_semi":
        return joined.select(
            F.col("c_user").alias("user_id"),
            "click_id",
            F.unix_micros("click_ts").alias("click_us"),
        )
    return joined.select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )
