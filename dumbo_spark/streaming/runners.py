"""availableNow batch runners — the registry surface for streaming ops.

Each runner executes a genuinely-streaming query (file source →
stateful operator → memory sink, ``trigger(availableNow=True)``) over
the parquet fixtures and returns the settled result as a batch
DataFrame, so the driver's DuckDB oracle can hash-check the streaming
operator the same way it checks batch queries. Every runner hands its
stream to ``windows.run_to_memory``, the one execute-and-snapshot entry
point. One runner, :func:`streaming_attribution`, serves all five
stream-stream attribution rows: it takes Spark's join type ``how`` and
the purchase delivery count ``purchase_copies``, and derives its
sentinels, sink name and scratch prefix from ``how``.

Replay construction keeps the checks deterministic:

- dedup: the source directory holds the SAME event set twice
  (``maxFilesPerTrigger=1`` → the copies land in different
  micro-batches). Whichever copy a batch sees first, the surviving
  rows are identical, and a second-copy event older than the advanced
  watermark is late-DROPPED — also correct, it's a duplicate. Output
  is exactly the distinct event set.
- attribution: each side split at one time boundary into chronological
  halves, so the join never evicts a row a later purchase could match
  (see :func:`streaming_attribution`).
- running totals: events split across multiple files/micro-batches;
  per-user state accumulates in integer cents, so the final row per
  user is independent of file/batch assignment. The last emission per
  user (update mode emits one row per changed user per batch) is the
  one with the largest total_events — strictly increasing per user.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from dumbo_spark.sources.catalog import load_table
from dumbo_spark.streaming.windows import run_to_memory

# Scratch dirs (source slices, checkpoints, versioned state) backing
# the LAZY DataFrames these runners return: the files must outlive the
# returned frame, so the earliest safe cleanup point is process exit —
# registered here instead of leaking across repeated bench/test
# invocations (ADVICE r4, streaming_upsert_sink retention).
_SCRATCH_DIRS: list[str] = []


def _scratch_dir(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


@atexit.register
def _cleanup_scratch_dirs() -> None:
    while _SCRATCH_DIRS:
        shutil.rmtree(_SCRATCH_DIRS.pop(), ignore_errors=True)


#: fixed past epoch for replay-order stamping — a constant (not
#: time.time()) so replays are deterministic run-to-run
_REPLAY_EPOCH = 1_600_000_000.0


def _stamp_replay_order(path: str, seq: int) -> None:
    """Stamp every file under ``path`` with the strictly increasing
    mtime ``_REPLAY_EPOCH + 60·seq``. FileStreamSource replays new
    files oldest-MTIME-first, NOT by name (ADVICE r9) — two fast
    consecutive writes can land on the same timestamp and reorder
    micro-batches, which corrupts every order-sensitive replay
    (transitions, packing, upsert) and would let attribution SENTINELS
    overtake their data halves (advancing the watermark first and
    late-dropping every real row). Applied to ALL replay writes in
    round 10 — harmless for the commutative ones, required for the
    ordered ones."""
    stamp = _REPLAY_EPOCH + 60.0 * seq
    for root, _dirs, files in os.walk(path):
        for fn in files:
            os.utime(os.path.join(root, fn), (stamp, stamp))


def _sentinel_safe_bounds(ev: DataFrame):
    """(min ts, max ts) probe shared by the attribution replays, plus
    the SENTINEL INVARIANT check (VERDICT r6 #6): those replays inject
    watermark-driving rows with ``event_id = user_id = -1`` and filter
    them back out of the settled output by SIGN (``event_id >= 0``), so
    their correctness rests on real fixture ids being non-negative.
    Pinning the invariant here — one extra aggregate on the min/max-ts
    action the replays already run — makes a fixture regeneration that
    introduces negative ids fail loudly at replay construction instead
    of silently dropping legitimate rows. tests/test_dq_fixtures.py
    asserts the same invariant on the parquet directly.
    """
    b = ev.agg(
        F.min("ts").alias("mn"),
        F.max("ts").alias("mx"),
        F.min("event_id").alias("_min_eid"),
        F.min("user_id").alias("_min_uid"),
    ).collect()[0]
    if (b["_min_eid"] is not None and b["_min_eid"] < 0) or (
        b["_min_uid"] is not None and b["_min_uid"] < 0
    ):
        raise ValueError(
            "streaming attribution replay: events fixture contains "
            f"negative ids (min event_id={b['_min_eid']}, min user_id="
            f"{b['_min_uid']}) — the -1 watermark sentinels would "
            "collide with real rows; move sentinels to a disjoint "
            "namespace before using this fixture"
        )
    return b


def _attribution_replay_sides(
    spark: SparkSession,
    ev: DataFrame,
    how: str,
    purchase_copies: int = 1,
) -> dict[str, DataFrame]:
    """The ONE half-split + sentinel replay construction behind the
    attribution runner. Per side: the event-type partition split at the
    time-range midpoint into two chronological one-file halves (each
    written ``purchase_copies`` times for the purchases side — the
    at-least-once replay), then, unless ``how`` is ``inner`` (which
    emits on match and waits on no watermark), two far-future sentinel
    files (event_id/user_id = −1, max_ts + 30/60 days) that drive the
    final watermark past every real interval; every file mtime-stamped
    in delivery order (ADVICE r9). Returns {"clicks": stream,
    "purchases": stream}, each watermarked by 2 hours on ``ts``."""
    from datetime import timedelta

    b = _sentinel_safe_bounds(ev)
    mid = b["mn"] + (b["mx"] - b["mn"]) / 2
    base = _scratch_dir(prefix=f"dumbo_spark_attr_{how}_")
    sides = {}
    for side, etype, copies in (
        ("clicks", "click", 1),
        ("purchases", "purchase", purchase_copies),
    ):
        d = os.path.join(base, side)
        os.makedirs(d)
        part = ev.where(F.col("event_type") == etype)
        seq = 0
        for half in (
            part.where(F.col("ts") <= F.lit(mid)),
            part.where(F.col("ts") > F.lit(mid)),
        ):
            for _ in range(copies):
                p = os.path.join(d, f"f{seq}.parquet")
                half.coalesce(1).write.mode("overwrite").parquet(p)
                _stamp_replay_order(p, seq)
                seq += 1
        if how != "inner":
            for days in (30, 60):
                sent = (
                    ev.limit(1)
                    .withColumn(
                        "event_id",
                        F.lit(-1).cast(ev.schema["event_id"].dataType),
                    )
                    .withColumn(
                        "user_id",
                        F.lit(-1).cast(ev.schema["user_id"].dataType),
                    )
                    .withColumn("ts", F.lit(b["mx"] + timedelta(days=days)))
                )
                p = os.path.join(d, f"f{seq}_sentinel.parquet")
                sent.coalesce(1).write.mode("overwrite").parquet(p)
                _stamp_replay_order(p, seq)
                seq += 1
        sides[side] = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/*")
            .withWatermark("ts", "2 hours")
        )
    return sides


def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup over an at-least-once replay:
    every event delivered twice across micro-batches; each event_id
    survives exactly once."""
    from dumbo_spark.streaming.dedup import dedup_stream

    ev = load_table(spark, sf_dir, "events")
    src = os.path.join(_scratch_dir(prefix="dumbo_spark_replay_"), "src")
    os.makedirs(src)
    # coalesce(1) pins each replay copy to exactly ONE part file: with
    # maxFilesPerTrigger=1, a multi-file copy would interleave across
    # micro-batches and an old event arriving after newer files could
    # have BOTH copies late-dropped by the watermark, losing rows.
    for i, copy in enumerate(("copy1.parquet", "copy2.parquet")):
        ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, copy))
        _stamp_replay_order(os.path.join(src, copy), i)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    out = run_to_memory(
        dedup_stream(stream), "q_streaming_dedup_sink", mode="append"
    )
    return out.select("event_id", "user_id", "event_type", "value")


def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via applyInPandasWithState, fed in three
    micro-batches; returns each user's final settled row."""
    from dumbo_spark.streaming.stateful import running_user_totals

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    src = os.path.join(_scratch_dir(prefix="dumbo_spark_totals_"), "src")
    os.makedirs(src)
    # three disjoint slices → three files → three micro-batches; state
    # must carry totals across batches for the final rows to be right.
    # coalesce(1) guarantees each slice IS one file (one micro-batch).
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"slice{i}.parquet"))
        _stamp_replay_order(os.path.join(src, f"slice{i}.parquet"), i)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    updates = run_to_memory(
        running_user_totals(stream), "q_streaming_totals_sink", mode="update"
    )
    # final row per user = largest total_events (strictly increasing
    # across that user's emissions)
    w = Window.partitionBy("user_id").orderBy(F.col("total_events").desc())
    return (
        updates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "total_events", "total_value")
    )


def streaming_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join + aggregate: the event stream
    joins the STATIC customer dimension (re-read per micro-batch,
    broadcast by Catalyst — the canonical pattern for enriching a
    stream with reference data without any stateful join machinery),
    then aggregates per (market segment, event type).

    At 100 TB/day the static side is a slowly-changing dim snapshot;
    stream-static joins keep NO state (unlike stream-stream), so this
    scales with the dim's broadcast size only. Three micro-batches
    prove the aggregate accumulates across batches; complete mode
    emits the settled table.
    """
    from dumbo_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    src = os.path.join(_scratch_dir(prefix="dumbo_spark_enrich_"), "src")
    os.makedirs(src)
    for i in range(3):
        ev.where(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"slice{i}.parquet"))
        _stamp_replay_order(os.path.join(src, f"slice{i}.parquet"), i)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    enriched = stream.join(F.broadcast(cust), "user_id").groupBy(
        "c_mktsegment", "event_type"
    ).agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
    return run_to_memory(
        enriched, "q_streaming_enriched_sink", mode="complete"
    )


def streaming_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tumbling-window aggregate executed as a real stream
    (readStream → withWatermark → window → complete-mode memory sink);
    settled output equals the batch twin, so it shares
    events_tumbling_1h's oracle."""
    from dumbo_spark.streaming.windows import read_events_stream, tumbling_stream

    stream = tumbling_stream(read_events_stream(spark, sf_dir))
    return run_to_memory(stream, "q_streaming_tumbling_sink", mode="complete")


def streaming_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-sessionization via session_window executed as a real stream;
    shares events_sessionized's oracle (merge semantics proven equal to
    the batch islands computation in tests/test_streaming.py)."""
    from dumbo_spark.streaming.windows import read_events_stream, sessionized_stream

    stream = sessionized_stream(read_events_stream(spark, sf_dir))
    return run_to_memory(stream, "q_streaming_sessionized_sink", mode="complete")


def streaming_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix computed by a STATEFUL
    stream (stateful.transition_counts_stream), fed in three
    time-ordered micro-batches; the settled sum of per-batch pair
    counts must equal the batch operator bit-for-bit (same oracle as
    ``event_transitions``).

    Order contract: transitions are order-sensitive, so the replay
    slices the event set into three CONTIGUOUS (ts, event_id) ranges —
    each user's batch-k events all precede their batch-k+1 events,
    mirroring a per-key-ordered log (Kafka) in production. Files are
    written in slice order so the file source (oldest-first) replays
    them as ordered micro-batches.
    """
    from dumbo_spark.streaming.stateful import transition_counts_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    src = os.path.join(_scratch_dir(prefix="dumbo_spark_trans_"), "src")
    _write_event_slices(ev, src, order_cols=("us", "event_id"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    emitted = run_to_memory(
        transition_counts_stream(stream), "q_streaming_trans_sink", mode="append"
    )
    m = emitted.groupBy("event_type", "next_type").agg(F.sum("n").alias("n"))
    total = F.sum("n").over(Window.partitionBy("event_type"))
    return m.select(
        "event_type", "next_type", "n", F.round(F.col("n") / total, 6).alias("p")
    )


def streaming_attribution(
    spark: SparkSession, sf_dir: str, how: str = "inner", purchase_copies: int = 1
) -> DataFrame:
    """TRUE stream-stream interval join (windows.py::
    click_purchase_stream_join with Spark's join type ``how``): clicks
    and purchases arrive as two separate watermarked file streams in
    time-ordered micro-batches, and Spark's symmetric hash join
    buffers/evicts both sides. The settled output equals the batch join
    of the same ``how`` bit-for-bit — its DuckDB oracle.

    Losslessness under eviction, by construction: each side is split
    at the SAME time boundary into chronological halves replayed
    oldest-first, so after batch k the click-side watermark is
    max(ts_k) − 2h, and a click is evicted only once the watermark
    passes click_ts + 30min — i.e. clicks older than max(ts_k) − 2.5h.
    Every batch-k+1 purchase is newer than max(ts_k) and can only match
    clicks newer than purchase_ts − 30min > max(ts_k) − 30min, all
    still buffered. State stays bounded by rate × 2.5h — the forever-run
    property.

    Outer and semi joins emit null-extended (or settled) rows only once
    the watermark proves the 30-minute window closed, so their replay
    adds two SENTINEL files per side (max_ts + 30/60 days, ids −1): the
    first makes every real row evictable, the second plus Spark's
    no-data micro-batch runs the eviction. Sentinel rows are dropped on
    ``coalesce(id, 0) >= 0`` over every id column of the output.

    ``purchase_copies > 1`` replays an AT-LEAST-ONCE purchase feed (VERDICT
    r5 #7): every purchase half is delivered that many times in
    consecutive micro-batches, and ``dropDuplicatesWithinWatermark``
    ahead of the join restores exactly-once input. A duplicate lands
    one micro-batch after its original, when the purchase watermark is
    max(ts of the half) − 2h: younger duplicates are caught by dedup
    STATE (a key is evicted only once the watermark passes ts + 2h),
    older ones by the WATERMARK itself, and no FIRST delivery is ever
    late (each half's minimum ts exceeds the previous half's
    watermark). The within-watermark form keeps dedup state bounded by
    rate × delay, where plain streaming dropDuplicates keeps every key
    forever.
    """
    from dumbo_spark.streaming.windows import click_purchase_stream_join

    ev = load_table(spark, sf_dir, "events")
    sides = _attribution_replay_sides(spark, ev, how, purchase_copies)
    purchases = sides["purchases"]
    if purchase_copies > 1:
        purchases = purchases.dropDuplicatesWithinWatermark(["event_id"])
    joined = click_purchase_stream_join(sides["clicks"], purchases, how)
    out = run_to_memory(joined, f"q_streaming_attr_{how}_sink", mode="append")
    for c in out.columns:
        if c.endswith("_id"):
            out = out.where(F.coalesce(F.col(c), F.lit(0)) >= 0)
    return out


def streaming_error_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst detection as a TRUE stream: the error-filtered event
    stream through ``session_window`` (30-minute gap) with a HAVING-≥2
    cut — the continuous form of operators/events.py::error_bursts
    (the monitoring query you would actually leave running).

    The filter applies BEFORE the stateful operator, so session state
    is proportional to ERRORING users only — at production scale the
    difference between a trivial state store and an unbounded one.
    Settled complete-mode output matches a batch islands oracle with
    session_window's ≥-gap split semantics (the events_session_window
    convention).
    """
    from dumbo_spark.streaming.windows import read_events_stream

    errs = read_events_stream(spark, sf_dir).where(F.col("event_type") == "error")
    stream = (
        errs.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_errors"))
        .where(F.col("n_errors") >= 2)
        .select(
            "user_id",
            F.unix_micros("w.start").alias("burst_start_us"),
            "n_errors",
        )
    )
    return run_to_memory(stream, "q_streaming_error_bursts_sink", mode="complete")


def _write_event_slices(
    ev: DataFrame,
    src: str,
    n_slices: int = 3,
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> None:
    """Split a frame into ``n_slices`` chronological one-file parquet
    slices under ``src`` — the micro-batch replay source the ordered
    runners share (coalesce(1) pins each slice to one file so
    maxFilesPerTrigger=1 yields one batch per slice; each slice gets a
    strictly increasing mtime stamp — FileStreamSource replays
    oldest-mtime-first, ADVICE r9). ``order_cols`` names the
    event-time ordering; streaming_transitions/streaming_p2_median
    used to hand-roll this same loop with their own column names
    (r11 review finding)."""
    w = Window.orderBy(*order_cols)
    # persisted: the ranked frame feeds the count plus n_slices writes
    # — unpersisted, every action re-runs the scan + the global-order
    # window (the known multi-consumer trap); all consumers are
    # actions inside this function, so the unpersist is safe here
    ranked = ev.withColumn("_rk", F.row_number().over(w)).persist()
    n = ranked.count()
    os.makedirs(src, exist_ok=True)
    cuts = [i * n // n_slices for i in range(n_slices + 1)]
    for i in range(n_slices):
        (
            ranked.where((F.col("_rk") > cuts[i]) & (F.col("_rk") <= cuts[i + 1]))
            .drop("_rk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(src, f"slice{i}.parquet"))
        )
        _stamp_replay_order(os.path.join(src, f"slice{i}.parquet"), i)
    ranked.unpersist()


def _upsert_combine(df: DataFrame) -> DataFrame:
    """Associative per-user combine for the upsert sink: latest value
    by (ts, event_id) plus running count. Module-level so the batch
    oracle in tests applies the SAME combine to the whole table."""
    picked = F.max(
        F.struct(F.unix_micros("ts").alias("us"), "event_id", "value")
    ).alias("m")
    return (
        df.groupBy("user_id")
        .agg(picked, F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("m.us").alias("last_us"),
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.value").alias("last_value"),
            "n_events",
        )
    )


class _VersionedMergeState:
    """Batch-id-versioned keyed parquet state for a ``foreachBatch``
    MERGE sink, with IDEMPOTENT re-delivery (VERDICT r6 #7 / r7 #5).

    Two crash windows exist around a micro-batch's side effect:

    - crash BEFORE the version rename: no state change, offsets
      uncommitted → restart re-runs the batch normally;
    - crash AFTER the rename but BEFORE Spark commits the offsets:
      the side effect is durable but the batch is RE-DELIVERED with
      the SAME batch id on restart. Without a guard the re-merge
      double-counts every row of the batch. The guard is the standard
      batchId-keyed transactional-sink recipe: the version directory
      name IS the commit marker, so a re-delivered batch whose
      ``state_v{batch_id}`` already exists is skipped outright.

    Versions advance by atomic rename of a temp dir; the previous
    version is deleted only after the new one is committed, so a crash
    at ANY point leaves a complete readable state.
    """

    def __init__(self, state_base: str, combine=_upsert_combine):
        self.state_base = state_base
        self.combine = combine

    def versions(self) -> list[str]:
        import glob as _glob

        return sorted(_glob.glob(self.state_base + "_v*"))

    def merge(self, batch_df: DataFrame, batch_id: int) -> None:
        target = f"{self.state_base}_v{batch_id:09d}"
        if os.path.exists(target):
            # re-delivered completed batch (crash landed between the
            # rename and the offset commit): side effect already
            # durable — merging again would double-count.
            return
        batch_state = self.combine(batch_df)
        vs = self.versions()
        if vs:
            old = batch_df.sparkSession.read.parquet(vs[-1])
            as_m = lambda df: df.select(  # noqa: E731
                "user_id",
                F.struct(
                    F.col("last_us").alias("us"),
                    F.col("last_event_id").alias("event_id"),
                    F.col("last_value").alias("value"),
                ).alias("m"),
                "n_events",
            )
            merged = (
                as_m(old)
                .unionByName(as_m(batch_state))
                .groupBy("user_id")
                .agg(F.max("m").alias("m"), F.sum("n_events").alias("n_events"))
                .select(
                    "user_id",
                    F.col("m.us").alias("last_us"),
                    F.col("m.event_id").alias("last_event_id"),
                    F.col("m.value").alias("last_value"),
                    "n_events",
                )
            )
        else:
            merged = batch_state
        tmp = self.state_base + "_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        os.replace(tmp, target)
        # only after the new version is committed, drop older ones
        for v in self.versions()[:-1]:
            shutil.rmtree(v)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.versions()[-1])


def streaming_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized view via ``foreachBatch``
    — the production streaming SINK pattern this surface was missing:
    each micro-batch MERGES into a keyed parquet state table (latest
    value + running count per user) instead of landing in a memory
    sink. This is how a streaming pipeline keeps a serving table fresh
    without rewriting history.

    Merge discipline (the part that bites in production, encoded
    here):

    - per-batch partial aggregate FIRST (one row per user per batch),
      so the merge input is keys-sized, not events-sized;
    - the merge is an associative combine (max-by-(ts, event_id)
      struct + count sum), so the settled state is independent of
      batch boundaries — which is exactly what the batch oracle
      checks;
    - the state advances through VERSIONED directories with the
      batch-id-keyed idempotent re-delivery guard — see
      :class:`_VersionedMergeState`; crash-restart at both crash
      windows is exercised by
      tests/test_streaming.py::test_upsert_sink_crash_restart_idempotent.

    State is keys-sized; each micro-batch costs one state read + one
    keyed combine. At warehouse scale the same loop targets a format
    with real MERGE (the state table here is plain parquet because
    that is what the container has).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    base = _scratch_dir(prefix="dumbo_spark_upsert_")
    src = os.path.join(base, "src")
    _write_event_slices(ev, src, n_slices=3)
    state = _VersionedMergeState(os.path.join(base, "state"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = (
        stream.writeStream.foreachBatch(state.merge)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state.read(spark).select(
        "user_id",
        "last_us",
        "last_event_id",
        F.col("last_value").cast("double").alias("last_value"),
        "n_events",
    )


def streaming_hourly_distinct_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-in-streaming-state, externally checked: hourly distinct
    users per event type as a TRUE stream (readStream → watermark →
    tumbling window → approx_count_distinct in the window state), with
    the HLL++ estimate's 5% bound asserted against the batch exact
    count — the streaming member of the *_checked family (VERDICT r4
    #6 applied to streaming state).

    At 100 TB/day this is the shape exact streaming distinct cannot
    take (exact would hold every user id per open window in state);
    the sketch keeps per-window state at KBs. Settled complete-mode
    output joins the batch exact per (hour, type); the oracle computes
    the exact side and asserts TRUE per window. The bound is
    max(5% relative, ±3 absolute): hourly windows can hold single-digit
    distinct counts, where HLL++'s integer-rounded estimate makes a
    pure relative bound meaningless (observed |err| = 1 at exact = 4).

    Output: (hour, event_type, exact_users, n_events, within_5pct).
    """
    from dumbo_spark.streaming.windows import read_events_stream

    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            # rsd=0.01: ~5σ under the 5% relative gate (ADVICE r5);
            # the ±3 absolute floor below covers single-digit windows
            F.approx_count_distinct("user_id", 0.01).alias("_approx"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
            "_approx",
            "n_events",
        )
    )
    settled = run_to_memory(agg, "q_streaming_hourly_distinct_sink", mode="complete")
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return settled.join(exact, ["hour", "event_type"]).select(
        "hour",
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= F.greatest(F.lit(0.05) * F.col("exact_users"), F.lit(3.0))
        ).alias("within_5pct"),
    )


def streaming_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window aggregate (1h window, 30m slide) as a TRUE
    stream — completes the windowed-aggregation trio (tumbling and
    session are streaming-verified since r3): every event is assigned
    to exactly two open windows, watermark bounds how long each stays
    in state. Settled complete-mode output equals the batch twin, so
    it shares events_sliding_1h_30m's oracle."""
    from dumbo_spark.functions.numeric import dsum
    from dumbo_spark.streaming.windows import read_events_stream

    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(stream, "q_streaming_sliding_sink", mode="complete")


def streaming_greedy_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming run of the first-fit packing fold
    (stateful.greedy_packing_stream): the pre-tokenized permutation
    frame is split into three RANK-RANGE slices per (source, bucket)
    stream — each micro-batch delivers the next contiguous chunk of
    every stream in order, so the cross-batch state (the open bin)
    must be carried correctly for the settled answer to be right.
    Settled per-bin value = max over that bin's emissions (n_docs and
    bin_tokens grow monotonically within a bin); the result equals the
    batch operator bit-for-bit and shares its recursive-CTE oracle.
    """
    from dumbo_spark.operators.packing import _doc_perm
    from dumbo_spark.streaming.stateful import greedy_packing_stream

    docs = _doc_perm(load_table(spark, sf_dir, "documents"), 8)
    w = Window.partitionBy("source", "bucket").orderBy("_k", "doc_id")
    cnt = Window.partitionBy("source", "bucket")
    # persisted: three filtered writes consume the ranked frame —
    # unpersisted, each re-runs the tokenize + permutation windows
    # (the multi-consumer trap; unpersisted below after the writes)
    sliced = docs.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_slice",
        F.floor((F.col("_rn") - 1) * 3 / F.count("*").over(cnt)).cast("int"),
    ).persist()
    src = os.path.join(_scratch_dir(prefix="dumbo_spark_pack_"), "src")
    os.makedirs(src)
    # one file per rank-range slice (coalesce(1)) → one micro-batch per
    # slice with maxFilesPerTrigger=1. FileStreamSource replays new
    # files oldest-MTIME-first, NOT by name (ADVICE r9) — three fast
    # consecutive writes can land on the same timestamp and reorder the
    # order-sensitive fold's micro-batches, so each slice's files are
    # stamped with strictly increasing mtimes after writing.
    for i in range(3):
        slice_dir = os.path.join(src, f"slice{i}.parquet")
        sliced.where(F.col("_slice") == i).select(
            "source", "bucket", "_k", "doc_id", "n_tokens"
        ).coalesce(1).write.mode("overwrite").parquet(slice_dir)
        _stamp_replay_order(slice_dir, i)
    sliced.unpersist()
    schema = "source string, bucket int, _k string, doc_id long, n_tokens int"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    emissions = run_to_memory(
        greedy_packing_stream(stream), "q_streaming_pack_sink", mode="append"
    )
    from dumbo_spark.operators.packing import PACK_BUDGET

    return emissions.groupBy("source", "bucket", "bin_id").agg(
        F.max("n_docs").cast("bigint").alias("n_docs"),
        F.max("bin_tokens").cast("bigint").alias("bin_tokens"),
        (F.lit(PACK_BUDGET) - F.max("bin_tokens"))
        .cast("bigint")
        .alias("bin_slack"),
    )


def streaming_p2_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming P² median per event type with an exact check — the
    constant-memory online-quantile member of the stateful matrix
    (stateful.p2_quantile_stream, Jain & Chlamtac 1985): three
    chronological micro-batches, marker state carried across batches,
    settled estimate = the last (highest n_seen) emission per type.

    Driver contract follows the approx_distinct_checked pattern: the
    hashed columns are (event_type, n_events, exact_median,
    within_10pct) — the exact median comes from the range-partitioned
    exact-percentile machinery (oracle: quantile_cont), and the P²
    estimate participates through the tolerance flag (DuckDB cannot
    replay the marker recurrence; the flag asserts the estimator's
    accuracy contract instead).
    """
    from dumbo_spark.operators.agg import grouped_exact_percentiles
    from dumbo_spark.streaming.stateful import p2_quantile_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", F.unix_micros("ts").alias("ts_us")
    )
    src = os.path.join(_scratch_dir(prefix="dumbo_spark_p2_"), "src")
    _write_event_slices(ev, src, order_cols=("ts_us", "event_id"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    emitted = run_to_memory(
        p2_quantile_stream(stream), "q_streaming_p2_sink", mode="append"
    )
    settled = emitted.groupBy("event_type").agg(
        F.max("n_seen").cast("bigint").alias("n_events"),
        F.max_by("p2_estimate", "n_seen").alias("_est"),
    )
    exact = grouped_exact_percentiles(
        load_table(spark, sf_dir, "events").select(
            "event_type", "value", "event_id"
        ),
        "event_type",
        "value",
        ["event_id"],
        (0.5,),
        ("exact_median",),
    )
    return settled.join(exact, "event_type").select(
        "event_type",
        "n_events",
        "exact_median",
        # 10% gate: measured P2 error is ~4% at n=200 (sf0.001) and
        # ~1% at n=2000 (sf0.01) — 10% keeps fixture-regeneration
        # headroom while still asserting the estimator converged
        (
            F.abs(F.col("_est") - F.col("exact_median"))
            <= F.greatest(
                F.lit(0.10) * F.abs(F.col("exact_median")), F.lit(1e-6)
            )
        ).alias("within_10pct"),
    )
