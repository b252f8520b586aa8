"""Structured Streaming twins must agree with their batch forms over
the same fixture data (availableNow → memory sink → compare)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dumbo_spark.operators import events as batch_events
from dumbo_spark.sources.catalog import load_table
from dumbo_spark.streaming.windows import (
    read_events_stream,
    run_to_memory,
    sessionized_stream,
    tumbling_stream,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_matches_batch(spark, sf_dir):
    stream = tumbling_stream(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "t_tumbling")
    want = batch_events.events_tumbling_1h(load_table(spark, sf_dir, "events"))
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_checkpoint_resume_exactly_once(spark, sf_dir):
    """File-source offsets live in the checkpoint: a resumed query
    processes ONLY newly-arrived files — no reprocessing, no
    duplicates. This is the property that makes an incremental 100 TB
    ingest pipeline idempotent across restarts."""
    import os
    import tempfile

    base = tempfile.mkdtemp(prefix="ckpt_resume_")
    src, ckpt, out = (os.path.join(base, d) for d in ("src", "ckpt", "out"))
    os.makedirs(src)

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    n_total = ev.count()
    half = ev.where(F.col("event_id") % 2 == 0)
    rest = ev.where(F.col("event_id") % 2 == 1)
    half.write.mode("overwrite").parquet(os.path.join(src, "f1.parquet"))

    def run_once():
        stream = spark.readStream.schema(half.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(f"{src}/*")
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == half.count()

    rest.write.mode("overwrite").parquet(os.path.join(src, "f2.parquet"))
    run_once()  # resume from checkpoint: must add ONLY f2's rows
    final = spark.read.parquet(out)
    assert final.count() == n_total
    # no duplicates: every event_id exactly once
    assert final.select("event_id").distinct().count() == n_total


def test_stream_dedup_drops_replayed_events(spark, sf_dir):
    """A source delivering every event twice → output has each
    event_id exactly once (bounded-state streaming dedup)."""
    import os
    import tempfile

    from dumbo_spark.streaming.dedup import dedup_stream

    base = tempfile.mkdtemp(prefix="stream_dedup_")
    src = os.path.join(base, "src")
    os.makedirs(src)
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    # simulate an at-least-once source: every event delivered twice
    ev.unionByName(ev).write.mode("overwrite").parquet(os.path.join(src, "f1.parquet"))

    schema = ev.schema
    stream = spark.readStream.schema(schema).parquet(f"{src}/*")
    out = dedup_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_dedup_stream")
    assert got.count() == n
    assert got.select("event_id").distinct().count() == n


def test_stream_static_enrichment(spark, sf_dir):
    from dumbo_spark.streaming.dedup import enrich_stream

    stream = read_events_stream(spark, sf_dir)
    enriched = enrich_stream(stream, load_table(spark, sf_dir, "customer"))
    q = (
        enriched.writeStream.format("memory")
        .queryName("t_enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_enriched")
    ev = load_table(spark, sf_dir, "events")
    assert got.count() == ev.count()
    # users that exist in the dim got names; user_id 0 has no c_custkey 0 match
    matched = got.where(F.col("c_name").isNotNull()).count()
    assert matched > 0


def test_sessionized_stream_matches_batch(spark, sf_dir):
    stream = sessionized_stream(read_events_stream(spark, sf_dir))
    got = run_to_memory(stream, "t_sessions")
    want = batch_events.events_sessionized(load_table(spark, sf_dir, "events"))
    cols = ["user_id", "session_start_us", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """Dual-watermark stream-stream join over the fixture replay must
    equal the identical interval join on the static frames."""
    from dumbo_spark.streaming.windows import click_purchase_stream_join

    ev_stream = read_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    clicks_s = ev_stream.where(F.col("event_type") == "click")
    purch_s = ev_stream.where(F.col("event_type") == "purchase")
    got = run_to_memory(
        click_purchase_stream_join(clicks_s, purch_s), "t_ssjoin", mode="append"
    )

    ev = load_table(spark, sf_dir, "events")
    want = click_purchase_stream_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )
    cols = ["user_id", "click_id", "purchase_id", "lag_us"]
    assert len(got.collect()) > 0, "fixture must produce at least one attribution"
    assert _rows(got, cols) == _rows(want, cols)


def test_attribution_dedup_matches_outer_despite_redelivery(spark, sf_dir):
    """The at-least-once replay (every purchase half delivered twice)
    through dropDuplicatesWithinWatermark + outer interval join must
    settle to the same rows as the exactly-once outer runner."""
    from dumbo_spark.registry import QUERIES

    out = QUERIES["streaming_attribution_dedup"].fn(spark, sf_dir)
    # no duplicate attribution rows despite double delivery
    assert out.count() == out.dropDuplicates(["click_id", "purchase_id"]).count()
    # every click surfaces exactly as in the batch left join
    from dumbo_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").count()
    assert out.select("click_id").distinct().count() == clicks


def test_streaming_attribution_full_organic_purchases(spark, sf_dir):
    """The full-outer row must emit null-click rows for organic
    purchases on top of the left-join rows."""
    from dumbo_spark.registry import QUERIES

    out = QUERIES["streaming_attribution_full"].fn(spark, sf_dir)
    assert out.where(F.col("click_id").isNull()).count() > 0
    assert out.where(F.col("purchase_id").isNull()).count() > 0
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").count()
    assert out.where(F.col("click_id").isNotNull()).select(
        "click_id"
    ).distinct().count() == clicks


def test_streaming_attribution_semi_matches_batch_exists(spark, sf_dir):
    """Settled semi-join output = batch EXISTS semantics, one row per
    attributed click (no fan-out on multi-purchase users)."""
    from dumbo_spark.registry import QUERIES

    out = QUERIES["streaming_attribution_semi"].fn(spark, sf_dir)
    got = sorted((r["user_id"], r["click_id"], r["click_us"]) for r in out.collect())
    assert len(got) == len(set(got)), "each click must emit exactly once"

    ev = load_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").alias("c")
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    cond = (
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") > F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    want = sorted(
        (r["user_id"], r["click_id"], r["click_us"])
        for r in c.join(p, cond, "left_semi")
        .select(
            F.col("c.user_id").alias("user_id"),
            F.col("c.event_id").alias("click_id"),
            F.unix_micros(F.col("c.ts")).alias("click_us"),
        )
        .collect()
    )
    assert got == want


def test_streaming_p2_state_carry_is_bit_exact(spark, tmp_path):
    # direct emission-level check: the settled streaming estimate must
    # equal the single-pass fold to the last bit — marker state carried
    # across 3 micro-batches, rows sorted within each batch
    import os

    from dumbo_spark.streaming.runners import _stamp_replay_order
    from dumbo_spark.streaming.stateful import p2_quantile_stream
    from tests.test_round10_ops import _p2_python_fold

    vals = [((i * 48271) % 997) / 10.0 for i in range(200)]
    rows = [(i, "t", float(v), i * 1000) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double, ts_us long"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    for k in range(3):
        lo, hi = k * 200 // 3, (k + 1) * 200 // 3
        df.where((F.col("event_id") >= lo) & (F.col("event_id") < hi)).coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(src, f"slice{k}.parquet"))
        _stamp_replay_order(os.path.join(src, f"slice{k}.parquet"), k)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    emitted = run_to_memory(
        p2_quantile_stream(stream), "q_p2_bitexact_sink", mode="append"
    ).collect()
    settled = max(emitted, key=lambda r: r["n_seen"])
    assert settled["n_seen"] == 200
    assert settled["p2_estimate"] == _p2_python_fold(vals)  # BIT-exact


def test_upsert_sink_crash_restart_idempotent(spark, sf_dir):
    """Crash-restart of the foreachBatch MERGE sink at BOTH crash
    windows (VERDICT r6 #7 / r7 #5): (1) crash after the state-version
    rename but before the offset commit — the batch is RE-DELIVERED
    with the same id and must be skipped, not re-merged (double-count
    otherwise); (2) crash before any side effect — the batch re-runs
    normally. The settled state after all restarts must equal the
    batch combine over the whole table."""
    import os
    import tempfile

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from dumbo_spark.streaming.runners import (
        _upsert_combine,
        _VersionedMergeState,
        _write_event_slices,
    )

    base = tempfile.mkdtemp(prefix="upsert_crash_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    src = os.path.join(base, "src")
    _write_event_slices(ev, src, n_slices=3)
    state = _VersionedMergeState(os.path.join(base, "state"))
    ckpt = os.path.join(base, "ckpt")
    seen: list[list[int]] = []

    def run(fn):
        seen.append([])
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
        )
        q = (
            stream.writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
            return None
        except StreamingQueryException as exc:
            return exc

    def crash_after_commit(batch_df, batch_id):
        seen[-1].append(batch_id)
        state.merge(batch_df, batch_id)  # side effect IS durable
        if batch_id == 1:
            raise RuntimeError("crash: after version rename, before offset commit")

    def crash_before_side_effect(batch_df, batch_id):
        seen[-1].append(batch_id)
        if batch_id == 2:
            raise RuntimeError("crash: before any side effect")
        state.merge(batch_df, batch_id)

    assert run(crash_after_commit) is not None
    assert seen[0] == [0, 1]
    assert run(crash_before_side_effect) is not None
    # batch 1 was RE-DELIVERED (offsets uncommitted) — the guard must
    # have skipped its already-committed merge
    assert seen[1][0] == 1
    assert run(state.merge) is None  # clean completion re-runs batch 2

    got = state.read(spark)
    want = _upsert_combine(ev)
    cols = ["user_id", "last_us", "last_event_id", "last_value", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)
    # the double-count signature the guard prevents: total n_events
    # equals the table row count exactly
    assert got.agg(F.sum("n_events")).collect()[0][0] == ev.count()


def test_attribution_replay_resumes_from_checkpoint(spark, sf_dir):
    """Kill-and-resume of a stream-stream FULL OUTER interval join
    (VERDICT r7 #5): run 1 sees only the first chronological half of
    each side, stops with matches and join STATE in the checkpoint;
    run 2 delivers the second halves plus the watermark sentinels.
    Cross-run pairs (a run-1 click matching a run-2 purchase) only
    attribute correctly if the buffered join state was restored, and
    the file sink's transaction log must not duplicate run-1 output.
    Settled output equals the batch FULL JOIN oracle."""
    import os
    import tempfile
    from datetime import timedelta

    from dumbo_spark.streaming.runners import _sentinel_safe_bounds
    from dumbo_spark.streaming.windows import click_purchase_stream_join

    base = tempfile.mkdtemp(prefix="attr_resume_")
    ev = load_table(spark, sf_dir, "events")
    b = _sentinel_safe_bounds(ev)
    mid = b["mn"] + (b["mx"] - b["mn"]) / 2
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

    def write_half(side, etype, i):
        d = os.path.join(base, side)
        part = ev.where(F.col("event_type") == etype)
        half = (
            part.where(F.col("ts") <= F.lit(mid))
            if i == 0
            else part.where(F.col("ts") > F.lit(mid))
        )
        half.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"half{i}.parquet")
        )

    def write_sentinels(side):
        d = os.path.join(base, side)
        for k, days in ((2, 30), (3, 60)):
            (
                ev.limit(1)
                .withColumn(
                    "event_id", F.lit(-1).cast(ev.schema["event_id"].dataType)
                )
                .withColumn(
                    "user_id", F.lit(-1).cast(ev.schema["user_id"].dataType)
                )
                .withColumn("ts", F.lit(b["mx"] + timedelta(days=days)))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(d, f"half{k}_sentinel.parquet"))
            )

    def run_available():
        sides = {}
        for side in ("clicks", "purchases"):
            sides[side] = (
                spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(os.path.join(base, side, "*"))
                .withWatermark("ts", "2 hours")
            )
        joined = click_purchase_stream_join(
            sides["clicks"], sides["purchases"], how="fullOuter"
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: first halves only — join state accumulates, then the
    # query terminates (availableNow) with state in the checkpoint
    write_half("clicks", "click", 0)
    write_half("purchases", "purchase", 0)
    run_available()

    # run 2: second halves + watermark sentinels arrive; resume
    write_half("clicks", "click", 1)
    write_half("purchases", "purchase", 1)
    write_sentinels("clicks")
    write_sentinels("purchases")
    run_available()

    got = (
        spark.read.parquet(out)
        .where(F.coalesce(F.col("click_id"), F.lit(0)) >= 0)
        .where(F.coalesce(F.col("purchase_id"), F.lit(0)) >= 0)
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    want = c.join(p, cond, "fullOuter").select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )

    def rows(df):
        none_low = -(10**18)
        return sorted(
            (
                tuple(none_low if v is None else v for v in (r["user_id"], r["click_id"], r["purchase_id"], r["lag_us"]))
            )
            for r in df.collect()
        )

    assert rows(got) == rows(want)


def test_streaming_greedy_packing_carries_open_bin_state(spark, sf_dir):
    """The settled streaming census equals the batch fold bit-for-bit,
    AND the replay genuinely exercises cross-batch state: with three
    rank-range micro-batches per stream, some bins must span a batch
    boundary (emitted more than once: open-bin snapshot then final)."""
    from dumbo_spark.operators.packing import greedy_pack_bins
    from dumbo_spark.sources.catalog import load_table
    from dumbo_spark.streaming.runners import streaming_greedy_packing

    got = {
        (r["source"], r["bucket"], r["bin_id"]): (r["n_docs"], r["bin_tokens"])
        for r in streaming_greedy_packing(spark, sf_dir).collect()
    }
    want = {
        (r["source"], r["bucket"], r["bin_id"]): (r["n_docs"], r["bin_tokens"])
        for r in greedy_pack_bins(
            load_table(spark, sf_dir, "documents"), budget=256, buckets=8
        ).collect()
    }
    assert got == want
    # the memory sink still holds the raw emissions: more emissions
    # than settled bins proves open bins crossed micro-batches
    raw = spark.table("q_streaming_pack_sink").count()
    assert raw > len(got)
