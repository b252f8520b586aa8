"""bench.py driver contract: the emitted line must fit the driver's
2000-char stdout tail buffer (BENCH_r01 was truncated mid-line and
recorded ``parsed: null``)."""

import json

import bench
from dumbo_spark.registry import QUERIES


def test_headline_names_registered():
    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert missing == []


def test_emitted_line_fits_driver_buffer():
    timings = {n: 123.4567 for n in bench.HEADLINE}  # worst-case widths
    line = bench.emit_line(timings, "0.1")
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["unit"] == "sec"
    assert parsed["value"] == round(sum(timings.values()), 3)
    assert set(parsed["queries"]) <= set(bench.HEADLINE)
    assert parsed["sf"] == 0.1


def test_manifest_partitions_the_registry_with_reasons():
    # VERDICT r9 #6: the headline's composition must be auditable —
    # included + excluded must exactly partition the registry, every
    # exclusion must carry a reason, and the known deliberate
    # exclusions must keep their specific reasons
    m = bench.build_manifest(set(QUERIES))
    included, excluded = set(m["included"]), m["excluded"]
    assert included | set(excluded) == set(QUERIES)
    assert not included & set(excluded)
    assert all(isinstance(r, str) and r for r in excluded.values())
    assert "audit-twin" in excluded["semantic_dedup_checked"]
    assert all(
        "replay-runner" in excluded[n]
        for n in excluded
        if n.startswith("streaming_")
    )


def test_record_carries_spread_for_top15_by_walltime():
    # VERDICT r11 #3: median-of-N plus min/max for the top-15 rows so
    # the dedup wobble band is measured in BENCH.json, not asserted
    timings = {f"q{i:03d}": float(i) for i in range(40)}
    samples = {n: [t - 0.5, t, t + 1.5] for n, t in timings.items()}
    rec = bench.build_record(timings, samples, "0.1", set(timings))
    spread = rec["spread_top15"]
    assert len(spread) == 15
    assert set(spread) == {f"q{i:03d}" for i in range(25, 40)}  # slowest 15
    row = spread["q039"]
    assert row == {"median": 39.0, "min": 38.5, "max": 40.5, "runs": 3}
    # the headline fields are unchanged by the addition
    assert rec["value"] == round(sum(timings.values()), 3)
    assert set(rec["queries"]) == set(timings)


def test_record_carries_machine_comparability_metadata(spark):
    # VERDICT r12 #5: 205->243s closes on identical code across machine
    # windows — record loadavg, cpu MHz, and fixed calibration kernels
    # so cross-round deltas can be normalized from the artifact alone.
    # r15 (VERDICT r14 #4): the context's own sample is loadavg_AFTER
    # (the sweep's load); the pre-sweep loadavg_before is attached by
    # main() so the artifact self-proves the quiet-window claim.
    ctx = bench.machine_context(spark)
    assert set(ctx) == {
        "loadavg_after", "cpu_mhz_mean", "calib_python_sec",
        "calib_spark_sec",
    }
    assert ctx["calib_python_sec"] > 0
    assert ctx["calib_spark_sec"] > 0
    if ctx["loadavg_after"] is not None:
        assert len(ctx["loadavg_after"]) == 3
    lb = bench._loadavg()
    if lb is not None:
        assert len(lb) == 3
    timings = {"q1": 1.0}
    samples = {"q1": [1.0]}
    rec = bench.build_record(timings, samples, "0.1", {"q1"}, ctx)
    assert rec["machine"] == ctx
    # machine=None (metadata collection failed) must not add the key
    assert "machine" not in bench.build_record(timings, samples, "0.1", {"q1"})


def test_core_suite_covers_exactly_the_sub_second_core_set():
    # VERDICT r14 #2: the aggregated core_suite row must time exactly
    # the names excluded with the sub-second-core reason — nothing
    # more (no double-timing headline/streaming/audit-twin rows),
    # nothing less (every core name is regression-visible).
    m = bench.build_manifest(set(QUERIES))
    expected = sorted(
        n for n, r in m["excluded"].items() if r == bench._CORE_REASON
    )
    got = bench.core_suite_names(set(QUERIES))
    assert got == expected
    assert len(got) >= 40  # the r14 gap was ~59 untimed operators
    assert not set(got) & set(m["included"])
    assert not any(n.startswith("streaming_") for n in got)


def test_core_suite_pass_times_each_name_once(spark, sf_dir):
    # run the real pass on a 2-name slice of the registry: the detail
    # map must carry one positive timing per core name and the total
    # must be their sum
    sub = {n: QUERIES[n] for n in ("count_distinct", "compat_wordcount")}
    total, detail = bench.core_suite_pass(spark, sub, sf_dir)
    assert set(detail) == set(sub)
    assert all(v > 0 for v in detail.values())
    assert total == round(sum(detail.values()), 3)


def test_adjudicate_uses_extra_runner_for_synthetic_rows(spark, sf_dir):
    # core_suite is a synthetic timing row with no registry entry; a
    # breach on it must re-run via its own runner instead of KeyErroring
    calls = []
    out = bench.adjudicate(
        spark,
        QUERIES,
        sf_dir,
        {"core_suite": 10.0},
        {"core_suite": 0.5},
        extra_runners={"core_suite": lambda: calls.append(1)},
    )
    assert set(out["rows"]) == {"core_suite"}
    assert len(calls) == 3  # median-of-3 re-run went through the runner
    assert out["rows"]["core_suite"]["verdict"] in {
        "window-contention", "regression-suspect"
    }


def test_bench_close_survives_a_simulated_driver_sync(tmp_path, monkeypatch):
    # VERDICT r11 #2: the driver sync overwrites BENCH.json in place;
    # the builder's close must live in a file the sync never touches.
    # Drive bench.write_artifacts itself (r12 review: the first cut of
    # this test hand-wrote JSON files and exercised no bench code):
    # builder closes with BENCH_CLOSE=1, then the sync clobbers
    # BENCH.json — both numbers must coexist and be distinguishable.
    record = {"value": 204.4, "queries": {"q": 1.0}}
    monkeypatch.setenv("BENCH_CLOSE", "1")
    bench.write_artifacts(record, str(tmp_path))
    sweep = {"value": 227.5}
    (tmp_path / "BENCH.json").write_text(json.dumps(sweep))  # the sync
    assert json.loads((tmp_path / "BENCH.json").read_text()) == sweep
    close = json.loads((tmp_path / "BENCH_CLOSE.json").read_text())
    assert close["value"] == 204.4
    assert close["builder_close"] is True
    # without the env, a plain run must NOT touch the close artifact
    monkeypatch.delenv("BENCH_CLOSE")
    bench.write_artifacts(sweep, str(tmp_path))
    assert json.loads((tmp_path / "BENCH_CLOSE.json").read_text()) == close
    assert not (tmp_path / "BENCH.json.tmp").exists()  # atomic rename


def test_emit_line_prints_exactly_the_fixed_row_set():
    # VERDICT r15 #2a: the printed per-query map is the FIXED PRINTED
    # set — stable across rounds, so the driver's diff never sees
    # truncation-driven phantom drops (r15 shipped 13 of those). Rows
    # outside PRINTED are timed and shipped in BENCH.json only.
    timings = {n: 1.234 for n in bench.HEADLINE}
    line = bench.emit_line(timings, "0.1")
    assert len(line) <= 1900
    parsed = json.loads(line)
    expect = {n for n in bench.PRINTED if n in timings}
    assert set(parsed["queries"]) == expect
    # the metric names the printed subset of the summed queries
    assert f"{len(timings)} queries ({len(expect)} of {len(timings)} printed)" in (
        parsed["metric"]
    )
    # every PRINTED name (core_suite aside, a synthetic row) is a real
    # headline query, so the printed set can never silently shrink
    assert expect == set(bench.PRINTED) - {"core_suite"}


def test_emit_line_reports_core_suite_outside_the_headline_total():
    # VERDICT r15 #2b: core_suite is a newly-timed aggregate over ~50
    # previously-untimed operators — keeping it inside "value" made
    # r15's total incomparable to every earlier round. It stays a
    # per-query row (no dropped-row signal, still diffable) and gets
    # its own top-level key; "value" sums only the real query rows.
    timings = {"dedup_fuzzy": 2.0, "posting_lists": 1.0, "core_suite": 40.0}
    parsed = json.loads(bench.emit_line(timings, "0.1"))
    assert parsed["value"] == 3.0
    assert parsed["core_suite_sec"] == 40.0
    assert parsed["queries"]["core_suite"] == 40.0
    assert "2 queries (2 of 2 printed)" in parsed["metric"]


def test_emit_line_shrinks_by_precision_never_by_dropping_rows():
    # worst-case realistic widths (the full suite totals ~400s, so no
    # single row reaches 4 digits): every printed row at a 3-digit
    # value must fit by rounding 3dp -> 2dp -> 1dp with zero rows lost
    timings = {n: 123.4567 for n in bench.HEADLINE}
    timings["core_suite"] = 123.4567
    line = bench.emit_line(timings, "0.1")
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(bench.PRINTED)


def test_printed_rows_are_timed_rows():
    # every PRINTED name must actually be produced by the sweep:
    # headline queries plus the synthetic core_suite row
    assert set(bench.PRINTED) - {"core_suite"} <= set(bench.HEADLINE)


def test_release_persistent_rdds_frees_checkpoint_blocks(spark):
    # clearCache drops cached plans only: a localCheckpoint's RDD
    # blocks survive it (the leak that inflated iterative queries late
    # in a shared-session sweep); the explicit release must free them
    from dumbo_spark.testing import release_persistent_rdds

    release_persistent_rdds(spark)  # isolate from other tests' blocks
    df = spark.range(1000).localCheckpoint()
    assert df.count() == 1000
    spark.catalog.clearCache()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() >= 1
    assert release_persistent_rdds(spark) >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    assert release_persistent_rdds(spark) == 0  # idempotent


def test_load_close_queries_guards(tmp_path):
    # missing file / wrong sf / empty map -> None; matching sf -> map
    assert bench.load_close_queries(str(tmp_path), "0.1") is None
    (tmp_path / "BENCH_CLOSE.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"q1": 1.0}})
    )
    assert bench.load_close_queries(str(tmp_path), "0.1") == {"q1": 1.0}
    assert bench.load_close_queries(str(tmp_path), "0.01") is None
    (tmp_path / "BENCH_CLOSE.json").write_text(json.dumps({"sf": 0.1}))
    assert bench.load_close_queries(str(tmp_path), "0.1") is None
    (tmp_path / "BENCH_CLOSE.json").write_text("not json")
    assert bench.load_close_queries(str(tmp_path), "0.1") is None


def test_adjudicate_flags_only_true_breaches(spark, sf_dir):
    # VERDICT r13 #1: rows >2x close AND above the absolute floor are
    # re-run median-of-3 in the quiet JVM and carry BOTH readings; the
    # isolated number decides window-contention vs regression-suspect.
    from dumbo_spark.registry import QUERIES

    name = "group_sum"
    timings = {
        name: 10.0,        # pretend the sweep read 10s
        "wordcount": 0.4,  # >2x its close but under the 0.5s floor
        "join_inner": 1.0, # exactly 2x close -> NOT a breach (strict >)
    }
    close = {name: 0.05, "wordcount": 0.1, "join_inner": 0.5}
    out = bench.adjudicate(spark, QUERIES, sf_dir, timings, close)
    assert set(out["rows"]) == {name}
    row = out["rows"][name]
    assert row["sweep_sec"] == 10.0 and row["close_sec"] == 0.05
    assert len(row["isolated_runs"]) == 3
    # a trivial group-by at sf0.001 re-times well under the fake 10s
    assert row["isolated_median_sec"] < 10.0
    assert row["verdict"] in {"window-contention", "regression-suspect"}
    assert out["calib_spark_sec"] > 0


def test_adjudicate_without_baseline_is_a_noop(spark, sf_dir):
    from dumbo_spark.registry import QUERIES

    out = bench.adjudicate(spark, QUERIES, sf_dir, {"group_sum": 99.0}, None)
    assert out["rows"] == {} and "baseline" in out
