"""Benchmark harness (driver contract, SURVEY §7 M7).

Runs the headline query set at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>}

Contract constraint (learned from BENCH_r01: ``parsed: null``): the
driver captures only the LAST 2000 CHARS of stdout, so the JSON line
must stay comfortably below that.  A full 91-query map is ~2.6 KB and
gets truncated mid-line; we therefore time a representative HEADLINE
subset (every operator family, weighted toward the expensive paths)
and hard-guard the emitted line at <1900 chars.  ``BENCH_FULL=1``
restores the full-registry sweep for local iteration (its line may
exceed the driver buffer — builder-side use only, recorded in
BENCH.json).

Every query is timed through ``dumbo_spark.profiling.measure()``: the
noop sink (full plan runs, nothing lands on the driver), caches and
pins released after every run, after a warm-up action so JVM/codegen
startup is not billed to the first query. BENCH_RUNS>1 takes the median.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dumbo_spark.profiling import measure, warm_up  # noqa: E402

# Representative subset: one+ per SURVEY §2 family, all perf-sensitive
# paths (fact⋈fact joins, dedup family, ANN family, windows, streaming
# batch twins), biased toward the queries PLANS.md audits.
HEADLINE = [
    "wordcount",
    "ngram_count",
    "group_sum",
    "group_stats",
    "two_phase_agg",
    "rollup_counts",
    "pricing_summary",
    "top_revenue_nations",
    "product_profit",
    "local_supplier_volume",
    "shipping_priority",
    "returned_items",
    "orders_above_avg",
    "promo_revenue",
    "join_inner",
    "join_broadcast_dim",
    "topk_per_group",
    "window_rank",
    "moving_avg",
    "events_tumbling_1h",
    "events_sessionized",
    "events_range_join",
    "asof_last_click",
    "click_attribution",
    "dedup_exact",
    "dedup_fuzzy",
    "dedup_jaccard",
    "dedup_simhash",
    "dedup_clusters",
    "knn_cosine",
    "knn_cosine_lsh",
    "knn_cosine_ivf",
    "embedding_near_dup",
    "lang_id",
    "quality_score",
    "doc_fingerprint",
    "split_train_test",
    "multimodal_features",
    # round-2 additions
    "bucketed_quartiles",
    "repetition_score",
    "benchmark_contamination",
    "bpe_token_count",
    "dedup_by_source",
    "embedding_centroids",
    "market_share",
    "waiting_suppliers",
    "upsert_latest",
    "column_profile",
    "asof_next_purchase",
    "conversion_funnel",
    # round-3 additions
    "sample_exact_n",
    "cross_source_overlap",
    "token_entropy",
    "embedding_quantize",
    "fuzzy_join_sources",
    "value_anomalies",
    "user_retention",
    "tfidf_top_terms",
    # round-4 additions
    "user_streaks",
    "event_transitions",
    "time_weighted_avg",
    "asof_last_click_bounded",
    "weighted_sample",
    "source_mix_rebalance",
    "key_skew_profile",
    "unpivot_long",
    "copurchase_triangles",
    "posting_lists",
    "near_match_names",
    "copresence_sessions",
    "cumulative_new_users",
    "hll_partitioned_counts",
    "customer_rfm",
    "conversion_lag_histogram",
    "degree_histogram",
    "copurchase_kcore",
    "containment_join",
    "value_anomalies_mad",
    "value_drift_screen",
    "doc_perplexity",
    "semantic_dedup",
    # round-4 batch-2 additions (streaming_attribution and
    # bucketed_colocated_join are excluded: they time replay/table
    # WRITES, not operator throughput)
    "timeseries_gapfill",
    "group_regression",
    "winsorized_stats",
    "dedup_canonical",
    "dedup_incremental",
    "vocab_growth",
    "scd2_state_intervals",
    "dau_wau_stickiness",
    "snapshot_diff",
    "pareto_concentration",
    "bounce_rate",
    # round-4 batch-3 additions
    "sequence_packing",
    "token_budget_sample",
    "heavy_hitter_tokens",
    "revenue_share_parts",
    "top_supplier_revenue",
    "multimodal_resize",
    "multimodal_frame_sample",
    "position_attribution",
    "dq_expectations",
    "discount_band_revenue",
    "centroid_affinity",
    "session_path_topk",
    "error_bursts",
    "topk_movers",
    "asof_nearest_click",
    "share_of_parent",
    "source_quality_matrix",
    "token_source_mi",
    "benford_screen",
    "dow_hour_heatmap",
    "basket_rules",
    "lang_source_contingency",
    "cohort_ltv",
    "item_similarity",
    "consistent_entity_sample",
    "funnel_time_bounded",
    "segment_priority_mode",
    "jl_projection",
    "fulfillment_latency",
    "label_outlier_screen",
    "ab_test_readout",
    "hashed_features",
    "knn_classifier_eval",
    "daily_autocorrelation",
    "recency_weighted_value",
    "sql_portable_revenue",
    "skyline_parts",
    "decile_lift_table",
    "dup_cluster_sizes",
    "contrastive_pairs",
    "bigram_pmi",
    "vocab_coverage",
    "gini_revenue",
    "discount_elasticity",
    "entity_clusters",
    "market_concentration",
    "cart_abandonment",
    "duplicate_payment_screen",
    "daily_new_vs_returning",
    "peak_concurrency",
    "return_rate_by_brand",
    "session_depth_histogram",
    "value_drift_psi",
    # round-5 additions (streaming_attribution_outer excluded: times
    # replay writes, not operator throughput)
    "approx_distinct_checked",
    "hll_rollup_checked",
    "approx_percentiles_checked",
    "stratified_sample_checked",
    "zipf_fit",
    "pii_screen",
    "weighted_median_price",
    "bucketed_group_percentiles",
    "copurchase_components",
    "knn_recall_checked",
    "dedup_recall_checked",
    "pagerank_checked",
    "referential_integrity",
    "bpe_merge_candidates",
    "pca_top_component",
    "seasonal_anomalies",
    "quantile_transform",
    "vocab_indexer",
    "daily_value_percentiles",
    "monthly_revenue_yoy",
    "dedup_report",
    "near_dup_rate_by_source",
    "order_total_consistency",
    "embedding_norm_stats",
    "order_cadence",
    "churn_risk_buckets",
    "top_percent_customers",
    "weighted_price_quartiles",
    "session_conversion_rate",
    "order_size_value_correlation",
    "monthly_new_vs_returning_revenue",
    "doclen_percentiles_by_lang",
    "transition_dwell_times",
    "brand_cross_shopping",
    "return_rate_by_basket_size",
    "price_dispersion_parts",
    "tenure_value_buckets",
    "error_rate_by_hour",
    "distinctive_tokens_by_lang",
    "event_mix_weekly_drift",
    "user_active_days_histogram",
    "region_revenue_rollup",
    "corpus_source_concentration",
    "weekday_weekend_mix",
    # round-6 additions (streaming_attribution_dedup/_full excluded:
    # they time replay writes, not operator throughput;
    # semantic_dedup_checked excluded: its brute-force O(n²) pair join
    # is the documented AUDIT twin — 54s at sf0.1 measured, intrinsic
    # to the design, verified at sf0.01 by the correctness harness)
    "simhash_recall_checked",
    "training_mix_epochs",
    "linenumber_density_check",
    "interval_coverage_daily",
    "auc_roc_exact",
    "theil_sen_trend",
    "clustering_coefficient",
    "ngram_novelty_rate",
    "diversified_topk",
    "knn_cosine_pq",
    "pq_recall_checked",
    "knn_euclid",
    "rank_fusion_rrf",
    "dataset_manifest",
    "bm25_topk",
    "cusum_drift",
    "calibration_bins",
    # round-8 additions (streaming_attribution_semi excluded like the
    # other attribution replays: the 15s it costs is sentinel-replay
    # file writes, not operator throughput; correctness is covered by
    # the driver harness + tests)
    "dpp_partitioned_join",
    "dedup_incremental_pruned",
    "dedup_substring",
    "dedup_winnowed",
    "gopher_quality_screen",
    "copurchase_ktruss",
    "dsir_importance_weights",
    # round-9 additions
    "gopher_repetition_screen",
    "stupid_backoff_scores",
    "kn_continuation_counts",
    "perplexity_tercile_mix",
    "source_temperature_mix",
    "knn_cosine_ivfpq",
    "ivfpq_recall_checked",
    "greedy_pack_bins",
    "bpe_learn_merges_batched",
    "padding_waste_census",
    "bpe_compression_stats",
    "cms_hitters_checked",
    "filter_funnel_report",
    "matryoshka_fidelity",
    "interleaved_mix_head",
    "passage_chunks",
    "ewma_event_volume",
    # round-10 additions
    "source_divergence_matrix",
    "ngram_coverage_curve",
    "token_position_stats",
    "stratified_kfold_assign",
    "dsir_topk_selection",
    "ks_drift_exact",
    "mannwhitney_value_shift",
    "min_cost_supplier",
    "dominant_part_suppliers",
    "audio_window_energy",
    "chi2_lang_source",
    "error_rate_wilson",
    "decontamination_census",
    # round-14 additions
    "semantic_dedup_planted",
    "dedup_substring_trim",
    # round-15 additions
    "dedup_selfrepeat_trim",
]

MAX_LINE = 1900  # driver tail buffer is 2000 chars; leave headroom

# FIXED printed row set (VERDICT r15 Next #2a): the stdout line's
# per-query map prints exactly these rows every round, so the driver's
# round-over-round diff never sees phantom "dropped" rows from line
# truncation (r15 shipped 13 of those: emit_line used to keep the
# SLOWEST rows, so any new slow row silently pushed fast rows off the
# printed line). This list is the r15 printed set, frozen. Rows may be
# APPENDED (never removed/renamed) when a new query is slow enough to
# matter and the line still fits — overflow is absorbed by rounding
# precision (3dp -> 2dp -> 1dp), never by dropping rows. Every timed
# row, printed or not, still ships untruncated in BENCH.json.
PRINTED = [
    "approx_distinct_checked", "auc_roc_exact", "basket_rules", "bigram_pmi",
    "bm25_topk", "bpe_compression_stats", "bpe_learn_merges_batched",
    "bucketed_group_percentiles", "calibration_bins",
    "clustering_coefficient", "contrastive_pairs", "copurchase_components",
    "copurchase_kcore", "copurchase_ktruss", "copurchase_triangles",
    "core_suite", "daily_value_percentiles", "decontamination_census",
    "dedup_canonical", "dedup_clusters", "dedup_fuzzy", "dedup_jaccard",
    "dedup_recall_checked", "dedup_report", "dedup_selfrepeat_trim",
    "dedup_simhash", "dedup_substring", "dedup_substring_trim",
    "dedup_winnowed", "degree_histogram", "discount_elasticity",
    "dpp_partitioned_join", "dsir_importance_weights", "dsir_topk_selection",
    "dup_cluster_sizes", "entity_clusters", "filter_funnel_report",
    "gini_revenue", "gopher_repetition_screen", "item_similarity",
    "ivfpq_recall_checked", "kn_continuation_counts", "knn_classifier_eval",
    "knn_cosine_ivfpq", "knn_cosine_pq", "knn_recall_checked",
    "market_concentration", "matryoshka_fidelity", "near_dup_rate_by_source",
    "order_cadence", "order_total_consistency", "pagerank_checked",
    "pca_top_component", "perplexity_tercile_mix", "posting_lists",
    "pq_recall_checked", "product_profit", "rank_fusion_rrf",
    "simhash_recall_checked", "source_divergence_matrix",
    "stupid_backoff_scores", "theil_sen_trend", "top_revenue_nations",
    "vocab_coverage", "weighted_median_price", "weighted_price_quartiles",
    "winsorized_stats",
]

# Named exclusions with specific reasons; every other registered query
# not in HEADLINE falls into the generic sub-second-core class. The
# manifest below is GENERATED from HEADLINE + the registry each run
# (VERDICT r9 Next #6) so the headline's composition is auditable in
# BENCH.json and cannot drift silently.
EXCLUDE_REASONS = {
    "bpe_learn_merges": (
        "batched-twinned reference row: greedy Sennrich BPE runs one "
        "Spark job per merge round BY DESIGN (it is the oracle-replayed "
        "classic whose own docstring routes production users to the "
        "batched trainer) — ~15s of every sf0.1 sweep for a documented "
        "anti-pattern-by-design; the production plan shape is "
        "headline-benched via bpe_learn_merges_batched, and the oracle "
        "row stays registered so the correctness rotation still "
        "samples it (VERDICT r13 Next #3)"
    ),
    "semantic_dedup_checked": (
        "audit-twin: documented O(n^2) brute-force verification twin "
        "(54s at sf0.1) — verification-scale by design"
    ),
    "bucketed_colocated_join": (
        "table-write: times bucketed-table WRITES, not operator "
        "throughput"
    ),
    "doc_pagerank": (
        "oracle-proof twin: runs the LSH near-dup graph on the "
        "ENGINE-NEUTRAL md5 hash family (32 md5s/shingle, ~10x "
        "xxhash64's cycles — the documented cross-engine-provability "
        "trade, ~17s at sf0.1); the throughput family's plan shape is "
        "headline-benched via dedup_canonical / dup_cluster_sizes / "
        "pagerank_checked"
    ),
    "dedup_simhash_md5": (
        "oracle-proof twin: dedup_simhash's banded Hamming plan on the "
        "ENGINE-NEUTRAL md5 hash family (16 hex-digit extractions per "
        "token vs one seeded xxhash64 — the provability trade); the "
        "throughput family is headline-benched via dedup_simhash"
    ),
    "dedup_clusters_md5": (
        "oracle-proof twin: dedup_clusters' LSH→verify→components plan "
        "on the ENGINE-NEUTRAL md5 hash family; the throughput family "
        "is headline-benched via dedup_clusters"
    ),
}
_REPLAY_REASON = (
    "replay-runner: times sentinel-file replay writes plus stream "
    "settle, not operator throughput; correctness covered by the "
    "driver harness and tests"
)
_CORE_REASON = (
    "sub-second-core: fast core operator; excluded from the per-query "
    "stdout headline for driver-buffer signal-to-noise, but timed as "
    "part of the aggregated core_suite row (one pass over every "
    "sub-second-core name, summed) so a regression here is "
    "bench-visible; correctness covered by the driver harness"
)


def build_manifest(registered: set[str]) -> dict:
    """The included/excluded split with per-name exclusion reasons."""
    included = [n for n in HEADLINE if n in registered]
    excluded = {}
    for n in sorted(registered - set(included)):
        if n in EXCLUDE_REASONS:
            excluded[n] = EXCLUDE_REASONS[n]
        elif n.startswith("streaming_"):
            excluded[n] = _REPLAY_REASON
        else:
            excluded[n] = _CORE_REASON
    return {"included": included, "excluded": excluded}


def core_suite_names(registered: set[str]) -> list[str]:
    """Exactly the sub-second-core exclusion set (the names whose
    manifest reason is _CORE_REASON) — the roster the aggregated
    ``core_suite`` bench row times (VERDICT r14 Next #2: these 50+
    operators were entirely untimed, so a 10x regression in
    group_sum/join_inner-class code was invisible to BENCH while
    staying correctness-green)."""
    m = build_manifest(registered)
    return sorted(n for n, r in m["excluded"].items() if r == _CORE_REASON)


def core_suite_pass(spark, queries, sf_dir: str) -> tuple[float, dict[str, float]]:
    """One timed noop-write pass over every sub-second-core name.

    Single pass (not median-of-3): the row's job is regression
    VISIBILITY across ~50 fast operators, and first-execution codegen
    is part of what a regression would inflate; the per-name detail
    ships in BENCH.json's core_suite_detail so a moved total can be
    pinpointed without re-running the sweep. ``measure()`` releases
    caches and pins after every run."""
    detail = {
        n: round(measure(spark, queries[n].fn, sf_dir, 1).samples[0], 3)
        for n in core_suite_names(set(queries))
    }
    return round(sum(detail.values()), 3), detail


def emit_line(timings: dict[str, float], sf: str) -> str:
    """Build the one-line JSON payload, guaranteed under MAX_LINE.

    VERDICT r15 Next #2: the printed per-query map is the FIXED
    ``PRINTED`` row set (stable across rounds — no truncation-driven
    phantom drops), shrunk under the line budget by reducing decimal
    precision, never by dropping rows. ``value`` is the headline total
    EXCLUDING the core_suite aggregate (r14 and earlier had no
    core_suite row, so including its ~35-40s made totals
    round-incomparable); core_suite still appears as a per-query row
    AND as its own top-level key so the aggregate's movement stays
    bench-visible. ``metric`` says how many of the summed queries the
    printed map holds.
    """
    core = timings.get("core_suite")
    total = round(sum(v for n, v in timings.items() if n != "core_suite"), 3)
    n_headline = len(timings) - (1 if core is not None else 0)
    # strictly the fixed set: a data-dependent append would reintroduce
    # appear-one-round-vanish-the-next rows, i.e. the phantom-drop bug
    # this rewrite removes. New rows are added by editing PRINTED.
    base = {n: timings[n] for n in PRINTED if n in timings}
    n_printed = len(set(base) - {"core_suite"})
    for ndigits in (3, 2, 1, 0):
        kept = dict(
            sorted(
                (n, int(round(v)) if ndigits == 0 else round(v, ndigits))
                for n, v in base.items()
            )
        )
        payload = {
            "metric": (
                f"total wall-clock, {n_headline} queries "
                f"({n_printed} of {n_headline} printed), sf{sf}"
            ),
            "value": total,
            "unit": "sec",
            "queries": kept,
            "sf": float(sf),
        }
        if core is not None:
            payload["core_suite_sec"] = core
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= MAX_LINE:
            return line
    # unreachable in practice (67 rows at 1dp is ~1750 chars); last
    # resort keeps the contract line parseable by trimming the fastest
    # rows — and stderr-logs it so it can never happen silently
    while len(line) > MAX_LINE and kept:
        victim = min(kept, key=kept.get)
        print(f"emit_line over budget: trimmed {victim}", file=sys.stderr)
        kept.pop(victim)
        payload["queries"] = kept
        line = json.dumps(payload, separators=(",", ":"))
    return line


CALIB_EVERY = 25  # in-sweep calibration cadence (queries between samples)


def spark_calib(spark) -> float:
    """The fixed Spark calibration kernel: a 2e9-row codegen'd sum.

    ~0.6s on the reference machine when the window is quiet. Sampled
    at sweep start/end (machine_context) AND every CALIB_EVERY queries
    during the sweep (VERDICT r13 Next #1: in round 13 the start-of-run
    calibration read NORMAL while mid-sweep rows inflated up to 7.4x —
    the contention lived in the parallel dimension and arrived AFTER
    calibration ran, so a single start sample is provably not a
    sufficient canary; the in-sweep series timestamps the window state
    next to the queries that ran under it)."""
    t0 = time.perf_counter()
    spark.range(2_000_000_000).selectExpr(
        "sum(id * 2 + (id % 7)) AS s"
    ).collect()
    return round(time.perf_counter() - t0, 3)


def load_close_queries(here: str, sf: str) -> dict[str, float] | None:
    """Per-query map from the committed builder close at the same sf,
    or None when absent/mismatched — the adjudication baseline."""
    try:
        with open(os.path.join(here, "BENCH_CLOSE.json")) as f:
            close = json.load(f)
    except (OSError, ValueError):
        return None
    try:
        if abs(float(close.get("sf")) - float(sf)) > 1e-9:
            return None
    except (TypeError, ValueError):
        return None
    q = close.get("queries")
    return q if isinstance(q, dict) and q else None


# Adjudication thresholds: a row is suspect when BOTH hold — the 2x
# gate the judge reads, plus an absolute floor so sub-second codegen
# wobble (0.04s -> 0.09s) doesn't trigger re-runs that cost more than
# the signal is worth.
ADJ_RATIO = 2.0
ADJ_FLOOR_SEC = 0.5
# Runaway backstop only — must comfortably exceed a BAD window's breach
# count (measured: 6 and 17 breaches in the two r14 close windows; the
# adjudication contract is "no unadjudicated >2x row", so a cap that
# CLIPS a real window defeats the feature; 12 did exactly that once)
ADJ_MAX_ROWS = 40


def adjudicate(
    spark,
    queries,
    sf_dir: str,
    timings: dict[str, float],
    close_map: dict[str, float] | None,
    extra_runners: dict | None = None,
) -> dict:
    """Self-adjudicate window contention (VERDICT r13 Next #1).

    BENCH_r13 shipped 7 per-query rows >2x the builder's close; every
    one took a manual three-way worktree A/B (SCALE.md "r13 close") or
    the judge's own isolated re-timings to clear as machine-window
    contention rather than regression. This automates that protocol
    inside the artifact: after the sweep — the JVM now quiet, no
    concurrent query work — re-run each suspect row median-of-3 and
    record BOTH readings plus a calibration sample taken at
    adjudication time, so a gate-reader can see whether the isolated
    number collapses back toward close (window noise) or stays high
    (real regression) without any human A/B.

    Returns {"calib_spark_sec": float, "rows": {name: {...}}}; empty
    rows dict when nothing breached or no close baseline exists.

    Re-runs go through ``measure()``, which releases caches and pins
    after every run.

    Baseline note: BENCH_CLOSE.json is whatever close is committed at
    run time — for the driver's sweep that is THIS round's builder
    close (the exact comparison the judge reads); for a builder
    BENCH_CLOSE=1 run it is the previous close, making the block a
    round-over-round A/B (the manual protocol from SCALE.md "r13
    close", now automatic).
    """
    out: dict = {"rows": {}}
    if not close_map:
        out["baseline"] = "no BENCH_CLOSE.json at this sf - skipped"
        return out
    suspects = []
    for name, sweep_sec in timings.items():
        close_sec = close_map.get(name)
        if close_sec is None or close_sec <= 0:
            continue
        if sweep_sec > ADJ_RATIO * close_sec and sweep_sec >= ADJ_FLOOR_SEC:
            suspects.append((sweep_sec / close_sec, name, sweep_sec, close_sec))
    if not suspects:
        return out
    suspects.sort(reverse=True)  # worst ratio first under the row cap
    dropped = len(suspects) - ADJ_MAX_ROWS
    if dropped > 0:
        out["rows_dropped_over_cap"] = dropped
        suspects = suspects[:ADJ_MAX_ROWS]
    out["calib_spark_sec"] = spark_calib(spark)
    for ratio, name, sweep_sec, close_sec in suspects:
        # synthetic rows (core_suite) re-run via their own runner;
        # registry rows re-run as the standard noop write
        runner = (extra_runners or {}).get(name)
        fn = (lambda _spark, _sf: runner()) if runner else queries[name].fn
        m = measure(spark, fn, sf_dir, 3)
        runs = [round(s, 3) for s in m.samples]
        iso = round(m.median, 3)
        out["rows"][name] = {
            "sweep_sec": sweep_sec,
            "close_sec": close_sec,
            "sweep_ratio": round(ratio, 2),
            "isolated_runs": runs,
            "isolated_median_sec": iso,
            "isolated_ratio": round(iso / close_sec, 2),
            "verdict": (
                "window-contention"
                if iso <= ADJ_RATIO * close_sec
                else "regression-suspect"
            ),
        }
    return out


def _loadavg() -> list | None:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return None


def machine_context(spark) -> dict:
    """Close-window comparability metadata (VERDICT r12 Next #5):
    SCALE.md shows 205→243s closes on IDENTICAL code across machine
    windows, so cross-round deltas need a normalizer recorded in the
    artifact itself. Three signals:

    - loadavg_after: background contention at sweep end (pairs with
      main()'s pre-sweep loadavg_before sample);
    - cpu_mhz: the governor/turbo state (the biggest single source of
      window-to-window drift on shared hosts);
    - two fixed calibration kernels, chosen to finish in ~1-2s on the
      reference machine: a single-thread pure-Python loop (machine +
      interpreter speed, JVM-independent) and a fixed Spark sum (JVM +
      scheduler + codegen state as configured for THIS sweep). A later
      round's total divided by the calibration ratio is comparable
      across windows; a calibration shift with a flat query map means
      the machine moved, not the code.
    """
    ctx: dict = {}
    # sampled at sweep END — inevitably reads the sweep's own 32-core
    # load; the pre-sweep sample (loadavg_before, attached in main) is
    # the one that proves window quietness. Shipping BOTH makes the
    # quiet-window claim self-contained in the artifact instead of
    # living in SCALE.md prose (VERDICT r14 Next #4).
    ctx["loadavg_after"] = _loadavg()
    mhz = []
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.lower().startswith("cpu mhz"):
                    mhz.append(float(line.split(":")[1]))
    except (OSError, ValueError):
        pass
    ctx["cpu_mhz_mean"] = round(sum(mhz) / len(mhz), 1) if mhz else None
    t0 = time.perf_counter()
    acc = 0
    for i in range(20_000_000):  # fixed single-thread python kernel
        acc += i ^ (i >> 3)
    ctx["calib_python_sec"] = round(time.perf_counter() - t0, 3)
    ctx["_calib_acc"] = acc % 997  # defeat dead-code elimination
    ctx["calib_spark_sec"] = spark_calib(spark)
    del ctx["_calib_acc"]
    return ctx


def build_record(
    timings: dict[str, float],
    all_samples: dict[str, list[float]],
    sf: str,
    registered: set[str],
    machine: dict | None = None,
) -> dict:
    """The full BENCH.json record: headline totals, untruncated query
    map, the generated included/excluded manifest, and the variance
    spread for the top-15 rows by wall-time (VERDICT r11 Next #3: the
    dedup family shows 1.5-1.8x single-run cross-session swings with
    unchanged code — record median + min/max + run count so the wobble
    band is MEASURED in the artifact the judge reads, not asserted)."""
    core = timings.get("core_suite")
    n_headline = len(timings) - (1 if core is not None else 0)
    record = {
        "metric": f"total wall-clock, {n_headline} queries, sf{sf}",
        # core_suite excluded from the headline total (same rule as
        # emit_line) so BENCH.json and the stdout line agree and both
        # compare like-for-like with pre-core_suite rounds
        "value": round(
            sum(v for n, v in timings.items() if n != "core_suite"), 3
        ),
        "unit": "sec",
        "queries": dict(sorted(timings.items())),
        "sf": float(sf),
    }
    if core is not None:
        record["core_suite_sec"] = core
    if machine is not None:
        record["machine"] = machine
    record.update(build_manifest(registered))
    top15 = sorted(timings, key=lambda n: -timings[n])[:15]
    record["spread_top15"] = {
        n: {
            "median": timings[n],
            "min": round(min(all_samples[n]), 3),
            "max": round(max(all_samples[n]), 3),
            "runs": len(all_samples[n]),
        }
        for n in sorted(top15)
    }
    # VERDICT r15 Next #2c: per-run samples for EVERY query, in run
    # order. Caches and pins are released after every run, so no run
    # reads another's cache; run 1 still pays first-execution codegen,
    # which a median of 3 hides and the raw samples show.
    record["samples"] = {
        n: [round(s, 3) for s in all_samples[n]] for n in sorted(all_samples)
    }
    return record


def write_artifacts(record: dict, here: str) -> None:
    """Atomic-write BENCH.json; with BENCH_CLOSE=1 also write
    BENCH_CLOSE.json (builder-close protocol, VERDICT r11 Next #2:
    the driver sync overwrites BENCH.json in place, so the builder's
    closing numbers were only recoverable via git — BENCH_CLOSE.json
    is a filename the sync never touches, carrying
    ``builder_close: true``, so after a sync both numbers coexist:
    BENCH.json = the driver's sweep, BENCH_CLOSE.json = the builder's
    committed close)."""
    tmp = os.path.join(here, "BENCH.json.tmp")
    with open(tmp, "w") as f:
        json.dump(record, f, indent=1)
    os.replace(tmp, os.path.join(here, "BENCH.json"))
    if os.environ.get("BENCH_CLOSE", "") == "1":
        close_record = dict(record, builder_close=True)
        tmp = os.path.join(here, "BENCH_CLOSE.json.tmp")
        with open(tmp, "w") as f:
            json.dump(close_record, f, indent=1)
        os.replace(tmp, os.path.join(here, "BENCH_CLOSE.json"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # a 50+ query × 3-run sweep in one 32-thread JVM accumulates
    # broadcast/codegen/shuffle state; on the 8g default heap the GC
    # pressure shows up as erratic 3-5× inflation of individual query
    # medians late in the sweep (observed round 3). 16g keeps the sweep
    # flat; the env var still overrides for constrained machines.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    # median-of-3 by default: the first execution of a plan pays 1-3s of
    # whole-stage-codegen compilation that steady-state runs never see
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    full = os.environ.get("BENCH_FULL", "") == "1"
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from dumbo_spark.registry import QUERIES
    from dumbo_spark.session import get_session

    names = sorted(QUERIES) if full else [n for n in HEADLINE if n in QUERIES]

    # pre-sweep load sample: the END-of-sweep loadavg is the sweep's own
    # load, so THIS is the reading that proves a quiet close window
    loadavg_before = _loadavg()
    spark = get_session("dumbo_spark_bench")
    warm_up(spark)

    timings: dict[str, float] = {}
    all_samples: dict[str, list[float]] = {}
    # In-sweep calibration series (VERDICT r13 Next #1): the start-of-
    # run calibration provably missed r13's mid-sweep contention, so
    # sample the fixed Spark kernel every CALIB_EVERY queries and ship
    # the series in the artifact next to the timings it contextualizes.
    calib_sweep: list[dict] = []
    for i, name in enumerate(names):
        m = measure(spark, QUERIES[name].fn, sf_dir, runs)
        timings[name] = round(m.median, 3)
        all_samples[name] = m.samples
        if (i + 1) % CALIB_EVERY == 0:
            calib_sweep.append(
                {"after_query": i + 1, "calib_spark_sec": spark_calib(spark)}
            )

    # Aggregated sub-second-core row (VERDICT r14 Next #2): one timed
    # pass over every _CORE_REASON-excluded operator, summed into a
    # single headline row so a core-operator regression is
    # bench-visible without re-bloating the stdout line. Skipped under
    # BENCH_FULL, where every name is already timed individually.
    core_detail: dict[str, float] = {}
    core_runner = None
    if not full:
        try:
            core_total, core_detail = core_suite_pass(spark, QUERIES, sf_dir)
            timings["core_suite"] = core_total
            all_samples["core_suite"] = [core_total]

            def core_runner() -> None:
                core_suite_pass(spark, QUERIES, sf_dir)
        except Exception as exc:  # the suite must never fail the bench
            print(f"core_suite failed: {exc!r}", file=sys.stderr)

    # Post-sweep self-adjudication: re-run (median-of-3, JVM now quiet)
    # every row >2x its committed BENCH_CLOSE counterpart and record
    # both readings, so contention-inflated rows clear themselves in
    # the artifact instead of requiring a human A/B (VERDICT r13 #1).
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        adjudications = adjudicate(
            spark,
            QUERIES,
            sf_dir,
            timings,
            load_close_queries(here, sf),
            extra_runners={"core_suite": core_runner} if core_runner else None,
        )
    except Exception as exc:  # adjudication must never fail the bench
        print(f"adjudication failed: {exc!r}", file=sys.stderr)
        adjudications = {"rows": {}, "error": repr(exc)}

    # Comparability metadata sampled at sweep END, same JVM, so the
    # Spark calibration kernel sees the sweep's codegen/GC state — the
    # state the late-sweep query timings actually ran under. The
    # in-sweep calibration series and the pre-sweep load sample attach
    # OUTSIDE the try: a machine_context failure must not drop the
    # contention evidence already collected (ADVICE r14).
    try:
        machine = machine_context(spark)
    except Exception as exc:  # metadata must never fail the bench
        print(f"machine_context failed: {exc!r}", file=sys.stderr)
        machine = {"error": repr(exc)}
    machine["calib_sweep"] = calib_sweep
    machine["loadavg_before"] = loadavg_before

    print(emit_line(timings, sf))
    spark.stop()
    # Write the FULL record (untruncated per-query map + the generated
    # included/excluded manifest) to BENCH.json so the one-line stdout
    # contract stays small while the headline's composition stays
    # auditable (VERDICT r9 Next #6).
    try:
        record = build_record(timings, all_samples, sf, set(QUERIES), machine)
        record["adjudications"] = adjudications
        if core_detail:
            record["core_suite_detail"] = core_detail
        write_artifacts(record, here)
    except Exception as exc:  # the stdout line is the driver contract —
        print(f"BENCH.json write failed: {exc!r}", file=sys.stderr)
    # Refresh the external-evidence matrix as a bench side effect: the
    # driver runs bench every round AFTER the correctness harness, so
    # this picks up the newest CORRECTNESS_r*.json instead of shipping
    # a report frozen at the previous session's end (VERDICT r4 #3).
    try:
        import subprocess

        here = os.path.dirname(os.path.abspath(__file__))
        # evidence_report.py writes EVIDENCE.md itself (atomic
        # temp+rename) — stdout is never captured into the file, so
        # incidental prints/warnings can't corrupt it (ADVICE r5)
        out = subprocess.run(
            [sys.executable, os.path.join(here, "tools", "evidence_report.py")],
            capture_output=True, text=True, timeout=120, cwd=here,
        )
        if out.returncode != 0:
            print(
                f"evidence refresh failed rc={out.returncode}: "
                f"{out.stderr[-300:]}",
                file=sys.stderr,
            )
    except Exception as exc:  # refresh must never fail the bench —
        print(f"evidence refresh failed: {exc!r}", file=sys.stderr)


if __name__ == "__main__":
    main()
