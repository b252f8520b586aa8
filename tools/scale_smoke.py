"""Scale smoke: run headline operators on ~10× sf0.1 data (≈sf1:
6M lineitem rows, 10M events) synthesized by replicating the fixtures
with shifted keys into /tmp. Verifies the operator plans scale
linearly (no accidental n² joins, no driver collects, no window over a
global key) before anyone pays for a real cluster run.

    python tools/scale_smoke.py            # prints a timing table

Each query runs through tools/scale_class.py's ``run_one``: timed once
by ``dumbo_spark.profiling.measure()`` into the noop sink (the full
plan), then its rows are counted untimed — the row count is the
smoke's other signal (cross-sweep row drift = semantics change).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPL = int(os.environ.get("SCALE_REPL", "10"))
OUT = f"/tmp/dumbo_spark_scale_x{REPL}"


def build(spark, repl: int | None = None, out: str | None = None) -> None:
    from pyspark.sql import functions as F

    from dumbo_spark.sources.catalog import load_table

    repl = REPL if repl is None else repl
    out = OUT if out is None else out
    os.makedirs(out, exist_ok=True)
    plans = {
        "lineitem": ("l_orderkey", 10_000_000),
        "orders": ("o_orderkey", 10_000_000),
        "events": ("event_id", 10_000_000),
        "customer": ("c_custkey", 1_000_000),
        # replicated docs are exact dups of their source rows — the
        # worst case for the dedup family (max candidate fan-out)
        "documents": ("doc_id", 10_000_000),
    }
    for name, (key, stride) in plans.items():
        dst = f"{out}/{name}.parquet"
        if os.path.exists(dst):
            continue
        df = load_table(spark, BASE_SF, name)
        rep = df.withColumn("_r", F.explode(F.array(*[F.lit(i) for i in range(repl)])))
        rep = rep.withColumn(key, F.col(key) + F.col("_r").cast("long") * stride).drop("_r")
        rep.write.mode("overwrite").parquet(dst)
    # copy small dims unchanged
    import shutil

    for name in ("part", "nation", "region", "supplier", "embeddings"):
        dst = f"{out}/{name}.parquet"
        if not os.path.exists(dst):
            shutil.copy(f"{BASE_SF}/{name}.parquet", dst)


def main() -> None:
    # imported before the session starts: scale_class turns the UI on
    # for its per-stage REST metrics
    from scale_class import run_one

    from dumbo_spark.session import get_session

    spark = get_session("scale_smoke")
    t0 = time.perf_counter()
    build(spark)
    print(f"# build: {time.perf_counter()-t0:.1f}s  ({REPL}× {BASE_SF} → {OUT})")

    names = [
        "group_sum",
        "group_multi_sum",
        "pricing_summary",
        "join_broadcast_dim",
        "join_inner",
        "top_revenue_nations",
        "topk_per_group",
        "count_distinct",
        "events_by_day",
        "events_sessionized",
        "events_range_join",
        "asof_last_click",
        "two_phase_agg",
        # round-2 scale-path operators
        "bucketed_quartiles",
        "salted_topk_per_group",
        "repetition_score",
        "benchmark_contamination",
        "dedup_exact",
        "dedup_by_source",
        "dedup_jaccard",
        # round-3 additions
        "sample_exact_n",
        "cross_source_overlap",
        # round-4 additions (streaming_transitions excluded: its replay
        # construction, not the operator, dominates at 10×)
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
        # round-4 batch-2 additions
        "timeseries_gapfill",
        "group_regression",
        "winsorized_stats",
        "dedup_incremental",
        "vocab_growth",
        "scd2_state_intervals",
        "bucketed_colocated_join",
        "dau_wau_stickiness",
        "snapshot_diff",
        "pareto_concentration",
        "bounce_rate",
        # round-4 batch-3/4 additions
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
        # round-5 additions (streaming runners excluded as before:
        # replay construction, not the operator, dominates at 10x)
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
        # round-6 additions (streaming runners excluded as before).
        # semantic_dedup_checked is NOT smoked: its brute-force pair
        # join is the documented audit twin (O(n²) by design, run at
        # verification scale); the 10× scale path is semantic_dedup.
        "ntile_quartiles",
        "percent_rank_balance",
        "simhash_recall_checked",
        "training_mix_epochs",
        "linenumber_density_check",
        "interval_coverage_daily",
        "auc_roc_exact",
        "theil_sen_trend",
        "clustering_coefficient",
        "ngram_novelty_rate",
        "diversified_topk",
        "pq_recall_checked",
        "knn_euclid",
        "rank_fusion_rrf",
        "dataset_manifest",
        "bm25_topk",
        "cusum_drift",
        "calibration_bins",
        # round-8 additions (replicated docs are exact dups — worst
        # case fan-out for the substring/winnowing window families)
        "dedup_substring",
        "dedup_winnowed",
        "dedup_incremental_pruned",
        "dpp_partitioned_join",
        "gopher_quality_screen",
        "copurchase_ktruss",
        "dsir_importance_weights",
        # round-9 additions (the LM count tables are Zipf-bounded, so
        # exact-dup replicas grow only the scored occurrence stream;
        # embeddings stays the fixed 500-row fixture, so the IVFPQ
        # smoke exercises the coding/scoring passes, not corpus growth)
        "gopher_repetition_screen",
        "stupid_backoff_scores",
        "kn_continuation_counts",
        "perplexity_tercile_mix",
        "source_temperature_mix",
        "knn_cosine_ivfpq",
        "ivfpq_recall_checked",
        "greedy_pack_bins",
        "bpe_learn_merges",
        # round-13: batched variant — same vocab-bounded rounds, 1/k jobs
        "bpe_learn_merges_batched",
        "padding_waste_census",
        "bpe_compression_stats",
        "cms_hitters_checked",
        "filter_funnel_report",
        "matryoshka_fidelity",
        "interleaved_mix_head",
        "passage_chunks",
        "ewma_event_volume",
        # round-10 additions (divergence/coverage/position are
        # vocab-bounded aggregates over exact-dup replicas; kfold and
        # the DSIR head ride the two-phase rank and gram-bucket paths)
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
        # round-11 additions: doc_pagerank rides the md5 LSH pipeline
        # over the max-duplication replicas (every doc a REPL-way exact
        # dup — the adversarial pair fan-out the fixture exists to
        # probe, same class as dedup_jaccard); the ANN trio exercises
        # the signature/index passes (embeddings stays the fixed
        # fixture, so corpus growth doesn't apply)
        "doc_pagerank",
        "knn_cosine_lsh",
        "knn_cosine_ivf",
        "embedding_near_dup",
        # round-12 additions: the md5 twins ride the same
        # max-duplication replicas as doc_pagerank (exact-dup docs =
        # adversarial candidate fan-out for both the banded Hamming
        # join and the LSH→verify→components pipeline)
        "dedup_simhash_md5",
        "dedup_clusters_md5",
        # round-14 additions: the trim rides the max-duplication
        # replicas at their adversarial worst (every replica doc is a
        # full-length exact dup, so the covered-position explode hits
        # its w× bound on ~the whole corpus); semantic_dedup_planted
        # plants its own replicas on the FIXED embeddings fixture, so
        # it smokes the planted-cluster plan rather than corpus growth
        "dedup_substring_trim",
        "semantic_dedup_planted",
    ]
    only = os.environ.get("SCALE_ONLY")
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in wanted]
    print(f"| query | sf0.1 ×{REPL} sec | rows |")
    print("|---|---|---|")
    for name in names:
        rec = run_one(spark, name, OUT)
        print(f"| {name} | {rec['sec']} | {rec['rows']} |")
    spark.stop()


if __name__ == "__main__":
    main()
