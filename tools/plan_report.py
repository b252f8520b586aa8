"""Generate PLANS.md: a physical-plan audit of every registered query.

For each query: exchange count, join strategies, whole-stage-codegen
spans, Python boundary crossings, scan pushdown — the properties that
decide 100 TB behavior (SURVEY §4). Run after operator changes:

    python tools/plan_report.py > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# ── BNLJ allowlist ──────────────────────────────────────────────────────
# CartesianProduct is NEVER allowed (cart column must be all-zero; the
# run exits non-zero otherwise). BroadcastNestedLoopJoin is allowed ONLY
# for the names below, each carrying its boundedness class — a BNLJ is
# O(n·m) and only survives 100 TB when one side is bounded by
# construction. A name appearing with bnlj>0 that is NOT listed here
# fails the run (and tests/test_plan_audit.py re-checks the committed
# PLANS.md without Spark).
_SCALAR = (
    "scalar-attach: crossJoin(broadcast(<=k-row aggregate)) rides a "
    "corpus pass; the broadcast side is a constant-size total/threshold "
    "frame"
)
_SAMPLE = (
    "bounded-sample audit: the broadcast side is a fixed-size query "
    "panel / codebook / recall sample (n_queries, 2048-row training "
    "sample), so the loop is k x n by construction"
)
_GRID = (
    "bounded-grid densify/theta: nested loop against a broadcast "
    "calendar/category/k-curve grid whose size is schema-bounded, not "
    "data-proportional"
)
_ROLLUP = (
    "bounded-rollup theta-join: the nested loop runs over a calendar- "
    "or group-bounded aggregate (daily/weekly rollup), never raw rows"
)
BNLJ_JUSTIFIED = {
    # bounded-sample audits (ANN probes, recall/fidelity panels)
    # (r15 optimization: dedup_recall_checked and simhash_recall_checked
    # left this list — folding their count-scalar ⨯ hit-join crossJoins
    # into one left-join aggregate removed their BNLJ nodes entirely)
    **{n: _SAMPLE for n in (
        "centroid_affinity", "cms_hitters_checked",
        "consistent_entity_sample", "contrastive_pairs",
        "ivfpq_recall_checked",
        "knn_classifier_eval", "knn_cosine", "knn_cosine_ivf",
        "knn_cosine_pq", "knn_euclid", "knn_recall_checked",
        "matryoshka_fidelity", "pca_top_component", "pq_recall_checked",
    )},
    # bounded grids (densification / coverage curves)
    **{n: _GRID for n in (
        "event_mix_weekly_drift", "ngram_coverage_curve",
    )},
    # calendar/group rollup theta-joins
    **{n: _ROLLUP for n in (
        "theil_sen_trend", "daily_autocorrelation", "order_cadence",
    )},
    # scalar attaches (broadcast 1-row totals/quantile thresholds)
    **{n: _SCALAR for n in (
        "basket_rules", "benford_screen", "bigram_pmi", "bm25_topk",
        "bpe_compression_stats", "chi2_lang_source",
        "churn_risk_buckets", "copurchase_triangles",
        "corpus_source_concentration", "customer_rfm", "cusum_drift",
        "decile_lift_table", "dedup_report",
        "distinctive_tokens_by_lang", "doc_perplexity",
        "dow_hour_heatmap", "dsir_importance_weights",
        "dsir_topk_selection", "heavy_hitter_tokens",
        "idle_rich_customers", "interleaved_mix_head",
        "kn_continuation_counts", "lang_source_contingency",
        "rank_fusion_rrf", "recency_weighted_value",
        "revenue_share_parts", "session_depth_histogram",
        "source_divergence_matrix", "source_mix_rebalance",
        "source_quality_matrix", "source_temperature_mix",
        "stupid_backoff_scores", "tfidf_top_terms", "token_doc_freq",
        "token_source_mi", "top_percent_customers",
        "training_mix_epochs", "user_active_days_histogram",
    )},
}


# ── Unpartitioned-window allowlist (VERDICT r15 Next #8) ───────────────
# ``Window.orderBy(...)`` without ``partitionBy`` moves that node's
# input to ONE task — a scale-killer unless the input is bounded by
# construction. Every such source site must appear here, keyed
# "<file>.py:<function>", naming its bound. scan_window_sites() finds
# the sites by AST (an Attribute access ``Window.orderBy`` — a
# partitioned spec calls orderBy on the partitionBy() RESULT, so the
# pattern is exact); the generator fails on an unlisted site, and
# tests/test_plan_audit.py re-checks without Spark. The per-query
# ``uwin`` column in PLANS.md shows where these windows surface in
# executed plans (shared helpers like global_rank ride into many
# consumers).
WINDOW_BOUNDED = {
    "topk.py:moving_avg_daily": (
        "daily-rollup frame: the window runs over the day-level "
        "aggregate (365 rows/yr), never the fact table"
    ),
    "topk.py:global_rank": (
        "partition-offset frame: the window orders the per-partition "
        "count table (one row per range partition, = parallelism), "
        "not the data"
    ),
    "textstats.py:vocab_growth": (
        "bucket-rollup frame: cumulative sum over doc-id buckets "
        "(corpus_size/bucket_size rows)"
    ),
    "textstats.py:bm25_topk": (
        "k-row head: rank assignment rides a limit(k) head (k=10), "
        "not the scored corpus"
    ),
    "textstats.py:ngram_coverage_curve": (
        "k-row head: rank over limit(max(ks)) most-frequent grams"
    ),
    "packing.py:interleaved_mix_head": (
        "vocab-bounded: row_number over DISTINCT sources (a handful "
        "of rows by schema)"
    ),
    "packing.py:dsir_topk_selection": (
        "k-row head: sel_rank rides a limit(k) head of the weights "
        "table"
    ),
    "analytics.py:skyline_parts": (
        "dimension-bounded: global order over the part dimension "
        "(docstring: fact-scale skylines use bucketed cummin + offsets)"
    ),
    "events.py:cumulative_new_users": (
        "daily-rollup frame: cumulative sum over per-day first-seen "
        "counts"
    ),
    "runners.py:_write_event_slices": (
        "test-fixture writer: slices the bounded replay fixture for "
        "streaming tests; never a query path"
    ),
}


def scan_window_sites(pkg_root: str | None = None) -> list[tuple[str, str]]:
    """AST-scan dumbo_spark/ for ``Window.orderBy`` (unpartitioned spec
    construction) sites. Returns [(key, "path:lineno"), ...] where key
    is the WINDOW_BOUNDED allowlist key "<file>.py:<function>"."""
    import ast

    if pkg_root is None:
        pkg_root = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "dumbo_spark",
        )
    sites: list[tuple[str, str]] = []
    for dirpath, _dirs, files in os.walk(pkg_root):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                tree = ast.parse(f.read())
            funcs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr == "orderBy"
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "Window"
                ):
                    enc = [
                        name
                        for (a, b, name) in funcs
                        if a <= node.lineno <= (b or a)
                    ]
                    fname = enc[-1] if enc else "<module>"
                    sites.append((f"{fn}:{fname}", f"{path}:{node.lineno}"))
    return sites


def window_site_violations(sites: list[tuple[str, str]]) -> list[str]:
    return [
        f"{loc} ({key}): unpartitioned Window.orderBy not in "
        "WINDOW_BOUNDED allowlist"
        for key, loc in sites
        if key not in WINDOW_BOUNDED
    ]


def main() -> None:
    from dumbo_spark.plans.explain import physical_summary
    from dumbo_spark.registry import QUERIES
    from dumbo_spark.session import get_session

    spark = get_session("plan_report")
    print("# PLANS — physical-plan audit of every registered query\n")
    print(f"Generated against `{SF_DIR}`. Columns: shuffle exchanges, "
          "broadcast/sort-merge joins, whole-stage-codegen spans, Python "
          "evals (Arrow UDF boundaries), parquet filter pushdown, "
          "TakeOrderedAndProject, CartesianProduct nodes, "
          "BroadcastNestedLoopJoin nodes, unpartitioned Window nodes. "
          "The last three are the scale-killer "
          "columns: cart must be all-zero, every bnlj>0 name must "
          "appear in tools/plan_report.py's BNLJ_JUSTIFIED allowlist with "
          "its boundedness class (scalar-attach / bounded-sample audit / "
          "bounded grid / bounded rollup), and every uwin>0 plan node "
          "must trace to a WINDOW_BOUNDED-allowlisted source site (the "
          "table after this one) — the generator exits non-zero "
          "otherwise, and tests/test_plan_audit.py re-checks this file "
          "against the allowlists without Spark.\n")
    print("| query | exch | bcast | smj | codegen | py | pushdown | topk | cart | bnlj | uwin |")
    print("|---|---|---|---|---|---|---|---|---|---|---|")
    violations = []
    for name, q in sorted(QUERIES.items()):
        try:
            s = physical_summary(q.fn(spark, SF_DIR))
            print(
                f"| {name} | {s['exchanges']} | {s['broadcast_joins']} | "
                f"{s['sortmerge_joins']} | {s['wholestage_codegen_spans']} | "
                f"{s['python_evals']} | {'✓' if s['pushed_filters'] else '—'} | "
                f"{s['take_ordered']} | {s['cartesian_products']} | "
                f"{s['bnl_joins']} | "
                f"{'?' if s['unpart_windows'] is None else s['unpart_windows']} |"
            )
            if s["cartesian_products"] > 0:
                violations.append(f"{name}: CartesianProduct in plan")
            if s["bnl_joins"] > 0 and name not in BNLJ_JUSTIFIED:
                violations.append(f"{name}: unjustified BroadcastNestedLoopJoin")
        except Exception as e:  # pragma: no cover
            print(f"| {name} | ERROR: {str(e)[:60]} | | | | | | | | | |")
    spark.stop()
    # Source-site audit of Window.orderBy-without-partitionBy (VERDICT
    # r15 Next #8): the uwin column shows WHERE single-task windows
    # surface; this table pins WHY each one is bounded. Keyed by source
    # site, not query name, because shared helpers (global_rank's
    # offsets frame) ride into dozens of consumers.
    print("\n## Unpartitioned Window sites (WINDOW_BOUNDED allowlist)\n")
    print("| site | bound |")
    print("|---|---|")
    sites = scan_window_sites()
    for key, _loc in sorted(set(sites)):
        print(f"| {key} | {WINDOW_BOUNDED.get(key, 'UNLISTED')} |")
    violations.extend(window_site_violations(sites))
    if violations:  # the report is also a gate (stderr + exit code)
        for v in violations:
            print(f"VIOLATION {v}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
