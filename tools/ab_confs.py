"""Session-conf A/B harness (optimization rounds): run a representative
query subset under conf overrides supplied as KEY=VALUE args, print the
per-query medians and total. Each query is timed through
``dumbo_spark.profiling.measure()`` (noop sink, caches and pins released
after every run). Fresh JVM per invocation — run once per variant and
compare totals.

    python tools/ab_confs.py                              # baseline
    python tools/ab_confs.py spark.sql.join.preferSortMergeJoin=false
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SUBSET = [
    "wordcount", "ngram_count", "group_sum", "group_stats", "join_inner",
    "pricing_summary", "top_revenue_nations", "product_profit",
    "events_sessionized", "moving_avg", "dedup_fuzzy", "knn_cosine",
    "weighted_median_price", "theil_sen_trend", "dedup_jaccard",
    "posting_lists", "basket_rules", "item_similarity",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    overrides = dict(a.split("=", 1) for a in sys.argv[1:])

    from dumbo_spark.session import get_session

    spark = get_session("ab_confs")
    can_set = True
    for k, v in overrides.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            print(f"static conf {k} needs restart: {exc}", file=sys.stderr)
            can_set = False
    if not can_set:
        sys.exit(2)

    from dumbo_spark.profiling import measure, warm_up
    from dumbo_spark.registry import QUERIES

    warm_up(spark)
    timings = {
        name: round(measure(spark, QUERIES[name].fn, sf_dir, runs).median, 3)
        for name in SUBSET
    }
    for n, s in timings.items():
        print(f"{n:28s} {s:7.3f}")
    print(f"TOTAL {sum(timings.values()):.3f}  overrides={overrides}")
    spark.stop()


if __name__ == "__main__":
    main()
