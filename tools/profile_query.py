"""Per-query measurement harness for the optimization rounds.

For each named query: N noop-sink timed runs (median), plus Spark
job/stage counts for one run (statusTracker deltas) — the job-count
signal distinguishes "many tiny actions" (iterative loops, eager
checkpoints) from "one slow plan", which decides where to optimize
(guide §1: measure first; §2.4: remove shuffles/passes).

Usage:
    python tools/profile_query.py name1 name2 ...
    BENCH_RUNS=3 python tools/profile_query.py dedup_recall_checked
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

    from dumbo_spark.registry import QUERIES
    from dumbo_spark.session import get_session, release_persistent_rdds

    names = sys.argv[1:]
    spark = get_session("dumbo_spark_profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm up

    tracker = spark.sparkContext.statusTracker()
    print(f"{'query':38s} {'median':>7s} {'runs':>24s} {'jobs':>5s} {'stages':>6s}")
    for name in names:
        if name not in QUERIES:
            print(f"{name:38s}  -- not registered --")
            continue
        q = QUERIES[name]
        samples = []
        jobs = stages = 0
        for i in range(runs):
            j0 = tracker.getJobIdsForGroup(None)
            t0 = time.perf_counter()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            if i == runs - 1:
                j1 = tracker.getJobIdsForGroup(None)
                new_jobs = set(j1) - set(j0)
                jobs = len(new_jobs)
                stages = 0
                for jid in new_jobs:
                    ji = tracker.getJobInfo(jid)
                    if ji is not None:
                        stages += len(ji.stageIds)
            spark.catalog.clearCache()
            release_persistent_rdds(spark)
        med = statistics.median(samples)
        rstr = "/".join(f"{s:.2f}" for s in samples)
        print(f"{name:38s} {med:7.2f} {rstr:>24s} {jobs:5d} {stages:6d}")
    spark.stop()


if __name__ == "__main__":
    main()
