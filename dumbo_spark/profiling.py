"""The one timing core. ``bench.py``, ``dumbo-spark profile`` and the
A/B tools in ``tools/`` time queries through ``measure()``, so they
share one sink, one release policy and one way of counting jobs."""

from __future__ import annotations

import statistics
import time
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from dumbo_spark.session import release_persistent_rdds


class Measurement(NamedTuple):
    samples: list[float]  # wall seconds of each run, in run order
    jobs: int  # Spark jobs the last run started
    stages: int  # stages of those jobs

    @property
    def median(self) -> float:
        return statistics.median(self.samples)


def warm_up(spark: SparkSession) -> None:
    """One small action before the first timed run, so JVM class loading
    and codegen start-up are not billed to the first query."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def measure(
    spark: SparkSession,
    fn: Callable[[SparkSession, str], DataFrame | None],
    sf_dir: str,
    runs: int,
) -> Measurement:
    """Time ``runs`` builds of ``fn(spark, sf_dir)``, each written to the
    ``noop`` sink (or, when ``fn`` runs its own actions and returns None,
    timed as is).

    After every run the cached plans are cleared and every persisted RDD
    (``localCheckpoint`` blocks included) is released, so no run reads
    an earlier run's pins. Jobs and stages are the last run's, read from
    the status tracker's jobs outside any job group (streaming
    micro-batches run in their own group and are not counted)."""
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    samples: list[float] = []
    jobs = stages = 0
    for _ in range(runs):
        bus.waitUntilEmpty(30_000)  # the status tracker lags the scheduler
        before = set(tracker.getJobIdsForGroup(None))
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        if df is not None:
            df.write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
        bus.waitUntilEmpty(30_000)
        new = set(tracker.getJobIdsForGroup(None)) - before
        infos = [tracker.getJobInfo(j) for j in new]
        jobs, stages = len(new), sum(len(i.stageIds) for i in infos if i is not None)
        spark.catalog.clearCache()
        release_persistent_rdds(spark)
    return Measurement(samples, jobs, stages)
