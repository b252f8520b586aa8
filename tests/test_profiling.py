"""The one timing core, ``profiling.measure()``: what every query
timing in bench.py, ``dumbo-spark profile`` and tools/ goes through."""

from __future__ import annotations

import pytest

from dumbo_spark.profiling import measure
from dumbo_spark.registry import QUERIES
from dumbo_spark.session import release_persistent_rdds


def _pinned(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_measure_releases_pins_after_every_run(spark, sf_dir):
    # each run pins a localCheckpoint; the next run must start with none
    # left over, and none may outlive the last run
    seen = []

    def pinning(s, _sf):
        seen.append(_pinned(s))
        df = s.range(100).localCheckpoint()
        assert _pinned(s) >= 1
        return df

    release_persistent_rdds(spark)  # isolate from other tests' blocks
    m = measure(spark, pinning, sf_dir, 3)
    assert len(m.samples) == 3 and all(s > 0 for s in m.samples)
    assert seen == [0, 0, 0]
    assert _pinned(spark) == 0


def test_measure_counts_the_jobs_and_stages_of_a_query(spark, sf_dir):
    m = measure(spark, QUERIES["group_sum"].fn, sf_dir, 2)
    assert len(m.samples) == 2
    assert m.jobs > 0 and m.stages >= m.jobs


def test_measure_lets_a_failing_query_raise(spark, sf_dir):
    def broken(_s, _sf):
        raise ValueError("bad plan")

    with pytest.raises(ValueError, match="bad plan"):
        measure(spark, broken, sf_dir, 3)
