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


def test_ab_tree_decides_only_on_ten_pairs_and_a_gap_wider_than_the_iqr():
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(__file__))
    path = os.path.join(root, "tools", "ab_tree.py")
    spec = importlib.util.spec_from_file_location("_ab_tree", path)
    ab_tree = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ab_tree)

    old = [1.0, 1.02, 0.98, 1.01, 0.99, 1.0, 1.03, 0.97, 1.0, 1.01]
    # two pairs 25% apart: too few to decide
    assert ab_tree.verdict([0.878, 0.9], [1.1, 1.1]).startswith("unresolved")
    assert ab_tree.verdict(old, [t * 1.3 for t in old]).startswith("new SLOWER")
    assert ab_tree.verdict(old, [t * 0.7 for t in old]).startswith("new FASTER")
    # 10 of 10 pairs lost, but by less than the old tree's spread
    assert ab_tree.verdict(old, [t * 1.01 for t in old]).startswith("unresolved")
