"""connected_components' two paths: graphs of at most _LOCAL_MAX_EDGES
edges are solved on the driver, everything else runs the distributed
min-label loop. Both must return the same rows, the same schema and
the same max_iter failures."""

from __future__ import annotations

import random

import pytest

from dumbo_spark.operators import dedup


@pytest.fixture
def paths_taken(monkeypatch):
    """Record, per connected_components call, which path answered it:
    "driver", "distributed", or "raised" (the driver path's max_iter
    valve fired)."""
    taken = []
    solve = dedup._solve_on_driver

    def spy(*args, **kwargs):
        taken.append("raised")
        out = solve(*args, **kwargs)
        taken[-1] = "distributed" if out is None else "driver"
        return out

    monkeypatch.setattr(dedup, "_solve_on_driver", spy)
    return taken


def _distributed(monkeypatch, edges, **kwargs):
    with monkeypatch.context() as mp:
        mp.setattr(dedup, "_LOCAL_MAX_EDGES", 0)
        return dedup.connected_components(edges, **kwargs)


def test_driver_path_matches_distributed_loop(spark, monkeypatch, paths_taken):
    rng = random.Random(3)
    graphs = []
    for _ in range(3):
        n = rng.randint(5, 60)
        pairs = [
            (rng.randint(0, n), rng.randint(0, n))
            for _ in range(rng.randint(3, 80))
        ]
        pairs += [(pairs[0][0], pairs[0][0])]  # self-edge
        pairs += pairs[:4]  # duplicates
        graphs.append((pairs, "doc_a long, doc_b long"))
    # string ids: the minimum is lexicographic ("s10" < "s9")
    graphs.append(
        ([(f"s{a}", f"s{b}") for a, b in pairs], "doc_a string, doc_b string")
    )
    # one deep path, written high-to-low, beside an island
    graphs.append(
        ([(i + 1, i) for i in range(30)] + [(100, 101)], "doc_a int, doc_b int")
    )
    for pairs, ddl in graphs:
        edges = spark.createDataFrame(pairs, ddl)
        driver = dedup.connected_components(edges)
        distributed = _distributed(monkeypatch, edges)
        assert driver.schema == distributed.schema, ddl
        assert sorted(driver.collect()) == sorted(distributed.collect()), pairs
    assert paths_taken == ["driver", "distributed"] * len(graphs)


@pytest.mark.parametrize("chain", [1, 2, 3])
def test_driver_path_raises_exactly_when_the_loop_does(
    spark, monkeypatch, paths_taken, chain
):
    """On the diameter-8 path 1-2-...-9 the farthest node is 8 hops
    from the minimum, so the labels last change in round 8: both paths
    raise for max_iter <= 8 and converge from 9 on."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_a long, doc_b long"
    )
    for max_iter in (3, 8):
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(edges, max_iter=max_iter, chain=chain)
        with pytest.raises(RuntimeError, match="did not converge"):
            _distributed(monkeypatch, edges, max_iter=max_iter, chain=chain)
    want = {(i, 1) for i in range(1, 10)}
    for got in (
        dedup.connected_components(edges, max_iter=9, chain=chain),
        _distributed(monkeypatch, edges, max_iter=9, chain=chain),
    ):
        assert {(r.doc_id, r.cluster_id) for r in got.collect()} == want
    assert paths_taken == ["raised", "distributed"] * 2 + ["driver", "distributed"]


def test_null_ids_and_durable_runs_take_the_distributed_path(
    spark, checkpoint_dir, paths_taken
):
    """A null id sends a graph to the loop; a checkpoint directory does
    not: a small graph under one is still solved on the driver."""
    with_null = spark.createDataFrame(
        [(1, None), (2, 3)], "doc_a long, doc_b long"
    )
    got = dedup.connected_components(with_null).collect()
    assert {(1, 1), (2, 2), (3, 2)} <= {(r.doc_id, r.cluster_id) for r in got}
    assert paths_taken == ["distributed"]
    edges = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    durable = dedup.connected_components(edges)
    assert {(r.doc_id, r.cluster_id) for r in durable.collect()} == {
        (1, 1), (2, 1), (3, 1)}
    assert paths_taken == ["distributed", "driver"]
