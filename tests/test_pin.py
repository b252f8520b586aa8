"""operators/_checkpoint.pin: a local checkpoint by default, a reliable
one when the session has a checkpoint directory. Only the reliable pin
survives the loss of its blocks, and every consumer of the iterative
operators returns its oracle's rows either way."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError

from dumbo_spark.operators._checkpoint import pin
from dumbo_spark.testing import run_differential

#: the oracle-backed consumers of connected_components and pagerank
CC_AND_PAGERANK_QUERIES = [
    "entity_clusters",
    "copurchase_components",
    "dedup_clusters_md5",
    "jaccard_clusters",
    "dup_cluster_sizes",
    "dedup_canonical",
    "semantic_dedup",
    "semantic_dedup_checked",
    "pagerank_checked",
    "doc_pagerank",
]


def _drop_blocks(df) -> None:
    """Remove the pinned frame's blocks from every executor, as an
    executor loss would."""
    sc = df.sparkSession.sparkContext
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    sc._jsc.sc().env().blockManager().master().removeRdd(rdd_id, True)


def test_without_a_checkpoint_dir_a_pin_dies_with_its_blocks(spark):
    assert spark.sparkContext.getCheckpointDir() is None
    pinned = pin(spark.range(7), eager=True)
    _drop_blocks(pinned)
    with pytest.raises(Py4JJavaError, match="Checkpoint block"):
        pinned.count()


def test_under_a_checkpoint_dir_a_pin_survives_lost_blocks(spark, checkpoint_dir):
    pinned = pin(spark.range(7), eager=True)
    assert list(checkpoint_dir.glob("*/rdd-*"))
    _drop_blocks(pinned)
    assert pinned.count() == 7
    assert sorted(r.id for r in pinned.collect()) == list(range(7))


def test_a_lazy_pin_is_written_by_the_first_action(spark, checkpoint_dir):
    pinned = pin(spark.range(5))
    assert not list(checkpoint_dir.glob("*/rdd-*"))
    assert pinned.count() == 5
    assert list(checkpoint_dir.glob("*/rdd-*"))


@pytest.mark.parametrize("name", CC_AND_PAGERANK_QUERIES)
def test_iterative_consumers_match_oracles_under_a_checkpoint_dir(
    spark, sf_dir, checkpoint_dir, name
):
    res = run_differential(spark, sf_dir, name)
    assert res.ok, res.report()
    assert res.spark_rows == res.oracle_rows
