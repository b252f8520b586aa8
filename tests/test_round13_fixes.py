"""Round-13 fixes: checkpoint-helper promotion (ADVICE r12), the
observable eager-release fallback (VERDICT r12 Next #6), pagerank runs
sharing a checkpoint directory, and release_persistent_rdds living in
the runtime (session.py) instead of the oracle harness (testing.py)."""

import ast
import logging
import os

import pytest
from conftest import checkpoint_dir_set

from dumbo_spark.operators import _checkpoint, dedup


def test_release_local_checkpoint_logs_on_fallback(caplog):
    """A failing py4j accessor chain must WARN once (so bench logs show
    when eager release degrades to GC-timed) and go quiet afterwards —
    a Spark upgrade that breaks the private accessors would otherwise
    silently reintroduce the shared-session memory inflation."""

    class _Boom:
        @property
        def _jdf(self):
            raise RuntimeError("accessor chain changed")

    _checkpoint._release_fallback_warned = False
    try:
        with caplog.at_level(logging.DEBUG, logger=_checkpoint.__name__):
            _checkpoint._release_local_checkpoint(_Boom())
            _checkpoint._release_local_checkpoint(_Boom())
        warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
        assert len(warnings) == 1
        assert "GC-timed" in warnings[0].getMessage()
        debugs = [r for r in caplog.records if r.levelno == logging.DEBUG]
        assert len(debugs) == 1  # repeat failures demoted to debug
    finally:
        _checkpoint._release_fallback_warned = False


def test_release_local_checkpoint_silent_on_success(spark, caplog):
    df = spark.range(3).localCheckpoint()
    with caplog.at_level(logging.DEBUG, logger=_checkpoint.__name__):
        _checkpoint._release_local_checkpoint(df)
    assert not caplog.records


def test_checkpoint_helpers_shared_not_duplicated():
    """graph.py and dedup.py must use the SAME helper object (promoted
    to operators/_checkpoint.py) — not a cross-module private import or
    a copy that could drift."""
    from dumbo_spark.operators import graph

    assert graph._release_local_checkpoint is _checkpoint._release_local_checkpoint
    assert dedup._release_local_checkpoint is _checkpoint._release_local_checkpoint
    assert graph.pin is dedup.pin is _checkpoint.pin


def test_release_persistent_rdds_is_a_runtime_utility():
    """bench.py imports nothing from dumbo_spark.testing, so a
    bench-only environment without duckdb can run; testing.py
    re-exports session's release_persistent_rdds for existing callers."""
    from dumbo_spark import session, testing

    assert testing.release_persistent_rdds is session.release_persistent_rdds
    bench = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
    modules = set()
    for node in ast.walk(ast.parse(open(bench).read())):
        if isinstance(node, ast.ImportFrom):
            modules.add(node.module or "")
        elif isinstance(node, ast.Import):
            modules.update(alias.name for alias in node.names)
    assert "dumbo_spark.session" in modules  # the walk sees bench's imports
    assert not {m for m in modules if m.startswith("dumbo_spark.testing")}


def test_pagerank_shared_durable_dir_no_collision(spark, tmp_path):
    """Two pagerank runs under one checkpoint directory write their pins
    to separate rdd-N directories (ADVICE r12: fixed
    pr_edges/pr_deg/pr_adj/ranks paths collided), so the first run's
    lazily evaluated result is NOT changed by the second run."""
    e1 = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    e2 = spark.createDataFrame([(7, 8)], "doc_a long, doc_b long")
    local1 = {r.doc_id: r.rank for r in dedup.pagerank(e1, max_iter=3).collect()}
    with checkpoint_dir_set(spark.sparkContext, tmp_path):
        r1 = dedup.pagerank(e1, max_iter=3)
        r2 = dedup.pagerank(e2, max_iter=3)
        # collect r1 AFTER running r2: with colliding paths this would
        # read r2's files and lose r1's node set
        got2 = {r.doc_id: r.rank for r in r2.collect()}
        got1 = {r.doc_id: r.rank for r in r1.collect()}
    assert set(got2) == {7, 8}
    # the reliable pins agree with the local-pin default
    assert got1 == pytest.approx(local1)
    assert list(tmp_path.glob("*/rdd-*"))


def _py_bpe_batched(word_counts, n_rounds, batch_k):
    """Pure-python reference for textstats.bpe_learn_merges_batched:
    top-k pairs by (count DESC, a, b); keep a candidate iff it shares
    no symbol with ANY higher-ranked candidate; apply all kept merges
    in one left-to-right scan per word."""
    vocab = {w: (c, list(w)) for w, c in word_counts.items()}
    merges = []
    for r in range(n_rounds):
        counts = {}
        for _, (c, syms) in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + c
                )
        if not counts:
            break
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:batch_k]
        kept = []
        for i, ((a, b), c) in enumerate(top):
            if any({a, b} & {top[j][0][0], top[j][0][1]} for j in range(i)):
                continue
            kept.append((a, b, c))
        for sel, (a, b, c) in enumerate(kept, 1):
            merges.append((r + 1, sel, a, b, c))
        pairset = {(a, b): a + b for a, b, _ in kept}
        for w, (c, syms) in vocab.items():
            acc = []
            for x in syms:
                if acc and (acc[-1], x) in pairset:
                    acc[-1] = pairset[(acc[-1], x)]
                else:
                    acc.append(x)
            vocab[w] = (c, acc)
    return merges


def test_bpe_batched_matches_python_reference(spark):
    texts = [
        "abab abab cdcd",
        "abab efef cdcd cdcd",
        "efef abab zz",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from collections import Counter

    wc = Counter(w for t in texts for w in t.split())
    from dumbo_spark.operators.textstats import bpe_learn_merges_batched

    got = [
        (r["round"], r["sel_rank"], r["left_sym"], r["right_sym"],
         r["pair_count"])
        for r in bpe_learn_merges_batched(docs, n_rounds=3, batch_k=3)
        .orderBy("round", "sel_rank").collect()
    ]
    assert got == _py_bpe_batched(dict(wc), 3, 3)
    # at least one round must actually batch >1 merge, or the test
    # exercises nothing beyond greedy
    per_round = {}
    for rnd, sel, *_ in got:
        per_round[rnd] = max(per_round.get(rnd, 0), sel)
    assert max(per_round.values()) >= 2


def test_bpe_batched_k1_equals_greedy(spark):
    """With batch_k=1 the disjointness rule is vacuous and each round
    IS the greedy argmax — the batched trainer must reproduce
    bpe_learn_merges exactly."""
    texts = ["the cat sat on the mat", "the bat and the rat", "cat cat"]
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    from dumbo_spark.operators.textstats import (
        bpe_learn_merges,
        bpe_learn_merges_batched,
    )

    greedy = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_learn_merges(docs, n_merges=4)
        .orderBy("merge_rank").collect()
    ]
    batched = [
        (r["round"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_learn_merges_batched(docs, n_rounds=4, batch_k=1)
        .orderBy("round").collect()
    ]
    assert batched == greedy
