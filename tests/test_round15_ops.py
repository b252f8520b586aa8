"""Round-15 operator semantics: selfrepeat_trim (intra-document
ExactSubstr removal, keep-first) and the shared interval-merge trim
tail it reuses from substring_dedup_trim."""

import pyspark.sql.functions as F
from conftest import on_both_cc_paths

from dumbo_spark.operators import dedup


def _trim(spark, rows, w=4):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.selfrepeat_trim(df, window_tokens=w)
    return {r["doc_id"]: r.asDict() for r in out.collect()}


def test_selfrepeat_keeps_first_occurrence_only(spark):
    # "a b c d" repeats at positions 1 and 7; the first stays, the
    # second's 4 positions are excised
    got = _trim(spark, [(1, "a b c d x y a b c d z")])
    assert got[1]["n_tokens"] == 11
    assert got[1]["n_removed"] == 4
    assert got[1]["kept_text"] == "a b c d x y z"


def test_selfrepeat_is_per_document_not_cross_document(spark):
    # the same span in two DIFFERENT docs is NOT self-repetition
    got = _trim(spark, [(1, "a b c d tail"), (2, "a b c d other")])
    assert got[1]["n_removed"] == 0
    assert got[2]["n_removed"] == 0
    assert got[2]["kept_text"] == "a b c d other"


def test_selfrepeat_degenerate_run_collapses_to_prefix(spark):
    # "x x x x x x x x": every 4-window is identical; only the first
    # window's start survives as keeper, positions 5..8 are covered by
    # non-first starts 2..5 -> covered = [2..8]; kept = "x"
    got = _trim(spark, [(1, "x x x x x x x x")])
    assert got[1]["n_tokens"] == 8
    assert got[1]["kept_text"] == "x"
    assert got[1]["n_removed"] == 7


def test_selfrepeat_short_empty_null_pass_through(spark):
    got = _trim(spark, [(1, "a b c"), (2, ""), (3, None)])
    for d in (1, 2, 3):
        assert got[d]["n_removed"] == 0
    assert got[1]["kept_text"] == "a b c"
    assert got[2]["n_tokens"] == 0 and got[2]["kept_text"] == ""
    assert got[3]["n_tokens"] == 0 and got[3]["kept_text"] == ""


def test_selfrepeat_matches_pure_python_reference(spark):
    # seeded fuzz: docs built from tiny vocabularies so w-window
    # self-repeats occur organically, plus planted doubled docs
    import random
    from collections import defaultdict

    w = 4
    rows, expect = [], {}
    for seed in range(25):
        rng = random.Random(seed)
        vocab = [f"s{seed}w{i}" for i in range(rng.randrange(2, 6))]
        for d in range(4):
            did = seed * 100 + d
            toks = [rng.choice(vocab) for _ in range(rng.randrange(0, 30))]
            if d == 3:
                toks = toks + toks  # planted full self-repeat
            firsts, covered = {}, set()
            for p in range(len(toks) - w + 1):
                key = tuple(toks[p : p + w])
                if key in firsts:
                    covered.update(range(p, p + w))
                else:
                    firsts[key] = p
            kept = [t for i, t in enumerate(toks) if i not in covered]
            expect[did] = (" ".join(kept), len(toks), len(covered))
            rows.append((did, " ".join(toks)))

    got = _trim(spark, rows, w=w)
    for did, (ktext, nt, nr) in expect.items():
        g = got[did]
        assert (g["kept_text"], g["n_tokens"], g["n_removed"]) == (
            ktext, nt, nr,
        ), did


def test_selfrepeat_plan_stays_jvm_side(spark, sf_dir):
    from dumbo_spark.plans.explain import physical_summary
    from dumbo_spark.registry import QUERIES

    s = physical_summary(QUERIES["dedup_selfrepeat_trim"].fn(spark, sf_dir))
    assert s["python_evals"] == 0
    assert s["cartesian_products"] == 0
    assert s["bnl_joins"] == 0


@on_both_cc_paths
def test_connected_components_chain_values_identical(spark):
    """r15 `chain` (rounds fused per materialize job) is a pure
    scheduling change: labels identical for chain 1/2/3 on a graph
    with a deep path (multi-chunk convergence), a triangle, and
    isolated islands."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),  # path, diam 6
         (20, 21), (21, 22), (22, 20),                     # triangle
         (30, 31)],                                        # island
        "doc_a long, doc_b long",
    )
    results = [
        {
            (r.doc_id, r.cluster_id)
            for r in dedup.connected_components(edges, chain=c).collect()
        }
        for c in (1, 2, 3)
    ]
    assert results[0] == results[1] == results[2]
    assert {c for _, c in results[0]} == {1, 20, 30}


@on_both_cc_paths
def test_connected_components_chain_keeps_nonconvergence_raise(spark):
    """The max_iter safety valve counts PROPAGATION ROUNDS, not jobs:
    a diameter-8 path still raises at max_iter=3 under chain=2 (3
    rounds applied: chunks of 2+1), and converges with the default."""
    import pytest

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iter=3, chain=2)
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(edges, chain=2).collect()
    }
    assert got == {(i, 1) for i in range(1, 10)}


def test_pagerank_chain_values_identical(spark):
    """pagerank `chain` fuses iterations into one lazy plan per
    checkpoint; the IEEE arithmetic sequence is unchanged, so ranks
    must be bit-identical for chain 1/2/3 (including odd max_iter,
    which exercises the short final chunk)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (10, 11)],
        "doc_a long, doc_b long",
    )
    for iters in (1, 5):
        ranks = [
            {r.doc_id: r.rank
             for r in dedup.pagerank(edges, max_iter=iters, chain=c).collect()}
            for c in (1, 2, 3)
        ]
        assert ranks[0] == ranks[1] == ranks[2]


def test_containment_join_zero_gram_docs_excluded(spark):
    """r15 cache fix moved the `_n > 0` filter ABOVE the gram-table
    persist (the pushed-down form re-inlined the tokenize chain into
    the Filter, making the cache build O(tokens^2)). Semantics must be
    unchanged: docs with no 3-grams (under 3 tokens, or empty) never
    appear on either side, and real containment pairs still verify."""
    from dumbo_spark.operators.dedup import containment_join

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # superset doc
            (2, "alpha beta gamma delta"),           # contained in 1
            (3, "xy"),                               # 1 token -> 0 grams
            (4, ""),                                 # empty -> 0 grams
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b) for r in containment_join(docs).collect()}
    ids = {i for pair in got for i in pair}
    assert 3 not in ids and 4 not in ids
    assert (2, 1) in got  # all of 2's grams appear in 1
