"""Unit tests for the probabilistic / rows-only operators — the checks
the DuckDB oracle can't express (SURVEY §7.3#3): LSH recall against
exact ground truth, sketch error bounds, skew-path equivalence, and
dumbo-mapredtest-style edge cases (empty input, nulls, single group).
"""

from __future__ import annotations

import pytest
from conftest import checkpoint_dir_set, on_both_cc_paths
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dumbo_spark.operators import agg, dedup, similarity, topk
from dumbo_spark.operators._checkpoint import pin
from dumbo_spark.sources.catalog import load_table

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows], DOC_SCHEMA
    )


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm window sill and the birds sing in the garden trees"
)


def test_minhash_finds_planted_near_dups(spark):
    rows = [(0, BASE), (1, BASE.replace("garden", "forest"))]
    rows += [(i, f"totally different text number {i} about spark engines " * 3) for i in range(2, 12)]
    found = dedup.dedup_fuzzy(_docs(spark, rows), threshold=0.5).collect()
    pairs = {(r.doc_a, r.doc_b) for r in found}
    assert (0, 1) in pairs
    est = {(r.doc_a, r.doc_b): r.est_jaccard for r in found}[(0, 1)]
    assert est >= 0.5


def test_minhash_no_false_high_jaccard(spark):
    rows = [(i, f"unique document {i} with words w{i}a w{i}b w{i}c w{i}d w{i}e w{i}f") for i in range(10)]
    found = dedup.dedup_fuzzy(_docs(spark, rows), threshold=0.5).collect()
    assert found == []


def test_fuzzy_verified_exact_jaccard(spark):
    """The verified pipeline reports true Jaccard for planted dups and
    drops candidates whose exact overlap is below threshold."""
    rows = [(0, BASE), (1, BASE.replace("garden", "forest").replace("dog", "wolf"))]
    rows += [(i, f"noise doc {i} " + " ".join(f"w{i}x{j}" for j in range(20))) for i in range(2, 10)]
    got = dedup.dedup_fuzzy_verified(
        _docs(spark, rows), jaccard_threshold=0.5, candidate_threshold=0.2
    ).collect()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in got}
    assert (0, 1) in pairs
    # 2 word substitutions break ≤6 of ~24 shingles: jaccard well > 0.5
    assert pairs[(0, 1)] >= 0.5
    assert all(a == 0 and b == 1 for a, b in pairs)


def test_fuzzy_verified_md5_finds_planted_dups(spark):
    """The engine-neutral md5 MinHash pipeline (r11 doc_pagerank
    promotion): planted near-dup found, unrelated docs not paired —
    same contract as the xxhash64 family, different hash family."""
    rows = [(0, BASE), (1, BASE.replace("garden", "forest"))]
    rows += [
        (i, f"noise doc {i} " + " ".join(f"w{i}x{j}" for j in range(25)))
        for i in range(2, 10)
    ]
    got = dedup.dedup_fuzzy_verified_md5(_docs(spark, rows)).collect()
    pairs = {(r.doc_a, r.doc_b) for r in got}
    assert pairs == {(0, 1)}


def test_fuzzy_verified_md5_integer_threshold(spark):
    """10·|∩| >= 7·|∪| boundary: identical docs (jaccard 1) pass; a
    doc sharing well under 70% of shingles does not."""
    low_overlap = BASE[: len(BASE) // 2] + " entirely different back half of content here now"
    rows = [(0, BASE), (1, BASE), (2, low_overlap)]
    got = dedup.dedup_fuzzy_verified_md5(_docs(spark, rows)).collect()
    pairs = {(r.doc_a, r.doc_b) for r in got}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_fuzzy_verified_md5_degenerate_inputs(spark):
    """mapredtest-style edges: an all-unique corpus yields no pairs;
    docs under the 3-token shingle floor are silently shingle-less
    (excluded from the graph, not crashed on)."""
    rows = [(0, "one two"), (1, ""), (2, "x")]
    rows += [(i, f"unique doc {i} " + " ".join(f"q{i}w{j}" for j in range(10)))
             for i in range(3, 8)]
    assert dedup.dedup_fuzzy_verified_md5(_docs(spark, rows)).collect() == []


def test_pagerank_empty_edge_set_returns_empty(spark):
    """r11 guard: PageRank over an EDGELESS graph (no verified
    near-dup pairs anywhere) returns an empty frame instead of
    dividing by zero nodes."""
    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    out = dedup.pagerank(edges, max_iter=3)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == ["doc_id", "rank"]


def test_simhash_near_dup_pairs(spark):
    rows = [(0, BASE), (1, BASE + " extra"), (2, "completely unrelated words about databases and storage engines and columnar formats and query optimizers for analytics")]
    found = dedup.dedup_simhash(_docs(spark, rows), max_hamming=10).collect()
    pairs = {(r.doc_a, r.doc_b) for r in found}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_knn_lsh_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.knn_cosine(emb, n_queries=8, k=5).collect()
    approx = similarity.knn_cosine_lsh(emb, n_queries=8, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_knn_ivf_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.knn_cosine(emb, n_queries=8, k=5).collect()
    approx = similarity.knn_cosine_ivf(emb, n_queries=8, k=5).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert len(approx_set) == len(exact_set)  # always returns full k
    assert recall >= 0.3, f"IVF recall too low: {recall}"


def test_det_kmeans_cells_partition_and_determinism(spark, sf_dir):
    """The r11 integer-exact Lloyd index (knn_cosine_ivf promotion):
    every vector lands in exactly one cell, centers are quantized
    BIGINTs, and a re-run reproduces the identical partition — the
    reproducibility property Spark-ML KMeans (k-means|| init) never
    guaranteed across environments."""
    emb = load_table(spark, sf_dir, "embeddings")
    a1, c1 = similarity.det_kmeans_cells(emb, n_cells=8, n_iter=3)
    a2, c2 = similarity.det_kmeans_cells(emb, n_cells=8, n_iter=3)
    assert c1 == c2
    rows1 = {r.vec_id: r.cell for r in a1.collect()}
    rows2 = {r.vec_id: r.cell for r in a2.collect()}
    assert rows1 == rows2
    assert len(rows1) == emb.count()  # total partition, no dup/drop
    assert set(rows1.values()) <= set(range(8))
    assert all(isinstance(v, int) for ms in c1 for v in ms)


def test_det_kmeans_empty_input_raises(spark):
    import pytest as _pytest

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="no rows"):
        similarity.det_kmeans_cells(emb, n_cells=4)


def test_det_kmeans_empty_cell_keeps_previous_center(spark):
    """Two planted clusters of IDENTICAL points, 3 cells: two of the
    three seeds must share a vector value, so the distance tie sends
    every row to the lower cell id and the other cell goes EMPTY from
    iteration 1 — the operator must neither crash nor lose the cell
    (centers list stays length 3). Magnitudes stay inside the
    documented |e| <= ~180 int64 contract."""
    rows = [(i, [50.0] * 4) for i in range(6)]
    rows += [(i + 6, [-50.0] * 4) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, centers = similarity.det_kmeans_cells(emb, n_cells=3, n_iter=4)
    assert len(centers) == 3
    got = {r.vec_id: r.cell for r in assigned.collect()}
    assert len(got) == 12
    # the two planted clusters never share a cell, and exactly one of
    # the three cells is unused (the empty-cell path exercised)
    pos_cells = {got[i] for i in range(6)}
    neg_cells = {got[i + 6] for i in range(6)}
    assert pos_cells.isdisjoint(neg_cells)
    assert len(pos_cells) == 1 and len(neg_cells) == 1


def test_stratified_sample_fractions(spark, sf_dir):
    from dumbo_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    frac = {"en": 0.25, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    got = {
        r.lang: r.n
        for r in stratified_sample(docs, fractions=frac)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    base = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lg in ("de", "es", "fr", "zh"):  # full-rate strata kept intact
        assert got[lg] == base[lg]
    en_rate = got["en"] / base["en"]
    assert 0.1 < en_rate < 0.45, en_rate  # Bernoulli(0.25) on ~190 docs


def test_split_is_deterministic_and_disjoint(spark, sf_dir):
    from dumbo_spark.operators.sampling import split_train_test

    docs = load_table(spark, sf_dir, "documents")
    a = {(r.doc_id, r.split) for r in split_train_test(docs).collect()}
    b = {(r.doc_id, r.split) for r in split_train_test(docs.repartition(13)).collect()}
    assert a == b  # partitioning-independent assignment
    n_test = sum(1 for _, s in a if s == "test")
    assert 0.03 < n_test / len(a) < 0.2  # ~10% bucket


def test_approx_count_distinct_error(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    approx = {r.event_type: r.approx_users for r in agg.approx_distinct(ev).collect()}
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for et, n in exact.items():
        assert abs(approx[et] - n) / n < 0.05


def test_approx_percentile_error_bound(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    approx = {r.l_returnflag: r.p50_price for r in agg.approx_percentiles(li).collect()}
    exact = {r.l_returnflag: r.p50_price for r in agg.group_percentiles(li).collect()}
    for k, v in exact.items():
        assert abs(approx[k] - v) / v < 0.01, k  # accuracy 10k => sub-1% here


def test_salted_topk_matches_plain_window(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    plain = topk.topk_per_group(orders, k=3).select(
        "o_orderpriority", "o_orderkey"
    ).collect()
    salted = topk.salted_topk_per_group(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        "o_orderpriority",
        "o_totalprice",
        k=3,
    ).select("o_orderpriority", "o_orderkey").collect()
    # same groups and same price-set; keys may differ only on ties
    assert {(r.o_orderpriority) for r in plain} == {(r.o_orderpriority) for r in salted}
    assert len(plain) == len(salted)


@on_both_cc_paths
def test_connected_components_chain_and_island(spark):
    """A~B~C chain collapses to one cluster labeled min(id); isolated
    pair stays its own cluster."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


@on_both_cc_paths
def test_connected_components_durable_checkpoint(spark, tmp_path, monkeypatch):
    """Under a checkpoint directory every pin is a reliable checkpoint
    (the cluster-durability path): the rows equal the local-pin
    default, and the pins are written under the directory (seen as each
    pin is taken: the stale-pin release deletes the files later)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    local = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(edges).collect()
    }
    written = []

    def recording_pin(df, eager=False):
        pinned = pin(df, eager)
        written.extend(tmp_path.glob("*/rdd-*"))
        return pinned

    monkeypatch.setattr(dedup, "pin", recording_pin)
    with checkpoint_dir_set(spark.sparkContext, tmp_path):
        durable = {
            (r.doc_id, r.cluster_id)
            for r in dedup.connected_components(edges).collect()
        }
    assert durable == local
    assert durable == {(i, 1) for i in range(1, 6)} | {(10, 10), (11, 10)}
    assert written


def test_connected_components_shared_durable_dir_no_collision(
    spark, checkpoint_dir, monkeypatch
):
    """Two loop runs under one checkpoint directory write their pins to
    separate rdd-N directories, so the first run's lazily evaluated
    result is NOT changed by the second run (ADVICE r2: fixed
    alternating paths collided)."""
    monkeypatch.setattr(dedup, "_LOCAL_MAX_EDGES", 0)  # run the loop's pins
    e1 = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    e2 = spark.createDataFrame([(7, 8)], "doc_a long, doc_b long")
    r1 = dedup.connected_components(e1)
    r2 = dedup.connected_components(e2)
    # collect r1 AFTER running r2: with colliding paths this would
    # read r2's files and lose r1's rows
    assert {(r.doc_id, r.cluster_id) for r in r2.collect()} == {(7, 7), (8, 7)}
    assert {(r.doc_id, r.cluster_id) for r in r1.collect()} == {
        (1, 1), (2, 1), (3, 1)}


@on_both_cc_paths
def test_connected_components_random_graphs_match_union_find(spark):
    """Randomized differential for the one-shuffle-per-round CC (self-
    loop + pre-partitioned adjacency + fused convergence scan): on
    seeded random multigraphs — duplicate edges, input self-edges,
    singleton pairs, string ids — every label must equal the component
    minimum computed by an independent pure-Python union-find."""
    import random

    def uf_components(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        return {n: min(m for m in parent if find(m) == find(n)) for n in parent}

    rng = random.Random(1206)
    for trial in range(3):
        n = rng.randint(5, 40)
        pairs = [
            (rng.randint(0, n), rng.randint(0, n))
            for _ in range(rng.randint(3, 60))
        ]
        pairs += [(a, a) for a in (pairs[0][0], pairs[-1][1])]  # self-edges
        pairs += pairs[:3]  # duplicates
        want = uf_components(pairs)
        edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got = {
            (r.doc_id, r.cluster_id)
            for r in dedup.connected_components(edges).collect()
        }
        assert got == set(want.items()), f"trial {trial} diverged"
    # same machinery must hold for non-numeric ids (min is lexicographic)
    spairs = [("w3", "w7"), ("w7", "w11"), ("x2", "x9")]
    want_s = uf_components(spairs)
    sedges = spark.createDataFrame(spairs, "doc_a string, doc_b string")
    got_s = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(sedges).collect()
    }
    assert got_s == set(want_s.items())


def test_dedup_clusters_planted(spark):
    """Three mutually-similar docs form one cluster with keeper=min."""
    rows = [(0, BASE), (1, BASE.replace("garden", "forest")), (2, BASE.replace("lazy", "sleepy"))]
    rows += [(i, f"noise doc {i} " + " ".join(f"w{i}x{j}" for j in range(25))) for i in range(3, 12)]
    clusters = dedup.dedup_clusters(_docs(spark, rows)).collect()
    assert len(clusters) == 1
    c = clusters[0]
    assert c.keep_id == 0 and c.n_members == 3 and c.cluster_id == 0


# ── mapredtest-style edge cases (FIXTURES.md §C) ────────────────────────


def test_empty_input(spark):
    empty = _docs(spark, [])
    from dumbo_spark.operators.textstats import wordcount

    assert wordcount(empty).collect() == []
    assert dedup.dedup_fuzzy(empty).collect() == []
    assert dedup.dedup_exact(empty).collect() == []


def test_null_text_rows_survive(spark):
    df = spark.createDataFrame(
        [(0, None, "en", "s", 0), (1, "one two two", "en", "s", 11)], DOC_SCHEMA
    )
    from dumbo_spark.operators.textstats import wordcount

    counts = {r.word: r.cnt for r in wordcount(df).collect()}
    assert counts == {"one": 1, "two": 2}


def test_single_group(spark):
    df = spark.createDataFrame(
        [(1, 10, "A", 1.0)], "l_orderkey long, l_linenumber int, l_returnflag string, l_quantity double"
    )
    res = df.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    assert res[0].n == 1


def test_jaccard_prefix_join_exact_and_no_cartesian(spark):
    """Prefix filtering must be lossless (every planted pair ≥ t found,
    sub-threshold pairs dropped) and must plan equi-joins only — a
    cartesian/nested-loop product would be the n² trap at scale."""
    rows = [(0, BASE), (1, BASE.replace("garden", "forest"))]
    rows += [(i, f"unrelated filler number {i} " + " ".join(f"w{i}x{j}" for j in range(15)))
             for i in range(2, 12)]
    df = dedup.jaccard_ngram_pairs(_docs(spark, rows), threshold_pct=50)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in df.collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 0.5
    assert all(a == 0 and b == 1 for a, b in pairs)


def test_fuzzy_join_cross_table_exact(spark):
    """Two-table PPJoin: planted near-dup pairs across the tables are
    all found (lossless prefix filter under the shared global gram
    order), within-table similarity is ignored, and the plan stays on
    equi-joins."""
    left_rows = [(0, BASE), (1, "completely different text about ships and harbors and tides " + " ".join(f"l{j}" for j in range(12)))]
    right_rows = [(100, BASE.replace("garden", "forest")),
                  (101, BASE)]  # exact copy → jaccard 1.0
    right_rows += [(i, f"noise right {i} " + " ".join(f"r{i}x{j}" for j in range(15)))
                   for i in range(102, 110)]
    df = dedup.fuzzy_join_jaccard(
        _docs(spark, left_rows), _docs(spark, right_rows), threshold_pct=50
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    pairs = {(r.left_id, r.right_id): r.jaccard for r in df.collect()}
    assert pairs[(0, 101)] == 1.0
    assert (0, 100) in pairs and pairs[(0, 100)] >= 0.5
    assert set(pairs) == {(0, 100), (0, 101)}


def test_pagerank_star_and_pair(spark):
    """Star graph (hub 1 ↔ leaves 2,3,4) + isolated pair (10,11):
    ranks match the hand-derived fixpoint and sum to 1."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.rank for r in dedup.pagerank(edges, max_iter=40).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # symmetric leaves tie; hub outranks leaves; pair nodes tie
    assert abs(got[2] - got[3]) < 1e-9 and abs(got[3] - got[4]) < 1e-9
    assert got[1] > got[2]
    assert abs(got[10] - got[11]) < 1e-9
    # closed-form for the star under d=0.85, N=6: hub = base + d*(3*leaf/1... )
    # verified numerically instead: fixpoint residual is tiny
    base = 0.15 / 6
    # fixpoint residual decays as damping^k: 0.85^40 ~ 1.5e-3
    hub_expect = base + 0.85 * (got[2] + got[3] + got[4])  # leaves have deg 1
    assert abs(got[1] - hub_expect) < 2e-3
    leaf_expect = base + 0.85 * (got[1] / 3)
    assert abs(got[2] - leaf_expect) < 2e-3


def test_pagerank_random_graphs_match_reference(spark):
    """Randomized differential for the hoisted-adjacency PageRank: on
    seeded random multigraphs (duplicate edges = parallel edges, both
    contribute to degree AND inflow — the engine's count semantics),
    every rank must match an independent pure-Python power iteration
    to float tolerance, and Σrank = 1."""
    import random

    def py_pagerank(pairs, max_iter=10, d=0.85):
        adj: dict = {}
        for a, b in pairs:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        n = len(adj)
        ranks = {v: 1.0 / n for v in adj}
        base = (1.0 - d) / n
        for _ in range(max_iter):
            inflow = {v: 0.0 for v in adj}
            for v, nbrs in adj.items():
                c = ranks[v] / len(nbrs)
                for u in nbrs:
                    inflow[u] += c
            ranks = {v: base + d * inflow[v] for v in adj}
        return ranks

    rng = random.Random(1207)
    for trial in range(2):
        n = rng.randint(4, 25)
        pairs = [
            (rng.randint(0, n), rng.randint(0, n))
            for _ in range(rng.randint(3, 40))
        ]
        pairs = [(a, b) for a, b in pairs if a != b]  # no self-edges
        if not pairs:
            pairs = [(0, 1)]
        want = py_pagerank(pairs)
        edges = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got = {r.doc_id: r.rank for r in dedup.pagerank(edges, max_iter=10).collect()}
        assert set(got) == set(want), f"trial {trial}: node sets differ"
        assert abs(sum(got.values()) - 1.0) < 1e-9
        for v in want:
            # partial-agg float summation order differs between the
            # engines; 10 damped iterations keep the drift far below 1e-9
            assert abs(got[v] - want[v]) < 1e-9, f"trial {trial}, node {v}"


@on_both_cc_paths
def test_iterative_operators_release_stale_round_blocks(spark):
    """The iterative loops free each stale round's checkpoint blocks
    (the shared-session leak): after a CC run only the input-edge-free
    survivors remain — final labels (the returned frame MUST stay
    collectible, twice) — and repeated runs don't accumulate."""
    from dumbo_spark.testing import release_persistent_rdds

    release_persistent_rdds(spark)  # isolate from other tests' blocks
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(100, 101)],
        "doc_a long, doc_b long",
    )
    out = dedup.connected_components(edges)
    got = {(r.doc_id, r.cluster_id) for r in out.collect()}
    assert {c for _, c in got} == {0, 100}
    n_after_one = spark.sparkContext._jsc.getPersistentRDDs().size()
    # final labels (+ nothing per-round): a 12-diameter chain runs ~12
    # rounds; without the release that is ~13 pinned label tables
    assert n_after_one <= 2, f"{n_after_one} RDDs left pinned"
    # the returned frame survives the cleanup (its backing is the final
    # round, which must NOT have been released)
    assert {(r.doc_id, r.cluster_id) for r in out.collect()} == got
    for _ in range(2):
        dedup.connected_components(edges).collect()
    n_after_three = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert n_after_three <= n_after_one + 4  # no per-run accumulation blowup
