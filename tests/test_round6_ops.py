"""Round-6 breadth operators: checked-tier completion (simhash,
semantic), mixture planning, dense-sequence DQ, interval coverage."""

from __future__ import annotations

from pyspark.sql import functions as F

from dumbo_spark.sources.catalog import load_table


def test_simhash_recall_checked_bound_holds(spark, sf_dir):
    from dumbo_spark.operators.dedup import simhash_recall_checked

    row = simhash_recall_checked(load_table(spark, sf_dir, "documents")).collect()[0]
    assert row["n_exact_pairs"] > 0
    assert row["recall_ok"]


def test_simhash_recall_checked_flags_broken_bands(spark):
    """Identical docs (Jaccard 1.0, Hamming 0) must be caught; a
    corpus of unrelated docs yields zero exact pairs (trivially ok)."""
    from dumbo_spark.operators.dedup import simhash_recall_checked

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again", "en", "a", 60),
        (2, "the quick brown fox jumps over the lazy dog again and again", "en", "b", 60),
        (3, "completely different text about spark query engines at scale", "en", "a", 60),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    row = simhash_recall_checked(df).collect()[0]
    assert row["n_exact_pairs"] == 1 and row["recall_ok"]


def test_semantic_dedup_checked_clusters(spark):
    """Three near-identical vectors + one orthogonal: one 3-cluster
    with min-id keeper, the loner absent from the output."""
    from dumbo_spark.operators.similarity import semantic_dedup_checked

    rows = [
        (10, [1.0, 0.0, 0.0, 0.0], 0),
        (11, [0.99, 0.1, 0.0, 0.0], 0),
        (12, [0.98, 0.15, 0.0, 0.0], 0),
        (99, [0.0, 0.0, 1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in semantic_dedup_checked(df, threshold=0.9).collect()}
    assert set(out) == {10, 11, 12}
    assert all(r["cluster_id"] == 10 and r["cluster_size"] == 3 for r in out.values())
    assert out[10]["is_keeper"] and not out[11]["is_keeper"]


def test_training_mix_epochs_uniform(spark, sf_dir):
    from dumbo_spark.operators.packing import training_mix_epochs

    docs = load_table(spark, sf_dir, "documents")
    out = training_mix_epochs(docs, budget_tokens=1000).collect()
    k = len(out)
    for r in out:
        assert abs(r["target_tokens"] - 1000.0 / k) < 1e-6
        assert abs(r["epochs"] - (1000.0 / k) / r["available_tokens"]) < 1e-4


def test_training_mix_epochs_weighted(spark):
    from dumbo_spark.operators.packing import training_mix_epochs

    rows = [(1, "a b c d", "en", "s1", 7), (2, "e f", "en", "s2", 3)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        r["source"]: r
        for r in training_mix_epochs(
            df, budget_tokens=100, weights={"s1": 3.0, "s2": 1.0}
        ).collect()
    }
    assert out["s1"]["target_tokens"] == 75.0 and out["s2"]["target_tokens"] == 25.0
    assert abs(out["s1"]["epochs"] - 75.0 / 4) < 1e-6
    assert abs(out["s2"]["epochs"] - 25.0 / 2) < 1e-6


def test_training_mix_epochs_empty_vs_zero_weight(spark):
    """ADVICE r7: an EMPTY documents table returns an empty frame (as
    it always did), while a weights dict matching no observed source
    still fails fast with the zero-weight message."""
    import pytest

    from dumbo_spark.operators.packing import training_mix_epochs

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    empty = spark.createDataFrame([], schema)
    assert training_mix_epochs(empty, budget_tokens=100).count() == 0
    assert (
        training_mix_epochs(
            empty, budget_tokens=100, weights={"nope": 1.0}
        ).count()
        == 0
    )
    rows = [(1, "a b", "en", "s1", 3)]
    df = spark.createDataFrame(rows, schema)
    with pytest.raises(Exception, match="weights match no observed source"):
        training_mix_epochs(df, budget_tokens=100, weights={"nope": 1.0}).collect()


def test_linenumber_density_check_classes(spark):
    from dumbo_spark.operators.dq import linenumber_density_check

    rows = (
        # order 1: dense 1..3
        [(1, i) for i in (1, 2, 3)]
        # order 2: gap (1,3)
        + [(2, 1), (2, 3)]
        # order 3: duplicate (1,1,2)
        + [(3, 1), (3, 1), (3, 2)]
        # order 4: nonpositive (0,1)
        + [(4, 0), (4, 1)]
    )
    df = spark.createDataFrame(rows, "l_orderkey long, l_linenumber int")
    out = {r["seq_check"]: r["n_orders"] for r in linenumber_density_check(df).collect()}
    assert out == {
        "dense_ok": 1,
        "gapped_sequence": 1,
        "duplicate_linenumber": 1,
        "nonpositive_linenumber": 1,
    }


def test_interval_coverage_merges_overlaps(spark):
    """Two overlapping sessions by different users must count their
    union once; a disjoint later session adds its own span."""
    from datetime import datetime

    from dumbo_spark.operators.events import interval_coverage_daily

    def ts(h, m):
        return datetime(2024, 1, 1, h, m)

    rows = [
        # user 1: session 10:00-11:00 (every gap <= 30 min)
        (1, 1, ts(10, 0)), (2, 1, ts(10, 20)), (3, 1, ts(10, 45)), (4, 1, ts(11, 0)),
        # user 2: session 10:30-11:30 (overlaps user 1's)
        (5, 2, ts(10, 30)), (6, 2, ts(10, 55)), (7, 2, ts(11, 20)), (8, 2, ts(11, 30)),
        # user 3: disjoint 14:00-14:10
        (9, 3, ts(14, 0)), (10, 3, ts(14, 10)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = interval_coverage_daily(df).collect()
    assert len(out) == 1
    r = out[0]
    # union = 10:00-11:30 (90 min) + 14:00-14:10 (10 min)
    assert r["covered_us"] == 100 * 60 * 1_000_000
    assert r["n_intervals"] == 2


def test_auc_roc_exact_known_values(spark):
    """Hand-computable case with a tie: scores pos={3,2}, neg={2,1}.
    Pairs: (3,2)+1, (3,1)+1, (2,2)+.5, (2,1)+1 → AUC = 3.5/4 = 0.875."""
    from dumbo_spark.operators.analytics import auc_roc_exact

    rows = [
        (1, "F", 3.0),
        (2, "F", 2.0),
        (3, "O", 2.0),
        (4, "O", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    r = auc_roc_exact(df).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (2, 2)
    assert abs(r["auc"] - 0.875) < 1e-9


def test_auc_roc_exact_degenerate_single_class(spark):
    from dumbo_spark.operators.analytics import auc_roc_exact

    df = spark.createDataFrame(
        [(1, "F", 1.0), (2, "F", 2.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    r = auc_roc_exact(df).collect()[0]
    assert r["n_neg"] == 0 and r["auc"] is None


def test_clustering_coefficient_triangle_plus_tail(spark):
    """Graph: triangle {1,2,3} plus pendant 4-1. Node 1 has degree 3,
    1 triangle -> c=1/3; nodes 2,3 degree 2 -> c=1.0; node 4 degree 1
    -> NULL."""
    from dumbo_spark.operators.graph import clustering_coefficient

    # orders co-purchase: build baskets so that support >= 2 edges are
    # exactly {1-2, 1-3, 2-3, 1-4}
    rows = []
    ok = 0
    for _ in range(2):  # each basket twice -> co-occurrence support 2
        for basket in ([1, 2, 3], [1, 4]):
            ok += 1
            rows += [(ok, p) for p in basket]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = {r["part"]: r for r in clustering_coefficient(df).collect()}
    assert out[1]["degree"] == 3 and out[1]["n_triangles"] == 1
    assert abs(out[1]["clustering_coeff"] - 1 / 3) < 1e-6
    assert out[2]["clustering_coeff"] == 1.0 and out[3]["clustering_coeff"] == 1.0
    assert out[4]["degree"] == 1 and out[4]["clustering_coeff"] is None


def test_ngram_novelty_first_doc_fully_novel(spark):
    from dumbo_spark.operators.textstats import ngram_novelty_rate

    rows = [
        (1, "alpha beta gamma delta", "en", "s", 22),       # grams: ab g, b g d
        (2, "alpha beta gamma epsilon", "en", "s", 24),     # first gram repeated
        (3, "zz yy xx", "en", "s", 8),                      # one novel gram
        (4, "too short", "en", "s", 9),                     # no grams -> absent
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in ngram_novelty_rate(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["novelty_rate"] == 1.0
    # doc 2: grams {alpha beta gamma, beta gamma epsilon} -> 1 of 2 novel
    assert out[2]["n_grams"] == 2 and out[2]["n_novel"] == 1
    assert out[3]["novelty_rate"] == 1.0


def test_theil_sen_trend_robust_to_outlier(spark):
    """Perfect line y=2x+5 over 7 days with one blown-out day: the
    Theil-Sen slope stays 2.0 (median of pairwise slopes), where OLS
    would not."""
    from datetime import date

    from dumbo_spark.operators.analytics import theil_sen_trend

    rows = []
    ok = 0
    for d in range(7):
        y = 2.0 * d + 5.0 if d != 3 else 1000.0  # day 3 is an outlier
        ok += 1
        rows.append((ok, date(2024, 1, 1 + d), y))
    df = spark.createDataFrame(rows, "o_orderkey long, o_orderdate date, o_totalprice double")
    r = theil_sen_trend(df).collect()[0]
    assert r["n_days"] == 7 and r["n_pairs"] == 21
    assert abs(r["slope"] - 2.0) < 1e-9
    assert abs(r["intercept"] - 5.0) < 1e-9


def test_diversified_topk_quota_enforced(spark, sf_dir):
    from pyspark.sql import functions as F
    from dumbo_spark.operators.topk import diversified_topk

    out = diversified_topk(load_table(spark, sf_dir, "part"))
    per = out.groupBy("p_size", "p_brand").agg(F.count("*").alias("n"))
    assert per.where(F.col("n") > 2).count() == 0, "brand quota violated"
    sizes = out.groupBy("p_size").agg(F.count("*").alias("n"))
    assert sizes.where(F.col("n") > 10).count() == 0, "k exceeded"


def test_pq_codes_deterministic_and_bounded(spark, sf_dir):
    from pyspark.sql import functions as F
    from dumbo_spark.operators.similarity import pq_codes

    emb = load_table(spark, sf_dir, "embeddings")
    a = {r["vec_id"]: list(r["codes"]) for r in pq_codes(emb).collect()}
    b = {r["vec_id"]: list(r["codes"]) for r in pq_codes(emb).collect()}
    assert a == b, "codes must be run-deterministic"
    some = next(iter(a.values()))
    assert len(some) == 16
    assert all(0 <= c < 32 for codes in a.values() for c in codes)


def test_pq_recall_checked_bound_holds(spark, sf_dir):
    from dumbo_spark.operators.similarity import pq_recall_checked

    row = pq_recall_checked(load_table(spark, sf_dir, "embeddings")).collect()[0]
    assert row["n_queries"] == 8 and row["pq_recall_ok"]
    # measured-recall pins (VERDICT r7 #4): 16/40 = 0.40 on the sf0.001
    # fixture, 22/40 = 0.55 at sf0.01 (16x32 geometry, deterministic
    # training) — a silent recall regression now fails here, and the
    # driver oracle recomputes the same integer in SQL.
    assert 0 < row["n_hits"] <= row["n_exact_pairs"]
    if sf_dir.rstrip("/").endswith("sf0.001"):
        assert row["n_hits"] == 16, f"measured recall drifted: {row}"


def test_rank_fusion_rrf_scores(spark, sf_dir):
    """A neighbor in both top-5 lists at rank r1/r2 scores
    1/(60+r1)+1/(60+r2); fused list caps at k per query."""
    from pyspark.sql import functions as F
    from dumbo_spark.operators.similarity import (
        knn_cosine,
        knn_euclid,
        rank_fusion_rrf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = rank_fusion_rrf(emb)
    per_q = out.groupBy("query_id").agg(F.count("*").alias("n"))
    assert per_q.where(F.col("n") > 5).count() == 0
    cos = {(r["query_id"], r["neighbor_id"]): r["rn"] for r in knn_cosine(emb).collect()}
    euc = {(r["query_id"], r["neighbor_id"]): r["rn"] for r in knn_euclid(emb).collect()}
    for r in out.collect():
        key = (r["query_id"], r["neighbor_id"])
        expect = 0.0
        if key in cos:
            expect += 1.0 / (60 + cos[key])
        if key in euc:
            expect += 1.0 / (60 + euc[key])
        assert abs(r["rrf_score"] - round(expect, 6)) < 1e-9


def test_dataset_manifest_counts(spark, sf_dir):
    from dumbo_spark.registry import QUERIES

    rows = {r["table_name"]: r for r in QUERIES["dataset_manifest"].fn(spark, sf_dir).collect()}
    assert rows["region"]["n_rows"] == 5 and rows["region"]["n_cols"] == 2
    assert rows["lineitem"]["n_cols"] == 11
    assert len(rows) == 10


def test_bm25_prefers_term_dense_short_docs(spark):
    from dumbo_spark.operators.textstats import bm25_topk

    rows = [
        (1, "hash join vector hash join", "en", "s", 26),   # dense in all 3
        (2, "hash " + "filler " * 50, "en", "s", 300),      # one term, long
        (3, "nothing relevant here at all", "en", "s", 28),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = bm25_topk(df, k=5)
    rows_out = out.collect()
    ids = [r["doc_id"] for r in sorted(rows_out, key=lambda r: r["rank"])]
    assert ids[0] == 1, "the term-dense doc must rank first"
    assert 3 not in ids, "docs with no query terms never appear"


def test_cusum_drift_detects_level_shift(spark):
    """Flat series then a sustained +jump: cusum grows after the shift
    and alarms; pre-shift days stay near zero."""
    from datetime import datetime

    from dumbo_spark.operators.events import cusum_drift

    rows = []
    eid = 0
    for d in range(20):
        val = 10.0 if d < 12 else 14.0  # sustained shift at day 12
        for j in range(5):
            eid += 1
            rows.append((eid, datetime(2024, 3, 1 + d, 12, j), 1, "view", val))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = sorted(cusum_drift(df).collect(), key=lambda r: r["day"])
    assert not any(r["alarm"] for r in out[:12])
    assert out[-1]["alarm"], "sustained shift must eventually alarm"
    assert out[-1]["cusum"] > out[12]["cusum"] >= 0


def test_calibration_bins_partition_properties(spark, sf_dir):
    from pyspark.sql import functions as F
    from dumbo_spark.operators.analytics import calibration_bins

    orders = load_table(spark, sf_dir, "orders")
    out = calibration_bins(orders)
    rows = {r["bin"]: r for r in out.collect()}
    assert set(rows) == set(range(1, 11))
    total = sum(r["n_rows"] for r in rows.values())
    assert total == orders.count()
    # bins are ordered by score desc: bin 1's mean >= bin 10's mean
    assert rows[1]["mean_score"] >= rows[10]["mean_score"]
    for r in rows.values():
        assert abs(r["pos_rate"] - round(r["n_pos"] / r["n_rows"], 6)) < 1e-9
