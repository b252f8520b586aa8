"""Semantics pins for the round-4 operators on handcrafted inputs —
the differential suite proves oracle equivalence on the fixtures; these
prove the operators mean what their docstrings say (dumbo's
mapredtest.py golden-pair style, SURVEY §5.1)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_user_streaks_islands(spark):
    d = datetime
    ev = _events(
        spark,
        [
            # user 1: days 1,2,3 then 10,11 -> streaks 3 and 2
            (1, d(2024, 1, 1, 5), 1, "a", 0.0),
            (2, d(2024, 1, 1, 9), 1, "a", 0.0),  # same day twice
            (3, d(2024, 1, 2, 5), 1, "a", 0.0),
            (4, d(2024, 1, 3, 5), 1, "a", 0.0),
            (5, d(2024, 1, 10, 5), 1, "a", 0.0),
            (6, d(2024, 1, 11, 5), 1, "a", 0.0),
            # user 2: one day
            (7, d(2024, 2, 1, 0), 2, "a", 0.0),
        ],
    )
    from dumbo_spark.operators.events import user_streaks

    got = {r["user_id"]: r for r in user_streaks(ev).collect()}
    assert got[1]["n_active_days"] == 5
    assert got[1]["longest_streak"] == 3
    assert got[1]["n_streaks"] == 2
    assert got[2]["longest_streak"] == 1


def test_event_transitions_probabilities(spark):
    d = datetime
    ev = _events(
        spark,
        [
            (1, d(2024, 1, 1, 1), 1, "view", 0.0),
            (2, d(2024, 1, 1, 2), 1, "click", 0.0),
            (3, d(2024, 1, 1, 3), 1, "view", 0.0),
            (4, d(2024, 1, 1, 4), 1, "buy", 0.0),
            (5, d(2024, 1, 1, 1), 2, "view", 0.0),
            (6, d(2024, 1, 1, 2), 2, "click", 0.0),
        ],
    )
    from dumbo_spark.operators.events import event_transitions

    got = {(r["event_type"], r["next_type"]): r for r in event_transitions(ev).collect()}
    # view -> click twice, view -> buy once
    assert got[("view", "click")]["n"] == 2
    assert got[("view", "buy")]["n"] == 1
    assert abs(got[("view", "click")]["p"] - 2 / 3) < 1e-6
    # click -> view is the only click transition
    assert got[("click", "view")]["p"] == 1.0


def test_time_weighted_avg_locf(spark):
    d = datetime
    # value 10 held 1s, then value 30 held 3s -> twa = (10*1 + 30*3)/4 = 25
    ev = _events(
        spark,
        [
            (1, d(2024, 1, 1, 0, 0, 0), 1, "m", 10.0),
            (2, d(2024, 1, 1, 0, 0, 1), 1, "m", 30.0),
            (3, d(2024, 1, 1, 0, 0, 4), 1, "m", 99.0),  # no lead -> dropped
        ],
    )
    from dumbo_spark.operators.events import time_weighted_avg

    row = time_weighted_avg(ev).collect()[0]
    assert row["n_segments"] == 2
    assert row["total_us"] == 4_000_000
    assert row["twa_value"] == 25.0


def test_weighted_sample_is_deterministic_and_exact(spark, sf_dir):
    from dumbo_spark.operators.sampling import weighted_sample
    from dumbo_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = weighted_sample(docs, "n_chars", n=50).collect()
    b = weighted_sample(docs.repartition(13), "n_chars", n=50).collect()
    assert len(a) == 50
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)


def test_source_mix_rebalance_caps_shares(spark, sf_dir):
    from dumbo_spark.operators.sampling import source_mix_rebalance
    from dumbo_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = source_mix_rebalance(docs).groupBy("source").count().collect()
    tot = docs.count()
    k = docs.select("source").distinct().count()
    cap = tot / k
    for r in kept:
        # Bernoulli keep-rate targets the uniform share; allow sampling
        # slack but no source may blow past its cap by half again
        assert r["count"] <= cap * 1.5, (r["source"], r["count"], cap)
    # determinism under repartitioning
    again = source_mix_rebalance(docs.repartition(7)).count()
    assert again == sum(r["count"] for r in kept)


def test_copurchase_triangles_hand_graph(spark):
    # orders: {1,2,3} twice (triangle, support 2), {1,4} twice (edge)
    rows = []
    oid = 0
    for _ in range(2):
        oid += 1
        rows += [(oid, p) for p in (1, 2, 3)]
    for _ in range(2):
        oid += 1
        rows += [(oid, p) for p in (1, 4)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    from dumbo_spark.operators.graph import copurchase_triangles

    row = copurchase_triangles(li, min_cooccur=2, max_basket=20).collect()[0]
    assert row["n_nodes"] == 4
    assert row["n_edges"] == 4  # (1,2),(1,3),(2,3),(1,4)
    assert row["n_triangles"] == 1


def test_copurchase_triangles_basket_guard(spark):
    # one 30-line order exceeds max_basket -> contributes nothing
    li = spark.createDataFrame(
        [(1, p) for p in range(30)], "l_orderkey long, l_partkey long"
    )
    from dumbo_spark.operators.graph import copurchase_triangles

    row = copurchase_triangles(li, min_cooccur=1, max_basket=20).collect()[0]
    assert row["n_edges"] == 0 and row["n_triangles"] == 0


def test_near_match_values_blocking_modes(spark):
    df = spark.createDataFrame(
        [("red bolt",), ("old bolt",), ("red ring",), ("blue gear",)], "name string"
    )
    from dumbo_spark.operators.dedup import near_match_values

    suf = near_match_values(df, "name", max_dist=3, block_chars=4, block="suffix")
    pairs = {(r["val_a"], r["val_b"]) for r in suf.collect()}
    assert ("old bolt", "red bolt") in pairs  # same suffix block, dist 3
    pre = near_match_values(df, "name", max_dist=4, block_chars=4, block="prefix")
    pairs_pre = {(r["val_a"], r["val_b"]) for r in pre.collect()}
    assert ("red bolt", "red ring") in pairs_pre  # same prefix block, dist 4
    assert ("old bolt", "red bolt") not in pairs_pre  # different prefix
    # the bounded levenshtein keeps exactly the pairs, and the dist
    # values, that an unbounded distance filtered at max_dist keeps
    words = spark.createDataFrame(
        [(w,) for w in ("bolt", "bold", "boat", "bolts", "colt", "x", "")],
        "name string",
    )
    for max_dist in (0, 1, 2, 5):
        got = near_match_values(words, "name", max_dist=max_dist, block_chars=0)
        a, b = words.alias("a"), words.alias("b")
        want = (
            a.join(b, F.col("a.name") < F.col("b.name"))
            .select(
                F.col("a.name").alias("val_a"),
                F.col("b.name").alias("val_b"),
                F.levenshtein("a.name", "b.name").alias("dist"),
            )
            .where(F.col("dist") <= max_dist)
        )
        assert sorted(got.collect()) == sorted(want.collect()), max_dist


def test_posting_lists_band_and_order(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),
            (3, "zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )
    from dumbo_spark.operators.textstats import posting_lists

    got = {r["token"]: r for r in posting_lists(docs, n=3, min_df=2, max_df=50).collect()}
    assert got["alpha beta gamma"]["postings"] == "1,2"
    assert got["alpha beta gamma"]["doc_freq"] == 2
    # df=1 grams are banded out
    assert "zeta eta theta" not in got


def test_asof_tolerance_bounds_staleness(spark):
    d = datetime
    ev = _events(
        spark,
        [
            (1, d(2024, 1, 1, 0, 0, 0), 1, "click", 0.0),
            (2, d(2024, 1, 1, 0, 5, 0), 1, "purchase", 0.0),   # 5 min after click
            (3, d(2024, 1, 1, 3, 0, 0), 1, "purchase", 0.0),   # 2h55m stale
        ],
    )
    from dumbo_spark.operators.temporal import asof_last_event

    unbounded = asof_last_event(ev)
    assert {r["target_id"] for r in unbounded.collect()} == {2, 3}
    bounded = asof_last_event(ev, tolerance_sec=600)
    assert {r["target_id"] for r in bounded.collect()} == {2}


def test_copresence_hand_case(spark):
    d = datetime
    # u1 session 00:00-01:00 overlaps u2 session 00:30-00:40;
    # u3 at 05:00 overlaps nobody
    ev = _events(
        spark,
        [
            (1, d(2024, 1, 1, 0, 0), 1, "a", 0.0),
            (2, d(2024, 1, 1, 0, 20), 1, "a", 0.0),
            (3, d(2024, 1, 1, 0, 40), 1, "a", 0.0),
            (4, d(2024, 1, 1, 1, 0), 1, "a", 0.0),
            (5, d(2024, 1, 1, 0, 30), 2, "a", 0.0),
            (6, d(2024, 1, 1, 0, 40), 2, "a", 0.0),
            (7, d(2024, 1, 1, 5, 0), 3, "a", 0.0),
        ],
    )
    from dumbo_spark.operators.temporal import copresence_sessions

    got = copresence_sessions(ev).collect()
    assert len(got) == 1
    assert (got[0]["user_a"], got[0]["user_b"], got[0]["n_overlaps"]) == (1, 2, 1)


def test_hll_rollup_within_error_bound(spark, sf_dir):
    from dumbo_spark.operators.agg import hll_partitioned_counts
    from dumbo_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    approx = {r["event_type"]: r["approx_users"] for r in hll_partitioned_counts(ev).collect()}
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(approx) == set(exact)
    for t, est in approx.items():
        assert abs(est - exact[t]) <= max(2, 0.05 * exact[t]), (t, est, exact[t])
    # determinism: sketch merge is commutative, repartitioning is a no-op
    again = {r["event_type"]: r["approx_users"] for r in hll_partitioned_counts(ev.repartition(17)).collect()}
    assert again == approx


def test_customer_rfm_segments(spark):
    from datetime import datetime as d

    orders = spark.createDataFrame(
        # champion: recent + frequent + big; hibernating: old + once + small
        [
            (1, 100, d(2024, 6, 1), 500.0), (2, 100, d(2024, 6, 10), 500.0),
            (3, 100, d(2024, 6, 20), 500.0),
            (4, 200, d(2023, 1, 1), 10.0),
            (5, 300, d(2024, 6, 15), 20.0), (6, 300, d(2024, 6, 18), 20.0),
            (7, 400, d(2023, 2, 1), 900.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    from dumbo_spark.operators.analytics import customer_rfm

    got = {r["c_custkey"]: r["segment"] for r in customer_rfm(orders).collect()}
    assert got[100] == "champion"
    assert got[200] == "hibernating"
    assert got[300] in ("loyal", "champion")   # recent + frequent, low spend
    assert got[400] == "at_risk"               # old but high monetary


def test_kcore_hand_graph(spark):
    """K4 plus a pendant chain: the 3-core is exactly the K4; pendant
    and bridge nodes peel."""
    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    chain = [(4, 5), (5, 6)]
    # encode each edge as a 2-line "order" so the co-purchase front end
    # reconstructs exactly this graph (support 1, so min_cooccur=1)
    rows = []
    for i, (a, b) in enumerate(k4 + chain):
        rows += [(i, a), (i, b)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    from dumbo_spark.operators import graph as g

    edges = g._copurchase_edges(li, min_cooccur=1, max_basket=20)
    assert edges.count() == len(k4 + chain)
    out = {
        r["l_partkey"]: r["core_degree"]
        for r in g.kcore_nodes(li, k=3, min_cooccur=1).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert all(v == 3 for v in out.values())
    # the whole graph is its own 1-core
    assert g.kcore_nodes(li, k=1, min_cooccur=1).count() == 6


# canonical 1x1 transparent PNG (public-domain byte constant)
_PNG_1X1 = bytes.fromhex(
    "89504e470d0a1a0a0000000d49484452000000010000000108060000001f15c4"
    "890000000d4944415478da63fac80000030001"
    "24ab7bdb0000000049454e44ae426082"
)


def test_decode_image_soft_dependency():
    import importlib.util

    from dumbo_spark.operators.multimodal import decode_image

    # non-image payloads always take the deterministic fallback
    w, h = decode_image(b"definitely not an image")
    assert 64 <= w < 256 and 64 <= h < 256
    assert decode_image(b"definitely not an image") == (w, h)
    if importlib.util.find_spec("PIL"):
        assert decode_image(_PNG_1X1) == (1, 1)
    else:
        # codec-less container: even a real PNG falls back, deterministically
        assert decode_image(_PNG_1X1) == decode_image(_PNG_1X1)


def test_containment_detects_excerpt(spark):
    """A short quote inside a long doc: full containment one way,
    tiny Jaccard — the asymmetric case the symmetric join misses."""
    body = " ".join(f"w{i}" for i in range(120))
    quote = " ".join(f"w{i}" for i in range(40, 52))  # 12-token excerpt
    docs = spark.createDataFrame(
        [(1, quote), (2, body), (3, "completely different text entirely here")],
        "doc_id long, text string",
    )
    from dumbo_spark.operators.dedup import containment_join

    got = {(r["doc_a"], r["doc_b"]): r["containment"] for r in containment_join(docs).collect()}
    assert got[(1, 2)] == 1.0          # quote fully contained in body
    assert (2, 1) not in got           # body NOT contained in quote
    assert all(a != 3 and b != 3 for a, b in got)


def test_mad_anomalies_robust_to_contamination(spark):
    """A group whose tail is heavily contaminated: the z-score screen's
    own stddev is dragged by the outliers, the MAD screen's median is
    not — 1000.0 must be flagged with a large robust z."""
    d = datetime
    rows = [(i, d(2024, 1, 1, i % 23), 1, "m", 10.0 + (i % 5) * 0.1) for i in range(20)]
    rows.append((99, d(2024, 1, 2), 1, "m", 1000.0))
    ev = _events(spark, rows)
    from dumbo_spark.operators.events import value_anomalies_mad

    got = value_anomalies_mad(ev).collect()
    assert [r["event_id"] for r in got] == [99]
    assert got[0]["robust_z"] > 100


def test_semantic_dedup_clusters_planted_dups(spark):
    """Three copies of one vector (one slightly perturbed), a pair of
    another, and a loner: two clusters, min-id keepers, loner absent."""
    import math

    dim = 64  # the LSH plane family is built for the fixture dim
    base1 = [math.sin(i * 0.7) for i in range(dim)]
    base2 = [math.cos(i * 1.3) for i in range(dim)]
    loner = [math.sin(i * 2.9 + 1.0) * (-1) ** i for i in range(dim)]
    rows = [
        (1, base1, 0),
        (2, base1, 0),
        (3, [v * 1.001 for v in base1], 0),  # same direction -> cos ~1
        (10, base2, 1),
        (11, base2, 1),
        (99, loner, 2),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    from dumbo_spark.operators.similarity import semantic_dedup

    got = {r["vec_id"]: r for r in semantic_dedup(df, threshold=0.95).collect()}
    assert set(got) == {1, 2, 3, 10, 11}
    assert got[1]["is_keeper"] and got[1]["cluster_size"] == 3
    assert not got[2]["is_keeper"] and got[2]["cluster_id"] == 1
    assert got[10]["is_keeper"] and got[10]["cluster_size"] == 2


def test_drift_screen_detects_planted_shift(spark):
    """Uniform values before the split, values shifted +100 after:
    CDFs separate completely, KS -> 1; an undrifted type stays small."""
    d = datetime
    rows = []
    for i in range(200):
        rows.append((i, d(2024, 1, 10), 1, "drifted", float(i % 50)))
        rows.append((1000 + i, d(2024, 1, 20), 1, "drifted", 100.0 + (i % 50)))
        rows.append((2000 + i, d(2024, 1, 10 + (i % 2) * 10), 1, "stable", float(i % 50)))
    ev = _events(spark, rows)
    from dumbo_spark.operators.events import value_drift_screen

    got = {r["event_type"]: r["ks_stat"] for r in value_drift_screen(ev).collect()}
    assert got["drifted"] == 1.0
    assert got["stable"] < 0.1
