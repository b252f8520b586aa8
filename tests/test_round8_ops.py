"""Round-8 breadth operators: Bloom-pruned incremental dedup, dynamic
partition pruning, substring-level dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from dumbo_spark.sources.catalog import load_table


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_substring_dup_pairs_planted_span(spark):
    """Docs 1 and 2 share a verbatim 20-token span inside otherwise
    different text; doc 3 is unrelated; doc 4 is too short to carry a
    window."""
    from dumbo_spark.operators.dedup import substring_dup_pairs

    span = " ".join(f"tok{i}" for i in range(20))
    rows = [
        (1, "alpha beta " + span + " gamma delta", "en", "a", 0),
        (2, "completely different prefix here now " + span, "en", "b", 0),
        (3, " ".join(f"other{i}" for i in range(30)), "en", "a", 0),
        (4, "too short", "en", "a", 0),
    ]
    out = substring_dup_pairs(_docs(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["n_shared_windows"] >= 1


def test_substring_dup_pairs_df_band_drops_boilerplate(spark):
    """A span shared by MORE than max_df docs is boilerplate — banded
    out, producing no pairs."""
    from dumbo_spark.operators.dedup import substring_dup_pairs

    span = " ".join(f"boiler{i}" for i in range(20))
    rows = [(i, span, "en", "a", 0) for i in range(1, 6)]
    assert substring_dup_pairs(_docs(spark, rows), max_df=3).count() == 0
    # and within the band the 5 docs pair completely: C(5,2) = 10
    assert substring_dup_pairs(_docs(spark, rows), max_df=10).count() == 10


def test_substring_dup_pairs_stays_jvm_side(spark, sf_dir):
    from dumbo_spark.operators.dedup import substring_dup_pairs
    from dumbo_spark.plans.explain import physical_summary

    s = physical_summary(substring_dup_pairs(load_table(spark, sf_dir, "documents")))
    assert s["python_evals"] == 0


def test_incremental_dedup_pruned_matches_unpruned(spark, sf_dir):
    """The Bloom prune is semantics-preserving: pruned and plain
    admitted sets are identical, including at a 4-bit bucket width
    where false-positive collisions are guaranteed."""
    from dumbo_spark.operators.dedup import incremental_dedup, incremental_dedup_pruned

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("source") != "src0")
    batch = docs.where(F.col("source") == "src0")

    def rows(df):
        return sorted(
            (r["norm_hash"], r["admit_id"], r["n_in_batch"]) for r in df.collect()
        )

    want = rows(incremental_dedup(corpus, batch))
    assert rows(incremental_dedup_pruned(corpus, batch)) == want
    assert rows(incremental_dedup_pruned(corpus, batch, bucket_bits=4)) == want


def test_winnowed_dup_pairs_alignment_robust(spark):
    """The winnowing guarantee: a shared >= (w + k - 1)-token span is
    caught REGARDLESS of where it starts in each doc — including
    offsets that fixed-stride sampling would miss (prefix lengths
    differing by a non-multiple of the stride)."""
    from dumbo_spark.operators.dedup import winnowed_dup_pairs

    span = " ".join(f"tok{i}" for i in range(11))  # w + k - 1 = 11
    rows = [
        (1, "a b c " + span + " tail words here", "en", "a", 0),
        # prefix of 7 tokens → offsets differ by 4 (not a multiple of
        # typical strides), winnowing must still pair them
        (2, "p q r s t u v " + span, "en", "b", 0),
        (3, " ".join(f"zzz{i}" for i in range(30)), "en", "a", 0),
    ]
    out = winnowed_dup_pairs(
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        )
    ).collect()
    assert len(out) == 1
    assert (out[0]["doc_a"], out[0]["doc_b"]) == (1, 2)
    assert out[0]["n_shared_fps"] >= 1


def test_winnowed_fingerprint_density(spark, sf_dir):
    """Winnowing density ~2/(k+1) of the gram count (0.4 at k=4): the
    index is genuinely smaller than every-position fingerprints."""
    from dumbo_spark.functions.text import tokens
    from dumbo_spark.operators.dedup import winnowed_dup_pairs  # noqa: F401
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w, k = 8, 4
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= w + k - 1
    )
    grams = toked.select(
        "doc_id",
        (F.size("toks") - F.lit(w - 1)).alias("n_grams"),
        F.explode(F.sequence(F.lit(1), F.size("toks") - F.lit(w - 1))).alias("p"),
        "toks",
    ).select(
        "doc_id",
        "n_grams",
        "p",
        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("p"), w))).alias("gh"),
    )
    win = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, k - 1)
    per_doc = (
        grams.select("doc_id", "n_grams", "p", F.min("gh").over(win).alias("fp"))
        .where(F.col("p") <= F.col("n_grams") - F.lit(k - 1))
        .groupBy("doc_id")
        .agg(
            F.first("n_grams").alias("ng"),
            F.countDistinct("fp").alias("nf"),
        )
        .agg(F.sum("ng").alias("ng"), F.sum("nf").alias("nf"))
        .collect()[0]
    )
    density = per_doc["nf"] / per_doc["ng"]
    assert 0.25 <= density <= 0.55, f"density {density} far from 2/(k+1)=0.4"


def test_gopher_quality_screen_rules(spark):
    """Hand-built docs exercising each rule independently."""
    from dumbo_spark.operators.textstats import gopher_quality_screen

    good = (
        "the quick brown foxes jumped over the lazy sleeping dogs and "
        "everyone watched in quiet amazement"
    )
    rows = [
        (1, good, "en", "a", 0),                                   # passes all
        (2, "the of in", "en", "a", 0),                            # too few words
        (3, "the a " + " ".join(["x"] * 20), "en", "a", 0),        # mean len < 3
        (4, "the a " + " ".join(["12345"] * 20), "en", "a", 0),    # alpha frac low
        (5, " ".join(f"zq{i}wordish" for i in range(20)), "en", "a", 0),  # no stopwords
    ]
    out = {
        r["doc_id"]: r
        for r in gopher_quality_screen(
            spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string, n_chars long",
            )
        ).collect()
    }
    assert out[1]["gopher_pass"]
    assert not out[2]["words_ok"] and not out[2]["gopher_pass"]
    assert not out[3]["word_len_ok"] and not out[3]["gopher_pass"]
    assert not out[4]["alpha_ok"] and not out[4]["gopher_pass"]
    assert not out[5]["stopword_ok"] and not out[5]["gopher_pass"]


def test_gopher_quality_screen_no_shuffle(spark, sf_dir):
    from dumbo_spark.operators.textstats import gopher_quality_screen
    from dumbo_spark.plans.explain import physical_summary

    s = physical_summary(gopher_quality_screen(load_table(spark, sf_dir, "documents")))
    assert s["exchanges"] == 0, "the screen must be a map-only pass"
    assert s["python_evals"] == 0


def test_ktruss_hand_graph(spark):
    """K4 plus a pendant edge: the K4 survives the 3-truss (every edge
    in 2 triangles); the pendant edge (zero triangles) peels off."""
    from dumbo_spark.operators.graph import ktruss_edges

    rows = []
    # two orders containing parts 1..4 -> all 6 pairs co-occur twice (K4)
    for o in (101, 102):
        rows += [(o, p) for p in (1, 2, 3, 4)]
    # pendant: part 5 with part 1 only, in two orders
    for o in (103, 104):
        rows += [(o, p) for p in (1, 5)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = {(r["part_a"], r["part_b"]): r["support"] for r in ktruss_edges(li).collect()}
    assert set(out) == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    assert all(s == 2 for s in out.values())


def test_ktruss_4truss_drops_single_triangle(spark):
    """A lone triangle survives the 3-truss but not the 4-truss (each
    edge sits in only one triangle, needs two)."""
    from dumbo_spark.operators.graph import ktruss_edges

    rows = []
    for o in (201, 202):
        rows += [(o, p) for p in (1, 2, 3)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    assert ktruss_edges(li, k=3).count() == 3
    assert ktruss_edges(li, k=4).count() == 0


def test_dsir_weights_prefer_target_like_docs(spark):
    """Docs made of target-style bigrams must outscore docs of
    raw-only bigrams; weights are exact integers (micro-units)."""
    from dumbo_spark.operators.packing import dsir_importance_weights

    target_text = "alpha beta gamma delta " * 5
    other_text = "omega psi chi phi " * 5
    rows = (
        [(i, target_text, "en", "src0", 0) for i in range(1, 4)]
        + [(10, target_text, "en", "raw", 0)]   # target-LIKE doc in raw pool
        + [(11 + j, other_text, "en", "raw", 0) for j in range(3)]
    )
    out = {
        r["doc_id"]: r
        for r in dsir_importance_weights(
            spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string, n_chars long",
            )
        ).collect()
    }
    # the target-like raw doc scores strictly above the raw-only docs
    assert out[10]["log_weight_micro"] > out[11]["log_weight_micro"]
    # determinism across runs (integer arithmetic end-to-end)
    again = {
        r["doc_id"]: r["log_weight_micro"]
        for r in dsir_importance_weights(
            spark.createDataFrame(
                rows,
                "doc_id long, text string, lang string, source string, n_chars long",
            )
        ).collect()
    }
    assert again == {k: v["log_weight_micro"] for k, v in out.items()}
