"""Sampling / splitting operators — training-corpus assembly steps
(north-star extensions; dumbo has no sampling surface at all).

- :func:`split_train_test` — DETERMINISTIC hash split: the assignment
  is a pure function of the row key (md5 bucket), so it is stable
  across runs, partitionings, engines and re-executions — the property
  a reproducible training pipeline needs (and the reason this carries
  a full SQL oracle while random sampling cannot).
- :func:`stratified_sample` — per-stratum Bernoulli sampling
  (``sampleBy``): rebalancing a skewed corpus. Seeded but
  partitioning-dependent → rows-only check + a tolerance unit test.

Scale: both are narrow one-pass operators; the split's md5 is the only
per-row cost and the bucket predicate pushes no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dumbo_spark.operators._checkpoint import pin

#: hex-digit value lookup used by both engines (see multimodal.py for
#: the same trick; DuckDB cannot cast hex strings numerically)
_HEX = "0123456789abcdef"


def _md5_bucket(col: F.Column, buckets: int = 100) -> F.Column:
    """0..buckets-1 bucket from the first 4 hex chars of md5(col) —
    deterministic, engine-neutral. conv() parses the hex in Spark."""
    h = F.md5(col.cast("string").cast("binary"))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % buckets


def sql_md5_bucket(expr: str, buckets: int = 100) -> str:
    """DuckDB fragment computing the same bucket (strpos hex parse)."""
    digit = lambda i: f"(strpos('{_HEX}', substr(md5(CAST({expr} AS VARCHAR)), {i}, 1)) - 1)"
    return (
        f"((({digit(1)} * 16 + {digit(2)}) * 16 + {digit(3)}) * 16 + {digit(4)}) "
        f"% {buckets}"
    )


def split_train_test(
    documents: DataFrame, key: str = "doc_id", test_pct: int = 10
) -> DataFrame:
    """Assign each row to train/test by hash bucket of its key."""
    bucket = _md5_bucket(F.col(key))
    return documents.select(
        key,
        F.when(bucket < test_pct, F.lit("test")).otherwise(F.lit("train")).alias("split"),
        bucket.alias("bucket"),
    )


def stratified_sample(
    documents: DataFrame, strata_col: str = "lang", fractions: dict | None = None, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sample (corpus rebalancing). Fractions
    default to downsampling the majority class."""
    fractions = fractions or {"en": 0.25, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    return documents.sampleBy(strata_col, fractions, seed=seed)


def stratified_sample_checked(
    documents: DataFrame, strata_col: str = "lang", fractions: dict | None = None, seed: int = 42
) -> DataFrame:
    """:func:`stratified_sample`'s statistical contract made externally
    checkable (VERDICT r4 #6): per stratum, the Bernoulli sample count
    must sit within 6σ of its expectation f·n (σ = √(f(1−f)n), +10
    absolute slack for tiny strata), and a fraction-1.0 stratum must
    pass through EXACTLY. The oracle computes each stratum's total and
    asserts TRUE — a biased sampler flips the hash.

    Output: (stratum, n_total, within_bound)."""
    fractions = fractions or {"en": 0.25, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    sampled = (
        stratified_sample(documents, strata_col, fractions, seed)
        .groupBy(strata_col)
        .agg(F.count("*").alias("_k"))
    )
    totals = documents.groupBy(strata_col).agg(F.count("*").alias("n_total"))
    frac = F.coalesce(
        *[
            F.when(F.col(strata_col) == s, F.lit(float(f)))
            for s, f in fractions.items()
        ],
        F.lit(0.0),
    )
    joined = totals.join(sampled, strata_col, "left").select(
        F.col(strata_col).alias("stratum"),
        "n_total",
        F.coalesce(F.col("_k"), F.lit(0)).alias("_k"),
        frac.alias("_f"),
    )
    expected = F.col("_f") * F.col("n_total")
    sigma = F.sqrt(F.col("_f") * (1.0 - F.col("_f")) * F.col("n_total"))
    slack = F.when(F.col("_f") < 1.0, F.lit(10.0)).otherwise(F.lit(0.0))
    return joined.select(
        "stratum",
        "n_total",
        (F.abs(F.col("_k") - expected) <= F.lit(6.0) * sigma + slack).alias(
            "within_bound"
        ),
    )


def corpus_clean(
    documents: DataFrame, min_tokens: int = 5, max_tokens: int = 100_000
) -> DataFrame:
    """Normalization + length filtering — the first pass of every text
    corpus pipeline: casefold, collapse non-word runs, trim; drop
    out-of-bounds documents. Fully declarative → oracle-checked."""
    clean = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\W+", " "))
    out = documents.select(
        "doc_id",
        "lang",
        clean.alias("clean_text"),
        F.size(F.split(clean, " ")).alias("n_tokens"),
    )
    return out.where(
        (F.col("n_tokens") >= min_tokens) & (F.col("n_tokens") <= max_tokens)
    )


def sample_exact_n(df: DataFrame, key_col: str, n: int = 300) -> DataFrame:
    """Deterministic EXACT-n global sample — the distributed stand-in
    for reservoir sampling: order all rows by the md5 of their key
    (a fixed pseudo-random permutation) and keep the first n.

    Unlike ``df.sample(fraction)`` the output size is exact, and unlike
    a seeded reservoir the selection is a pure function of the row keys
    — stable across runs, partitionings and engines, which is what
    makes it oracle-checkable and what a reproducible corpus subset
    needs.

    Scale: Catalyst compiles orderBy+limit to TakeOrderedAndProject —
    each task keeps a local top-n heap and the driver merges n·P rows;
    there is NO global sort and no single-task total-order stage. At
    100 TB the cost is one scan plus an n-row heap per task.
    """
    return (
        df.orderBy(F.md5(F.col(key_col).cast("string")), F.col(key_col))
        .limit(n)
        .select(key_col, F.md5(F.col(key_col).cast("string")).alias("sample_key"))
    )


def _md5_u32(col: F.Column) -> F.Column:
    """First 32 bits of md5(col) as a long in [0, 2³²) — the
    deterministic uniform variate behind the weighted samplers."""
    return F.conv(F.substring(F.md5(col.cast("string").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )


def sql_md5_u32(expr: str) -> str:
    """DuckDB fragment computing the same 32-bit variate (strpos hex
    parse, same trick as :func:`sql_md5_bucket`)."""
    digit = (
        lambda i: f"(strpos('{_HEX}', substr(md5(CAST({expr} AS VARCHAR)), {i}, 1)) - 1)"
    )
    acc = digit(1)
    for i in range(2, 9):
        acc = f"({acc} * 16 + {digit(i)})"
    return acc


def weighted_sample(
    documents: DataFrame, weight_col: str = "n_chars", n: int = 200
) -> DataFrame:
    """Weighted sample WITHOUT replacement, exact size n, deterministic:
    Efraimidis–Spirakis A-Res (Inf. Proc. Letters 97(5), 2006) with the
    uniform variate derived from md5(doc_id) instead of an RNG — row i
    gets key u_i^(1/w_i) and the top n keys win, which draws each subset
    with the exact weighted-sampling probability. Hash-derived u makes
    the draw a pure function of the row keys: stable across runs,
    partitionings, and engines, hence oracle-checkable.

    Ranking uses ln(u)/w (monotone in u^(1/w), no overflow for tiny u);
    both engines evaluate ln over identical doubles. Scale: Catalyst
    compiles orderBy+limit to TakeOrderedAndProject — per-task n-row
    heaps, no global sort, same shape as :func:`sample_exact_n`.
    """
    u = (_md5_u32(F.col("doc_id")) + 1).cast("double") / F.lit(4294967296.0)
    w = F.greatest(F.col(weight_col), F.lit(1)).cast("double")
    score = F.log(u) / w
    return (
        documents.select("doc_id", F.col(weight_col).alias("weight"), score.alias("_s"))
        .orderBy(F.desc("_s"), "doc_id")
        .limit(n)
        .select("doc_id", "weight", F.round("_s", 6).alias("es_key"))
    )


def source_mix_rebalance(documents: DataFrame) -> DataFrame:
    """Rebalance a corpus to a uniform per-source mix — the domain-
    mixing step of training-data assembly (cap every source at an equal
    share) — by deterministic weighted downsampling: source s keeps each
    document with probability min(1, total/(k·count_s)), decided by an
    integer compare of a per-doc md5 bucket against an integer
    threshold, so the kept set is exact and engine-stable (no floats
    anywhere).

    Scale: one partial-agg groupBy(source) for the counts (k rows), a
    1-row global rollup cross-joined onto it (broadcast, no driver
    action — the whole thing stays one lazy plan), then a broadcast
    join back; the keep decision is a scan predicate. The selection
    hash is over doc_id, so re-runs and engines agree row by row.
    """
    # lazy checkpoint: counts feeds the rollup scalar AND the meta
    # join — one corpus scan instead of two (r15 optimization)
    counts = pin(documents.groupBy("source").agg(F.count("*").alias("_cnt")))
    tot = counts.agg(F.sum("_cnt").alias("_total"), F.count("*").alias("_k"))
    meta = counts.crossJoin(F.broadcast(tot))
    # threshold in millionths: floor(1e6 · total / (k · count_s)) — all
    # integer arithmetic, so both engines compute the identical cut
    thresh = F.expr("(1000000 * _total) DIV (_k * _cnt)")
    bucket = _md5_u32(F.col("doc_id")) % 1_000_000
    return (
        documents.join(F.broadcast(meta), "source")
        .where(bucket < thresh)
        .select("doc_id", "source")
    )


def sample_per_group(
    df: DataFrame, group_col: str, key_col: str, k: int = 5
) -> DataFrame:
    """Deterministic k-per-group sample: rows ordered by the md5 of
    their key within each group, first k kept. The hash order is a
    fixed pseudo-random permutation, so the sample is uniform-ish,
    reproducible across engines/partitionings/reruns (no seed state),
    and — unlike ``sampleBy`` — exactly k rows per group when the group
    has them. One window shuffle on the group key; for a skewed group
    the salted-top-k pattern (operators/topk.py) applies identically.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.select(group_col, key_col)
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


def exact_global_rank(
    df, value_col: str, tiebreak_col: str, ascending: bool = True
):
    """Exact global rank over (value, tiebreak) WITHOUT a global sort —
    delegates to topk.global_rank's terasort-style machinery:
    range-repartition on (value, tiebreak), rank within each contiguous
    range, add the per-partition row offset (a ``num_partitions``-row
    broadcast, independent of the value domain). Returns the input plus
    a ``_rank`` column (1-based).

    Earlier rounds used distinct-value offsets here, which broadcast a
    |distinct values| frame and ran one ordered window over it — fine
    for small domains, but input-sized for continuous domains
    (gini_revenue ranks per-customer decimal revenue; vocab_coverage
    ranks a vocabulary). The range-partitioned form is safe for ANY
    domain cardinality, so it is the only path (ADVICE r4, medium).

    Callers: :func:`source_quality_matrix`, analytics.decile_lift_table,
    analytics.gini_revenue, textstats.vocab_coverage.
    """
    from dumbo_spark.operators.topk import global_rank

    vcol = F.col(value_col)
    order = vcol.asc() if ascending else vcol.desc()
    return global_rank(df, [order, F.col(tiebreak_col).asc()]).drop("_n")


def source_quality_matrix(documents: DataFrame, q: int = 4) -> DataFrame:
    """Source × global-quality-quartile distribution matrix: where does
    each source's length distribution sit against the WHOLE corpus —
    the calibration view behind per-source quality cutoffs (a source
    whose docs crowd the bottom quartile gets down-weighted before
    mixing).

    Exact global quartiles WITHOUT a global sort: rank(doc) in the
    total order (n_chars, doc_id) via :func:`exact_global_rank`'s
    range-partitioned machinery — each task ranks one contiguous
    (n_chars, doc_id) range and adds its partition's row offset, so no
    task ever holds the total order and the only broadcast is the
    ``num_partitions``-row offset table. Same two-phase prefix-sum
    family as operators/packing.py.

    Quartile is integer math — ``(rank-1)·q // N`` — so the cut is
    engine-exact; shares divide exact integers, rounded 4dp.
    """
    total = documents.agg(F.count("*").alias("_n"))
    ranked = exact_global_rank(
        documents.select("doc_id", "source", "n_chars"), "n_chars", "doc_id"
    )
    matrix = (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(
            "quartile",
            F.floor((F.col("_rank") - 1) * F.lit(q) / F.col("_n")).cast("int"),
        )
        .groupBy("source", "quartile")
        .agg(F.count("*").alias("n_docs"))
    )
    w_src = Window.partitionBy("source")
    return matrix.select(
        "source",
        "quartile",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w_src).cast("double"),
            4,
        ).alias("share"),
    )


def consistent_entity_sample(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, pct: int = 10
) -> DataFrame:
    """Entity-consistent sampling census: keep ``pct``% of CUSTOMERS by
    hash and verify the whole referential closure follows — the way a
    100 TB warehouse is downsampled for a debug environment (row-level
    sampling would orphan every order; entity-level keeps each
    customer's complete history).

    The keep-predicate is the md5 bucket of the ENTITY key, so it
    pushes directly into any table carrying that key (customer,
    orders) with no join; tables one hop away (lineitem has no
    custkey) take a semi-join against the kept orders — the one
    genuinely key-partitioned stage. Returns one row per table with
    kept/total counts plus a closure-violation row that must be zero.
    """
    keep = lambda col: _md5_bucket(F.col(col), 100) < pct
    kept_cust = customer.where(keep("c_custkey"))
    kept_orders = orders.where(keep("o_custkey"))
    kept_lines = lineitem.join(
        kept_orders.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )

    def census(name: str, kept: DataFrame, total: DataFrame) -> DataFrame:
        return kept.agg(F.count("*").alias("n_kept")).crossJoin(
            F.broadcast(total.agg(F.count("*").alias("n_total")))
        ).select(
            F.lit(name).alias("table_name"),
            "n_kept",
            "n_total",
            F.round(
                F.col("n_kept").cast("double") / F.col("n_total").cast("double"), 6
            ).alias("share"),
        )

    # closure check: kept orders whose customer is NOT in the kept set
    # (must be structurally zero — same predicate, same key)
    orphans = (
        kept_orders.join(
            F.broadcast(kept_cust.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("n_kept"))
        .select(
            F.lit("closure_violations").alias("table_name"),
            "n_kept",
            F.lit(0).cast("long").alias("n_total"),
            F.lit(0.0).alias("share"),
        )
    )
    return (
        census("customer", kept_cust, customer)
        .unionByName(census("orders", kept_orders, orders))
        .unionByName(census("lineitem", kept_lines, lineitem))
        .unionByName(orphans)
    )


def quantile_transform(documents: DataFrame) -> DataFrame:
    """Quantile (rank) normalization of a numeric column: map each
    document's ``n_chars`` to its percentile in the corpus — the
    feature-engineering transform that makes a heavy-tailed length
    usable as a bounded model feature (and the building block of
    quantile binning). pctl = rank/n over the (n_chars, doc_id) total
    order, exact via the range-partitioned global rank — no global
    sort, any domain cardinality.

    Output: (doc_id, n_chars, pctl 6dp) — one row per document.
    """
    from dumbo_spark.operators.topk import global_rank

    # global_rank appends BOTH _rank and the total _n — one pass, no
    # second count scan and no crossJoin (round-5 review finding)
    ranked = global_rank(
        documents.select("doc_id", "n_chars"),
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
    )
    return ranked.select(
        "doc_id",
        "n_chars",
        F.round(
            F.col("_rank").cast("double") / F.col("_n").cast("double"), 6
        ).alias("pctl"),
    )


def stratified_kfold_assign(
    documents: DataFrame, k: int = 5, strata: str = "source", buckets: int = 8
) -> DataFrame:
    """Deterministic stratified k-fold assignment: within each stratum,
    documents are ranked in the fixed md5 permutation and dealt
    round-robin to folds — every fold gets an equal share of every
    stratum (±1), reproducibly across runs, partitionings, and engines.
    The cross-validation / eval-split staple, stratified so no fold is
    starved of a rare source.

    Ranks come from the two-phase bucket prefix sum (the
    operators/packing.py module discipline): per-(stratum, md5-bucket)
    counts → running offsets on that tiny frame → broadcast back →
    row_number WITHIN each bucket plus the offset. No task ever orders
    more than one bucket of one stratum, where a naive
    ``Window.partitionBy(stratum)`` would put each whole stratum in one
    task — correct at sf0.01, dead at 100 TB.

    Output: (doc_id, stratum, fold) for every document; fold ∈ [0, k).
    """
    docs = documents.select(
        "doc_id",
        F.col(strata).alias("stratum"),
        _md5_bucket(F.col("doc_id"), buckets).alias("bucket"),
        F.md5(F.col("doc_id").cast("string")).alias("_k"),
    )
    counts = docs.groupBy("stratum", "bucket").agg(F.count("*").alias("_bc"))
    w_off = (
        Window.partitionBy("stratum")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_bc").over(w_off), F.lit(0))
    ).select("stratum", "bucket", "_off")
    w_in = Window.partitionBy("stratum", "bucket").orderBy("_k", "doc_id")
    return (
        docs.join(F.broadcast(offsets), ["stratum", "bucket"])
        .withColumn("_rn", F.col("_off") + F.row_number().over(w_in))
        .select(
            "doc_id",
            "stratum",
            ((F.col("_rn") - 1) % k).cast("int").alias("fold"),
        )
    )
