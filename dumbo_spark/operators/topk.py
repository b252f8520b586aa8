"""Order/rank operators — dumbo's heap reducers as window functions.

Reference surface:

- ``nlargestreducer(n)`` / ``nlargestcombiner`` (dumbo/lib/__init__.py:
  ~35/~45): per-key top-k via heapq, with a map-side partial heap →
  :func:`topk_per_group`. The combiner's job (bound shuffle volume) is
  done by Spark's partial aggregation / AQE; for pathological skew see
  :func:`salted_topk_per_group`.
- ``nsmallestreducer`` (~50) → :func:`bottomk_per_group`.
- global top-k (nlargest with a single key) → :func:`topk_global` —
  Spark plans ``TakeOrderedAndProject``: per-partition heap + driver
  merge, exactly dumbo's combiner+reducer heap strategy, zero shuffle.
- window functions: absent in dumbo (SURVEY §2.4 gap row) →
  :func:`window_rank` (rank/dense_rank + RANGE-framed running sum).

Determinism: ties are broken on the key column (orderkey) so results
are stable across partitionings and engines — dumbo's heapq ties were
arrival-order-dependent, a latent nondeterminism this engine fixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dumbo_spark.functions.numeric import dmoney, dsum
from dumbo_spark.operators._checkpoint import pin


def topk_per_group(orders: DataFrame, k: int = 3) -> DataFrame:
    """Per-group top-k (lib.nlargestreducer) via row_number window."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def bottomk_per_group(orders: DataFrame, k: int = 3) -> DataFrame:
    """Per-group bottom-k (lib.nsmallestreducer)."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


def topk_global(orders: DataFrame, k: int = 10) -> DataFrame:
    """Global top-k: orderBy().limit() plans TakeOrderedAndProject —
    per-partition heaps merged on the driver, no total sort."""
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(k)
    )


def window_rank(customer: DataFrame) -> DataFrame:
    """Ranking + analytic frame (gap row). rank/dense_rank are
    tie-stable; the running sum uses the default RANGE frame (peers
    aggregate together) over exact decimals, so it is deterministic
    even with duplicate order keys."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc())
    return customer.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.sum(dmoney("c_acctbal")).over(w).cast("double").alias("running_bal"),
    )


def lag_lead_delta(events: DataFrame) -> DataFrame:
    """Analytic lag/lead over per-user event streams (gap row — in
    MapReduce this needed a secondary-sort job; here it is one window).

    Emits, per event, the microsecond gap since the user's previous
    event and the type of the next one. Order is total (ts, event_id)
    so ties are stable across engines and partitionings. Scales as a
    single shuffle on user_id; no hot-key risk beyond one user's
    history per task.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    us = F.unix_micros("ts")
    return events.select(
        "user_id",
        "event_id",
        "event_type",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_event_type"),
    )


def moving_avg_daily(orders: DataFrame, days: int = 7) -> DataFrame:
    """ROWS-framed moving average over a pre-aggregated daily series
    (gap row — frames don't exist in MapReduce).

    The window is global but runs over |distinct days| rows (the
    aggregate), not the fact table — at 100 TB the daily rollup is
    still tiny, so the single-task ordered frame is fine by design.
    """
    daily = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(dsum("o_totalprice", "revenue"))
    w = Window.orderBy("day").rowsBetween(-(days - 1), Window.currentRow)
    return daily.select(
        "day", "revenue", F.round(F.avg("revenue").over(w), 4).alias("avg_7d")
    )


def ntile_quartiles(customer: DataFrame) -> DataFrame:
    """NTILE bucketing + per-bucket profile (gap row).

    Computed via :func:`global_ntile` (terasort-style range-partitioned
    rank) — bit-exact SQL NTILE semantics with no single-task total
    sort, so the same code is the 100 TB path. The (c_acctbal,
    c_custkey) ordering is total, which NTILE exactness requires.
    """
    quartiled = global_ntile(
        customer.select("c_acctbal", "c_custkey"),
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
        k=4,
    ).withColumnRenamed("ntile", "quartile")
    return quartiled.groupBy("quartile").agg(
        F.count("*").alias("n_customers"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


def salted_topk_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    salt: int = 16,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-safe two-phase per-group top-k (100 TB path).

    A window over one hot key serializes that key's rows through one
    task. Phase 1 computes top-k within (group, salt) — map-side-ish,
    parallel across the hot key; phase 2 re-ranks the k·salt survivors
    per group. Same answer, bounded per-task work; the spiritual
    successor of dumbo's nlargestcombiner, which existed for exactly
    this reason.

    Determinism: the salt is a content hash (xxhash64 of the tiebreak
    columns, falling back to every column) — NOT
    monotonically_increasing_id, whose values change across task
    retries and repartitionings, silently reassigning rows to salt
    buckets mid-job. With ``tiebreak_cols`` forming a per-group unique
    key, output is identical to :func:`topk_per_group` under any
    partitioning.
    """
    tb = tiebreak_cols or []
    hash_cols = [F.col(c) for c in (tb if tb else df.columns)]
    order = [F.col(order_col).desc()] + [F.col(c).asc() for c in tb]
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*hash_cols), F.lit(salt))
    )
    w1 = Window.partitionBy(group_col, "_salt").orderBy(*order)
    survivors = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .drop("_salt", "_rn")
    )
    w2 = Window.partitionBy(group_col).orderBy(*order)
    return (
        survivors.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
    )


def shuffle_partitions(df: DataFrame) -> int:
    """Resolve a concrete partition count for explicit repartitions:
    ``spark.sql.shuffle.partitions`` unless it is the non-numeric
    "auto" (AQE-managed), then the input's partition count. Shared by
    global_rank and the agg percentile/weighted-median machinery."""
    raw = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(raw)
    except ValueError:
        return max(df.rdd.getNumPartitions(), 1)


def _ranged_frame(df: DataFrame, sort_exprs: list, parts: int) -> DataFrame:
    """The pre-checkpoint ranged frame behind :func:`global_rank`:
    range-repartitioned on the sort key with the physical partition id
    materialized as ``_pid``. Split out so plan tests can assert the
    range exchange, which the checkpoint barrier hides from the public
    function's ``explain`` output."""
    return df.repartitionByRange(parts, *sort_exprs).withColumn(
        "_pid", F.spark_partition_id()
    )


def global_rank(
    df: DataFrame, sort_exprs: list, num_partitions: int | None = None
) -> DataFrame:
    """EXACT global 1-based rank without a single-task total sort — the
    100 TB replacement for ``Window.orderBy(...)`` ranks.

    Terasort-style: range-repartition on the sort key (each partition
    holds a contiguous key range, partitions ordered by partition id),
    rank within each partition, then add each partition's global row
    offset — a per-partition-count table of only ``num_partitions``
    rows (genuinely tiny, independent of the value domain) joined back
    by broadcast. Ranks are exact regardless of where the sampled range
    boundaries fall, PROVIDED ``sort_exprs`` defines a total order
    (include a unique tie-break column). Cost: two full-data exchanges
    (range + window hash), both parallel; no stage sees more than one
    partition's rows in one task.

    Appends ``_rank`` (1-based bigint) and ``_n`` (total row count).
    Shared machinery for :func:`global_ntile` and
    sampling.exact_global_rank (the distinct-value-offsets variant it
    replaces broadcast a |distinct values| frame, which is input-sized
    for continuous domains — ADVICE r4).
    """
    parts = shuffle_partitions(df) if num_partitions is None else num_partitions
    # CORRECTNESS (round 9, VERDICT r8 #1): the ranged frame is consumed
    # by TWO plan branches (offsets + data). repartitionByRange samples
    # its boundaries per RDD instantiation, so if downstream column
    # pruning makes the branches' exchanges differ, ReuseExchange does
    # not fire, each branch samples boundaries INDEPENDENTLY, and the
    # offsets no longer describe the data branch's partitions — ranks
    # silently stop being a permutation (reproduced: 11 "deciles",
    # bucket sizes 1172..1828 at 15k rows). A lazy pin() fixes ONE
    # realization of the shuffle before the branch split: one extra
    # pass over the already-shuffled frame — the same I/O a MapReduce
    # terasort-rank pays writing the ranged run before the two-read
    # counting pass. Neither kind of pin re-samples, unlike persist(),
    # whose evicted blocks would recompute with fresh boundaries and
    # silently resurrect this bug under memory pressure: a local pin
    # fails LOUDLY on executor loss, and under spark.checkpoint.dir the
    # reliable pin's write reads the same range-shuffle output, so a
    # lost executor is survived from the written files. Correctness
    # must never depend on incidental exchange reuse.
    r = pin(_ranged_frame(df, sort_exprs, parts))
    wp = Window.partitionBy("_pid").orderBy(*sort_exprs)
    r = r.withColumn("_rn", F.row_number().over(wp))
    woff = Window.orderBy("_pid")
    offsets = (
        r.groupBy("_pid")
        .agg(F.count("*").alias("_cnt"))
        .select(
            "_pid",
            F.coalesce(
                F.sum("_cnt").over(woff.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("_off"),
            F.sum("_cnt")
            .over(
                woff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            )
            .alias("_n"),
        )
    )
    return (
        r.join(F.broadcast(offsets), "_pid")
        .withColumn("_rank", F.col("_off") + F.col("_rn"))
        .drop("_pid", "_rn", "_off")
    )


def global_ntile(
    df: DataFrame, sort_exprs: list, k: int, num_partitions: int | None = None
) -> DataFrame:
    """EXACT global NTILE via :func:`global_rank` (terasort-style
    range-partitioned rank — see its docstring for the scale argument).

    Appends an ``ntile`` int column (SQL NTILE semantics: first
    ``n % k`` buckets get ``n/k + 1`` rows).
    """
    ranked = global_rank(df, sort_exprs, num_partitions)
    q = F.floor(F.col("_n") / k)
    rem = F.col("_n") % k
    big = rem * (q + 1)  # rows covered by the size-(q+1) buckets
    bucket = F.when(
        F.col("_rank") <= big, F.floor((F.col("_rank") - 1) / (q + 1)) + 1
    ).otherwise(rem + F.floor((F.col("_rank") - big - 1) / F.greatest(q, F.lit(1))) + 1)
    return ranked.withColumn("ntile", bucket.cast("int")).drop("_n", "_rank")


def bucketed_quartiles(customer: DataFrame) -> DataFrame:
    """Historical twin of :func:`ntile_quartiles` — kept as a separately
    registered name for oracle-history continuity (it was the scale-safe
    form while ntile_quartiles still used a global window; round 6
    rewrote ntile_quartiles onto the same global_ntile machinery, so
    both now share one implementation)."""
    return ntile_quartiles(customer)


def ntile_quartiles_by_segment(customer: DataFrame) -> DataFrame:
    """Partitioned NTILE profile — the realistic scaled sibling of
    :func:`ntile_quartiles`: quartiles within each market segment, so
    the ordered window never exceeds one segment's rows per task."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    quartiled = customer.select(
        "c_mktsegment", "c_acctbal", F.ntile(4).over(w).alias("quartile")
    )
    return quartiled.groupBy("c_mktsegment", "quartile").agg(
        F.count("*").alias("n_customers"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


def percent_rank_by_segment(customer: DataFrame) -> DataFrame:
    """Partitioned percent_rank/cume_dist — the per-segment sibling of
    :func:`percent_rank_balance` (whose global form now rides
    global_rank, so both are scale-safe)."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return customer.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.round(F.percent_rank().over(w), 8).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 8).alias("cume"),
    )

def cheapest_part_per_brand(part: DataFrame) -> DataFrame:
    """Argmin join-back shape (correlated `= (SELECT MIN ...)`
    subquery): every part whose retail price equals its brand's
    minimum — ties all survive, making the result deterministic.

    One window pass over the dimension instead of a self-join: the
    min propagates per partition, then an exact decimal equality cut.
    At scale this is a single shuffle on brand; no second scan.
    """
    w = Window.partitionBy("p_brand")
    return (
        part.withColumn("_min_price", F.min(dmoney("p_retailprice")).over(w))
        .where(dmoney("p_retailprice") == F.col("_min_price"))
        .select("p_brand", "p_partkey", "p_name", "p_retailprice")
    )


def percent_rank_balance(customer: DataFrame) -> DataFrame:
    """percent_rank + cume_dist over account balance (analytic ranks —
    absent in dumbo, where any global rank was a 1-reducer sort job).

    Both functions are count-ratio exact ((rank-1)/(n-1), rank/n) so
    engines agree bit-for-bit after a stabilizing round. Computed via
    :func:`global_rank` (range-partitioned exact rank): the ordering's
    c_custkey tie-break makes it total, so there are no peers and
    RANK == ROW_NUMBER == ``_rank``, giving
    percent_rank = (_rank-1)/(_n-1) and cume_dist = _rank/_n exactly —
    SQL-identical output with no single-task total sort, scale-safe as
    written.
    """
    ranked = global_rank(
        customer.select("c_custkey", "c_acctbal"),
        [F.col("c_acctbal").desc(), F.col("c_custkey").asc()],
    )
    return ranked.select(
        "c_custkey",
        "c_acctbal",
        F.round(
            (F.col("_rank") - 1)
            / F.when(F.col("_n") > 1, F.col("_n") - 1).otherwise(F.lit(1)),
            8,
        ).alias("pct_rank"),
        F.round(F.col("_rank") / F.col("_n"), 8).alias("cume"),
    )


def diversified_topk(
    part: DataFrame, k: int = 10, per_brand: int = 2
) -> DataFrame:
    """Top-k with a DIVERSITY constraint: the k cheapest parts per
    size class, but at most ``per_brand`` from any one brand — the
    diversity re-ranking every retrieval/recommendation surface
    applies so one dominant sub-group cannot monopolize a result list
    (the same shape de-duplicates near-identical hits in RAG retrieval).

    Two nested bounded windows: rank within (size, brand) and keep the
    brand's quota, then re-rank the survivors within size and cut at
    k. Both windows partition on real keys (no global order); the
    first pass discards all but ``per_brand`` rows per brand, so the
    second window's input is quota-bounded, not data-bounded. Ordering
    is (rounded price, partkey) — total, hence engine-stable.

    Output: (p_size, p_brand, p_partkey, p_retailprice, rank).
    """
    price = dmoney("p_retailprice")
    w_brand = Window.partitionBy("p_size", "p_brand").orderBy(
        price.asc(), F.col("p_partkey").asc()
    )
    quota = (
        part.withColumn("_br", F.row_number().over(w_brand))
        .where(F.col("_br") <= per_brand)
    )
    w_size = Window.partitionBy("p_size").orderBy(
        price.asc(), F.col("p_partkey").asc()
    )
    return (
        quota.withColumn("rank", F.row_number().over(w_size))
        .where(F.col("rank") <= k)
        .select("p_size", "p_brand", "p_partkey", "p_retailprice", "rank")
    )
