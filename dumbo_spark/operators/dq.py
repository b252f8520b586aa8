"""Declarative data-quality expectations — the pipeline admission gate.

A 100 TB ingest needs machine-checkable contracts BEFORE expensive
downstream work: null rates, value ranges, key uniqueness, referential
integrity. Dumbo users approximated this with counter-emitting mappers
read off the job tracker (dumbo/core.py counters; see
compat/counters.py); here it is one DataFrame whose rows ARE the
report — composable, storable, diffable across runs.

Plan shape: all row-level rules for one table fold into a SINGLE
conditional-aggregate scan (one pass, partial agg, no shuffle of data
rows — only 1-row partials), exploded into per-rule rows afterward.
Referential rules are anti-joins: the dimension side broadcasts when
small; fact→fact integrity (lineitem→orders) is a genuine
key-partitioned shuffle — that cost is intrinsic to the check, not
the plan (validating FK integrity over 100 TB IS a distributed
semi-join; run it on the bucketed layout, sources/bucketed.py, to
make it exchange-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dumbo_spark.functions.numeric import dmoney as dmoney_col
from dumbo_spark.operators._checkpoint import pin


def _explode_rules(one_row: DataFrame, names: list[str]) -> DataFrame:
    """1-row frame of per-rule violation counts → (rule, n_violations)
    rows, via an array-of-structs explode (no shuffle, no union of
    separate scans)."""
    rows = F.array(
        *[
            F.struct(F.lit(n).alias("rule"), F.col(n).alias("n_violations"))
            for n in names
        ]
    )
    return one_row.select(F.explode(rows).alias("r")).select(
        "r.rule", "r.n_violations"
    )


def dq_expectations(
    orders: DataFrame, customer: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Expectation report over the order pipeline: one row per rule,
    ``n_violations = 0`` means the expectation holds. All-zero on the
    clean fixtures by design — the tests plant violations to prove
    each rule fires (tests/test_round4_batch3.py).
    """
    o_rules = _explode_rules(
        orders.agg(
            F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias(
                "o_totalprice_nonpositive"
            ),
            F.count(F.when(F.col("o_orderdate").isNull(), 1)).alias(
                "o_orderdate_null"
            ),
            (F.count("*") - F.count_distinct(F.col("o_orderkey"))).alias(
                "o_orderkey_duplicate"
            ),
        ),
        ["o_totalprice_nonpositive", "o_orderdate_null", "o_orderkey_duplicate"],
    )
    l_rules = _explode_rules(
        lineitem.agg(
            F.count(
                F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
            ).alias("l_quantity_out_of_range"),
            F.count(
                F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1)
            ).alias("l_discount_out_of_range"),
        ),
        ["l_quantity_out_of_range", "l_discount_out_of_range"],
    )
    orphan_orders = (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit("orders_orphan_custkey").alias("rule"), "n_violations")
    )
    orphan_lines = (
        lineitem.select("l_orderkey")
        .join(
            orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit("lineitem_orphan_orderkey").alias("rule"), "n_violations")
    )
    return o_rules.unionByName(l_rules).unionByName(orphan_orders).unionByName(
        orphan_lines
    )


def benford_screen(orders: DataFrame) -> DataFrame:
    """Benford's-law first-digit screen over order totals — the classic
    fabricated-numbers detector (synthetic or tampered financial data
    rarely follows the log-uniform leading-digit distribution).

    The leading digit is extracted through EXACT integer cents
    (DECIMAL·100 → BIGINT → string head), never via log10 of a double
    — values at power-of-ten boundaries would otherwise misclassify.
    Observed shares divide exact longs; the Benford expectation
    log10(1 + 1/d) is a fixed 9-value table both engines compute
    identically to 6dp.

    Scale: one partial-agg scan to 9 rows; everything else is
    constant-sized.
    """
    from dumbo_spark.functions.numeric import dmoney

    cents = (dmoney("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    # lazy checkpoint: counts feeds the total scalar AND the share
    # stream — one fact scan instead of two (r15 optimization)
    counts = pin(
        orders.where(cents > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("n_total"))
    share = F.col("n").cast("double") / F.col("n_total").cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(share, 6).alias("observed"),
        F.round(expected, 6).alias("benford"),
        F.round(share - expected, 6).alias("deviation"),
    )


def duplicate_payment_screen(orders: DataFrame) -> DataFrame:
    """Duplicate-payment audit: distinct orders sharing (customer,
    amount, date) — the classic double-charge / double-entry screen
    run before financial close. One partial-agg pass; each flagged
    group carries its order count and exact amount.
    """
    return (
        orders.groupBy(
            "o_custkey",
            dmoney_col("o_totalprice").alias("amount"),
            F.col("o_orderdate").cast("date").alias("order_date"),
        )
        .agg(F.count("*").alias("n_orders"))
        .where(F.col("n_orders") > 1)
        .select(
            "o_custkey",
            F.col("amount").cast("double").alias("amount"),
            F.date_format("order_date", "yyyy-MM-dd").alias("order_date"),
            "n_orders",
        )
    )


def referential_integrity(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Full FK-closure integrity audit: every parent/child relationship
    in the schema as one (relationship, n_child_rows, n_orphans) row —
    the whole-warehouse admission check, where :func:`dq_expectations`
    spot-checks the order pipeline's two hottest edges.

    Each relationship is one left join counting misses in the same
    pass as the row count (no separate anti-join scan). Dimension
    parents broadcast; the two fact→fact edges (lineitem→orders and
    the implicit order side of lineitem→part/supplier) shuffle on the
    key — intrinsic to validating a distributed FK, and exchange-free
    on the bucketed layout (sources/bucketed.py).
    """

    def rel(
        name: str, child: DataFrame, ckey: str,
        parent: DataFrame, pkey: str, bcast: bool,
    ) -> DataFrame:
        keys = parent.select(F.col(pkey).alias("_k")).distinct().withColumn(
            "_hit", F.lit(1)
        )
        if bcast:
            keys = F.broadcast(keys)
        j = child.select(F.col(ckey).alias("_k")).join(keys, "_k", "left")
        return j.agg(
            F.count("*").alias("n_child_rows"),
            F.count(F.when(F.col("_hit").isNull(), 1)).alias("n_orphans"),
        ).select(
            F.lit(name).alias("relationship"), "n_child_rows", "n_orphans"
        )

    rels = [
        rel("nation.regionkey", nation, "n_regionkey", region, "r_regionkey", True),
        rel("customer.nationkey", customer, "c_nationkey", nation, "n_nationkey", True),
        rel("supplier.nationkey", supplier, "s_nationkey", nation, "n_nationkey", True),
        rel("orders.custkey", orders, "o_custkey", customer, "c_custkey", True),
        rel("lineitem.orderkey", lineitem, "l_orderkey", orders, "o_orderkey", False),
        rel("lineitem.partkey", lineitem, "l_partkey", part, "p_partkey", True),
        rel("lineitem.suppkey", lineitem, "l_suppkey", supplier, "s_suppkey", True),
    ]
    out = rels[0]
    for r in rels[1:]:
        out = out.unionByName(r)
    return out


def order_total_consistency(
    orders: DataFrame, lineitem: DataFrame, tol_pct: float = 1.0
) -> DataFrame:
    """Cross-field consistency audit: does ``o_totalprice`` equal the
    order's lineitem total Σ price·(1+tax)·(1−discount) within
    ``tol_pct`` percent — the classic derived-column invariant check
    (TPC-H maintains it; a synthetic or corrupted feed does not, and
    THIS report is how you find out: the driver fixtures fail it for
    ~99% of orders, which both engines must agree on).

    Exact decimal lineitem totals, one fact-fact join on orderkey
    (bucketed layout makes it exchange-free), tolerance compare in
    double. One summary row.

    Output: (n_orders, n_with_lines, n_consistent, consistency_rate).
    """
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    lt = lineitem.groupBy("l_orderkey").agg(
        F.sum(price * (F.lit(1) + tax) * (F.lit(1) - disc)).alias("_calc")
    )
    j = orders.select("o_orderkey", "o_totalprice").join(
        lt, F.col("o_orderkey") == F.col("l_orderkey"), "left"
    )
    ok = (
        F.abs(F.col("o_totalprice").cast("double") - F.col("_calc").cast("double"))
        <= F.lit(tol_pct / 100.0) * F.col("o_totalprice").cast("double")
    )
    return j.agg(
        F.count("*").alias("n_orders"),
        F.count("_calc").alias("n_with_lines"),
        F.sum(F.when(ok, 1).otherwise(0)).alias("n_consistent"),
    ).select(
        "n_orders",
        "n_with_lines",
        F.col("n_consistent").cast("long").alias("n_consistent"),
        F.round(
            F.col("n_consistent").cast("double") / F.col("n_with_lines").cast("double"),
            6,
        ).alias("consistency_rate"),
    )


def linenumber_density_check(lineitem: DataFrame) -> DataFrame:
    """Dense-sequence integrity check: every order's line numbers must
    form exactly 1..n (no gaps, no duplicates, no zero/negative ids) —
    the DQ shape behind "did an upstream writer drop or double-write a
    child row", which referential/total checks cannot see (a dropped
    line 3 of 5 keeps the FK valid and may keep totals plausible).

    The whole check folds into one partial-agg pass per order:
    a dense 1..n sequence is EQUIVALENT to (min = 1) ∧ (max = n) ∧
    (count distinct = n) — no sort, no window, no self-join. The
    report aggregates violations by kind so the output is k rows,
    corpus-size independent.

    Output: (seq_check, n_orders) — one row per violation class plus
    the 'dense_ok' row counting clean orders.
    """
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.count("*").alias("_n"),
        F.countDistinct("l_linenumber").alias("_nd"),
        F.min("l_linenumber").alias("_mn"),
        F.max("l_linenumber").alias("_mx"),
    )
    ok = (F.col("_mn") == 1) & (F.col("_mx") == F.col("_n")) & (
        F.col("_nd") == F.col("_n")
    )
    cls = (
        F.when(F.col("_nd") != F.col("_n"), F.lit("duplicate_linenumber"))
        .when(F.col("_mn") < 1, F.lit("nonpositive_linenumber"))
        .when(ok, F.lit("dense_ok"))
        .otherwise(F.lit("gapped_sequence"))
    )
    return (
        per_order.select(cls.alias("seq_check"))
        .groupBy("seq_check")
        .agg(F.count("*").alias("n_orders"))
    )
