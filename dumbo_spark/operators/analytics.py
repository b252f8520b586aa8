"""Composed analytical pipelines — multi-operator showcases.

Dumbo expressed multi-stage analytics as chained MapReduce jobs with
hand-wired temp paths (dumbo/core.py Job.additer; examples/join.py +
examples/itertwice.py combined is exactly this shape). Here a pipeline
is one Catalyst plan: scans prune to needed columns, filters push into
scans, the dimension sides broadcast, and the final top-k plans as a
window over pre-aggregated (small) data.

These queries mirror classic TPC-H shapes on the fixture schema —
the compositions a switching dumbo user would rebuild first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dumbo_spark.functions.numeric import dmoney, dsum
from dumbo_spark.operators._checkpoint import pin


def _revenue() -> F.Column:
    return dmoney("l_extendedprice") * (
        F.lit(1).cast("decimal(18,2)") - dmoney("l_discount")
    )


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: scan-filter → wide algebraic aggregate. The
    canonical 'is partial aggregation working' benchmark query."""
    n = F.count("*")
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(_revenue()).cast("double").alias("sum_disc_price"),
            F.round(F.sum(dmoney("l_quantity")).cast("double") / n, 4).alias("avg_qty"),
            F.round(F.sum(dmoney("l_extendedprice")).cast("double") / n, 4).alias("avg_price"),
            n.alias("count_order"),
        )
    )


def top_revenue_nations(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame
) -> DataFrame:
    """TPC-H Q5 shape: fact⋈fact⋈fact with broadcast dims.

    Join order matters at scale: lineitem⋈orders shuffles on orderkey
    (the two big tables), the result joins customers on custkey, and
    nation (25 rows) broadcasts — the fact tables are never broadcast
    and never cross-joined.
    """
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(_revenue()).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def segment_top_customers(
    customer: DataFrame, orders: DataFrame, k: int = 5
) -> DataFrame:
    """TPC-H Q3 shape: join → aggregate → per-group top-k. The window
    runs over the aggregate (|customers| rows), not the join output."""
    per_customer = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", "c_custkey", "c_name")
        .agg(dsum("o_totalprice", "total_spent"), F.count("*").alias("n_orders"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("total_spent").desc(), F.col("c_custkey").asc()
    )
    return (
        per_customer.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("c_mktsegment", "c_custkey", "c_name", "total_spent", "n_orders", "rn")
    )


def shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, k: int = 10
) -> DataFrame:
    """TPC-H Q3 shape: filtered 3-way join → aggregate → global top-k.

    Both date filters and the segment filter push into the parquet
    scans; the top-k over the aggregate plans TakeOrderedAndProject.
    Revenue is an exact decimal sum (cast to double at the end) so the
    ordering — and therefore the limit cut — is engine-independent.
    """
    cutoff = F.lit("1995-06-30")
    return (
        lineitem.where(F.col("l_shipdate") > cutoff)
        .join(
            orders.where(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.where(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(k)
    )


def returned_items(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue. Fact⋈fact on
    orderkey, customer on custkey, nation broadcast; top-k on the
    per-customer aggregate."""
    return (
        lineitem.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(k)
    )


def orders_above_avg(orders: DataFrame) -> DataFrame:
    """Correlated-scalar-subquery shape (orders above their priority
    group's average) as one window pass — no second scan, no join.

    The comparison is pure decimal arithmetic (price·n > group sum),
    never a float division, so the predicate is exact and
    engine-independent.
    """
    w = Window.partitionBy("o_orderpriority")
    with_stats = orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.sum(dmoney("o_totalprice")).over(w).alias("_grp_sum"),
        F.count("*").over(w).alias("_grp_n"),
    )
    return with_stats.where(
        dmoney("o_totalprice") * F.col("_grp_n") > F.col("_grp_sum")
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")


def order_priority_counts(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4 shape: EXISTS (left-semi) then count by category."""
    shipped = lineitem.where(
        F.col("l_shipdate") >= F.lit("1996-01-01")
    ).select("l_orderkey")
    return (
        orders.join(shipped, orders.o_orderkey == shipped.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )

def local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H Q5 shape: six-way join where customer and supplier must sit
    in the SAME nation, revenue per nation of one region.

    Scale plan: the two fact tables shuffle-join on orderkey; every
    dimension (supplier, customer, nation⋈region) broadcasts, so the
    co-nationality predicate (c_nationkey = s_nationkey) resolves
    map-side with no extra shuffle. At 100 TB the only big exchange is
    the fact⋈fact join — exactly the minimum the query requires.
    """
    nations_in_region = nation.join(
        F.broadcast(region.where(F.col("r_name") == region_name)),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    return (
        lineitem.join(orders.where(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        ), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(customer),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nations_in_region), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


def promo_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (share of revenue
    from promo parts in one ship-month).

    Both numerator and denominator are exact decimal sums (the CASE
    arm contributes 0 exactly), so the only float op is the final
    division — rounded to 6 places for engine-stable hashing. The part
    dimension broadcasts; the fact side keeps its scan-pushed date
    filter.
    """
    promo = F.when(F.col("p_type").startswith("PROMO"), _revenue()).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        lineitem.where(
            (F.col("l_shipdate") >= F.lit("1995-09-01"))
            & (F.col("l_shipdate") < F.lit("1995-10-01"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(_revenue()).cast("double"),
                6,
            ).alias("promo_pct")
        )
    )


def large_orders(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
    min_qty: int = 150, k: int = 50,
) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a fact aggregate, then join back to
    the dimensions and top-k.

    The quantity rollup happens FIRST (one shuffle on orderkey, heavy
    side reduced to |orders| rows before any join); the surviving keys
    are few, so both joins after the HAVING are effectively
    broadcast-size at any scale factor. Decimal sum keeps the HAVING
    cut exact.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(dmoney("l_quantity")).alias("_sum_qty"))
        .where(F.col("_sum_qty") > min_qty)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            F.col("_sum_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(k)
    )


def nation_trade_volume(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
    supplier: DataFrame, nation: DataFrame,
    nation_a: str = "NATION_1", nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year,
    with the two-sided disjunctive nation predicate.

    Scale plan: nation is filtered to TWO rows before joining, so both
    nation joins broadcast and the disjunction
    (A→B or B→A) is evaluated map-side after the joins; the only big
    exchange remains lineitem⋈orders on orderkey. Filtering nations
    early also lets the supplier/customer joins drop non-participating
    rows before the fact join output grows.
    """
    two = nation.where(F.col("n_name").isin(nation_a, nation_b))
    supp_n = supplier.join(
        F.broadcast(two), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust_n = customer.join(
        F.broadcast(two), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust_n), F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


def product_profit(
    orders: DataFrame, lineitem: DataFrame, supplier: DataFrame,
    part: DataFrame, nation: DataFrame, name_fragment: str = "red",
) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for
    parts whose name contains a fragment. The fixture has no partsupp,
    so supply cost is modeled as p_retailprice·l_quantity·10% — the
    join/aggregate topology (LIKE-filtered part dim, two broadcast
    dims, fact⋈fact shuffle, two-level groupBy) is Q9's.
    """
    # Narrow decimals keep the triple product inside precision 38 with
    # NO rounding (9,2 × 9,2 × 3,1 → 23,5 exact) — a chain of (18,2)
    # factors would overflow 38 and round differently per engine.
    cost = (
        F.col("p_retailprice").cast("decimal(9,2)")
        * F.col("l_quantity").cast("decimal(9,2)")
        * F.lit(0.1).cast("decimal(3,1)")
    )
    return (
        lineitem.join(
            F.broadcast(part.where(F.col("p_name").contains(name_fragment))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(_revenue() - cost).cast("double").alias("profit"))
    )


def order_count_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many orders
    they placed — left outer join so zero-order customers count, then a
    second aggregate over the first's output.

    The first groupBy reduces to |customers| rows; the histogram
    aggregate is then trivially small. At 100 TB the left join shuffles
    on custkey once; no other exchange matters.
    """
    per_customer = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_customer.groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
    )


def supplier_part_variety(
    lineitem: DataFrame, part: DataFrame, excluded_brand: str = "Brand#5"
) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each
    (brand, type) bucket, excluding one brand. No partsupp in the
    fixture, so supplier↔part pairs come from observed lineitem rows —
    same NOT-predicate + COUNT(DISTINCT) topology.

    distinct-count plans as two-phase partial aggregation (expand on
    the distinct key first), so it scales without a global shuffle of
    raw fact rows per group.
    """
    return (
        lineitem.join(
            F.broadcast(part.where(F.col("p_brand") != excluded_brand)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def small_quantity_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q17 shape: revenue from line items whose quantity is below
    20% of the part's average quantity, summed per brand.

    The correlated scalar subquery (per-part average) is one window
    pass over lineitem partitioned by partkey — no self-join, no second
    scan. The cut ``qty < 0.2·(sum/n)`` is evaluated as the exact
    integer-decimal inequality ``5·qty·n < sum`` so the boundary is
    engine-independent.
    """
    w = Window.partitionBy("l_partkey")
    flagged = lineitem.select(
        "l_partkey",
        "l_extendedprice",
        dmoney("l_quantity").alias("_qty"),
        F.sum(dmoney("l_quantity")).over(w).alias("_sum_qty"),
        F.count("*").over(w).alias("_n"),
    ).where(F.lit(5) * F.col("_qty") * F.col("_n") < F.col("_sum_qty"))
    return (
        flagged.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(dsum("l_extendedprice", "small_qty_revenue"))
    )


def disjunctive_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape: revenue matching any of three brand/size/
    quantity conjunctions — the OR-of-ANDs predicate that tests
    disjunction handling in the optimizer.

    The common sub-predicates (join key equality, quantity range) stay
    in one pass; Catalyst pushes the shared p_size ≥ 1 bound and the
    join survives as a single broadcast hash join with the OR evaluated
    post-join, not three unioned scans.
    """
    q = dmoney("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
           & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & q.between(20, 30))
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(cond)
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


def idle_rich_customers(
    customer: DataFrame, orders: DataFrame, since: str = "2001-01-01"
) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balances
    and no orders since a cutoff, counted per nation.

    The global average is a one-row aggregate broadcast into the
    filter (scalar subquery); "no recent orders" is a left-anti join
    against the date-filtered orders custkey set (the date filter
    pushes into the orders scan). Neither step shuffles the customer
    table more than once.
    """
    # bal > avg ⇔ bal·n > sum — exact decimal arithmetic, so the
    # threshold cut is identical in every engine (no float-avg ulp).
    avg_bal = customer.where(F.col("c_acctbal") > 0).agg(
        F.sum(dmoney("c_acctbal")).alias("_bal_sum"),
        F.count("*").alias("_bal_n"),
    )
    recent = orders.where(F.col("o_orderdate") >= F.lit(since))
    return (
        customer.join(F.broadcast(avg_bal))
        .where(dmoney("c_acctbal") * F.col("_bal_n") > F.col("_bal_sum"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal", "total_acctbal"),
        )
    )


def market_share(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    supp_nation: str = "NATION_3",
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H Q8 shape: one nation's supplier market share inside a
    region, per order year — the conditional-ratio aggregate.

    Scale plan: region filters nation to a handful of rows before the
    customer-nation join, so BOTH nation joins and the region join
    broadcast; the conditional numerator is a map-side CASE inside one
    hash aggregate — one fact⋈fact shuffle chain (lineitem⋈orders),
    everything else broadcast.
    """
    rev = _revenue()
    cust_in_region = (
        customer.join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.where(F.col("r_name") == region_name)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select(F.col("n_nationkey").alias("c_nationkey_k"))
            ),
            F.col("c_nationkey") == F.col("c_nationkey_k"),
        )
    ).select("c_custkey")
    supp_nat = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    vol = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_in_region, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(F.broadcast(supp_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            rev.alias("_vol"),
            F.col("supp_nation"),
        )
    )
    total = F.sum("_vol")
    national = F.sum(F.when(F.col("supp_nation") == supp_nation, F.col("_vol")).otherwise(F.lit(0).cast("decimal(18,2)")))
    return (
        vol.groupBy("order_year")
        .agg(
            national.cast("double").alias("nation_volume"),
            total.cast("double").alias("total_volume"),
            # ratio in double on both engine sides: decimal division
            # scale/rounding rules differ between engines, double
            # division of identical sums does not
            F.round(national.cast("double") / total.cast("double"), 6).alias(
                "mkt_share"
            ),
        )
    )


def waiting_suppliers(
    orders: DataFrame, lineitem: DataFrame, supplier: DataFrame
) -> DataFrame:
    """TPC-H Q21 shape (adapted to the fixture's columns): suppliers
    who were the SOLE returning supplier on a finished multi-supplier
    order, counted per supplier — the exists/not-exists double
    correlation, expressed as one aggregate + self-semi/anti joins.

    Scale plan: the per-order supplier profile (distinct suppliers,
    returning suppliers) is ONE groupBy over lineitem; the exists and
    not-exists conditions become plain predicates on that aggregate —
    no correlated per-row subquery execution, no second scan of
    lineitem. Orders (status filter) and supplier (name lookup)
    broadcast-join the survivors.
    """
    finished = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey")
    per_order = (
        lineitem.join(finished, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.countDistinct(
                F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
            ).alias("n_ret_supps"),
            F.min(
                F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
            ).alias("sole_ret_supp"),
        )
    )
    sole = per_order.where(
        (F.col("n_supps") >= 2) & (F.col("n_ret_supps") == 1)
    ).select(F.col("sole_ret_supp").alias("s_suppkey"))
    return (
        sole.groupBy("s_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")), "s_suppkey")
        .select("s_suppkey", "s_name", "numwait")
    )


def customer_rfm(orders: DataFrame) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary) — the classic
    customer-value rollup: per-customer aggregates, median split on
    each axis, eight cells collapsed to six named segments.

    Scale shape: one partial-agg groupBy(custkey); the as-of date and
    the three median boundaries are 1-row broadcast aggregates
    cross-joined back (no driver action, no global window) — median
    splits are computed over per-CUSTOMER rows, already 3 orders of
    magnitude smaller than the fact table. Deliberately thresholds,
    not NTILE: a quantile boundary compare is a scan predicate and
    scales; a global rank does not.
    """
    per = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max(F.to_date("o_orderdate")).alias("_last"),
        F.count("*").alias("frequency"),
        dsum("o_totalprice", "monetary"),
    )
    asof = per.agg(F.max("_last").alias("_asof"))
    withr = (
        per.crossJoin(F.broadcast(asof))
        .withColumn("recency_days", F.datediff(F.col("_asof"), F.col("_last")))
        .drop("_last", "_asof")
    )
    bounds = withr.agg(
        F.percentile("recency_days", F.lit(0.5)).alias("_r50"),
        F.percentile("frequency", F.lit(0.5)).alias("_f50"),
        F.percentile("monetary", F.lit(0.5)).alias("_m50"),
    )
    scored = withr.crossJoin(F.broadcast(bounds)).withColumns(
        {
            "_r": F.col("recency_days") <= F.col("_r50"),
            "_f": F.col("frequency") >= F.col("_f50"),
            "_m": F.col("monetary") >= F.col("_m50"),
        }
    )
    segment = (
        F.when(F.col("_r") & F.col("_f") & F.col("_m"), "champion")
        .when(F.col("_r") & F.col("_f"), "loyal")
        .when(F.col("_r") & F.col("_m"), "big_spender")
        .when(F.col("_r"), "promising")
        .when(F.col("_f") | F.col("_m"), "at_risk")
        .otherwise("hibernating")
    )
    return scored.select(
        "c_custkey", "recency_days", "frequency", "monetary", segment.alias("segment")
    )


def pareto_concentration(
    customer: DataFrame, orders: DataFrame, nation: DataFrame
) -> DataFrame:
    """Revenue-concentration (80/20) profile per nation: how many of a
    nation's customers — and what fraction — cover 80% of its order
    revenue. The inequality diagnostic behind account-tiering and the
    skew early-warning for key-partitioned pipelines (a nation whose
    top 1% carries 80% of revenue will also skew any customer-keyed
    shuffle).

    Determinism: per-customer revenue and the running total are exact
    decimal sums; the 80% cut compares ``5·cum ≥ 4·total`` in integer-
    scaled decimal — no floating-point threshold. The cumulative window
    partitions per nation over CUSTOMERS (already aggregated — input
    bounded by customer count, not order count); ordering is
    (revenue DESC, custkey) so ties break stably.
    """
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.sum(dmoney("o_totalprice")).alias("_rev"))
        .join(customer.select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "o_custkey", "_rev")
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("_rev").desc(), F.col("o_custkey").asc()
    )
    tot = Window.partitionBy("n_name")
    ranked = rev.select(
        "n_name",
        F.row_number().over(w).alias("_rk"),
        F.sum("_rev").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_cum"),
        F.sum("_rev").over(tot).alias("_tot"),
        F.count("*").over(tot).alias("_n"),
    )
    hit = ranked.where(F.lit(5) * F.col("_cum") >= F.lit(4) * F.col("_tot"))
    return hit.groupBy("n_name").agg(
        F.min("_n").alias("n_customers"),
        F.min("_rk").alias("n_top80"),
        F.round(F.min("_rk").cast("double") / F.min("_n").cast("double"), 4).alias(
            "top80_share"
        ),
    )


def revenue_share_parts(lineitem: DataFrame, threshold_bp: int = 7) -> DataFrame:
    """TPC-H Q11 shape ("important stock"): parts whose discounted
    revenue exceeds ``threshold_bp`` basis points of TOTAL revenue —
    a per-group aggregate compared against a global scalar.

    Plan: one partial-agg groupBy(partkey) over the fact table (the
    only corpus-sized stage), then the global total joins in as a
    broadcast single-row re-aggregate of the SAME per-part frame (no
    second fact scan). Both sides of the comparison are exact decimal
    sums cast to double — IEEE division of identical doubles is
    identical in both engines, so the membership cut is hash-stable.

    At 100 TB: |parts| rows after the first agg; everything downstream
    is dimension-sized.
    """
    # lazy checkpoint: referenced by the total scalar AND the final
    # projection — one fact-table aggregation instead of two (r15)
    per_part = pin(lineitem.groupBy("l_partkey").agg(F.sum(_revenue()).alias("_rev")))
    total = per_part.agg(F.sum("_rev").alias("_tot"))
    share = F.col("_rev").cast("double") / F.col("_tot").cast("double")
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(share > F.lit(threshold_bp) / F.lit(10000.0))
        .select(
            "l_partkey",
            F.col("_rev").cast("double").alias("part_revenue"),
            F.round(share * 10000.0, 4).alias("share_bp"),
        )
    )


def top_supplier_revenue(lineitem: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q15 shape (top supplier): revenue per supplier over one
    quarter, returning the supplier(s) that achieve the maximum —
    the classic "aggregate, then compare to the aggregate's max"
    two-level query that dumbo users wrote as two chained jobs with a
    hand-carried max (examples/itertwice.py shape).

    Plan: shipdate-filtered partial agg on l_suppkey (pushdown-pruned
    scan), then the max is a window over the AGGREGATED frame —
    |suppliers| rows, so the unpartitioned window is bytes, not data;
    the supplier dimension broadcasts in for the name. Exact decimal
    revenue → the max-equality test is exact.
    """
    q = lineitem.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    per_supp = q.groupBy("l_suppkey").agg(F.sum(_revenue()).alias("_rev"))
    w = Window.partitionBy()
    return (
        per_supp.withColumn("_mx", F.max("_rev").over(w))
        .where(F.col("_rev") == F.col("_mx"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("_rev").cast("double").alias("total_revenue"),
        )
    )


def discount_band_revenue(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): one fully
    pushdown-friendly scan — shipdate year, discount band, small
    quantity — aggregated to a single exact-decimal revenue figure.
    The canonical "did every predicate reach the parquet reader"
    benchmark query: the plan must show all four PushedFilters and a
    two-column ReadSchema beyond the filter columns.
    """
    f = (
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= F.lit(0.02).cast("double"))
        & (F.col("l_discount") <= F.lit(0.04).cast("double"))
        & (F.col("l_quantity") < F.lit(24))
    )
    return lineitem.where(f).agg(
        F.sum(dmoney("l_extendedprice") * dmoney("l_discount"))
        .cast("double")
        .alias("potential_revenue"),
        F.count("*").alias("n_items"),
    )


def topk_movers(lineitem: DataFrame, k: int = 10) -> DataFrame:
    """Period-over-period trending detection: the parts whose lineitem
    count grew most from 1996 to 1997 — the "what's suddenly popular"
    screen behind ranking dashboards and hot-key forecasts.

    One conditional-aggregate pass builds both periods' counts per
    part (no self-join of two filtered scans); the mover cut is an
    exact integer delta ordered with a key tie-break, compiled to
    TakeOrderedAndProject — per-task heaps, no global sort. At 100 TB
    the only full-data stage is the single partial-agg groupBy.
    """
    y = F.year("l_shipdate")
    per = (
        lineitem.where((y == 1996) | (y == 1997))
        .groupBy("l_partkey")
        .agg(
            F.count(F.when(y == 1996, 1)).alias("n_prev"),
            F.count(F.when(y == 1997, 1)).alias("n_curr"),
        )
    )
    return (
        per.withColumn("delta", F.col("n_curr") - F.col("n_prev"))
        .orderBy(F.col("delta").desc(), F.col("l_partkey").asc())
        .limit(k)
    )


def share_of_parent(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Contribution analysis ("percent of parent"): each nation's share
    of its REGION's revenue — the drill-down ratio every BI rollup
    needs, computed without a second scan or a self-join.

    Plan: the Q5-style star join (dims broadcast) aggregates once to
    the (region, nation) grain — ~25 rows — and the parent total is a
    window sum OVER that aggregate, so the share costs nothing extra.
    Exact decimal revenue; the share divides two identical doubles on
    both engines.
    """
    rev = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(_revenue()).alias("_rev"))
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        F.col("_rev").cast("double").alias("revenue"),
        F.round(
            F.col("_rev").cast("double") / F.sum("_rev").over(w).cast("double") * 100.0,
            4,
        ).alias("pct_of_region"),
    )


def segment_priority_mode(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Per-segment modal order priority — the grouped MODE aggregate
    (Spark has no ``mode()`` that is deterministic under ties; this is
    the standard two-level construction with an explicit tie-break).

    Plan: fact⋈dim broadcast join, one partial-agg to the
    (segment, priority) grain — ≤ |segments|·|priorities| rows — and a
    rank window OVER that tiny aggregate. Ties break on the priority
    string so the mode is engine-stable.
    """
    counts = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n_orders").desc(), F.col("o_orderpriority").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("modal_priority"),
            "n_orders",
        )
    )


def fulfillment_latency(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Order-to-ship latency SLA report: per order priority, exact
    p50/p90 and max of the days between order date and each line's
    ship date — the supply-chain percentile view (is URGENT actually
    faster?).

    Plan: the one genuinely fact⋈fact stage is the orderkey equi-join
    (both sides key-partitioned — at 100 TB this is where the bucketed
    layout, sources/bucketed.py, makes it exchange-free); the
    percentile aggregate groups to |priorities| rows. Lags are exact
    integer days; ``F.percentile`` matches DuckDB ``quantile_cont``
    (the group_percentiles convention).
    """
    lag = F.datediff("l_shipdate", "o_orderdate")
    joined = lineitem.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    pcts = F.percentile(lag, F.array(F.lit(0.5), F.lit(0.9)))
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.round(F.get(pcts, 0), 4).alias("p50_days"),
        F.round(F.get(pcts, 1), 4).alias("p90_days"),
        F.max(lag).alias("max_days"),
    )


def skyline_parts(part: DataFrame) -> DataFrame:
    """2-D skyline (Pareto frontier): the parts not dominated on
    (retail price, size) — i.e. no other part is ≤ on both and < on
    one. The classic multi-criteria shortlist query ("cheapest for
    its size class").

    Single-pass construction: in (price, size, key) ascending order a
    row is on the skyline iff its size is strictly below the running
    minimum size of the preceding prefix (ties collapse to the first
    key — duplicates of a frontier point are dominated by it). The
    window is a global order over the PART DIMENSION — bounded rows;
    a fact-scale skyline uses the same cummin within value-range
    buckets plus the offsets trick (operators/packing.py).
    """
    w = (
        Window.orderBy(
            F.col("p_retailprice").asc(), F.col("p_size").asc(), F.col("p_partkey").asc()
        ).rowsBetween(Window.unboundedPreceding, -1)
    )
    runmin = F.min("p_size").over(w)
    return (
        part.select("p_partkey", "p_retailprice", "p_size")
        .withColumn("_rm", runmin)
        .where(F.col("_rm").isNull() | (F.col("p_size") < F.col("_rm")))
        .select("p_partkey", "p_retailprice", "p_size")
    )


def decile_lift_table(events: DataFrame, min_purchases: int = 14) -> DataFrame:
    """Decile lift table — the standard targeting-model evaluation:
    rank users by an engagement score (total event count), cut into
    10 exact global deciles (decile 0 = most engaged), and report each
    decile's heavy-purchaser rate against the population rate.

    Exact deciles WITHOUT a global sort: the score domain is small
    integers, so global rank = (count of users with higher score) +
    (rank among equal scores) via the range-partitioned global rank
    (topk.global_rank through sampling.exact_global_rank — safe for
    any score cardinality). Every rate/lift is a ratio of exact longs,
    rounded.
    """
    # lazy checkpoint: referenced by the totals scalar AND the rank pass
    # — one fact-table aggregation instead of two (r15 optimization)
    per_user = pin(
        events.groupBy("user_id").agg(
            F.count("*").alias("score"),
            (
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
                >= min_purchases
            )
            .cast("int")
            .alias("converted"),
        )
    )
    from dumbo_spark.operators.sampling import exact_global_rank

    total = per_user.agg(
        F.count("*").alias("_n"), F.sum("converted").alias("_conv")
    )
    ranked = exact_global_rank(
        per_user, "score", "user_id", ascending=False
    ).crossJoin(F.broadcast(total))
    deciles = (
        ranked.withColumn(
            "decile", F.floor((F.col("_rank") - 1) * 10 / F.col("_n")).cast("int")
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("converted").alias("n_converted"),
            F.max(F.col("_conv").cast("double") / F.col("_n").cast("double")).alias(
                "_base"
            ),
        )
    )
    rate = F.col("n_converted").cast("double") / F.col("n_users").cast("double")
    return deciles.select(
        "decile",
        "n_users",
        "n_converted",
        F.round(rate, 6).alias("conv_rate"),
        F.round(rate / F.col("_base"), 4).alias("lift"),
    )


def gini_revenue(orders: DataFrame) -> DataFrame:
    """Gini coefficient of customer revenue — THE inequality scalar
    (the integral form of :func:`pareto_concentration`'s 80/20 view),
    computed EXACTLY: G = 2·Σ(iᵢ·xᵢ)/(n·Σx) − (n+1)/n with x ascending
    and i the exact global rank.

    Everything before the final closed form is exact: per-customer
    revenue is decimal, ranks come from the range-partitioned
    global rank (sampling.exact_global_rank — no global sort, no
    domain-sized broadcast even for this continuous domain), and rank·revenue
    sums stay decimal. Ties contribute x·Σi regardless of their
    internal order, so the tie-break affects nothing. One scalar row
    out.
    """
    from dumbo_spark.operators.sampling import exact_global_rank

    per = orders.groupBy("o_custkey").agg(
        F.sum(dmoney("o_totalprice")).alias("rev")
    )
    ranked = exact_global_rank(per, "rev", "o_custkey", ascending=True)
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum(F.col("_rank") * F.col("rev")).alias("swx"),
        F.sum("rev").alias("sx"),
    )
    nd = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("swx").cast("double") / (nd * F.col("sx").cast("double"))
        - (nd + F.lit(1.0)) / nd
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("sx").cast("double").alias("total_revenue"),
        F.round(gini, 6).alias("gini"),
    )


def discount_elasticity(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Per-brand discount elasticity: the OLS slope of order quantity
    on discount percentage — does discounting move volume, by brand
    (the pricing-analytics regression, group_regression's discipline
    applied to an econometric question).

    Exactness: discount percentage points and quantity cents are exact
    integers (decimal·100), so all co-moment SUMS are integer-exact;
    only the closed-form slope finish runs in doubles — identical on
    both engines. Slope is reported in quantity units per percentage
    point (the /100 undoes the cents scaling).
    """
    bp = (dmoney("l_discount") * 100).cast("long")
    qc = (dmoney("l_quantity") * 100).cast("long")
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    mom = j.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.sum(bp).alias("sx"),
        F.sum(qc).alias("sy"),
        F.sum(bp * bp).alias("sxx"),
        F.sum(bp * qc).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    return mom.select(
        "p_brand",
        "n",
        F.round(num / den / F.lit(100.0), 6).alias("qty_per_pct"),
    )


def market_concentration(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Herfindahl–Hirschman index per region: Σ (nation revenue
    share)² — the antitrust-style concentration scalar that
    complements :func:`share_of_parent`'s per-row view (HHI → 1 means
    one nation owns the region).

    Same star-join aggregate; shares divide exact decimals into
    identical doubles and each region sums ≤ |nations-per-region|
    squared shares — a handful of similar-magnitude terms, rounded
    6dp.
    """
    rev = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(_revenue()).alias("_rev"))
    )
    w = Window.partitionBy("region")
    share = F.col("_rev").cast("double") / F.sum("_rev").over(w).cast("double")
    return (
        rev.withColumn("_sh2", share * share)
        .groupBy("region")
        .agg(
            F.count("*").alias("n_nations"),
            F.round(F.sum("_sh2"), 6).alias("hhi"),
        )
    )


def return_rate_by_brand(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Return rate per brand: share of line items flagged returned —
    the product-quality screen that turns Q10's "who returned" into
    "what gets returned". One conditional-aggregate pass over the
    broadcast-dim join; rates are ratios of exact longs.
    """
    j = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    per = j.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
    )
    return per.select(
        "p_brand",
        "n_lines",
        "n_returned",
        F.round(
            F.col("n_returned").cast("double") / F.col("n_lines").cast("double"), 6
        ).alias("return_rate"),
    )


def monthly_revenue_yoy(orders: DataFrame) -> DataFrame:
    """Monthly revenue with year-over-year growth: each month's total
    next to the same month a year earlier and the growth percentage —
    the first chart in every revenue review. The lag-12 join is a
    window over the |months| frame (dozens of rows after the rollup),
    so the full-data work is exactly one partial-agg scan.

    Output: (month, revenue, revenue_prev_year, yoy_pct) — yoy null
    for the first year of history.
    """
    monthly = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.sum(dmoney("o_totalprice")).alias("_rev"))
    # calendar join, not lag(12): a lag over the month sequence silently
    # pairs wrong months if history has a gap
    prev = monthly.select(
        F.date_format(
            F.add_months(F.to_date(F.concat_ws("-", "month", F.lit("01"))), 12),
            "yyyy-MM",
        ).alias("month"),
        F.col("_rev").alias("_prev"),
    )
    return (
        monthly.join(F.broadcast(prev), "month", "left")
        .select(
            "month",
            F.col("_rev").cast("double").alias("revenue"),
            F.col("_prev").cast("double").alias("revenue_prev_year"),
            F.round(
                (F.col("_rev") - F.col("_prev")).cast("double")
                / F.col("_prev").cast("double")
                * 100.0,
                4,
            ).alias("yoy_pct"),
        )
        .orderBy("month")
    )


def order_cadence(orders: DataFrame) -> DataFrame:
    """Customer purchase-cadence profile: the day gaps between each
    customer's consecutive orders, summarized as exact corpus-wide
    p50/p90 — the replenishment-cycle number behind every
    "when to re-engage" campaign (the orders-side sibling of
    conversion_lag_histogram's event-side lags).

    Gaps come from one lag window per customer (bounded by a
    customer's own history); the corpus-wide percentiles run through
    agg.grouped_exact_percentiles on a constant group, so even a
    billion gaps never sort inside one task.

    Output: (n_customers_multi, n_gaps, p50_gap_days, p90_gap_days).
    """
    from dumbo_spark.operators.agg import grouped_exact_percentiles

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # the gap subtree (scan + custkey shuffle + lag window) feeds BOTH
    # the counts aggregate and the percentile sweep; lazily checkpoint
    # so it executes once, not per branch (r15 optimization, guide
    # §2.4). Both consumers are aggregates/range-repartitions — not the
    # size-estimated-join class where a stats-less checkpoint loses an
    # AQE broadcast (the doc_perplexity revert) — so the reuse is pure
    # win; materialization rides the counts branch's own job.
    gaps = pin(
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn(
            "gap_days",
            F.datediff(
                "o_orderdate", F.lag("o_orderdate").over(w)
            ).cast("double"),
        )
        .where(F.col("gap_days").isNotNull())
    )
    counts = gaps.agg(
        F.countDistinct("o_custkey").alias("n_customers_multi"),
        F.count("*").alias("n_gaps"),
    )
    pcts = grouped_exact_percentiles(
        gaps.withColumn("_g", F.lit("all")),
        "_g",
        "gap_days",
        ["o_custkey", "o_orderkey"],
        (0.5, 0.9),
        ("p50_gap_days", "p90_gap_days"),
    ).drop("_g")
    # left join on TRUE (not crossJoin): with no multi-order customers
    # the percentile frame is empty and the oracle still emits one
    # (0, 0, NULL, NULL) row — so must we
    return counts.join(F.broadcast(pcts), F.lit(True), "left")


def churn_risk_buckets(orders: DataFrame, bucket_days: int = 30) -> DataFrame:
    """Customer recency distribution: how many customers last ordered
    0-30, 30-60, … days before the corpus's latest order date — the
    churn-risk funnel every lifecycle campaign is sized from (pairs
    with :func:`customer_rfm`'s per-customer view by giving the
    population shape).

    Recency anchors on max(o_orderdate) IN THE DATA, not wall-clock
    now(), so the result is a pure function of the table (reproducible
    and oracle-checkable). One per-customer partial agg; the anchor is
    a broadcast single-row aggregate.

    Output: (bucket, days_from, n_customers, share) ascending.
    """
    # one fact scan (r15 optimization): the per-customer maxes are
    # checkpointed and the global anchor derives from THEM (max of
    # per-customer maxes ≡ global max) instead of a second orders scan;
    # hist is checkpointed because the share scalar re-references it
    last = pin(orders.groupBy("o_custkey").agg(F.max("o_orderdate").alias("_last")))
    mx = last.agg(F.max("_last").alias("_mx"))
    bucketed = last.crossJoin(F.broadcast(mx)).select(
        F.floor(F.datediff("_mx", "_last") / F.lit(bucket_days)).alias("bucket")
    )
    hist = pin(bucketed.groupBy("bucket").agg(F.count("*").alias("n_customers")))
    total = hist.agg(F.sum("n_customers").alias("_n"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            (F.col("bucket") * bucket_days).cast("int").alias("days_from"),
            "n_customers",
            F.round(
                F.col("n_customers").cast("double") / F.col("_n").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("bucket")
    )


def top_percent_customers(orders: DataFrame, pct: float = 1.0) -> DataFrame:
    """The top ``pct``% of customers by lifetime revenue, with their
    collective revenue share — :func:`pareto_concentration`'s question
    answered as a roster instead of a curve (the VIP list a key-account
    program actually loads). Cut size is ceil(pct% · n) with the
    (revenue DESC, custkey) total order, so membership is exact and
    tie-stable.

    Ranks come from topk.global_rank's range-partitioned machinery
    (per-customer revenue is near-continuous — exactly the domain the
    distinct-value trick fails on); the revenue share joins one
    broadcast scalar.

    Output: (o_custkey, revenue, rank, revenue_share_pct) sorted.
    """
    from dumbo_spark.operators.topk import global_rank

    # lazy checkpoint: referenced by the rank pass AND the share scalar
    # — one fact-table aggregation instead of two (r15 optimization)
    per = pin(
        orders.groupBy("o_custkey").agg(F.sum(dmoney("o_totalprice")).alias("_rev"))
    )
    ranked = global_rank(
        per, [F.col("_rev").desc(), F.col("o_custkey").asc()]
    )
    total = per.agg(F.sum("_rev").alias("_tot"))
    cut = F.ceil(F.col("_n") * F.lit(pct) / 100.0)
    return (
        ranked.where(F.col("_rank") <= cut)
        .crossJoin(F.broadcast(total))
        .select(
            "o_custkey",
            F.col("_rev").cast("double").alias("revenue"),
            F.col("_rank").alias("rank"),
            F.round(
                F.col("_rev").cast("double") / F.col("_tot").cast("double") * 100.0,
                6,
            ).alias("revenue_share_pct"),
        )
        .orderBy("rank")
    )


def order_size_value_correlation(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Pearson correlation between basket size (lines per order) and
    order value — the "do bigger baskets mean bigger orders" scalar a
    pricing team asks for. Computed from exact decimal/integer moments
    (n, Σx, Σy, Σxy, Σx², Σy²) finalized in float and rounded 6dp, so
    the result is shuffle-order-independent — the same mergeable-
    moments discipline as agg.group_stats.

    One fact-fact join on orderkey (the per-order line count), then a
    single scalar aggregate. Output: (n_orders, corr).
    """
    sizes = lineitem.groupBy("l_orderkey").agg(F.count("*").alias("_x"))
    j = orders.select("o_orderkey", dmoney("o_totalprice").alias("_y")).join(
        sizes, F.col("o_orderkey") == F.col("l_orderkey")
    )
    # every moment sums EXACT types (long×long, long×decimal,
    # decimal×decimal) so the result is shuffle-order-independent —
    # a double-typed sxy would be order-dependent and could flip the
    # 6dp rounding (round-5 second-review finding)
    m = j.agg(
        F.count("*").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum("_y").alias("sy"),
        F.sum(F.col("_y") * F.col("_y")).alias("syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    cov = F.col("sxy").cast("double") - sx * sy / n
    vx = F.col("sxx").cast("double") - sx * sx / n
    vy = F.col("syy").cast("double") - sy * sy / n
    corr = F.when(
        (vx > 0) & (vy > 0), F.round(cov / F.sqrt(vx * vy), 6)
    )
    return m.select(F.col("n").alias("n_orders"), corr.alias("corr"))


def monthly_new_vs_returning_revenue(orders: DataFrame) -> DataFrame:
    """Monthly revenue split by NEW vs RETURNING customers (a customer
    is new in their first-order month) — the acquisition-vs-retention
    decomposition every growth review wants next to
    :func:`monthly_revenue_yoy`'s topline.

    The first-order month is one per-customer partial agg broadcast
    back; everything else is a conditional decimal sum in the monthly
    rollup pass.

    Output: (month, n_orders, new_revenue, returning_revenue,
    new_share) ascending.
    """
    month = F.date_format("o_orderdate", "yyyy-MM")
    first = orders.groupBy("o_custkey").agg(
        F.min(F.date_format("o_orderdate", "yyyy-MM")).alias("_first_month")
    )
    j = orders.select(
        "o_custkey", month.alias("month"), dmoney("o_totalprice").alias("_v")
    ).join(first, "o_custkey")
    is_new = F.col("month") == F.col("_first_month")
    zero = F.lit(0).cast("decimal(18,2)")
    agg = j.groupBy("month").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.when(is_new, F.col("_v")).otherwise(zero)).alias("_new"),
        F.sum(F.when(~is_new, F.col("_v")).otherwise(zero)).alias("_ret"),
    )
    return agg.select(
        "month",
        "n_orders",
        F.col("_new").cast("double").alias("new_revenue"),
        F.col("_ret").cast("double").alias("returning_revenue"),
        F.round(
            F.col("_new").cast("double")
            / (F.col("_new") + F.col("_ret")).cast("double"),
            6,
        ).alias("new_share"),
    ).orderBy("month")


def brand_cross_shopping(
    lineitem: DataFrame, part: DataFrame, orders: DataFrame
) -> DataFrame:
    """Brand cross-shopping histogram: how many customers bought
    exactly 1, 2, … distinct brands — the assortment-loyalty shape a
    category manager reads before bundling (complements
    :func:`item_similarity`'s pair view with the per-customer
    breadth view).

    Brand joins broadcast (part is a dimension); the distinct count
    is per customer (bounded groups); the histogram is |distinct
    breadths| rows.

    Output: (n_brands, n_customers) ascending.
    """
    j = (
        lineitem.select("l_orderkey", "l_partkey")
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
    )
    per = j.groupBy("o_custkey").agg(
        F.countDistinct("p_brand").alias("n_brands")
    )
    return (
        per.groupBy("n_brands")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("n_brands")
    )


def return_rate_by_basket_size(lineitem: DataFrame) -> DataFrame:
    """Return rate as a function of basket size: do bigger orders
    return more? Lines-per-order buckets (1-2, 3-4, 5+) against the
    share of lines flagged 'R' — the ops-diagnostic that separates
    "returns scale with volume" from "big baskets are riskier".

    One per-order aggregate (size + returned count) then a bucket
    rollup; rates divide exact longs.

    Output: (size_bucket, n_orders, n_lines, n_returned, return_rate).
    """
    per = lineitem.groupBy("l_orderkey").agg(
        F.count("*").alias("_n_lines"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("_n_ret"),
    )
    bucket = (
        F.when(F.col("_n_lines") <= 2, "1-2")
        .when(F.col("_n_lines") <= 4, "3-4")
        .otherwise("5+")
    )
    return (
        per.groupBy(bucket.alias("size_bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("_n_lines").alias("n_lines"),
            F.sum("_n_ret").alias("n_returned"),
        )
        .withColumn(
            "return_rate",
            F.round(
                F.col("n_returned").cast("double") / F.col("n_lines").cast("double"),
                6,
            ),
        )
    )


def price_dispersion_parts(
    lineitem: DataFrame, min_lines: int = 5, k: int = 20
) -> DataFrame:
    """The parts with the most dispersed selling prices (coefficient
    of variation of l_extendedprice per part, min support) — the
    pricing-consistency screen that surfaces negotiation leakage or
    data errors. Exact decimal moments per part (the group_stats
    algebra), one partial-agg scan, TakeOrderedAndProject cut on the
    ROUNDED cv with a partkey tie-break (engine-stable).

    Output: top-k (l_partkey, n_lines, mean_price, cv).
    """
    d = dmoney("l_extendedprice")
    n = F.count("*")
    s = F.sum(d)
    s2 = F.sum(d * d)
    mean = s.cast("double") / n
    var = s2.cast("double") / n - mean * mean
    per = lineitem.groupBy("l_partkey").agg(
        n.alias("n_lines"),
        F.round(mean, 4).alias("mean_price"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))) / mean, 6).alias("cv"),
    )
    return (
        per.where(F.col("n_lines") >= min_lines)
        .orderBy(F.col("cv").desc(), F.col("l_partkey").asc())
        .limit(k)
    )


def tenure_value_buckets(orders: DataFrame) -> DataFrame:
    """Average customer value by tenure bucket: months between first
    and last order (0, 1-6, 7-12, 13+) against revenue per customer —
    the loyalty-payoff curve ("do long-tenure customers actually spend
    more"), the aggregate behind CLV sanity checks.

    One per-customer partial agg (first/last order month + revenue),
    bucket in the tiny frame, rates divide exact values.

    Output: (tenure_bucket, n_customers, avg_revenue) ordered.
    """
    per = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("_first"),
        F.max("o_orderdate").alias("_last"),
        F.sum(dmoney("o_totalprice")).alias("_rev"),
    )
    # calendar-month difference via integer (year·12+month) arithmetic
    # — exact and engine-portable (months_between's fractional
    # day-of-month semantics have no DuckDB equivalent)
    months = (F.year("_last") * 12 + F.month("_last")) - (
        F.year("_first") * 12 + F.month("_first")
    )
    bucket = (
        F.when(months == 0, "0")
        .when(months <= 6, "1-6")
        .when(months <= 12, "7-12")
        .otherwise("13+")
    )
    return (
        per.groupBy(bucket.alias("tenure_bucket"))
        .agg(
            F.count("*").alias("n_customers"),
            F.round(
                F.sum("_rev").cast("double") / F.count("*").cast("double"), 4
            ).alias("avg_revenue"),
        )
        .orderBy("tenure_bucket")
    )


def region_revenue_rollup(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """Revenue by region with nation detail AND region subtotals in
    one pass (ROLLUP(region, nation)) — the drill-down financial view;
    the geographic sibling of rollup_counts' status×priority rollup.

    The dims (customer→nation→region) broadcast onto the orders scan;
    ROLLUP adds the subtotal rows without a second aggregate.

    Output: (r_name, n_name, n_orders, revenue); NULL n_name rows are
    region subtotals, the all-NULL row is the grand total.
    """
    j = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return j.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_orders"),
        F.sum(dmoney("o_totalprice")).cast("double").alias("revenue"),
    )


def weekday_weekend_mix(orders: DataFrame) -> DataFrame:
    """Monthly weekday/weekend order mix: order counts and revenue
    split by day class per month — the staffing/traffic-mix view
    (dow_hour_heatmap gives the raw grid; this gives the trended
    split). One conditional-aggregate scan.

    Output: (month, weekday_orders, weekend_orders, weekday_revenue,
    weekend_revenue, weekend_share) ascending by month.
    """
    # Spark dayofweek: 1=Sunday..7=Saturday → weekend = {1, 7}
    is_weekend = F.dayofweek("o_orderdate").isin(1, 7)
    zero = F.lit(0).cast("decimal(18,2)")
    v = dmoney("o_totalprice")
    m = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.when(~is_weekend, 1).otherwise(0)).alias("weekday_orders"),
        F.sum(F.when(is_weekend, 1).otherwise(0)).alias("weekend_orders"),
        F.sum(F.when(~is_weekend, v).otherwise(zero)).alias("_wd_rev"),
        F.sum(F.when(is_weekend, v).otherwise(zero)).alias("_we_rev"),
    )
    return m.select(
        "month",
        "weekday_orders",
        "weekend_orders",
        F.col("_wd_rev").cast("double").alias("weekday_revenue"),
        F.col("_we_rev").cast("double").alias("weekend_revenue"),
        F.round(
            F.col("weekend_orders").cast("double")
            / (F.col("weekday_orders") + F.col("weekend_orders")).cast("double"),
            6,
        ).alias("weekend_share"),
    ).orderBy("month")


def auc_roc_exact(orders: DataFrame) -> DataFrame:
    """EXACT tie-corrected ROC-AUC of a score against a binary label —
    the Mann-Whitney U identity (AUC = P(score⁺ > score⁻) + ½P(tie)),
    the evaluation metric every ranking/quality model ships with.
    Demonstrated on orders (label = finalized status, score = order
    total), but the shape is generic: any (score, label) pair.

    Rank statistics without a global sort: rows rank via the
    range-partitioned exact rank (sampling.exact_global_rank —
    terasort machinery, safe for any score cardinality); tie
    correction needs only per-distinct-score (min_rank, max_rank,
    count, positives) because equal scores occupy a CONTIGUOUS rank
    block, so the tie-averaged rank is (min+max)/2 — one groupBy after
    the rank pass, everything else is scalar aggregation:

        AUC = (Σ⁺ avg_rank − n⁺(n⁺+1)/2) / (n⁺ · n⁻)

    All inputs to the final ratio are exact longs/halves, so the 6dp
    round is engine-stable.

    Output: (n_pos, n_neg, auc) — one row.
    """
    scored = orders.select(
        dmoney("o_totalprice").alias("score"),
        F.col("o_orderkey").alias("_id"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    from dumbo_spark.operators.sampling import exact_global_rank

    ranked = exact_global_rank(scored, "score", "_id", ascending=True)
    per_score = ranked.groupBy("score").agg(
        F.min("_rank").alias("_mn"),
        F.max("_rank").alias("_mx"),
        F.sum("y").alias("_pos"),
        F.count("*").alias("_c"),
    )
    agg = per_score.agg(
        F.sum("_pos").alias("n_pos"),
        F.sum(F.col("_c") - F.col("_pos")).alias("n_neg"),
        F.sum(
            F.col("_pos").cast("double")
            * (F.col("_mn") + F.col("_mx")).cast("double")
            / 2.0
        ).alias("_s_pos"),
    )
    auc = (
        F.col("_s_pos")
        - F.col("n_pos").cast("double") * (F.col("n_pos") + 1).cast("double") / 2.0
    ) / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), auc), 6).alias(
            "auc"
        ),
    )


def theil_sen_trend(orders: DataFrame) -> DataFrame:
    """Theil–Sen robust trend of daily revenue: slope = MEDIAN of all
    pairwise day-to-day slopes, intercept = median(yᵢ − slope·xᵢ) —
    the outlier-resistant complement of :func:`group_regression`'s OLS
    (one blowout day shifts OLS arbitrarily; Theil–Sen tolerates ~29%
    contamination). The robust-statistics family member the anomaly
    screens (value_anomalies_mad, winsorized_stats) was missing a
    trend estimator for.

    The pair join runs on the DAILY rollup — calendar-bounded (d days
    → d(d−1)/2 pairs), the moving_avg_daily scale argument — so the
    exact median over pairs is a bounded aggregate, never
    corpus-sized. Revenue goes through the DECIMAL(18,2) cast before
    double math (engine-stable), day x-coordinates are exact integer
    day offsets from the first day.

    Output: (n_days, n_pairs, slope, intercept) — one row, 6dp.
    """
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(dsum("o_totalprice", "revenue"))
    base = daily.agg(F.min("day").alias("_d0"))
    # xy feeds both the slope and residual passes; the duplicated
    # daily scan was MEASURED CHEAPER than materializing (A/B at 10×:
    # plain recompute 11.3s vs localCheckpoint 15.9s — the tiny frame
    # costs more to checkpoint than the parquet scan it saves, and
    # truncation breaks AQE's partition coalescing)
    xy = daily.crossJoin(F.broadcast(base)).select(
        F.datediff(F.col("day"), F.col("_d0")).cast("double").alias("x"),
        F.col("revenue").cast("double").alias("y"),
    )
    a, b = xy.alias("a"), xy.alias("b")
    slopes = a.join(b, F.col("a.x") < F.col("b.x")).select(
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))).alias("s")
    )
    # exact median of the d(d−1)/2 slopes via the range-partitioned
    # rank — a single-task F.percentile over the pair set measured
    # 8.5s of an 11s run at sf0.1 (2.9M slopes from 2405 days);
    # selecting the two middle order statistics by global_rank is the
    # same value ((1−f)·lo + f·hi at p=0.5 = their mean) with no task
    # ever holding the full slope set
    from dumbo_spark.operators.topk import global_rank

    ranked = global_rank(slopes, [F.col("s").asc()])
    mid_lo = F.floor((F.col("_n") + 1) / 2)
    mid_hi = F.ceil((F.col("_n") + 1) / 2)
    med_slope = (
        ranked.where((F.col("_rank") == mid_lo) | (F.col("_rank") == mid_hi))
        .agg(
            # coalesce to 0 (ADVICE r6): on a single-day input the
            # slope set is empty, the rank filter matches nothing, and
            # MAX(_n) over zero rows is NULL — while the oracle's
            # COUNT(*) over the empty slope set is 0. slope stays NULL
            # (avg over no rows), matching quantile_cont on empty.
            F.coalesce(F.max("_n"), F.lit(0).cast("long")).alias("n_pairs"),
            F.avg("s").alias("slope"),
        )
    )
    resid = xy.crossJoin(F.broadcast(med_slope)).select(
        "n_pairs",
        "slope",
        (F.col("y") - F.col("slope") * F.col("x")).alias("r"),
    )
    return resid.groupBy("n_pairs", "slope").agg(
        F.count("*").alias("n_days"),
        F.percentile(F.col("r"), F.lit(0.5)).alias("intercept"),
    ).select(
        "n_days",
        "n_pairs",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"),
    )


def calibration_bins(orders: DataFrame, k: int = 10) -> DataFrame:
    """Reliability diagram (calibration table) for a score against a
    binary outcome: exact global score deciles, each reporting its
    mean score and observed positive rate — read next to
    :func:`auc_roc_exact` (AUC says the ranking is good; calibration
    says the score VALUES mean what they claim). Demonstrated on the
    same (order total, finalized-status) pair.

    Exact deciles via topk.global_ntile (range-partitioned — no
    single-task total sort at any cardinality); per-bin stats are one
    partial-agg shuffle of k groups. Mean score goes through the
    DECIMAL(18,2) money cast before double math; rates are exact long
    ratios, both rounded 6dp.

    Output: (bin, n_rows, n_pos, mean_score, pos_rate) — k rows.
    """
    from dumbo_spark.operators.topk import global_ntile

    scored = orders.select(
        dmoney("o_totalprice").alias("score"),
        F.col("o_orderkey").alias("_id"),
        (F.col("o_orderstatus") == "F").cast("long").alias("y"),
    )
    binned = global_ntile(
        scored, [F.col("score").desc(), F.col("_id").asc()], k=k
    ).withColumnRenamed("ntile", "bin")
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("y").alias("n_pos"),
            F.round(F.avg(F.col("score").cast("double")), 6).alias("mean_score"),
            F.round(
                F.sum("y").cast("double") / F.count("*").cast("double"), 6
            ).alias("pos_rate"),
        )
    )


def min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    lineitem: DataFrame,
    region_name: str = "EUROPE",
    size: int = 15,
) -> DataFrame:
    """TPC-H Q2 shape (adapted: no partsupp table in the fixture, so
    supply cost is the minimum OBSERVED unit price from lineitem):
    for every size-``size`` part, the region's supplier(s) offering the
    lowest unit cost — the correlated-scalar-subquery-min pattern
    (WHERE cost = (SELECT MIN(cost) ... same part)) expressed as one
    partial-agg min + an equi-join back, never a per-row subquery scan.

    Determinism: unit cost is computed ENTIRELY in integers —
    unit_cost_e4 = halfup(10⁴·price / qty) via the pure-integer
    half-up identity (2a + b) div (2b) over exact cent counts — a
    double ROUND(price/qty, 4) hit a representational midpoint at
    sf0.001 where Spark's shortest-repr HALF_UP and DuckDB's
    scaled-double round disagreed by one ulp-step (26.2412 vs
    26.2413), which integer arithmetic cannot. ALL argmin suppliers
    are kept (ties survive, as in SQL Q2).

    Scale: lineitem is the only big input (one shuffle to the
    (part, supp) min agg); part, supplier, nation⋈region broadcast.
    Output: top 20 by (s_acctbal DESC, n_name, s_name, p_partkey).
    """
    region_suppliers = (
        supplier.join(
            F.broadcast(
                nation.join(
                    F.broadcast(
                        region.where(F.col("r_name") == region_name)
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    sized_parts = part.where(F.col("p_size") == size).select(
        "p_partkey", "p_name"
    )
    # _a = price in e4 units (cents*100 — exact: money has 2dp),
    # _b = qty; half-up integer division: (2a + b) div (2b)
    costs = (
        lineitem.where(F.col("l_quantity") > 0)
        .join(F.broadcast(sized_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(region_suppliers),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .withColumn(
            "_a", F.round(F.col("l_extendedprice") * 10000).cast("long")
        )
        .withColumn("_b", F.col("l_quantity").cast("long"))
        .withColumn("_uc", F.expr("(2 * _a + _b) div (2 * _b)"))
        .groupBy("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min("_uc").cast("bigint").alias("unit_cost_e4"))
    )
    min_per_part = costs.groupBy("p_partkey").agg(
        F.min("unit_cost_e4").alias("_min_cost")
    )
    return (
        costs.join(F.broadcast(min_per_part), "p_partkey")
        .where(F.col("unit_cost_e4") == F.col("_min_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "unit_cost_e4",
        )
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(20)
    )


def dominant_part_suppliers(
    lineitem: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_prefix: str = "small",
) -> DataFrame:
    """TPC-H Q20 shape (adapted: availqty has no fixture source, so the
    excess-stock predicate becomes shipped-share dominance): suppliers
    who shipped MORE THAN 20% of some ``name_prefix`` part's total
    volume — the nested IN (SELECT ... IN (SELECT ...)) chain
    expressed as filter → per-(supp, part) partial agg → per-part
    total join → threshold → DISTINCT semi-join back to supplier.

    Determinism: the share predicate is DIVISIONLESS — 5·q_sp > q_p
    over exact DECIMAL(18,2) quantity sums, so the threshold cut is
    integer-exact in both engines (a float q/tot > 0.2 could disagree
    at representation boundaries).

    Scale: one lineitem shuffle on (suppkey, partkey); the part filter
    broadcasts and prunes the scan; supplier⋈nation broadcasts.
    Output: (s_name, n_name, n_dominated_parts) ordered by s_name.
    """
    from dumbo_spark.functions.numeric import dmoney

    promo = part.where(F.col("p_name").startswith(name_prefix)).select(
        "p_partkey"
    )
    sp = (
        lineitem.join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dmoney("l_quantity")).alias("_q"))
    )
    per_part = sp.groupBy("l_partkey").agg(F.sum("_q").alias("_tot"))
    dominated = (
        sp.join(F.broadcast(per_part), "l_partkey")
        .where(F.col("_q") * 5 > F.col("_tot"))
        .groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("n_dominated_parts"))
    )
    return (
        supplier.join(
            dominated, F.col("s_suppkey") == F.col("l_suppkey")
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", "n_name", "n_dominated_parts")
        .orderBy("s_name")
    )
