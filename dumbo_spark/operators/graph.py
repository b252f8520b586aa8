"""Graph analytics over relational co-occurrence — triangle counting.

Dumbo's graph story was iterative MapReduce jobs the user hand-chained
(SURVEY §2.1 P6); this engine already carries iterative connected
components and PageRank (operators/dedup.py). Triangle counting is the
one-shot graph measurement that needs no iteration at all — it is three
self-joins — so it belongs to the declarative operator set: Catalyst
plans the join order, AQE handles the skew, and the whole thing is
oracle-checkable SQL.

Scale notes baked into the shape:

- The co-occurrence fan-out is quadratic in basket size, so baskets
  above ``max_basket`` are dropped BEFORE pairing (the standard
  market-basket guard: a 10k-line order would emit 50M pairs and
  contributes no signal).
- Edges are canonicalized ``src < dst`` and triangles enumerated
  ``a < b < c``, so each triangle is counted exactly once with no
  post-hoc division by 6 — and the join fan-out stays bounded by the
  thresholded edge list, which the ``min_cooccur`` support filter keeps
  sparse (raising support is how you scale this: edges fall off
  long-tail-first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dumbo_spark.operators._checkpoint import _release_local_checkpoint, pin


def copurchase_triangles(
    lineitem: DataFrame, min_cooccur: int = 2, max_basket: int = 20
) -> DataFrame:
    """Triangle census of the part co-purchase graph: parts are nodes,
    an edge connects two parts appearing together in ≥ ``min_cooccur``
    distinct orders, and the result is one row with node, edge, and
    triangle counts — the clustering-structure summary of a
    co-occurrence graph.
    """
    edges, _deg, oriented = _oriented_copurchase(lineitem, min_cooccur, max_basket)
    # wedges at the lowest-ordered node: two out-edges of the same lo
    # (hash equi-join on lo; the strict (deg, id) tie-broken inequality
    # keeps each unordered wedge once). An array-collect + HOF
    # combination generator was measured SLOWER here (slice() inside
    # transform() copies O(d²) arrays per node — 91s vs 48s at 10×), so
    # the join form stands. The closing edge is oriented between the
    # two his by the same (deg, id) order, so it probes the oriented
    # set directly.
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.lo") == F.col("w2.lo"))
        & (
            (F.col("w1.dhi") < F.col("w2.dhi"))
            | ((F.col("w1.dhi") == F.col("w2.dhi")) & (F.col("w1.hi") < F.col("w2.hi")))
        ),
    ).select(F.col("w1.hi").alias("b"), F.col("w2.hi").alias("c"))
    closing = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    # The wedge stream is the big side (Σ d_out² rows — intrinsic to the
    # graph) and the closing-edge set is just the edge list: broadcast
    # the edges when they fit so the closing check is a map-side hash
    # probe pipelined into wedge generation, with NO shuffle of the
    # wedge stream. Edge sets too big to broadcast fall back to the
    # shuffled equi-join — the same knob (support threshold) that keeps
    # the edge list sparse also keeps it broadcastable in practice.
    n_edge_rows = oriented.count()  # checkpointed — a cache-scan count
    if n_edge_rows <= 5_000_000:
        closing = F.broadcast(closing)
    triangles = wedges.join(closing, ["b", "c"])
    nodes = edges.select(F.explode(F.array("src", "dst")).alias("n"))
    return (
        nodes.agg(F.countDistinct("n").alias("n_nodes"))
        .crossJoin(F.broadcast(edges.agg(F.count("*").alias("n_edges"))))
        .crossJoin(F.broadcast(triangles.agg(F.count("*").alias("n_triangles"))))
    )


def _degrees(edges: DataFrame, name: str) -> DataFrame:
    """(v, ``name``) endpoint degrees of an (src, dst) edge list: one
    explode(array(src, dst)) so the edge frame is scanned once, not once
    per union branch (r15)."""
    return (
        edges.select(F.explode(F.array("src", "dst")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias(name))
    )


def _oriented_copurchase(
    lineitem: DataFrame, min_cooccur: int, max_basket: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The pinned front of the triangle operators: the co-purchase
    ``edges``, their (v, deg) degrees and the ``oriented`` (lo, hi, dlo,
    dhi) edge list.

    pin() truncates lineage, not just caches it: the edge subtree feeds
    five downstream branches (degree, both wedge legs, closing set,
    node/edge counts), and with plain persist Catalyst re-embeds and
    re-optimizes the whole edge-construction subplan per branch — the
    plan string grows combinatorially (~800 phantom exchanges in the
    audit) even though the cache dedupes execution.

    Degree-ordered enumeration (Chiba–Nishizeki / the MapReduce
    triangle-counting standard): every edge is re-oriented from its
    lower-(degree, id) endpoint to its higher one. Orientation by the
    total order (deg, id) is acyclic and gives max out-degree O(√m), so
    a wedge self-join on ``lo`` fans out by out-degree² per node instead
    of degree² — on a co-purchase graph whose hub products have huge
    degrees, this is the difference between the plan surviving a dense
    graph and quadratic blowup at the hubs. ``deg`` is referenced by
    both orientation joins (and the clustering coefficient's final
    join), so it is pinned lazily: the explode+groupBy runs once, in the
    ``oriented`` pin's job.
    """
    edges = pin(_copurchase_edges(lineitem, min_cooccur, max_basket), eager=True)
    deg = pin(_degrees(edges, "deg"))
    oriented = pin(
        edges.join(deg.withColumnRenamed("v", "src").withColumnRenamed("deg", "ds"), "src")
        .join(deg.withColumnRenamed("v", "dst").withColumnRenamed("deg", "dd"), "dst")
        .select(
            F.when(
                (F.col("ds") < F.col("dd"))
                | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))),
                F.struct(
                    F.col("src").alias("lo"),
                    F.col("dst").alias("hi"),
                    F.col("ds").alias("dlo"),
                    F.col("dd").alias("dhi"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("dst").alias("lo"),
                    F.col("src").alias("hi"),
                    F.col("dd").alias("dlo"),
                    F.col("ds").alias("dhi"),
                )
            )
            .alias("e")
        )
        .select("e.lo", "e.hi", "e.dlo", "e.dhi"),
        eager=True,
    )
    return edges, deg, oriented


def _copurchase_edges(
    lineitem: DataFrame, min_cooccur: int = 2, max_basket: int = 20
) -> DataFrame:
    """Support-thresholded co-purchase edge list (src < dst), built on
    the shared basket pairing (:func:`_pair_counts`)."""
    return (
        _pair_counts(_bounded_po(lineitem, max_basket))
        .where(F.col("n_ab") >= min_cooccur)
        .select(F.col("part_a").alias("src"), F.col("part_b").alias("dst"))
    )


def degree_histogram(lineitem: DataFrame) -> DataFrame:
    """Degree distribution of the co-purchase graph: how many nodes
    have each degree — the first diagnostic you run before choosing a
    graph algorithm's partitioning (uniform vs power-law decides
    whether degree-ordering/salting matters). Two partial aggs over
    the edge list; each edge contributes one endpoint row per side via
    explode(array(src, dst)) — the SAME vertex multiset as the old
    src/dst unionAll, but the edge subtree is referenced ONCE, so the
    eager localCheckpoint the union needed (to stop each branch
    re-executing the edge construction) disappears along with its
    materialization job (r15 optimization, guide §1.2/§2.4: one pass,
    no extra action)."""
    deg = _degrees(_copurchase_edges(lineitem), "degree")
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def kcore_nodes(
    lineitem: DataFrame,
    k: int = 3,
    max_iter: int = 30,
    min_cooccur: int = 2,
    max_basket: int = 20,
) -> DataFrame:
    """k-core decomposition (membership): iteratively peel nodes of
    degree < k until a fixpoint; return the surviving nodes with their
    in-core degree — the standard cohesive-subgraph extraction
    (Seidman 1983), complementing connected components and PageRank in
    the iterative family.

    Scale shape per round: one degree partial-agg + two broadcastable
    anti-joins against the (shrinking) weak-node set; lineage is
    truncated each round via pin() exactly like the iterative
    CC (operators/dedup.py) so the plan never grows with iteration
    count. Convergence is monotone (node set only shrinks), ≤ max_iter
    rounds.
    """
    edges = pin(_copurchase_edges(lineitem, min_cooccur, max_basket), eager=True)
    for _ in range(max_iter):
        deg = _degrees(edges, "degree")
        # checkpoint the (tiny) weak set so the degree aggregation runs
        # ONCE per round — lazily-unmaterialized it would execute twice,
        # once for the emptiness probe and again inside each anti-join's
        # subplan. The checkpoint is LAZY and the probe is a FULL count
        # (touches every partition), so materialization and the probe
        # share one job instead of eager-checkpoint + isEmpty (guide
        # §1.2: per-round driver actions are overhead at every scale).
        weak = pin(deg.where(F.col("degree") < k).select("v"))
        if weak.count() == 0:
            _release_local_checkpoint(weak)
            break
        new_edges = pin(
            edges.join(weak.withColumnRenamed("v", "src"), "src", "left_anti")
            .join(weak.withColumnRenamed("v", "dst"), "dst", "left_anti")
            .select("src", "dst"),
            eager=True,
        )
        # the new round's edges are materialized — the stale round and
        # its weak set have no consumer left (see dedup.py: blocks
        # otherwise stay pinned until JVM GC)
        _release_local_checkpoint(weak)
        _release_local_checkpoint(edges)
        edges = new_edges
    return (
        edges.select(F.explode(F.array("src", "dst")).alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("core_degree"))
    )


def _bounded_po(lineitem: DataFrame, max_basket: int) -> DataFrame:
    """Distinct (order, part) pairs from size-bounded baskets — the
    LAZY shared front of every co-occurrence operator in this module
    (oversized baskets excluded BEFORE pairing)."""
    po = lineitem.select("l_orderkey", "l_partkey").distinct()
    ok_orders = (
        po.groupBy("l_orderkey")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") <= max_basket)
        .select("l_orderkey")
    )
    return po.join(ok_orders, "l_orderkey")


def _basket_po(lineitem: DataFrame, max_basket: int) -> DataFrame:
    """:func:`_bounded_po`, pinned — for consumers that
    branch off the frame 3-4 times (frequencies, order total, both
    pairing sides). Without truncation Catalyst re-embeds the
    distinct+filter subplan per branch — re-scanning the fact table
    once PER BRANCH at 100 TB (the finding that cut the triangle
    census 59.9s → 20.9s at 10×, SCALE.md). Single-consumer paths
    (the edge list) use the lazy form directly."""
    return pin(_bounded_po(lineitem, max_basket), eager=True)


def _pair_counts(po: DataFrame) -> DataFrame:
    """(part_a < part_b, n_ab) co-occurrence counts over a bounded
    (order, part) frame — THE basket pairing, shared verbatim by the
    edge list, the association rules, and item similarity so their
    co-purchase counts can never diverge."""
    a, b = po.alias("a"), po.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count("*").alias("n_ab"))
    )


def basket_rules(
    lineitem: DataFrame, min_cooccur: int = 3, max_basket: int = 20
) -> DataFrame:
    """Association rules over the co-purchase graph: support,
    directional confidence, and lift for every part pair appearing in
    ≥ ``min_cooccur`` distinct orders — the market-basket metrics
    layer on top of the edge census (the co-occurrence COUNT becomes
    a probability estimate).

    Same basket-bounded pair generation as :func:`_copurchase_edges`
    (oversized baskets excluded BEFORE pairing, so fan-out per order
    is ≤ max_basket²); item frequencies and the order total join in
    as token-keyed partial aggs / a broadcast scalar. Every metric is
    a ratio of exact longs rounded 6dp — engine-stable.
    """
    po = _basket_po(lineitem, max_basket)
    n_orders = po.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    # referenced twice (fa/fb) — lazy checkpoint so the groupBy over the
    # basket frame runs once, not per branch (r15 optimization)
    item_freq = pin(po.groupBy("l_partkey").agg(F.count("*").alias("n_item")))

    pairs = _pair_counts(po).where(F.col("n_ab") >= min_cooccur)
    fa = item_freq.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    fb = item_freq.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    d = lambda c: F.col(c).cast("double")
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(d("n_ab") / d("n_orders"), 6).alias("support"),
            F.round(d("n_ab") / d("n_a"), 6).alias("conf_a_b"),
            F.round(d("n_ab") / d("n_b"), 6).alias("conf_b_a"),
            F.round(d("n_ab") * d("n_orders") / (d("n_a") * d("n_b")), 6).alias("lift"),
        )
    )


def item_similarity(
    lineitem: DataFrame,
    min_common: int = 3,
    k: int = 5,
    max_basket: int = 20,
) -> DataFrame:
    """Item-based collaborative filtering ("customers who bought X
    also bought Y"): per item, the top-k most similar items by Jaccard
    over order neighborhoods — |orders with both| / |orders with
    either|.

    The common-neighbor count IS the basket-bounded co-purchase count
    (same pair generation as :func:`basket_rules`); the union comes
    from the two item frequencies by inclusion-exclusion, so no second
    pass touches the orders. Pairs symmetrize (a→b and b→a) before the
    per-item rank window — groups bounded by an item's co-purchase
    partner count. The rank cut uses the 6dp-rounded score with an
    item tie-break (house convention).
    """
    po = _basket_po(lineitem, max_basket)
    freq = po.groupBy("l_partkey").agg(F.count("*").alias("n_item"))

    pairs = (
        _pair_counts(po)
        .where(F.col("n_ab") >= min_common)
        .select(
            F.col("part_a").alias("pa"),
            F.col("part_b").alias("pb"),
            F.col("n_ab").alias("n_common"),
        )
    )
    # symmetrize via explode(array(ab, ba)) instead of a two-branch
    # unionByName: the SAME (a→b, b→a) row multiset, but the expensive
    # pair subtree (basket self-join + co-occurrence groupBy) is
    # referenced — and evaluated — ONCE (r15 optimization, guide §2.4;
    # the degree_histogram pattern)
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("item"), F.col("pb").alias("other")),
                F.struct(F.col("pb").alias("item"), F.col("pa").alias("other")),
            )
        ).alias("_e"),
        "n_common",
    ).select("_e.item", "_e.other", "n_common")
    fi = freq.select(F.col("l_partkey").alias("item"), F.col("n_item").alias("n_i"))
    fo = freq.select(F.col("l_partkey").alias("other"), F.col("n_item").alias("n_o"))
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("n_i") + F.col("n_o") - F.col("n_common")).cast("double"),
        6,
    )
    w = Window.partitionBy("item").orderBy(F.col("jaccard").desc(), F.col("other").asc())
    return (
        sym.join(fi, "item")
        .join(fo, "other")
        .withColumn("jaccard", jac)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("item", "other", "n_common", "jaccard", "rank")
    )


def copurchase_components(
    lineitem: DataFrame, min_cooccur: int = 2, max_basket: int = 20
) -> DataFrame:
    """Connected components of the co-purchase graph, as a
    component-size histogram — the substitutability-market map ("which
    parts ever sell together, transitively") and the graph twin of the
    doc-dedup clustering. Oracle-checked end to end: the iterative
    min-label CC (dedup.connected_components, per-round lineage
    truncation) must reproduce a recursive-CTE transitive closure's
    histogram bit-for-bit.

    Node set is edge-touched parts only (a part that never co-occurs
    is not a 1-component — documented contract shared by the oracle).
    Iterations are bounded by component diameter; co-purchase graphs
    are shallow (hub parts collapse distances), so the fixpoint lands
    in a handful of rounds.

    Output: (n_members, n_components), ascending by size.
    """
    from dumbo_spark.operators.dedup import connected_components

    e = _copurchase_edges(lineitem, min_cooccur, max_basket).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    labels = connected_components(e)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return (
        sizes.groupBy("n_members")
        .agg(F.count("*").alias("n_components"))
        .orderBy("n_members")
    )


def _edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support over an oriented (src < dst) edge
    list: enumerate each triangle once via the ordered wedge join
    (w1=(a,b), w2=(a,c) with b < c, closed by (b,c)), then credit all
    three member edges. Support(e) = #triangles containing e =
    |common neighbors of its endpoints| — the k-truss peeling
    quantity. Same degree-ordered enumeration cost profile as the
    triangle census; output is triangle-bounded."""
    w1, w2, cl = edges.alias("w1"), edges.alias("w2"), edges.alias("cl")
    tri = (
        w1.join(
            w2,
            (F.col("w2.src") == F.col("w1.src"))
            & (F.col("w1.dst") < F.col("w2.dst")),
        )
        .join(
            cl,
            (F.col("cl.src") == F.col("w1.dst"))
            & (F.col("cl.dst") == F.col("w2.dst")),
        )
        .select(
            F.col("w1.src").alias("a"),
            F.col("w1.dst").alias("b"),
            F.col("w2.dst").alias("c"),
        )
    )
    member = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("es"), F.col("b").alias("ed")),
                F.struct(F.col("a").alias("es"), F.col("c").alias("ed")),
                F.struct(F.col("b").alias("es"), F.col("c").alias("ed")),
            )
        ).alias("m")
    ).select(F.col("m.es").alias("es"), F.col("m.ed").alias("ed"))
    return member.groupBy("es", "ed").agg(F.count("*").alias("supp"))


def ktruss_edges(
    lineitem: DataFrame,
    k: int = 3,
    max_iter: int = 8,
    min_cooccur: int = 2,
    max_basket: int = 20,
) -> DataFrame:
    """k-truss decomposition (Cohen 2008): iteratively remove edges
    that sit in fewer than ``k-2`` triangles until a fixpoint; return
    the surviving edges with their in-truss support. The EDGE-level
    cohesion mate to :func:`kcore_nodes`' node-level peel — a k-truss
    is strictly denser than a (k-1)-core, which is why truss is the
    community-detection pre-filter of choice on co-occurrence graphs
    (every surviving edge is embedded in triangles, so singleton
    "bridges" between communities are gone).

    Scale shape per round: one ordered-wedge triangle enumeration
    (the copurchase_triangles plan, triangle-bounded) + a left join
    back to the edge list; lineage truncated per round via
    pin() like the other iterative operators. Edges only
    shrink, so convergence is monotone; the oracle replays EXACTLY
    ``max_iter`` peels (post-fixpoint rounds are no-ops), so engine
    and SQL agree whether or not the fixpoint arrives early.

    Output: (part_a, part_b, support) — surviving oriented edges and
    their final triangle counts.
    """
    # lazy checkpoint: the count materializes it in the same job
    edges = pin(_copurchase_edges(lineitem, min_cooccur, max_basket))
    n_edges = edges.count()
    backing = edges  # the checkpoint holding the current edge set's blocks
    final = None
    for _ in range(max_iter):
        supp = _edge_support(edges)
        # carry the support through the checkpoint: when the peel is a
        # no-op (the common exit), the surviving edge set IS the set the
        # supports were computed on, so the final per-edge supports are
        # already in hand — the old epilogue re-ran the whole triangle
        # enumeration once more to recover a column this round computed
        # lazy: the full count below materializes every partition in
        # the same job (one job/round instead of checkpoint + count)
        kept = pin(
            edges.join(
                supp,
                (edges["src"] == supp["es"]) & (edges["dst"] == supp["ed"]),
                "left",
            )
            .select(
                "src", "dst", F.coalesce(F.col("supp"), F.lit(0)).alias("supp")
            )
            .where(F.col("supp") >= k - 2)
        )
        n_kept = kept.count()
        _release_local_checkpoint(backing)  # stale round, no consumer left
        backing = kept
        edges = kept.select("src", "dst")
        if n_kept == n_edges:
            final = kept
            break
        n_edges = n_kept
    if final is None:
        # max_iter exhausted mid-peel: the last round removed edges, so
        # its supports are stale for the survivors — recompute once on
        # the final set (the oracle replays exactly max_iter peels, so
        # both engines land here together)
        final_supp = _edge_support(edges)
        final = edges.join(
            final_supp,
            (edges["src"] == final_supp["es"]) & (edges["dst"] == final_supp["ed"]),
            "left",
        ).select("src", "dst", F.coalesce(F.col("supp"), F.lit(0)).alias("supp"))
    return final.select(
        F.col("src").alias("part_a"),
        F.col("dst").alias("part_b"),
        F.col("supp").cast("int").alias("support"),
    )


def clustering_coefficient(
    lineitem: DataFrame, min_cooccur: int = 2, max_basket: int = 20
) -> DataFrame:
    """PER-NODE local clustering coefficient of the co-purchase graph:
    c_v = 2·T_v / (d_v·(d_v−1)) — the community-structure profile that
    the global triangle census (:func:`copurchase_triangles`) only
    summarizes. High-coefficient parts sit in tight "bought-together"
    cliques (bundle candidates); hubs with low coefficients are
    cross-category connectors.

    Triangle attribution rides the same degree-ordered Chiba–Nishizeki
    enumeration as the census (each triangle found exactly once at its
    lowest-(deg,id) corner), then each triangle credits its THREE corners
    via one explode — per-node counts in a single partial-agg shuffle
    on top of the oriented wedge join. Degree-2+ nodes only get a
    coefficient; degree-1 nodes emit NULL (guarded division — the
    0/0 NaN-vs-NULL engine divergence).

    Output: (part, degree, n_triangles, clustering_coeff).
    """
    _edges, deg, oriented = _oriented_copurchase(lineitem, min_cooccur, max_basket)
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.lo") == F.col("w2.lo"))
        & (
            (F.col("w1.dhi") < F.col("w2.dhi"))
            | ((F.col("w1.dhi") == F.col("w2.dhi")) & (F.col("w1.hi") < F.col("w2.hi")))
        ),
    ).select(F.col("w1.lo").alias("a"), F.col("w1.hi").alias("b"), F.col("w2.hi").alias("c"))
    # No manual broadcast probe here (VERDICT r6 #5): the previous
    # eager `oriented.count() <= 5M` was a driver-side action during
    # query construction steering a rows-for-bytes proxy. AQE sees the
    # actual runtime size of the pinned `closing` side and
    # converts the sort-merge join to broadcast itself when it fits
    # (and, unlike the magic number, declines when it doesn't).
    closing = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    tri = wedges.join(closing, ["b", "c"])
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("n_triangles"))
    )
    joined = deg.join(per_node, "v", "left").select(
        F.col("v").alias("part"),
        F.col("deg").alias("degree"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
    )
    coeff = (
        F.lit(2.0)
        * F.col("n_triangles").cast("double")
        / (F.col("degree").cast("double") * (F.col("degree") - 1).cast("double"))
    )
    return joined.select(
        "part",
        "degree",
        "n_triangles",
        F.round(F.when(F.col("degree") >= 2, coeff), 6).alias("clustering_coeff"),
    )
