"""Scale-posture assertions: the physical plans Catalyst produces for
our operators must have the properties that survive 100× data growth
(SURVEY §4.2#3 — posture is operator design + conf, not engine hacks).
A regression here (a lost pushdown, a join falling off broadcast, a
Python eval sneaking into a JVM path) is a perf bug even while every
correctness test stays green."""

from __future__ import annotations

from dumbo_spark.operators import agg, joins, shape, topk
from dumbo_spark.plans.explain import physical_summary, unpartitioned_windows
from dumbo_spark.sources.catalog import load_table


def test_unpartitioned_windows_reads_plan_lines_without_spark():
    rank = "rank(x#1) windowspecdefinition(x#1 ASC NULLS FIRST) AS r#2"
    partitioned = f"+- Window [{rank}], [k#3], [x#1 ASC NULLS FIRST]"
    single_task = f"+- Window [{rank}], [x#1 ASC NULLS FIRST]"
    assert unpartitioned_windows(f"{partitioned}\n{single_task}") == 1
    # maxToStringFields truncation swallowed the order group and its
    # closing bracket: the line is unknown, not clean
    truncated = f"+- Window [{rank}], [k#3, ... 4 more fields"
    assert unpartitioned_windows(f"{partitioned}\n{truncated}") is None
    # a balanced line whose second group lost its sort direction to
    # truncation is unknown too
    no_direction = f"+- Window [{rank}, ... 2 more fields], [... 3 more fields]"
    assert unpartitioned_windows(no_direction) is None


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    s = physical_summary(shape.filter_predicate(load_table(spark, sf_dir, "lineitem")))
    assert s["pushed_filters"], "predicate must reach the parquet scan"
    assert s["exchanges"] == 0, "a filter+project must not shuffle"
    assert s["python_evals"] == 0


def test_dimension_join_broadcasts(spark, sf_dir):
    s = physical_summary(
        joins.join_broadcast_dim(
            load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
        )
    )
    assert s["broadcast_joins"] >= 1, "dim join must not shuffle the fact side"
    assert s["sortmerge_joins"] == 0


def test_group_sum_is_single_exchange(spark, sf_dir):
    s = physical_summary(agg.group_sum(load_table(spark, sf_dir, "lineitem")))
    assert s["exchanges"] == 1, "one partial+final hash agg, one shuffle"
    assert s["python_evals"] == 0


def test_topk_global_avoids_total_sort(spark, sf_dir):
    s = physical_summary(topk.topk_global(load_table(spark, sf_dir, "orders")))
    assert s["take_ordered"] >= 1, "global top-k must plan TakeOrderedAndProject"


def test_wordcount_stays_jvm_side(spark, sf_dir):
    from dumbo_spark.operators.textstats import wordcount

    s = physical_summary(wordcount(load_table(spark, sf_dir, "documents")))
    assert s["python_evals"] == 0, "tokenization must stay in codegen"
    assert s["exchanges"] == 1


def test_shipping_priority_pushes_filters_and_takes_ordered(spark, sf_dir):
    from dumbo_spark.operators import analytics

    s = physical_summary(
        analytics.shipping_priority(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
        )
    )
    assert s["pushed_filters"], "date/segment filters must reach the scans"
    assert s["take_ordered"] >= 1, "top-k over aggregate must not total-sort"
    assert s["python_evals"] == 0


def test_returned_items_broadcasts_nation(spark, sf_dir):
    from dumbo_spark.operators import analytics

    s = physical_summary(
        analytics.returned_items(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "nation"),
        )
    )
    assert s["broadcast_joins"] >= 1, "nation must broadcast, never shuffle facts"
    assert s["take_ordered"] >= 1
    assert s["python_evals"] == 0


def test_orders_above_avg_single_window_pass(spark, sf_dir):
    from dumbo_spark.operators import analytics

    s = physical_summary(analytics.orders_above_avg(load_table(spark, sf_dir, "orders")))
    # one shuffle for the priority window; no self-join second scan
    assert s["exchanges"] == 1, "correlated-avg must be one window pass"
    assert s["sortmerge_joins"] == 0 and s["broadcast_joins"] == 0
    assert s["python_evals"] == 0


def test_full_outer_join_stays_jvm_side(spark, sf_dir):
    s = physical_summary(
        joins.join_full_outer(
            load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "events")
        )
    )
    assert s["python_evals"] == 0


def test_local_supplier_volume_broadcasts_all_dims(spark, sf_dir):
    from dumbo_spark.operators import analytics

    s = physical_summary(
        analytics.local_supplier_volume(
            load_table(spark, sf_dir, "customer"),
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "supplier"),
            load_table(spark, sf_dir, "nation"),
            load_table(spark, sf_dir, "region"),
        )
    )
    # supplier, customer, nation⋈region all broadcast; only fact⋈fact shuffles
    assert s["broadcast_joins"] >= 3, "all dimensions must broadcast"
    assert s["pushed_filters"], "date filter must reach the orders scan"
    assert s["python_evals"] == 0


def test_large_orders_aggregates_before_joining(spark, sf_dir):
    from dumbo_spark.operators import analytics

    df = analytics.large_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    s = physical_summary(df)
    # the HAVING-filtered aggregate must sit BELOW the joins in the plan
    agg_pos = plan.find("HashAggregate")
    join_pos = max(plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin"))
    assert agg_pos > join_pos >= 0, "quantity rollup must happen before the join-back"
    assert s["take_ordered"] >= 1
    assert s["python_evals"] == 0


def test_cheapest_part_single_scan(spark, sf_dir):
    from dumbo_spark.operators import topk as topk_ops

    s = physical_summary(topk_ops.cheapest_part_per_brand(load_table(spark, sf_dir, "part")))
    # argmin via window = one shuffle, no self-join
    assert s["exchanges"] == 1
    assert s["sortmerge_joins"] == 0 and s["broadcast_joins"] == 0
    assert s["python_evals"] == 0


def test_price_histogram_is_one_hash_agg(spark, sf_dir):
    from dumbo_spark.operators import agg as agg_ops

    s = physical_summary(agg_ops.price_histogram(load_table(spark, sf_dir, "orders")))
    assert s["exchanges"] == 1, "histogram is a single partial+final aggregate"
    assert s["python_evals"] == 0


def test_group_percentiles_single_buffer(spark, sf_dir):
    from dumbo_spark.operators import agg as agg_ops

    df = agg_ops.group_percentiles(load_table(spark, sf_dir, "lineitem"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one shared percentile buffer (partial + final), not one per quantile
    assert plan.count("percentile") == 2, "three quantiles must share one buffer"


def test_no_tokenizer_reeval_inside_lambdas(spark, sf_dir):
    """Regression for the InferFiltersFromGenerate blowup: pushing an
    inferred size()>0 filter below the token projection substitutes the
    whole split() expression into HOF lambdas, re-tokenizing per
    element access (measured 22× at 10× sf0.1 before the explode_outer
    fix in benchmark_contamination). The lethal plan signature is an
    inline split() immediately indexed by a lambda variable."""
    from dumbo_spark.operators import dedup, textstats

    docs = load_table(spark, sf_dir, "documents")
    for name, df in [
        ("contamination", textstats.benchmark_contamination(docs)),
        ("ngram_count", textstats.ngram_count(docs)),
        ("wordcount", textstats.wordcount(docs)),
        ("minhash", dedup.minhash_signatures(docs)),
        ("doc_chunks", textstats.chunk_documents(docs)),
        ("repetition", textstats.repetition_score(docs)),
    ]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        for i in range(len(plan)):
            if plan.startswith("split(lower", i):
                window = plan[i : i + 400]
                assert ")[lambda" not in window.split("))")[0] + "))", (
                    f"{name}: split() re-evaluated per element access"
                )
        # once-per-row re-evaluation from pushed filters is bounded
        assert plan.count("split(lower") <= 6, name


def test_sample_exact_n_avoids_total_sort(spark, sf_dir):
    """The exact-n hash sample must compile to TakeOrderedAndProject
    (per-task heap), never a global Sort — the property that makes it
    a reservoir-sampling stand-in at 100 TB."""
    from dumbo_spark.operators import sampling

    s = physical_summary(
        sampling.sample_exact_n(load_table(spark, sf_dir, "documents"), "doc_id")
    )
    assert s["take_ordered"] >= 1, "exact-n sample must plan TakeOrderedAndProject"
    assert s["python_evals"] == 0


def test_cross_source_overlap_joins_on_hash(spark, sf_dir):
    """The contamination matrix self-join must be an equi-join on the
    fingerprint (shuffling 16-byte hashes), with zero Python evals and
    no cartesian product."""
    from dumbo_spark.operators import dedup

    s = physical_summary(
        dedup.cross_source_overlap(load_table(spark, sf_dir, "documents"))
    )
    assert s["python_evals"] == 0
    assert "CartesianProduct" not in s["plan"]
    assert "BroadcastNestedLoopJoin" not in s["plan"]


def test_events_ts_filter_pushdown(spark, sf_dir):
    """Time-range predicates on events.ts must reach the parquet scan
    (row-group pruning at 100 TB) — this is why the session disables
    NTZ inference (spark.sql.parquet.inferTimestampNTZ.enabled=false,
    session.py) so ts reads natively as TimestampType; catalog.py keeps
    a cast fallback whose UTC NTZ→LTZ cast Catalyst unwraps, so
    pushdown holds on either path."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    q = ev.where(F.col("ts") >= "2024-06-01").select("event_id", "ts")
    s = physical_summary(q)
    assert s["pushed_filters"], "ts range filter must push down to the scan"
    assert "GreaterThanOrEqual(ts" in s["plan"], "the pushed filter must be the ts range itself"


def test_weighted_sample_takes_ordered(spark, sf_dir):
    """E-S weighted sampling must plan TakeOrderedAndProject (per-task
    heaps), never a global sort."""
    from dumbo_spark.operators.sampling import weighted_sample

    s = physical_summary(weighted_sample(load_table(spark, sf_dir, "documents")))
    assert s["take_ordered"] >= 1
    assert s["python_evals"] == 0


def test_source_mix_rebalance_broadcasts_meta(spark, sf_dir):
    """The per-source threshold table is k rows — it must broadcast,
    and the keep decision must not shuffle the corpus."""
    from dumbo_spark.operators.sampling import source_mix_rebalance

    s = physical_summary(source_mix_rebalance(load_table(spark, sf_dir, "documents")))
    assert s["broadcast_joins"] >= 1
    assert s["sortmerge_joins"] == 0
    assert s["python_evals"] == 0


def test_posting_lists_no_cartesian(spark, sf_dir):
    from dumbo_spark.operators.textstats import posting_lists

    s = physical_summary(posting_lists(load_table(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in s["plan"]
    assert "BroadcastNestedLoopJoin" not in s["plan"]
    assert s["python_evals"] == 0


def test_transitions_and_streaks_stay_jvm_side(spark, sf_dir):
    from dumbo_spark.operators.events import event_transitions, user_streaks

    ev = load_table(spark, sf_dir, "events")
    for q in (event_transitions(ev), user_streaks(ev)):
        s = physical_summary(q)
        assert s["python_evals"] == 0
        assert "CartesianProduct" not in s["plan"]


def test_token_budget_sample_no_global_sort(spark, sf_dir):
    # the two-phase prefix sum must broadcast the offsets frame and
    # never plan a single-partition global sort of the corpus
    from dumbo_spark.operators.packing import token_budget_sample

    s = physical_summary(token_budget_sample(load_table(spark, sf_dir, "documents")))
    assert s["broadcast_joins"] >= 1, "offsets frame must broadcast back"
    assert s["sortmerge_joins"] == 0
    assert s["python_evals"] == 0
    # at most ONE single-partition exchange is allowed: the tiny
    # per-source offsets window (|sources|·buckets rows); a second one
    # would mean the corpus itself is being globally ordered
    assert s["plan"].count("Exchange SinglePartition") <= 1


def test_topk_movers_takes_ordered(spark, sf_dir):
    from dumbo_spark.operators.analytics import topk_movers

    s = physical_summary(topk_movers(load_table(spark, sf_dir, "lineitem")))
    assert s["take_ordered"] >= 1, "mover cut must be a per-task heap"
    assert s["exchanges"] == 1, "one conditional-agg pass, one shuffle"
    assert s["python_evals"] == 0


def test_error_bursts_filter_pushdown(spark, sf_dir):
    from dumbo_spark.operators.events import error_bursts

    s = physical_summary(error_bursts(load_table(spark, sf_dir, "events")))
    assert s["pushed_filters"], "the error filter must reach the scan"
    assert s["exchanges"] == 1, "one user-keyed shuffle for the islands"
    assert s["python_evals"] == 0


def test_heavy_hitters_broadcast_total(spark, sf_dir):
    from dumbo_spark.operators.textstats import heavy_hitter_tokens

    s = physical_summary(heavy_hitter_tokens(load_table(spark, sf_dir, "documents")))
    assert s["sortmerge_joins"] == 0, "the scalar total must ride as a broadcast"
    assert s["python_evals"] == 0


def test_frame_sample_prunes_payload_before_fanout(spark, sf_dir):
    # the exploded frame table must never carry the payload/text bytes
    from dumbo_spark.operators.multimodal import frame_sample

    df = frame_sample(load_table(spark, sf_dir, "documents"))
    s = physical_summary(df)
    assert s["exchanges"] == 0, "frame-offset fan-out is a narrow pass"
    assert s["python_evals"] == 0, "offset math is pure JVM arithmetic"
    assert "text" not in df.columns


def test_peak_concurrency_no_nested_loop_carry(spark, sf_dir):
    """The sessions-open-at-midnight carry must come from the covered-day
    explode (fan-out bounded by session length), not a sessions×days
    broadcast nested loop (VERDICT r5 item 4)."""
    from dumbo_spark.operators.events import peak_concurrency

    s = physical_summary(peak_concurrency(load_table(spark, sf_dir, "events")))
    assert "BroadcastNestedLoopJoin" not in s["plan"]
    assert "CartesianProduct" not in s["plan"]
    assert s["python_evals"] == 0


def test_global_window_family_range_partitioned(spark, sf_dir):
    """ntile_quartiles and percent_rank_balance now ride global_rank /
    global_ntile: their plans must contain a range exchange and NO
    empty-partitionBy window (single-task total sort) — the last
    perf-weak family, retired in round 6 (VERDICT r5 item 3)."""
    customer = load_table(spark, sf_dir, "customer")
    # round 9: the public plan now starts at the localCheckpoint
    # barrier (the dual-exchange correctness fix pins one realization
    # of the range shuffle), so the range exchange is asserted on the
    # pre-checkpoint frame and the barrier on the public plan
    from pyspark.sql import functions as F

    ranged = topk._ranged_frame(
        customer, [F.col("c_acctbal").asc(), F.col("c_custkey").asc()], 8
    )
    assert "rangepartitioning" in physical_summary(ranged)["plan"].lower()
    for df in (topk.ntile_quartiles(customer), topk.percent_rank_balance(customer)):
        plan = physical_summary(df)["plan"]
        assert "existingrdd" in plan.lower(), "checkpoint barrier expected"
        # a global-window sort shows up as Window [...] ordered by the
        # sort key with an empty partition spec; the rewrite windows
        # only by _pid
        assert "_pid" in plan


def test_round6_ops_plan_shapes(spark, sf_dir):
    """Round-6 additions keep the scale posture: no Python evals, no
    accidental nested-loop joins in the shuffle-based ops, pushdown
    where applicable."""
    from dumbo_spark.operators.analytics import auc_roc_exact, theil_sen_trend
    from dumbo_spark.operators.dq import linenumber_density_check
    from dumbo_spark.operators.events import interval_coverage_daily
    from dumbo_spark.operators.packing import training_mix_epochs
    from dumbo_spark.operators.textstats import ngram_novelty_rate

    li = load_table(spark, sf_dir, "lineitem")
    s = physical_summary(linenumber_density_check(li))
    assert s["python_evals"] == 0
    # countDistinct rewrites to a two-phase expand agg: order-key
    # distinct, order-key agg, then the k-row class rollup
    assert s["exchanges"] <= 3

    s = physical_summary(auc_roc_exact(load_table(spark, sf_dir, "orders")))
    assert s["python_evals"] == 0
    # round 9: the rank machinery's range exchange sits behind the
    # localCheckpoint barrier (dual-exchange correctness fix); the
    # barrier plus the _pid window is the scale-safe signature now
    assert "existingrdd" in s["plan"].lower(), "checkpoint barrier expected"
    assert "_pid" in s["plan"]

    s = physical_summary(theil_sen_trend(load_table(spark, sf_dir, "orders")))
    assert s["python_evals"] == 0
    # pair join runs on the daily rollup: the nested loop is over the
    # calendar-bounded aggregate, which is the documented shape

    s = physical_summary(training_mix_epochs(load_table(spark, sf_dir, "documents")))
    assert s["python_evals"] == 0
    # source agg + the 1-row weight-total rollup + its broadcast back;
    # everything after the first exchange moves k rows
    assert s["exchanges"] <= 4

    s = physical_summary(interval_coverage_daily(load_table(spark, sf_dir, "events")))
    assert s["python_evals"] == 0
    assert "CartesianProduct" not in s["plan"]

    s = physical_summary(ngram_novelty_rate(load_table(spark, sf_dir, "documents")))
    assert s["python_evals"] == 0
    assert "CartesianProduct" not in s["plan"]
    assert "BroadcastNestedLoopJoin" not in s["plan"]


def test_dpp_partition_filters_injected(spark, sf_dir):
    """The partitioned-layout join must carry a runtime dynamicpruning
    subquery in the fact scan's PartitionFilters — the directory-skip
    that makes a day-partitioned 100 TB fact readable by dim filter."""
    from dumbo_spark.registry import QUERIES

    df = QUERIES["dpp_partitioned_join"].fn(spark, sf_dir)
    s = physical_summary(df)
    assert "dynamicpruning" in s["plan"], "DPP subquery missing from scan"
    assert s["python_evals"] == 0


def test_physical_summary_detects_cartesian_and_bnlj(spark, sf_dir):
    """The audit's scale-killer counters must actually fire. PLANS.md is
    cited every round as proof of 'zero cartesians'; that proof is only
    worth anything if a genuinely cartesian plan reads non-zero — so
    build one of each pathology on purpose and assert detection, then
    assert a healthy equi-join reads zero on both (VERDICT r14 #1)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ords = load_table(spark, sf_dir, "orders").select("o_orderkey")

    # genuine cartesian: cross join of two non-broadcast frames.
    # Disable autoBroadcast so Spark can't rescue it into a BNLJ.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cart = physical_summary(docs.crossJoin(ords))
        assert cart["cartesian_products"] >= 1, "CartesianProduct not detected"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # genuine BNLJ: non-equi theta join with a broadcastable side
    bnlj = physical_summary(
        docs.join(F.broadcast(ords), docs["doc_id"] > ords["o_orderkey"], "inner")
    )
    assert bnlj["bnl_joins"] >= 1, "BroadcastNestedLoopJoin not detected"

    # a healthy equi-join must read zero on both counters
    healthy = physical_summary(
        joins.join_inner(
            load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
        )
    )
    assert healthy["cartesian_products"] == 0
    assert healthy["bnl_joins"] == 0


def test_incremental_dedup_prune_is_broadcast_semi(spark, sf_dir):
    """The Bloom-style prune must plan as a BROADCAST left-semi on the
    bucket key (bounded build side) feeding the exact left-anti — the
    shape whose shuffle volume is O(batch), not O(corpus)."""
    from dumbo_spark.operators.dedup import incremental_dedup_pruned
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    df = incremental_dedup_pruned(
        corpus=docs.where(F.col("source") != "src0"),
        batch=docs.where(F.col("source") == "src0"),
    )
    s = physical_summary(df)
    assert "LeftSemi" in s["plan"], "prune semi-join missing"
    assert "LeftAnti" in s["plan"], "exact anti-join missing"
    assert s["broadcast_joins"] >= 1, "bucket set must broadcast"
    assert s["python_evals"] == 0
