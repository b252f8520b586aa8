"""Physical-plan inspection — the engine's scale-posture instrument.

Dumbo had no plans to inspect (SURVEY §4: no optimizer, fixed physical
strategy, hand-set knobs). The new engine's plans come from Catalyst;
this module makes their load-bearing properties assertable so the
tests can pin them: a dimension join must say BroadcastHashJoin, a
predicate mapper must push its filter into the parquet scan, a narrow
transform chain must not shuffle. These are the properties that decide
whether a query that works at sf0.1 still works at 100 TB.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def unpartitioned_windows(plan: str) -> int | None:
    """Count Window nodes with NO partition spec — the plan-level
    signature of ``Window.orderBy(...)`` without ``partitionBy``, which
    moves all input of that node to a single task. A Window line
    carries 2 top-level bracket groups when unpartitioned
    (``Window [exprs], [order]``) and 3 when partitioned
    (``Window [exprs], [part], [order]``). Bounded-by-construction
    sites (k-row ``limit`` heads, daily/bucket rollups) are fine and
    carry their rationale in tools/plan_report.py's WINDOW_BOUNDED
    allowlist; anything else is a scale bug.

    Returns None (unknown) when a Window line cannot be classified:
    ``spark.sql.debug.maxToStringFields`` truncation (``... N more
    fields``) can swallow a closing bracket or the order group's sort
    direction, and such a line is not evidence of a clean plan.
    """
    n = 0
    unknown = False
    for line in plan.splitlines():
        m = re.search(r"\bWindow \[", line)
        if not m:
            continue
        groups: list[str] = []
        depth = 0
        start = 0
        for i, ch in enumerate(line[m.end() - 1 :]):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(line[m.end() - 1 :][start : i + 1])
        # 3 groups = [exprs], [part], [order] — partitioned. 2 groups is
        # ambiguous: partitionBy-without-orderBy ([exprs], [part], fine)
        # vs orderBy-without-partitionBy ([exprs], [order], single-task).
        # An order group always prints sort direction; a partition group
        # never does — unless truncation cut it off.
        ordered = len(groups) == 2 and re.search(r"(ASC|DESC) NULLS", groups[1])
        if ordered:
            n += 1
        elif depth != 0 or len(groups) < 2 or (
            len(groups) == 2 and re.search(r"\.\.\. \d+ more fields", line)
        ):
            unknown = True
    return None if unknown else n


def physical_summary(df: DataFrame) -> dict:
    """Counts of the plan features that matter at scale."""
    plan = _executed_plan(df)
    formatted = _formatted(df)
    return {
        "exchanges": len(re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan)),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "wholestage_codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python_evals": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]+\]", formatted)),
        "take_ordered": plan.count("TakeOrderedAndProject"),
        # Scale-killer joins: an O(n*m) plan node anywhere is the one
        # class this audit exists to rule out. CartesianProduct is the
        # non-broadcast cross join; BroadcastNestedLoopJoin is Spark's
        # fallback for non-equi joins (fine when the broadcast side is a
        # bounded aggregate, catastrophic when it is data-proportional),
        # so both are surfaced and every non-zero row must justify itself.
        "cartesian_products": plan.count("CartesianProduct"),
        "bnl_joins": plan.count("BroadcastNestedLoopJoin"),
        # single-task window nodes (see unpartitioned_windows): every
        # non-zero row must trace to a WINDOW_BOUNDED-allowlisted source
        # site whose input is bounded by construction
        "unpart_windows": unpartitioned_windows(plan),
        "plan": plan,
    }
