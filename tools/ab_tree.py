"""Cross-tree interleaved A/B for single queries (VERDICT r15 Next #1).

Adjudicates a suspected per-query regression by timing the SAME query
against two source trees (e.g. this repo vs a worktree pinned at the
r14 commit) in strictly alternating fresh processes — interleaving is
what cancels machine-window drift, the dominant noise source on this
host (same-code driver runs differ per-query by up to 5.4x).

    python tools/ab_tree.py <old_tree> <query> [rounds=5]

Each round runs both trees, one fresh process each, and alternates
which tree goes first so a drifting host does not favour either; a
process builds the standard session (SPARK_GRAFT_CPUS, default: the
CPUs this process may use), warms the JVM, and times the query
median-of-3 through ``dumbo_spark.profiling.measure()`` (noop sink,
caches and pins released after every run). Both children load
``profiling.py`` by file path from the tree this script runs from, so
the measuring code is the same on both sides and a tree without
``profiling.py`` can still be measured. Prints a per-round table plus
medians and a verdict.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

_HERE_TREE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PROFILING = os.path.join(_HERE_TREE, "dumbo_spark", "profiling.py")

_CHILD = r"""
import importlib.util, json, os, sys
tree, name, profiling_py = sys.argv[1:4]
sys.path.insert(0, tree)
spec = importlib.util.spec_from_file_location("_ab_profiling", profiling_py)
profiling = importlib.util.module_from_spec(spec)
spec.loader.exec_module(profiling)
from dumbo_spark.registry import QUERIES
from dumbo_spark.session import get_session
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
spark = get_session("ab_tree", cpus=cpus)
profiling.warm_up(spark)
m = profiling.measure(spark, QUERIES[name].fn, sf_dir, 3)
print(json.dumps({"median": round(m.median, 3),
                  "runs": [round(s, 3) for s in m.samples]}))
"""


def run_one(tree: str, name: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, tree, name, _PROFILING],
        capture_output=True,
        text=True,
        timeout=900,
    )
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"{name} on {tree} gave no result (exit {out.returncode}):\n"
            f"{out.stderr}"
        )
    return json.loads(lines[-1])


def main() -> None:
    old_tree = sys.argv[1]
    name = sys.argv[2]
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    new_tree = _HERE_TREE
    olds, news = [], []
    print(f"query={name} old={old_tree} new={new_tree} rounds={rounds}")
    print(f"loadavg at start: {os.getloadavg()}")
    for r in range(rounds):
        if r % 2 == 0:
            o = run_one(old_tree, name)
            n = run_one(new_tree, name)
        else:
            n = run_one(new_tree, name)
            o = run_one(old_tree, name)
        olds.append(o["median"])
        news.append(n["median"])
        print(
            f"round {r}: old={o['median']} {o['runs']}  "
            f"new={n['median']} {n['runs']}"
        )
    mo, mn = statistics.median(olds), statistics.median(news)
    print(f"medians: old={mo} new={mn} ratio_new/old={mn / mo:.3f}")
    print(
        "verdict: "
        + (
            "new SLOWER (revert candidate)"
            if mn > 1.15 * mo
            else "new not slower"
        )
    )


if __name__ == "__main__":
    main()
