"""One benchmark session: a fresh process with its own Spark JVM.

``run.py`` starts this script several times per run. Every session
measures its set-up (import, ``get_session``, one trivial JVM action).
Probe sessions stop there; the main session then runs timed passes over
the workload, verifies the outputs of its last pass against the stored
oracle hashes and, when traced, splits each pass into layers.

Results go to the JSON file named by ``--out``; stdout carries nothing
the caller reads.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import NOOP, PARQUET, SF_DIR, TSV, WORKLOADS, sink_of  # noqa: E402


def setup(spawned_at: float) -> tuple[object, dict]:
    """Import the engine, build the session, run one trivial action.
    Times are measured from ``spawned_at``, the caller's clock reading
    just before it started this process."""
    import dumbo_spark.registry  # noqa: F401  (the engine import users pay)
    from dumbo_spark.session import get_session

    t_import = time.monotonic()
    spark = get_session("perfbench")
    t_session = time.monotonic()
    from pyspark.sql import functions as F

    spark.range(1000).agg(F.sum("id")).collect()
    t_ready = time.monotonic()
    return spark, {
        "session.import_s": t_import - spawned_at,
        "session.get_session_s": t_session - t_import,
        "session.first_action_s": t_ready - t_session,
        "setup_s": t_ready - spawned_at,
    }


def run_sink(df, kind: str, path: str) -> None:
    from dumbo_spark.sources import textio

    if kind == NOOP:
        df.write.format("noop").mode("overwrite").save()
    elif kind == PARQUET:
        textio.write_parquet(df, path)
    elif kind == TSV:
        textio.write_tsv(df, path)
    else:
        raise ValueError(f"unknown sink {kind!r}")


def read_back(spark, kind: str, path: str, schema):
    if kind == PARQUET:
        return spark.read.parquet(path)
    return spark.read.schema(schema).option("sep", "\t").csv(path)


class Session:
    def __init__(self, spark, args) -> None:
        from dumbo_spark.registry import QUERIES
        from dumbo_spark.session import release_persistent_rdds
        from tracing import Tracer

        self.spark = spark
        self.args = args
        self.queries = QUERIES
        self.release = release_persistent_rdds
        self.names = WORKLOADS[args.workload]["queries"]
        self.rng = random.Random(args.seed)
        self.out_dir = os.path.join(args.workdir, "out")
        self.tracer = Tracer(spark, bool(args.trace))
        self.run_span = self.tracer.start("run", "run", None)
        self.failures: list[dict] = []
        self.schemas: dict[str, object] = {}
        self.attempted = 0

    def one_pass(self, index: int, traced: bool) -> dict:
        """Run every query once, in a seeded order, into its sink. The
        pass time is the sum of the queries' build + sink times; the
        cache release between queries is outside it."""
        order = self.rng.sample(self.names, len(self.names))
        tr = self.tracer if traced else None
        pass_span = tr.start(f"pass{index}", "pass", self.run_span) if tr else None
        per_query: dict[str, float] = {}
        for name in order:
            kind = sink_of(self.args.workload, name)
            path = os.path.join(self.out_dir, name)
            self.attempted += 1
            q_span = tr.start(name, "query", pass_span) if tr else None
            try:
                t0 = time.perf_counter()
                b_span = tr.start(name, "build", q_span) if tr else None
                df = self.queries[name].fn(self.spark, SF_DIR)
                if tr:
                    tr.end(b_span)
                    tr.sample(q_span, **{"catalyst.analysis_s": tr.analysis_s(df)})
                s_span = tr.start(kind, "sink", q_span) if tr else None
                run_sink(df, kind, path)
                elapsed = time.perf_counter() - t0
                if tr:
                    tr.end(s_span)
                per_query[name] = elapsed
                self.schemas[name] = df.schema
            except Exception:  # a failing query is counted, never fatal
                self.failures.append({"query": name, "pass": index,
                                      "error": traceback.format_exc(limit=3)})
            if tr:
                tr.end(q_span)
                count, held = tr.pins()
                tr.sample(q_span, **{"pins.count": count, "pins.bytes": held})
                if kind != NOOP and os.path.isdir(path):
                    tr.sample(q_span, **{"sources.write_bytes": tr.write_bytes(path)})
            self.spark.catalog.clearCache()
            self.release(self.spark)
        if tr:
            tr.sample(pass_span, **{"jvm.peak_rss_mb": tr.jvm_peak_rss_mb()})
            tr.end(pass_span)
        return {"index": index, "traced": traced, "span": pass_span,
                "total_s": sum(per_query.values()), "queries": per_query,
                "complete": len(per_query) == len(self.names)}

    def passes(self, seconds: float) -> list[dict]:
        """A cold pass, then warm passes until the passes have used
        ``seconds``, and at least four warm passes: single queries swing
        by a quarter from pass to pass, and the first warm passes are
        still speeding up as the JIT warms.

        A traced run traces the cold pass and its warm passes in the
        order T U U T (repeated): the untraced ones give the overhead,
        and the symmetric order cancels the speed-up of later passes."""
        done: list[dict] = []
        min_passes = 5
        started = time.perf_counter()
        while True:
            index = len(done)
            traced = bool(self.args.trace) and index % 4 in (0, 1)
            self.tracer.listen(traced)
            done.append(self.one_pass(index, traced))
            self.tracer.listen(False)
            if len(done) >= min_passes and time.perf_counter() - started >= seconds:
                return done

    def verify(self, hashes: dict[str, str]) -> dict[str, str]:
        """Hash each query's output and compare it with the stored
        oracle hash. File sinks are read back from what the last pass
        wrote; noop results are recomputed."""
        from oracle import value_hash

        span = self.tracer.start("verify", "verify", self.run_span)
        verdict = {}
        for name in self.names:
            kind = sink_of(self.args.workload, name)
            q_span = self.tracer.start(name, "verify", span)
            try:
                if kind == NOOP:
                    df = self.queries[name].fn(self.spark, SF_DIR)
                else:
                    path = os.path.join(self.out_dir, name)
                    df = read_back(self.spark, kind, path, self.schemas.get(name))
                got = value_hash(df.toPandas())
                verdict[name] = "ok" if got == hashes.get(name) else "mismatch"
            except Exception:
                verdict[name] = "error: " + traceback.format_exc(limit=3)
            self.tracer.end(q_span)
            self.spark.catalog.clearCache()
            self.release(self.spark)
        self.tracer.end(span)
        return verdict


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--role", choices=("probe", "main"), required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--hashes", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    spark, result = setup(args.spawned_at)
    try:
        if args.role == "main":
            with open(args.hashes) as fh:
                hashes = json.load(fh)
            session = Session(spark, args)
            passes = session.passes(args.seconds)
            verdict = session.verify(hashes)
            session.tracer.end(session.run_span)
            result.update(passes=[{k: v for k, v in p.items() if k != "span"}
                                  for p in passes],
                          attempted=session.attempted,
                          failures=session.failures, verify=verdict)
            if args.trace:
                layers = session.tracer.pass_layers()
                result["layers"] = {
                    kind: _pass_kind_layers(passes, layers, kind)
                    for kind in ("cold", "warm")}
                traced = [p["total_s"] for p in passes[1:] if p["traced"]]
                untraced = [p["total_s"] for p in passes[1:] if not p["traced"]]
                result["trace.overhead_frac"] = (
                    statistics.median(traced) / statistics.median(untraced) - 1)
                session.tracer.dump(os.path.join(args.workdir, "trace.json"), layers)
    finally:
        stop(spark)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


def _pass_kind_layers(passes: list[dict], layers: dict, kind: str) -> dict:
    """Layer metrics of the cold pass, or the per-metric median over the
    traced warm passes."""
    chosen = passes[:1] if kind == "cold" else [p for p in passes[1:] if p["traced"]]
    rows = [layers[p["span"]] for p in chosen]
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


if __name__ == "__main__":
    sys.exit(main())
