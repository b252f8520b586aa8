"""Spans, counters and the per-layer split of a traced benchmark run.

The benchmark records spans from its own code around each call into
the engine: run -> pass -> query -> {build, sink}, plus run -> verify.
Spark's own records are read once, when the run ends, from the UI REST
API (jobs, stages, SQL executions) and from two listeners registered
for the traced passes (query planning phases, streaming progress).
Each record is attached to the innermost span its start time falls
in, so every layer metric is a sum over one pass.
"""

from __future__ import annotations

import datetime
import json
import os
import time
import urllib.request

# Per-pass metrics, in the order they are reported. The unit is the
# suffix: _s seconds, bytes, _mb megabytes, anything else a count.
PASS_METRICS = (
    "queries.build_s", "queries.build_self_s",
    "exec.sink_s", "exec.sink_self_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "scan.input_bytes", "shuffle.read_bytes", "shuffle.write_bytes",
    "spill.bytes",
    "pins.count", "pins.bytes", "jvm.peak_rss_mb",
    "python.boot_s", "python.init_s", "python.total_s",
    "python.data_sent_bytes", "python.rows_received",
    "streaming.batches", "streaming.input_rows", "streaming.batch_s",
    "streaming.state_rows",
    "sources.write_s", "sources.write_bytes",
)
SESSION_METRICS = ("session.import_s", "session.get_session_s",
                   "session.first_action_s")


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes"):
        return "bytes"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_frac"):
        return "ratio"
    return "count"


# SQL metric names of Spark's Python exec nodes (MapInPandas,
# FlatMapGroupsInPandas, ArrowEvalPython, ...).
_PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
    "data sent to Python workers": "python.data_sent_bytes",
    "number of output rows": "python.rows_received",
}
_SCALE = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40}


def sql_metric_value(text: str) -> float:
    """Parse a UI SQL metric: ``31``, ``1.3 s``, ``151.4 KiB`` or the
    multi-task form ``total (min, med, max ...)\\n2.1 s (...)``."""
    line = text.strip().splitlines()[-1]
    parts = line.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _SCALE[parts[1]] if len(parts) > 1 else value


def _epoch(stamp: str) -> float:
    """Spark REST (``...43.286GMT``) and streaming (``...43.286Z``)
    timestamps, as seconds since the epoch."""
    stamp = stamp.replace("GMT", "").rstrip("Z")
    dt = datetime.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


class _PlanningListener:
    """py4j implementation of Spark's QueryExecutionListener: keeps the
    analysis/optimization/planning durations of every query execution."""

    def __init__(self) -> None:
        self.records: list[tuple[float, float, float, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        phases = qe.tracker().phases()
        ms = {}
        start = None
        for name in ("analysis", "optimization", "planning"):
            if phases.contains(name):
                p = phases.apply(name)
                ms[name] = p.durationMs()
                start = p.startTimeMs() if start is None else min(start, p.startTimeMs())
        if start is not None:
            self.records.append((start / 1000.0, ms.get("analysis", 0) / 1000.0,
                                 ms.get("optimization", 0) / 1000.0,
                                 ms.get("planning", 0) / 1000.0))

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _streaming_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.records: list[tuple[float, str, int, float, int]] = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            state = sum(op.numRowsTotal for op in p.stateOperators)
            self.records.append((_epoch(p.timestamp), str(p.id), p.numInputRows,
                                 p.batchDuration / 1000.0, state))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return ProgressListener()


class Tracer:
    """Spans in memory plus the listeners and samples of one session.

    With ``enabled`` false, ``start`` returns None and ``end``,
    ``sample`` and ``listen`` do nothing, so an untraced run pays for no
    span.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.samples: dict[int, dict[str, float]] = {}  # query span -> counters
        self._planning = None
        self._jplanning = None
        self._progress = None

    # -- spans --------------------------------------------------------
    def start(self, name: str, kind: str, parent: int | None) -> int | None:
        if not self.enabled:
            return None
        self.spans.append({"id": len(self.spans), "parent": parent, "name": name,
                           "kind": kind, "start": time.time(), "end": None})
        return len(self.spans) - 1

    def end(self, span: int | None) -> None:
        if span is not None:
            self.spans[span]["end"] = time.time()

    def sample(self, span: int | None, **counters: float) -> None:
        if span is not None:
            self.samples.setdefault(span, {}).update(counters)

    # -- listeners ----------------------------------------------------
    def listen(self, on: bool) -> None:
        """Register (or remove) the planning and streaming listeners, so
        untraced passes of a traced run carry none of their cost."""
        if not self.enabled:
            return
        from pyspark.java_gateway import ensure_callback_server_started

        manager = self.spark._jsparkSession.listenerManager()
        if on:
            if self._planning is None:
                gateway = self.spark.sparkContext._gateway
                ensure_callback_server_started(gateway)
                self._planning = _PlanningListener()
                self._progress = _streaming_listener()
                # py4j makes a new Java proxy each time a Python object
                # crosses over, and unregister needs the registered one:
                # pin a single proxy by passing the listener through a list.
                holder = gateway.jvm.java.util.ArrayList()
                holder.add(self._planning)
                self._jplanning = holder.get(0)
            manager.register(self._jplanning)
            self.spark.streams.addListener(self._progress)
        elif self._planning is not None:
            self._drain()
            manager.unregister(self._jplanning)
            self.spark.streams.removeListener(self._progress)

    def _drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    # -- pins and memory ----------------------------------------------
    def pins(self) -> tuple[int, int]:
        """(count, bytes) of RDDs held by persist/localCheckpoint now."""
        jsc = self.spark.sparkContext._jsc
        held = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
        return len(jsc.getPersistentRDDs()), held

    @staticmethod
    def write_bytes(path: str) -> int:
        """Bytes of the files a sink wrote under ``path``."""
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    @staticmethod
    def analysis_s(df) -> float:
        """Analysis time of a DataFrame the engine returned. Its own
        query execution is analysed when it is built; the sink runs a
        separate execution, which the planning listener sees."""
        phases = df._jdf.queryExecution().tracker().phases()
        return phases.apply("analysis").durationMs() / 1e3 if phases.contains("analysis") else 0.0

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    # -- attribution --------------------------------------------------
    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.load(resp)

    def _innermost(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def _ancestor(self, span: dict | None, kind: str) -> dict | None:
        while span is not None and span["kind"] != kind:
            span = None if span["parent"] is None else self.spans[span["parent"]]
        return span

    def pass_layers(self) -> dict[int, dict[str, float]]:
        """Per-layer metrics for every traced pass span, keyed by span id."""
        self._drain()
        jobs = self._rest("/jobs")
        stages = self._rest("/stages")
        executions = self._rest("/sql?details=true&planDescription=false&length=100000")
        out = {s["id"]: dict.fromkeys(PASS_METRICS, 0.0)
               for s in self.spans if s["kind"] == "pass"}

        def bucket(t: float) -> tuple[dict | None, int | None]:
            leaf = self._innermost(t)
            p = self._ancestor(leaf, "pass")
            return leaf, (p["id"] if p else None)

        # Jobs: counts per pass, and busy intervals for build/sink self time.
        job_pass: dict[int, dict] = {}
        busy: dict[int, list[tuple[float, float]]] = {}
        for j in jobs:
            t0 = _epoch(j["submissionTime"])
            t1 = _epoch(j["completionTime"]) if j.get("completionTime") else t0
            leaf, p = bucket(t0)
            if p is None:
                continue
            m = out[p]
            m["scheduler.jobs"] += 1
            for sid in j["stageIds"]:
                job_pass[sid] = m
            busy.setdefault(leaf["id"], []).append((t0, t1))
        for st in stages:
            m = job_pass.get(st["stageId"])
            if m is None or st["status"] != "COMPLETE":
                continue
            m["scheduler.stages"] += 1
            m["scheduler.tasks"] += st["numCompleteTasks"]
            m["executor.run_s"] += st["executorRunTime"] / 1e3
            m["executor.cpu_s"] += st["executorCpuTime"] / 1e9
            m["executor.gc_s"] += st["jvmGcTime"] / 1e3
            m["scan.input_bytes"] += st["inputBytes"]
            m["shuffle.read_bytes"] += st["shuffleReadBytes"]
            m["shuffle.write_bytes"] += st["shuffleWriteBytes"]
            m["spill.bytes"] += st["diskBytesSpilled"]

        for e in executions:
            _, p = bucket(_epoch(e["submissionTime"]))
            if p is None:
                continue
            m = out[p]
            for node in e.get("nodes", ()):
                names = {x["name"]: x["value"] for x in node.get("metrics", ())}
                if "data sent to Python workers" not in names:
                    continue
                for label, key in _PY_METRICS.items():
                    if label in names:
                        m[key] += sql_metric_value(names[label])

        for t, analysis, optimization, planning in (self._planning.records
                                                    if self._planning else ()):
            _, p = bucket(t)
            if p is not None:
                out[p]["catalyst.analysis_s"] += analysis
                out[p]["catalyst.optimization_s"] += optimization
                out[p]["catalyst.planning_s"] += planning

        # State rows held after each streaming query's last batch.
        last_state: dict[tuple[int, str], int] = {}
        for t, qid, rows, batch_s, state in (self._progress.records
                                             if self._progress else ()):
            _, p = bucket(t)
            if p is None:
                continue
            out[p]["streaming.batches"] += 1
            out[p]["streaming.input_rows"] += rows
            out[p]["streaming.batch_s"] += batch_s
            last_state[(p, qid)] = state
        for (p, _), state in last_state.items():
            out[p]["streaming.state_rows"] += state

        for s in self.spans:
            m = out.get((self._ancestor(s, "pass") or {}).get("id"))
            if m is None or s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            if s["kind"] in ("build", "sink"):
                self_s = dur - _covered(busy.get(s["id"], []), s["start"], s["end"])
                key = "queries.build" if s["kind"] == "build" else "exec.sink"
                m[f"{key}_s"] += dur
                m[f"{key}_self_s"] += self_s
                if s["kind"] == "sink" and s["name"] != "noop":
                    m["sources.write_s"] += dur
            for k, v in self.samples.get(s["id"], {}).items():
                if k == "jvm.peak_rss_mb":
                    m[k] = max(m[k], v)
                else:
                    m[k] += v
        return out

    def dump(self, path: str, layers: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "samples": self.samples,
                       "layers": layers}, fh)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
