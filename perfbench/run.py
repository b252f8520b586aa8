"""Benchmark harness for dumbo_spark: one run of one workload.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

A run starts SESSIONS fresh processes one after another (worker.py),
each with its own Spark JVM at local[nproc]. Every one of them measures
set-up; the first one (the main session) also runs the workload in a
closed loop, one query at a time: a cold pass, then warm passes until
``--seconds`` is used up. It then checks its outputs against the stored
oracle hashes. The other sessions only set up: they come after the main
one, so the set-ups of one run sample the host a minute apart.

The last line of stdout is one JSON object: with ``--trace 0`` the
end-to-end metrics (setup_s, cold_pass_s, warm_pass_s), with
``--trace 1`` the per-layer metrics of a traced main session. The full
record, with host settings and load, goes to perfbench/results/. The
exit code is 0 only when every query ran and every output matched.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import PASS_METRICS, SESSION_METRICS, unit_of  # noqa: E402
from workloads import HASHES, WORKLOADS  # noqa: E402

# Fresh sessions per run; set-up is reported as their median.
SESSIONS = 2
# Driver heap: what the engine needs at sf0.1, capped well below RAM.
HEAP_MB = 4096
# A run that has not finished by then is killed and reports no result.
DEADLINE_S = 170.0


def host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(x for x in fh if x.startswith("MemTotal:")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "heap_mb": min(HEAP_MB, mem_kb // 1024 // 3)}


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def session_env(work: str, cfg: dict, trace: int) -> dict:
    """Every path Spark, the JVM and Python write to lies under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:  # keep every job, stage and SQL execution for the REST API
        confs.update({"spark.ui.retainedJobs": "100000",
                      "spark.ui.retainedStages": "100000",
                      "spark.sql.ui.retainedExecutions": "100000"})
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cfg["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{cfg['heap_mb']}m",
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": ROOT,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def run_session(args, role: str, index: int, work: str, env: dict,
                deadline: float) -> dict:
    """Start one worker, wait for it and for everything it started."""
    out = os.path.join(work, f"session{index}.json")
    log_path = os.path.join(work, f"session{index}.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--role", role, "--workdir", work, "--hashes", args.hashes,
           "--out", out]
    with open(log_path, "w") as log:
        spawned_at = time.monotonic()
        proc = subprocess.Popen(cmd + ["--spawned-at", repr(spawned_at)],
                                cwd=ROOT, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _end_group(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.readlines()[-40:]
        raise RuntimeError(f"{role} session {index} failed (exit {proc.returncode}):\n"
                           + "".join(tail))
    with open(out) as fh:
        return json.load(fh)


def _end_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (its JVM and
    Python workers) and wait until all of it has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(600):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def end_to_end(sessions: list[dict]) -> dict[str, float]:
    main = sessions[0]
    warm = [p["total_s"] for p in main["passes"][1:] if not p["traced"]]
    return {
        "setup_s": statistics.median(s["setup_s"] for s in sessions),
        "cold_pass_s": main["passes"][0]["total_s"],
        "warm_pass_s": statistics.median(warm),
    }


def per_layer(sessions: list[dict]) -> dict[str, float]:
    main = sessions[0]
    out = {m: statistics.median(s[m] for s in sessions) for m in SESSION_METRICS}
    for kind in ("cold", "warm"):
        for m in PASS_METRICS:
            out[f"{kind}.{m}"] = main["layers"][kind][m]
    out["trace.overhead_frac"] = main["trace.overhead_frac"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="dumbo_spark benchmark run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--hashes", default=HASHES,
                    help="stored oracle hashes to verify against")
    args = ap.parse_args()
    args.hashes = os.path.abspath(args.hashes)

    started = time.monotonic()
    cfg = host()
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "host": cfg, "loadavg_before": loadavg()}
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        env = session_env(work, cfg, args.trace)
        sessions = []
        for i in range(SESSIONS):
            role = "main" if i == 0 else "probe"
            sessions.append(run_session(args, role, i, work, env,
                                        started + DEADLINE_S))
        if args.trace:
            shutil.copy(os.path.join(work, "trace.json"), _result_path(args, "spans"))
    except RuntimeError as exc:
        print(exc, file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    main_s = sessions[0]
    bad = [n for n, v in main_s["verify"].items() if v != "ok"]
    failed = len(main_s["failures"]) + len(bad)
    attempted = main_s["attempted"]
    metrics = per_layer(sessions) if args.trace else end_to_end(sessions)
    record.update(
        loadavg_after=loadavg(), wall_s=time.monotonic() - started,
        attempted=attempted, failed=failed, failed_frac=failed / attempted,
        failures=main_s["failures"], verify=main_s["verify"],
        setups=[{k: v for k, v in s.items() if k.startswith(("setup", "session"))}
                for s in sessions],
        passes=main_s["passes"], metrics=metrics)
    with open(_result_path(args, "run"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"{args.workload} seed={args.seed} trace={args.trace}: "
          f"failed_frac={failed / attempted:.4f} ({failed}/{attempted})"
          + (f" mismatched={bad}" if bad else ""))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def _result_path(args, what: str) -> str:
    out = os.path.join(HERE, "results")
    os.makedirs(out, exist_ok=True)
    return os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}-{what}.json")


if __name__ == "__main__":
    sys.exit(main())
