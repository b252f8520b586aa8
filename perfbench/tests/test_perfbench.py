"""Tests of the benchmark harness itself.

    python3 -m pytest perfbench/tests -q

The two end-to-end tests each start a full benchmark run (about a
minute each on a 4-core host).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from tracing import _covered, sql_metric_value  # noqa: E402
from workloads import HASHES  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(tmp_path, *extra: str, trace: int, seed: int):
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"),
           "--workload", "relational", "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-2000:]
    record_path = os.path.join(
        BENCH_DIR, "results", f"relational-seed{seed}-trace{trace}-run.json")
    with open(record_path) as fh:
        record = json.load(fh)
    return proc, json.loads(lines[-1]), record


def test_corrupted_hash_fails_the_run_and_end_to_end_metrics_print(tmp_path):
    with open(HASHES) as fh:
        hashes = json.load(fh)
    hashes["pricing_summary"] = "0" * 64
    corrupted = tmp_path / "hashes.json"
    corrupted.write_text(json.dumps(hashes))

    proc, result, record = _run(tmp_path, "--hashes", str(corrupted), trace=0, seed=101)

    assert proc.returncode != 0
    assert result["correct"] is False
    assert result["failed"] >= 1 and result["attempted"] >= result["failed"]
    assert record["failed_frac"] > 0
    assert record["verify"]["pricing_summary"] == "mismatch"
    expected = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_per_layer_metric_with_its_unit(tmp_path):
    proc, result, record = _run(tmp_path, trace=1, seed=102)

    assert proc.returncode == 0, proc.stderr[-2000:]
    assert result["correct"] is True and result["failed"] == 0
    assert record["failed_frac"] == 0
    expected = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    # relational has no Python worker, no stream and no file sink
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    for kind in ("cold", "warm"):
        assert metrics[f"{kind}.python.total_s"] == 0
        assert metrics[f"{kind}.streaming.batches"] == 0
        assert metrics[f"{kind}.sources.write_bytes"] == 0
        assert metrics[f"{kind}.scheduler.jobs"] > 0
        assert metrics[f"{kind}.executor.run_s"] > 0


def test_sql_metric_values_parse_in_both_ui_forms():
    assert sql_metric_value("31") == 31
    assert sql_metric_value("1,234") == 1234
    assert sql_metric_value("778 ms") == 0.778
    assert sql_metric_value("151.4 KiB") == 151.4 * 1024
    assert sql_metric_value(
        "total (min, med, max (stageId: taskId))\n2.1 s (0 ms, 1.0 s, 1.1 s (stage 3.0: task 7))"
    ) == 2.1


def test_covered_counts_overlapping_intervals_once():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert _covered([(4, 5)], 0, 3) == 0
