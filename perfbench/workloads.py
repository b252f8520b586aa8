"""The benchmark's workloads: which registered queries run, on which
fixtures, and where each result goes.

Every query named here has a DuckDB oracle whose value hash is stored in
``hashes.json`` (regenerate with ``python3 perfbench/oracle.py``).
"""

from __future__ import annotations

import os

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.1")
HASHES = os.path.join(HERE, "hashes.json")

# Result sinks. ``noop`` executes the plan and discards the rows; the
# file sinks go through dumbo_spark.sources.textio, the way a dumbo job
# ends in dumptext / a sequence file.
NOOP, PARQUET, TSV = "noop", "parquet", "tsv"

WORKLOADS: dict[str, dict] = {
    # JVM-only joins, aggregates, rollups and windows over
    # lineitem/orders: Catalyst and executor work dominate. No Python
    # worker, no pin and no file write, so a change to those layers
    # should leave this workload flat.
    "relational": {
        "sink": {},
        "queries": [
            "pricing_summary",
            "shipping_priority",
            "promo_revenue",
            "rollup_counts",
            "window_rank",
            "two_phase_agg",
        ],
    },
    # The dumbo job shape: mapper/reducer code behind mapInPandas and
    # applyInPandas, an availableNow streaming window aggregate with
    # state, a driver-orchestrated clustering loop with about twenty
    # jobs and localCheckpoint pins, and real output files.
    "dumbo_jobs": {
        "sink": {"compat_wordcount": TSV},
        "default_sink": PARQUET,
        "queries": [
            "compat_wordcount",
            "streaming_tumbling_1h",
            "entity_clusters",
        ],
    },
}


def sink_of(workload: str, query: str) -> str:
    spec = WORKLOADS[workload]
    return spec["sink"].get(query, spec.get("default_sink", NOOP))
