"""Stored oracle hashes for the benchmark's queries.

Running every DuckDB oracle inside each benchmark run would cost more
than the runs themselves, so each workload query's oracle value hash is
computed once and stored in ``hashes.json``. A benchmark run hashes the
Spark output the same way and compares.

    python3 perfbench/oracle.py            # rewrite hashes.json
    python3 perfbench/oracle.py --check    # also run each query on Spark
                                           # and report any mismatch

Hashing uses dumbo_spark.testing's canonicalisation (sorted column
names, type-tagged cells, rows sorted by their repr), so a stored hash
matches exactly when ``compare_frames`` would pass.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from workloads import HASHES, SF_DIR, WORKLOADS  # noqa: E402


def value_hash(pdf) -> str:
    """sha256 over the sorted column names and the canonical rows."""
    from dumbo_spark.testing import _canon_frame

    payload = repr((sorted(pdf.columns), _canon_frame(pdf)))
    return hashlib.sha256(payload.encode()).hexdigest()


def load_hashes(path: str = HASHES) -> dict[str, str]:
    with open(path) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="also run each query on Spark and compare")
    args = ap.parse_args()

    from dumbo_spark.registry import QUERIES
    from dumbo_spark.testing import duckdb_connect

    names = sorted({q for spec in WORKLOADS.values() for q in spec["queries"]})
    hashes = {}
    con = duckdb_connect(SF_DIR)
    try:
        for name in names:
            oracle = QUERIES[name].oracle
            if oracle is None:
                raise SystemExit(f"{name} has no oracle; it cannot be verified")
            hashes[name] = value_hash(con.execute(oracle).fetch_df())
            print(f"{name}: {hashes[name][:16]}", flush=True)
    finally:
        con.close()
    with open(HASHES, "w") as fh:
        json.dump(hashes, fh, indent=1, sort_keys=True)
        fh.write("\n")

    if not args.check:
        return 0
    from dumbo_spark.session import get_session, release_persistent_rdds

    spark = get_session("perfbench-oracle")
    bad = 0
    for name in names:
        got = value_hash(QUERIES[name].fn(spark, SF_DIR).toPandas())
        ok = got == hashes[name]
        bad += not ok
        print(f"{'OK  ' if ok else 'FAIL'} {name}", flush=True)
        release_persistent_rdds(spark)
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
