"""Dump `.explain("formatted")` for named queries to files.

    python tools/dump_plans.py <outdir> <suffix> name1 name2 ...

Writes <outdir>/<name>_<suffix>.txt for each query. Used by the
optimization rounds to commit before/after plan evidence
(plans/r15/<query>_{before,after}.txt).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from dumbo_spark.plans.explain import _formatted
    from dumbo_spark.registry import QUERIES
    from dumbo_spark.session import get_session, release_persistent_rdds

    os.makedirs(outdir, exist_ok=True)
    spark = get_session("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if name not in QUERIES:
            print(f"skip {name}: not registered")
            continue
        df = QUERIES[name].fn(spark, sf_dir)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(_formatted(df))
        print(f"wrote {path}")
        spark.catalog.clearCache()
        release_persistent_rdds(spark)
    spark.stop()


if __name__ == "__main__":
    main()
