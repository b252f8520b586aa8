"""Scale-class pin for the top-expensive iterative bench family
(VERDICT r12 Next #4): run pagerank_checked, copurchase_components and
dup_cluster_sizes on 1x / 10x / 30x replicas of sf0.1 and record, per
run, wall-clock AND the per-stage shuffle-write series — the r12
shuffle diet changed the constants, so the scale class needs re-pinning
with shuffle bytes, not just seconds.

Each query is timed once through ``dumbo_spark.profiling.measure()``
(noop sink: the full plan runs, so Catalyst cannot prune the final step
the way it can under ``count()``, which dropped dedup_substring_trim's
whole trim join); its rows are counted afterwards,
untimed and outside the stage window.

Stage metrics come from the Spark UI's REST API (the stable public
surface; AppStatusStore's scala-default-arg signatures aren't callable
through py4j), so the session runs with SPARK_GRAFT_UI=true. Stages
belonging to a query are the ones whose stageId is larger than the
snapshot taken before it ran; the per-stage shuffle-write list IS the
per-round record for the iterative operators (each round = one
shuffle-producing stage after the r12 one-shuffle-per-round diet).

    python tools/scale_class.py                  # full 1x/10x/30x sweep
    SCALE_CLASS_REPLS=1,10 python tools/scale_class.py
Prints a markdown table ready for SCALE.md and writes
/tmp/scale_class_report.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ["SPARK_GRAFT_UI"] = "true"

from scale_smoke import BASE_SF, build  # noqa: E402

QUERIES_UNDER_TEST = ["pagerank_checked", "copurchase_components", "dup_cluster_sizes"]

# ANN family (VERDICT r13 Next #5): 3 of the top-6 bench rows and the
# only expensive family without 10x/30x shuffle-byte rows in SCALE.md.
# scale_smoke.build deliberately keeps embeddings at the fixed fixture
# (its smoke expectations depend on that), so the ANN sweep replicates
# embeddings into its OWN dir: replicas are exact vector dups at
# vec_id + r*1e7, which (a) leaves the `vec_id < sample` codebook
# training and `vec_id < n_queries` probe sets pinned to the base rows
# — the bounded-training property under test — and (b) makes the
# candidate fan-out worst-case (identical vectors share every LSH
# bucket / IVF cell), so the probe join's scale class is measured at
# its adversarial bound, mirroring the documents-replica dedup trick.
ANN_QUERIES = ["knn_cosine_lsh", "knn_cosine_ivfpq", "ivfpq_recall_checked"]


def build_ann(spark, repl: int, out: str) -> str:
    from pyspark.sql import functions as F

    from dumbo_spark.sources.catalog import load_table

    os.makedirs(out, exist_ok=True)
    dst = f"{out}/embeddings.parquet"
    if not os.path.exists(dst):
        df = load_table(spark, BASE_SF, "embeddings")
        rep = df.withColumn(
            "_r", F.explode(F.array(*[F.lit(i) for i in range(repl)]))
        )
        rep = rep.withColumn(
            "vec_id", F.col("vec_id") + F.col("_r").cast("long") * 10_000_000
        ).drop("_r")
        rep.write.mode("overwrite").parquet(dst)
    return out


def _ui_base(spark) -> str:
    return spark.sparkContext.uiWebUrl


def _completed_stages(spark) -> list[dict]:
    app_id = spark.sparkContext.applicationId
    url = f"{_ui_base(spark)}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def run_one(spark, name: str, sf_dir: str) -> dict:
    """Time one query and attribute its completed stages; release its
    caches and pins afterwards, so leaked blocks from an iterative
    operator cannot inflate the next query (the 464s ghost, SCALE.md
    round-12 continuation)."""
    from dumbo_spark.profiling import measure
    from dumbo_spark.registry import QUERIES
    from dumbo_spark.session import release_persistent_rdds

    before = {s["stageId"] for s in _completed_stages(spark)}
    wall = measure(spark, QUERIES[name].fn, sf_dir, 1).samples[0]
    stages = [
        s for s in _completed_stages(spark) if s["stageId"] not in before
    ]
    rows = QUERIES[name].fn(spark, sf_dir).count()
    spark.catalog.clearCache()
    release_persistent_rdds(spark)
    stages.sort(key=lambda s: s["stageId"])
    # 3-decimal MB: the ANN family's per-stage shuffles are KB-scale
    # (5k embeddings x 64 floats), and 1-decimal rounding read 0.0
    # for every stage — scale-class-invisible
    writes_mb = [
        round(s["shuffleWriteBytes"] / 1e6, 3)
        for s in stages
        if s["shuffleWriteBytes"] > 0
    ]
    return {
        "rows": rows,
        "sec": round(wall, 1),
        "n_stages": len(stages),
        "shuffle_write_mb_total": round(
            sum(s["shuffleWriteBytes"] for s in stages) / 1e6, 3
        ),
        "shuffle_write_mb_per_stage": writes_mb,
    }


def main() -> None:
    from dumbo_spark.session import get_session

    repls = [
        int(x)
        for x in os.environ.get("SCALE_CLASS_REPLS", "1,10,30").split(",")
    ]
    spark = get_session("scale_class")
    only_ann = os.environ.get("SCALE_CLASS_ONLY_ANN", "") == "1"
    iter_q = [] if only_ann else QUERIES_UNDER_TEST
    # SCALE_CLASS_QUERIES=a,b,c overrides the iterative set (still runs
    # on the full-table replicas); combine with SCALE_CLASS_SKIP_ANN=1
    # to pin a single new operator's scale class without re-timing the
    # whole roster.
    override = os.environ.get("SCALE_CLASS_QUERIES", "")
    if override:
        iter_q = [n.strip() for n in override.split(",") if n.strip()]
    ann_q = [] if os.environ.get("SCALE_CLASS_SKIP_ANN", "") == "1" else ANN_QUERIES
    results: dict[str, dict[int, dict]] = {
        q: {} for q in iter_q + ann_q
    }
    for repl in repls:
        if repl == 1:
            sf_dir = BASE_SF
        elif iter_q:  # the full-table replicas feed only the iterative set
            sf_dir = f"/tmp/dumbo_spark_scale_x{repl}"
            t0 = time.perf_counter()
            build(spark, repl=repl, out=sf_dir)
            print(f"# build x{repl}: {time.perf_counter()-t0:.1f}s", flush=True)
        for name in iter_q:
            rec = run_one(spark, name, sf_dir)
            results[name][repl] = rec
            print(f"# x{repl} {name}: {json.dumps(rec)}", flush=True)
        if not ann_q:
            ann_dir = None
        elif repl == 1:
            ann_dir = BASE_SF
        else:
            ann_dir = f"/tmp/dumbo_spark_scale_ann_x{repl}"
            t0 = time.perf_counter()
            build_ann(spark, repl=repl, out=ann_dir)
            print(
                f"# build_ann x{repl}: {time.perf_counter()-t0:.1f}s",
                flush=True,
            )
        for name in ann_q:
            rec = run_one(spark, name, ann_dir)
            results[name][repl] = rec
            print(f"# x{repl} {name}: {json.dumps(rec)}", flush=True)

    lines = [
        "| query | repl | rows | sec | stages | shuffle-write MB (total) "
        "| per-stage shuffle-write MB |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in iter_q + ann_q:
        for repl in repls:
            r = results[name].get(repl)
            if not r:
                continue
            per = r["shuffle_write_mb_per_stage"]
            per_s = ", ".join(str(x) for x in per[:12]) + (
                f", … (+{len(per)-12})" if len(per) > 12 else ""
            )
            lines.append(
                f"| {name} | {repl}x | {r['rows']} | {r['sec']} "
                f"| {r['n_stages']} | {r['shuffle_write_mb_total']} | {per_s} |"
            )
    report = "\n".join(lines)
    print(report)
    with open("/tmp/scale_class_report.md", "w") as f:
        f.write(report + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
