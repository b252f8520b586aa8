"""Source/sink + CLI parity tests (dumbo's cmd.py / util.py surface)."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from dumbo_spark.sources import textio

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_text_roundtrip_with_offsets(spark):
    d = tempfile.mkdtemp()
    p = os.path.join(d, "in.txt")
    with open(p, "w") as f:
        f.write("alpha beta\ngamma\n")
    df = textio.read_text(spark, p, with_offsets=True)
    rows = sorted((r.offset, r.line) for r in df.collect())
    assert rows == [(0, "alpha beta"), (11, "gamma")]


def test_jsonl_roundtrip(spark):
    d = tempfile.mkdtemp()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    out = os.path.join(d, "out.jsonl")
    textio.write_jsonl(df, out)
    back = textio.read_jsonl(spark, out, schema="id long, name string")
    assert sorted((r.id, r.name) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_tsv_write(spark):
    d = tempfile.mkdtemp()
    df = spark.createDataFrame([("k1", 1), ("k2", 2)], "key string, value int")
    out = os.path.join(d, "out.tsv")
    textio.write_tsv(df, out)
    lines = []
    for fn in os.listdir(out):
        if fn.startswith("part-"):
            lines += open(os.path.join(out, fn)).read().splitlines()
    assert sorted(lines) == ["k1\t1", "k2\t2"]


def test_parquet_roundtrip(spark):
    d = tempfile.mkdtemp()
    df = spark.createDataFrame([(1, [1.0, 2.0])], "id long, vec array<double>")
    out = os.path.join(d, "out.parquet")
    textio.write_parquet(df, out)
    back = textio.read_parquet(spark, out)
    assert back.collect()[0].vec == [1.0, 2.0]


def test_orc_roundtrip(spark):
    d = tempfile.mkdtemp()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    out = os.path.join(d, "out.orc")
    df.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert sorted((r.id, r.name) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_parquet_zstd_roundtrip(spark):
    d = tempfile.mkdtemp()
    df = spark.createDataFrame([(i, float(i) * 1.5) for i in range(100)], "id long, v double")
    out = os.path.join(d, "out.parquet")
    textio.write_parquet(df, out, compression="zstd")
    assert spark.read.parquet(out).count() == 100
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert any("zstd" in f for f in files)


def _cli(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "dumbo_spark.cli", *argv],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )


def test_compact_parquet(spark):
    """Many tiny files in → few target-sized files out, content
    identical; sort_within_by tightens per-file column ranges."""
    d = tempfile.mkdtemp()
    src, dst = os.path.join(d, "frag"), os.path.join(d, "compacted")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df.repartition(64).write.parquet(src)  # 64 tiny files
    assert len(spark.read.parquet(src).inputFiles()) == 64
    n = textio.compact_parquet(spark, src, dst, target_file_mb=128,
                               sort_within_by=["k"])
    assert n < 64  # ~40KB of data -> far fewer than 64 files
    got = spark.read.parquet(dst)
    assert got.count() == 10_000
    assert got.agg({"k": "sum"}).collect()[0][0] == 49_995_000


def test_cli_fs_surface():
    d = tempfile.mkdtemp()
    src = os.path.join(d, "f.txt")
    with open(src, "w") as f:
        f.write("hello")
    dst = os.path.join(d, "copied.txt")
    assert _cli("put", src, dst).returncode == 0
    assert _cli("exists", dst).returncode == 0
    out = _cli("ls", d)
    assert "copied.txt" in out.stdout
    assert _cli("rm", dst).returncode == 0
    assert _cli("exists", dst).returncode == 1


def test_cli_run_and_cat():
    d = tempfile.mkdtemp()
    prog = os.path.join(d, "prog.py")
    with open(prog, "w") as f:
        f.write(
            "def main(spark):\n"
            "    return spark.createDataFrame([(1, 'x')], 'id long, s string')\n"
        )
    out = os.path.join(d, "result.parquet")
    r = _cli("run", prog, "--output", out)
    assert r.returncode == 0, r.stderr[-2000:]
    c = _cli("cat", out)
    assert c.returncode == 0 and "1\tx" in c.stdout


def test_compact_parquet_refuses_self_overwrite(spark):
    """dst == src (or nested either way) would delete the input before
    the lazy read runs — must refuse, not destroy data."""
    import pytest

    d = tempfile.mkdtemp()
    src = os.path.join(d, "data")
    spark.range(10).write.parquet(src)
    for bad in (src, src + "/", os.path.join(src, "sub"), d):
        with pytest.raises(ValueError, match="must not equal or nest"):
            textio.compact_parquet(spark, src, bad)
    # the input survives untouched
    assert spark.read.parquet(src).count() == 10


def test_cli_plan_subcommand():
    r = _cli("plan", "group_sum")
    assert r.returncode == 0, r.stderr[-1500:]
    assert "exchanges:" in r.stdout and "python_evals: 0" in r.stdout
    assert "wholestage_codegen_spans:" in r.stdout and "bnl_joins: 0" in r.stdout
    bad = _cli("plan", "no_such_query")
    assert bad.returncode != 0


def test_cli_profile_subcommand(sf_dir):
    r = _cli("profile", "group_sum", "--sf-dir", sf_dir, "--runs", "2")
    assert r.returncode == 0, r.stderr[-1500:]
    header, row = r.stdout.splitlines()[-2:]
    assert header.split() == ["query", "median", "runs", "jobs", "stages"]
    name, median, runs, jobs, stages = row.split()
    assert name == "group_sum" and float(median) > 0
    assert len(runs.split("/")) == 2
    assert int(jobs) > 0 and int(stages) >= int(jobs)
    bad = _cli("profile", "group_sum", "no_such_query")
    assert bad.returncode != 0 and "no_such_query" in bad.stderr


def test_cli_dq_subcommand():
    # clean fixtures -> every rule zero -> exit code 0
    r = _cli("dq", "/root/testdata/sf0.001")
    assert r.returncode == 0, r.stderr[-1500:]
    assert "o_totalprice_nonpositive: 0" in r.stdout
    assert "lineitem_orphan_orderkey: 0" in r.stdout


def test_zorder_interleave_bits(spark):
    from pyspark.sql import functions as F

    from dumbo_spark.functions.zorder import _interleave

    df = spark.createDataFrame([(5, 3)], "x long, y long")
    z = df.select(_interleave(F.col("x"), F.col("y")).alias("z")).collect()[0]["z"]
    # x=0b101 at even bits, y=0b011 at odd bits -> 0b011011 = 27
    assert z == 27


def test_compact_zorder_clusters_both_columns(spark):
    """After z-order compaction every output file must carry a TIGHT
    min/max range on BOTH columns (the pruning property single-column
    sort can't give); content must be unchanged."""
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp()
    src, dst = os.path.join(d, "src"), os.path.join(d, "dst")
    n = 500_000
    df = (
        spark.range(n)
        .selectExpr("id", "id % 200 AS a", "CAST(hash(id) % 200 + 200 AS LONG) AS b")
    )
    df.repartition(16).write.parquet(src)  # a and b scattered across all files
    out_files = textio.compact_parquet(
        spark, src, dst, target_file_mb=1, zorder_by=("a", "b")
    )
    assert out_files >= 4, "need multiple files for the clustering claim"
    got = spark.read.parquet(dst)
    assert got.count() == n
    assert got.agg({"id": "sum"}).collect()[0][0] == n * (n - 1) // 2
    assert "_z" not in got.columns
    spans = {"a": [], "b": []}
    for f in sorted(os.listdir(dst)):
        if not f.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(dst, f)).metadata
        lo = {"a": None, "b": None}
        hi = {"a": None, "b": None}
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in spans and col.statistics is not None:
                    s = col.statistics
                    lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                    hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
        for c in ("a", "b"):
            spans[c].append(hi[c] - lo[c])
    # both dimensions' average per-file span well under the global span
    for c, global_span in (("a", 199), ("b", 399)):
        avg = sum(spans[c]) / len(spans[c])
        assert avg < 0.8 * global_span, (c, spans[c])


def test_read_parquet_evolving_merges_added_columns(spark):
    """Additive schema drift across snapshots reads as one unioned
    schema with NULLs for pre-drift files."""
    d = tempfile.mkdtemp()
    v1, v2 = os.path.join(d, "v1"), os.path.join(d, "v2")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(v1)
    spark.createDataFrame(
        [(2, "b", 3.5)], "id long, name string, score double"
    ).write.parquet(v2)
    got = textio.read_parquet_evolving(spark, v1, v2)
    assert set(got.columns) == {"id", "name", "score"}
    rows = {r["id"]: r for r in got.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 3.5


def test_orc_round_trip_preserves_rows_and_pushdown(spark, sf_dir, tmp_path):
    """ORC joins the format surface (round 10): write the nation dim to
    ORC, read it back byte-identically, and verify predicate pushdown
    reaches the ORC scan like parquet."""
    from dumbo_spark.sources import textio
    from dumbo_spark.sources.catalog import load_table

    src = load_table(spark, sf_dir, "nation")
    dst = str(tmp_path / "nation.orc")
    textio.write_orc(src, dst)
    back = textio.read_orc(spark, dst)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    plan = (
        back.where("n_nationkey = 3")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "n_nationkey" in plan


def test_cli_convert_to_and_from_orc(spark, sf_dir, tmp_path, monkeypatch):
    import sys as _sys

    from dumbo_spark import cli
    from dumbo_spark.sources.catalog import load_table

    orc_path = str(tmp_path / "region.orc")
    pq_path = str(tmp_path / "region_back.parquet")
    rc = cli.main(
        ["convert", f"{sf_dir}/region.parquet", orc_path, "--to", "orc"]
    )
    assert rc == 0
    rc = cli.main(["convert", orc_path, pq_path, "--to", "parquet"])
    assert rc == 0
    a = sorted(map(tuple, spark.read.parquet(pq_path).collect()))
    b = sorted(map(tuple, load_table(spark, sf_dir, "region").collect()))
    assert a == b
