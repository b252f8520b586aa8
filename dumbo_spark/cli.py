"""Engine CLI — parity with the ``dumbo`` command (dumbo/cmd.py).

Reference subcommands and their re-expression:

| dumbo (cmd.py)           | dumbo-spark                                  |
|--------------------------|----------------------------------------------|
| start prog.py -input ... | ``run prog.py`` — exec a script that defines |
|   (:~60, execs the user  | ``main(spark)``; session provided, result    |
|   script, :~80)          | written to ``--output`` as parquet           |
| cat path (:~140)         | ``cat path`` — decode any format, print TSV  |
| ls / exists / rm (:~160) | same names, pyarrow.fs backed (works on      |
| put / get (:~200)        | local + hdfs:// + s3:// URIs)                |
| encodepipe (:~230)       | ``convert --to parquet`` (text → native)     |
| decodepipe               | ``convert --to jsonl`` (native → text)       |
| typedbytes files         | ``cat``/``convert`` read ``.tb`` directly    |
|   (backends/streaming.py |   (sources/typedbytes.py codec; migration    |
|    :~120)                |   path: .tb → parquet, then stay columnar)   |
| doctest (:~245)          | dropped — pytest owns testing (SURVEY §5)    |
| (none)                   | ``warmup`` — build the JVM start-up archive  |
|                          | once, ahead of the first job                 |
| (none)                   | ``profile q...`` — time queries, count their |
|                          | Spark jobs and stages (profiling.measure)    |

Usage: ``python -m dumbo_spark.cli <subcommand> ...``
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import sys


def _fs_for(path: str):
    from pyarrow import fs as pafs

    return pafs.FileSystem.from_uri(path) if "://" in path else (pafs.LocalFileSystem(), path)


def cmd_run(args: argparse.Namespace) -> int:
    """Submit a user program: a .py file defining ``main(spark) -> DataFrame``."""
    from dumbo_spark.session import get_session

    spec = importlib.util.spec_from_file_location("user_prog", args.program)
    assert spec and spec.loader
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark = get_session(app_name=os.path.basename(args.program))
    df = mod.main(spark)
    if args.output:
        from dumbo_spark.sources.textio import write_parquet

        write_parquet(df, args.output)
    else:
        df.show(args.show, truncate=False)
    return 0


def cmd_cat(args: argparse.Namespace) -> int:
    """Decode outputs and print key<TAB>value-style lines (cmd.py cat)."""
    from dumbo_spark.session import get_session

    spark = get_session("dumbo_spark_cat")
    p = args.path
    if p.endswith(".tb"):
        from dumbo_spark.sources.typedbytes import read_typedbytes

        df = read_typedbytes(spark, p)
    elif p.endswith(".json") or p.endswith(".jsonl"):
        df = spark.read.json(p)
    elif p.endswith(".csv") or p.endswith(".tsv"):
        df = spark.read.option("sep", "\t" if p.endswith(".tsv") else ",").csv(p)
    elif p.endswith(".txt"):
        df = spark.read.text(p)
    elif p.endswith(".orc"):
        df = spark.read.orc(p)
    else:
        df = spark.read.parquet(p)
    for row in df.limit(args.n).collect():
        print("\t".join("" if v is None else str(v) for v in row))
    return 0


def cmd_ls(args: argparse.Namespace) -> int:
    from pyarrow import fs as pafs

    filesystem, path = _fs_for(args.path)
    infos = filesystem.get_file_info(pafs.FileSelector(path, allow_not_found=True))
    for i in sorted(infos, key=lambda i: i.path):
        kind = "d" if i.type == pafs.FileType.Directory else "-"
        print(f"{kind} {i.size or 0:>12} {i.path}")
    return 0


def cmd_exists(args: argparse.Namespace) -> int:
    from pyarrow import fs as pafs

    filesystem, path = _fs_for(args.path)
    info = filesystem.get_file_info(path)
    found = info.type != pafs.FileType.NotFound
    print("exists" if found else "missing")
    return 0 if found else 1


def cmd_rm(args: argparse.Namespace) -> int:
    from pyarrow import fs as pafs

    filesystem, path = _fs_for(args.path)
    info = filesystem.get_file_info(path)
    if info.type == pafs.FileType.Directory:
        filesystem.delete_dir(path)
    elif info.type != pafs.FileType.NotFound:
        filesystem.delete_file(path)
    return 0


def cmd_put(args: argparse.Namespace) -> int:
    from pyarrow import fs as pafs

    dst_fs, dst = _fs_for(args.dst)
    with open(args.src, "rb") as f, dst_fs.open_output_stream(dst) as out:
        out.write(f.read())
    return 0


def cmd_get(args: argparse.Namespace) -> int:
    src_fs, src = _fs_for(args.src)
    with src_fs.open_input_stream(src) as f, open(args.dst, "wb") as out:
        out.write(f.read())
    return 0


def cmd_convert(args: argparse.Namespace) -> int:
    """encodepipe/decodepipe successor: convert between formats."""
    from dumbo_spark.session import get_session
    from dumbo_spark.sources import textio

    spark = get_session("dumbo_spark_convert")
    src = args.src
    if src.endswith(".tb"):
        from dumbo_spark.sources.typedbytes import read_typedbytes

        df = read_typedbytes(spark, src, schema=args.tb_schema)
    elif src.endswith((".json", ".jsonl")):
        df = textio.read_jsonl(spark, src)
    elif src.endswith(".txt"):
        df = textio.read_text(spark, src)
    elif src.endswith(".csv"):
        df = textio.read_csv(spark, src)
    elif src.endswith(".orc"):
        df = textio.read_orc(spark, src)
    else:
        df = textio.read_parquet(spark, src)
    if args.to == "parquet":
        textio.write_parquet(df, args.dst)
    elif args.to == "jsonl":
        textio.write_jsonl(df, args.dst)
    elif args.to == "tsv":
        textio.write_tsv(df, args.dst)
    elif args.to == "orc":
        textio.write_orc(df, args.dst)
    else:
        raise SystemExit(f"unknown target format: {args.to}")
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Small-file compaction (sources/textio.py::compact_parquet)."""
    from dumbo_spark.session import get_session
    from dumbo_spark.sources import textio

    spark = get_session("dumbo_spark_compact")
    sort_by = args.sort_by.split(",") if args.sort_by else None
    zorder = None
    if args.zorder:
        cols = args.zorder.split(",")
        if len(cols) != 2:
            raise SystemExit("--zorder takes exactly two comma-separated columns")
        zorder = (cols[0], cols[1])
    n = textio.compact_parquet(
        spark, args.src, args.dst, target_file_mb=args.target_mb,
        sort_within_by=sort_by, zorder_by=zorder,
    )
    print(f"compacted {args.src} -> {args.dst} ({n} files)")
    return 0


def cmd_sort(args: argparse.Namespace) -> int:
    """Total-order export (sources/bucketed.py::write_range_sorted)."""
    from dumbo_spark.session import get_session
    from dumbo_spark.sources.bucketed import write_range_sorted

    spark = get_session("dumbo_spark_sort")
    if args.src == args.dst:
        raise SystemExit("sort: dst must differ from src")
    write_range_sorted(
        spark.read.parquet(args.src), args.key, args.partitions, args.dst
    )
    print(f"range-sorted {args.src} -> {args.dst} on {args.key}")
    return 0


def cmd_plan(args: argparse.Namespace) -> int:
    """Physical-plan audit for a registered query (plans/explain.py) —
    the operator-facing view of what tests/test_plans.py asserts:
    shuffle count, join strategies, pushdown, Python boundaries."""
    from dumbo_spark.plans.explain import physical_summary
    from dumbo_spark.registry import QUERIES
    from dumbo_spark.session import get_session

    if args.query not in QUERIES:
        raise SystemExit(
            f"unknown query {args.query!r}; choose from: {', '.join(sorted(QUERIES))}"
        )
    spark = get_session("dumbo_spark_plan")
    df = QUERIES[args.query].fn(spark, args.sf_dir)
    s = physical_summary(df)
    for k in (
        "exchanges",
        "broadcast_joins",
        "sortmerge_joins",
        "wholestage_codegen_spans",
        "python_evals",
        "pushed_filters",
        "take_ordered",
        "cartesian_products",
        "bnl_joins",
        "unpart_windows",
    ):
        print(f"{k}: {'unknown' if s[k] is None else s[k]}")
    if args.verbose:
        print(s["plan"])
    return 0


def cmd_profile(args: argparse.Namespace) -> int:
    """Time registered queries through ``profiling.measure()``: median
    and per-run seconds, and the Spark jobs and stages of the last run."""
    from dumbo_spark.profiling import measure, warm_up
    from dumbo_spark.registry import QUERIES
    from dumbo_spark.session import get_session

    unknown = [n for n in args.queries if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown query: {', '.join(unknown)}")
    if args.runs < 1:
        raise SystemExit("--runs must be at least 1")
    spark = get_session("dumbo_spark_profile")
    warm_up(spark)
    print(f"{'query':38s} {'median':>7s} {'runs':>24s} {'jobs':>5s} {'stages':>6s}")
    for name in args.queries:
        m = measure(spark, QUERIES[name].fn, args.sf_dir, args.runs)
        runs = "/".join(f"{s:.2f}" for s in m.samples)
        print(f"{name:38s} {m.median:7.2f} {runs:>24s} {m.jobs:5d} {m.stages:6d}")
    return 0


def cmd_dq(args: argparse.Namespace) -> int:
    """Data-quality expectation report over a fixture directory
    (operators/dq.py) — the admission gate as a CLI: prints one line
    per rule, exit code 1 if any rule has violations (CI-friendly)."""
    from dumbo_spark.operators.dq import dq_expectations
    from dumbo_spark.session import get_session
    from dumbo_spark.sources.catalog import load_table

    spark = get_session("dumbo_spark_dq")
    rows = dq_expectations(
        load_table(spark, args.sf_dir, "orders"),
        load_table(spark, args.sf_dir, "customer"),
        load_table(spark, args.sf_dir, "lineitem"),
    ).collect()
    bad = 0
    for r in rows:
        print(f"{r['rule']}: {r['n_violations']}")
        bad += r["n_violations"]
    return 1 if bad else 0


def cmd_warmup(args: argparse.Namespace) -> int:
    """Build the driver JVM's class-data-sharing archive ahead of the
    first session (session.get_session): print its path, size and build
    seconds, or why it is off. Off is not an error — sessions then use
    the plain JVM start-up."""
    from dumbo_spark.session import prepare_archive

    archive = prepare_archive()
    if archive.path is None:
        print(archive.note)
        return 0
    print(f"archive: {archive.path}")
    print(f"size_bytes: {os.path.getsize(archive.path)}")
    print("build_s: " + ("0 (already built)" if archive.build_s is None
                         else f"{archive.build_s:.1f}"))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dumbo-spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="run a user program (main(spark) -> DataFrame)")
    r.add_argument("program")
    r.add_argument("--output", default=None)
    r.add_argument("--show", type=int, default=20)
    r.set_defaults(fn=cmd_run)

    c = sub.add_parser("cat", help="decode and print a dataset")
    c.add_argument("path")
    c.add_argument("-n", type=int, default=100)
    c.set_defaults(fn=cmd_cat)

    for name, fn, nargs in [
        ("ls", cmd_ls, ["path"]),
        ("exists", cmd_exists, ["path"]),
        ("rm", cmd_rm, ["path"]),
    ]:
        s = sub.add_parser(name)
        for a in nargs:
            s.add_argument(a)
        s.set_defaults(fn=fn)

    pu = sub.add_parser("put", help="copy local file to a filesystem URI")
    pu.add_argument("src")
    pu.add_argument("dst")
    pu.set_defaults(fn=cmd_put)

    g = sub.add_parser("get", help="copy a filesystem URI to a local file")
    g.add_argument("src")
    g.add_argument("dst")
    g.set_defaults(fn=cmd_get)

    cv = sub.add_parser("convert", help="convert between formats")
    cv.add_argument("src")
    cv.add_argument("dst")
    cv.add_argument(
        "--to", required=True, choices=["parquet", "jsonl", "tsv", "orc"]
    )
    cv.add_argument(
        "--tb-schema",
        default="key string, value string",
        help="target types for .tb sources (two fields: key, value)",
    )
    cv.set_defaults(fn=cmd_convert)

    cp = sub.add_parser("compact", help="rewrite a parquet dataset into ~target-MB files")
    cp.add_argument("src")
    cp.add_argument("dst")
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument("--sort-by", default=None,
                    help="comma-separated columns to sortWithinPartitions "
                         "(tightens parquet min/max stats)")
    cp.add_argument("--zorder", default=None,
                    help="TWO comma-separated columns: cluster files along "
                         "their Morton curve so predicates on either column "
                         "prune files (OPTIMIZE ZORDER)")
    cp.set_defaults(fn=cmd_compact)

    so = sub.add_parser(
        "sort", help="rewrite a parquet dataset globally range-sorted on a key"
    )
    so.add_argument("src")
    so.add_argument("dst")
    so.add_argument("key")
    so.add_argument("--partitions", type=int, default=32)
    so.set_defaults(fn=cmd_sort)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    pl = sub.add_parser("plan", help="physical-plan audit for a registered query")
    pl.add_argument("query")
    pl.add_argument("--sf-dir", default=sf_dir)
    pl.add_argument("--verbose", action="store_true",
                    help="also print the full formatted physical plan")
    pl.set_defaults(fn=cmd_plan)

    pr = sub.add_parser(
        "profile", help="time registered queries; count their Spark jobs and stages"
    )
    pr.add_argument("queries", nargs="+", metavar="query")
    pr.add_argument("--sf-dir", default=sf_dir)
    pr.add_argument("--runs", type=int, default=3)
    pr.set_defaults(fn=cmd_profile)

    dqp = sub.add_parser(
        "dq", help="data-quality expectation report (exit 1 on violations)"
    )
    dqp.add_argument("sf_dir")
    dqp.set_defaults(fn=cmd_dq)

    wu = sub.add_parser(
        "warmup", help="build the JVM class-data-sharing archive that "
                       "shortens session start-up"
    )
    wu.set_defaults(fn=cmd_warmup)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
