"""``dumbo.run()`` — the reference's script entry point, re-expressed.

A classic dumbo program ends with::

    if __name__ == "__main__":
        import dumbo
        dumbo.run(mapper, reducer, combiner=reducer)

and is launched ``dumbo start prog.py -input X -output Y [-param k=v]
[-numreducetasks 0] [-overwrite yes]`` (dumbo/core.py:~520 ``main`` /
``run``; option surface dumbo/cmd.py:~60 ``start``). The same program
ports to this engine by changing the import::

    if __name__ == "__main__":
        from dumbo_spark.compat import run
        run(mapper, reducer, combiner=reducer)

launched ``python prog.py -input X -output Y``. Differences, all
deliberate (SURVEY §7.2):

- no Hadoop submit / argv re-entry — one process, Spark ships closures
- output is parquet (typedbytes successor); ``-inputformat text``
  reads lines with byte-offset keys like dumbo's text input
- ``-hadoop`` / backend selection is gone: ``local[*]`` by default,
  cluster via spark-submit of the same script
"""

from __future__ import annotations

import argparse
from collections.abc import Iterable

from dumbo_spark.compat.mapred import MapFn, Params, RedFn, map_only, map_reduce


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="dumbo_spark program runner")
    p.add_argument("-input", dest="inputs", action="append", required=True,
                   help="input path (repeatable, like dumbo's -input)")
    p.add_argument("-output", dest="output", required=True)
    p.add_argument("-param", dest="params", action="append", default=[],
                   metavar="K=V")
    p.add_argument("-numreducetasks", dest="numreducetasks", type=int, default=None)
    p.add_argument("-inputformat", dest="inputformat", default="auto",
                   choices=["auto", "text", "jsonl", "parquet"])
    p.add_argument("-overwrite", dest="overwrite", default="yes")
    return p.parse_args(argv)


def parse_params(pairs: Iterable[str]) -> Params:
    """-param k=v list → Params (dumbo/backends/common.py Params)."""
    out = Params()
    for kv in pairs:
        k, _, v = kv.partition("=")
        out[k] = v
    return out


def _with_params(fn, params: Params):
    """A class-based mapper, reducer or combiner (dumbo's ``MapRedBase``
    style: a class whose instances are called per record) is
    instantiated with ``self.params`` already set, as dumbo does; plain
    callables pass through. The subclass carries the params, so they
    are readable in ``__init__`` too and ship inside the pickled task."""
    if isinstance(fn, type):
        return type(fn.__name__, (fn,), {"params": params})()
    return fn


def run(
    mapper: MapFn,
    reducer: RedFn | None = None,
    combiner: RedFn | None = None,
    output_schema: str = "key string, value double",
    argv: list[str] | None = None,
):
    """Execute one map[/reduce] pass over -input paths, write -output.

    ``-param k=v`` pairs reach class-based mappers, reducers and
    combiners as ``self.params`` (a ``Params``); closures capture their
    own configuration instead.

    Returns the result DataFrame (also written as parquet), so tests
    can call ``run(..., argv=[...])`` directly — the successor of
    running examples on dumbo's unix backend.
    """
    from pyspark.sql import functions as F

    from dumbo_spark.session import get_session
    from dumbo_spark.sources import textio

    args = _parse_args(argv)
    params = parse_params(args.params)
    mapper, reducer, combiner = (
        _with_params(fn, params) for fn in (mapper, reducer, combiner)
    )
    spark = get_session("dumbo_spark_run")

    frames = []
    for path in args.inputs:
        fmt = args.inputformat
        if fmt == "auto":
            if path.endswith((".txt", ".text")):
                fmt = "text"
            elif path.endswith((".json", ".jsonl")):
                fmt = "jsonl"
            else:
                fmt = "parquet"
        if fmt == "text":
            df = textio.read_text(spark, path, with_offsets=True).select(
                F.col("offset").cast("string").alias("key"),
                F.col("line").alias("value"),
            )
        elif fmt == "jsonl":
            df = textio.read_jsonl(spark, path)
        else:
            df = textio.read_parquet(spark, path)
        frames.append(df)
    src = frames[0]
    for f in frames[1:]:
        src = src.unionByName(f)  # repeated -input concatenates (P7)

    map_only_job = reducer is None or args.numreducetasks == 0
    if map_only_job:
        out = map_only(src, mapper, output_schema)
    else:
        out = map_reduce(
            src, mapper, reducer, combiner=combiner, output_schema=output_schema
        )
    mode = "overwrite" if args.overwrite == "yes" else "errorifexists"
    out.write.mode(mode).parquet(args.output)
    return out
