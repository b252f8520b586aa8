"""Compat-veneer tests — the successor of dumbo's own test style:
mapredtest golden-I/O drivers (dumbo/mapredtest.py) and the
examples/-based integration runs (tests/testexamples.py on the unix
backend, fixtures like brian.txt)."""

from __future__ import annotations

from dumbo_spark.compat import (
    Counters,
    MapDriver,
    MapReduceDriver,
    Params,
    ReduceDriver,
)

LINES = [
    ("0", "the quick brown fox"),
    ("1", "the lazy dog"),
    ("2", "the quick dog"),
]


# mapper/reducer factories: the returned closures are defined inside a
# function scope, so cloudpickle ships them by value to executors (a
# module-level def in a test module pickles by reference, which executor
# workers cannot import)
def wc_mapper():
    def mapper(k, v):
        for w in v.split():
            yield (w, 1.0)

    return mapper


def sum_reducer():
    def reducer(k, vals):
        yield (k, float(sum(vals)))

    return reducer


_wc_mapper = wc_mapper()
_sum_reducer = sum_reducer()


def test_map_driver_golden(spark):
    (
        MapDriver(spark, _wc_mapper)
        .with_input([("0", "a b a")])
        .with_output([("a", 1.0), ("b", 1.0), ("a", 1.0)])
        .run()
    )


def test_reduce_driver_golden(spark):
    (
        ReduceDriver(spark, _sum_reducer)
        .with_input([("a", 1.0), ("a", 2.0), ("b", 3.0)])
        .with_output([("a", 3.0), ("b", 3.0)])
        .run()
    )


def test_mapreduce_driver_wordcount(spark):
    expected = [
        ("the", 3.0),
        ("quick", 2.0),
        ("dog", 2.0),
        ("brown", 1.0),
        ("fox", 1.0),
        ("lazy", 1.0),
    ]
    (
        MapReduceDriver(spark, _wc_mapper, _sum_reducer, combiner=_sum_reducer)
        .with_input(LINES)
        .with_output(expected)
        .run()
    )


def test_combiner_equivalence(spark):
    """Combiner must not change results (dumbo's contract: combiner is
    an optimization, P4)."""
    with_c = (
        MapReduceDriver(spark, _wc_mapper, _sum_reducer, combiner=_sum_reducer)
        .with_input(LINES)
        .run()
    )
    without_c = MapReduceDriver(spark, _wc_mapper, _sum_reducer).with_input(LINES).run()
    assert sorted(with_c) == sorted(without_c)


def test_params_closure(spark):
    """-param surface (P11): params travel inside the closure."""
    params = Params(stopword="the")

    def mapper(k, v):
        for w in v.split():
            if w != params.stopword:
                yield (w, 1.0)

    got = MapDriver(spark, mapper).with_input([("0", "the quick the fox")]).run()
    assert sorted(got) == [("fox", 1.0), ("quick", 1.0)]


def test_counters_accumulate(spark):
    """P10: counters → accumulators, readable after the action."""
    counters = Counters(spark)
    bad = counters["bad_records"]

    def mapper(k, v):
        for w in v.split():
            if w.isdigit():
                bad.add(1)
            else:
                yield (w, 1.0)

    got = MapDriver(spark, mapper).with_input([("0", "ok 123 fine 456")]).run()
    assert sorted(w for w, _ in got) == ["fine", "ok"]
    assert counters.value("bad_records") == 2


def test_observed_metrics_ride_the_action(spark, sf_dir):
    """compat.counters.observed: metrics computed on the SAME pass as
    the action — the Spark-native upgrade of dumbo's counters."""
    from pyspark.sql import functions as F

    from dumbo_spark.compat.counters import observed
    from dumbo_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    df, obs = observed(
        li,
        "quality",
        F.count("*").alias("rows"),
        F.sum((F.col("l_discount") > 0.05).cast("long")).alias("high_discount"),
    )
    n = df.count()  # the action the metrics ride
    got = obs.get
    assert got["rows"] == n
    assert 0 < got["high_discount"] < n


def test_run_param_reaches_class_mapper(spark, tmp_path):
    """-param k=v reaches a class-based mapper as self.params, as
    dumbo's MapRedBase receives it: the stopword it names is dropped."""
    from dumbo_spark.compat import run

    src = tmp_path / "in.txt"
    src.write_text("the quick the fox\n")

    class Mapper:
        def __call__(self, key, value):
            for w in value.split():
                if w != self.params.get("stopword"):
                    yield (w, 1.0)

    def words(*extra: str) -> list[str]:
        out = str(tmp_path / f"out{len(extra)}")
        argv = ["-input", str(src), "-output", out, "-numreducetasks", "0", *extra]
        return sorted(r.key for r in run(Mapper, argv=argv).collect())

    assert words() == ["fox", "quick", "the", "the"]
    assert words("-param", "stopword=the") == ["fox", "quick"]
