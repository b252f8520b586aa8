"""SparkSession construction tuned for this engine.

Dumbo's equivalent is backend selection (dumbo/backends/__init__.py
``get_backend``: -hadoop => StreamingBackend else UnixBackend). Here a
single builder covers local test mode and cluster mode; scale posture
comes from AQE + Arrow + sane shuffle-partition defaults rather than
hand-set reducer counts (dumbo's -numreducetasks).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import sys
import tempfile
import time
import zipfile
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Runtime SQL confs every query assumes. Applied both at session build
# time and defensively per-catalog-load (the driver harness hands us a
# session we didn't build).
RUNTIME_CONFS = {
    # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    # parquet reader rejects; read as long and convert explicitly
    # (sources/catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic calendar math, matches DuckDB's naive timestamps
    "spark.sql.session.timeZone": "UTC",
    # parquet TIMESTAMP with isAdjustedToUTC=false (the round-3+
    # fixtures) reads natively as session-tz TimestampType instead of
    # TIMESTAMP_NTZ when NTZ inference is disabled. With the session tz
    # pinned to UTC above this is value-identical to a post-read cast,
    # but it keeps ts a plain scan column with native predicate pushdown
    # (row-group pruning). catalog.py keeps a cast fallback for sessions
    # where this conf wasn't applied before first read.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


# A multi-hundred-query sweep in ONE JVM generates thousands of
# whole-stage-codegen classes; at the default ~240m
# ReservedCodeCacheSize the JIT code cache fills mid-sweep, compilation
# is DISABLED, and every later query runs interpreted — measured as a
# 3-10x cliff on the compute-heavy tail of the closing bench (473s vs
# 205s total; the same tail re-run in a fresh JVM was flat). Spark itself
# warns and asks for exactly this pair of flags. Harmless for short
# sessions.
_DRIVER_JAVA_OPTIONS = "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing"

def default_cpus() -> int:
    """Cores a local session uses: ``SPARK_GRAFT_CPUS``, else the CPUs
    this process may run on (its affinity mask, not the host's count)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _builder(app_name: str, cpus: int, java_options: str = "") -> SparkSession.Builder:
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # off by default (headless test/bench runs); tools/scale_class.py
        # sets SPARK_GRAFT_UI=true to read per-stage shuffle metrics from
        # the UI's REST API (the stable public surface for stage metrics
        # — AppStatusStore's scala signatures aren't py4j-callable)
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.extraJavaOptions",
                f"{_DRIVER_JAVA_OPTIONS} {java_options}".strip())
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder


def get_session(app_name: str = "dumbo_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    local[...] for tests/bench; on a real cluster the master comes from
    spark-submit and this builder only contributes confs. All confs here
    are scale-posture, not correctness: AQE re-plans skewed shuffles at
    runtime, Arrow makes the Python boundary columnar, shuffle
    partitions sized for the local core count instead of the 200
    default.

    Start-up: most of a fresh session's set-up is the driver JVM loading
    and verifying classes, so a new JVM starts from a dynamic
    class-data-sharing archive (JEP 350) kept in
    ``$XDG_CACHE_HOME/dumbo_spark/cds/`` (default ``~/.cache/...``),
    keyed by the JDK and the ``$SPARK_HOME/jars`` list. The first
    session without one builds it in a child process (a fixed warm-up,
    about a minute on 4 cores, once per JDK and Spark install;
    ``dumbo-spark warmup`` does it ahead of time). The archive is used only when the
    Spark conf dir holds nothing but ``*.template`` files: the JDK will
    not archive with a non-empty directory on the class path, so the
    JVM is launched with ``SPARK_CONF_DIR`` pointing at an empty
    directory. A session started inside a running JVM, an unwritable
    cache, a failed build or a damaged archive all fall back to the
    plain start-up. One INFO line on this module's logger says which
    path was taken.
    """
    cpus = cpus or default_cpus()
    spark, startup = _launch(app_name, cpus, _startup_archive(cpus))
    _log.info(startup)
    spark.sparkContext.setLogLevel("WARN")
    return spark


# ── Class-data-sharing archive ──────────────────────────────────────────


class _Archive(NamedTuple):
    path: str | None  # the archive to start the JVM with; None = off
    note: str  # the start-up line
    build_s: float | None = None  # set when this call built it


def _cache_dir() -> str:
    # never TMPDIR: one-shot harnesses delete theirs after every run
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "dumbo_spark", "cds")


def _java() -> str:
    """The java binary spark-submit launches (bin/spark-class's rule)."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java") or "java"
    return os.path.realpath(java)


def _archive_key(spark_home: str, java: str) -> str:
    """Hash of the JDK identity (binary path + its ``release`` file) and
    the name and size of every jar Spark puts on the class path."""
    h = hashlib.sha256(java.encode())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as fh:
            h.update(fh.read())
    except OSError:
        pass
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        h.update(f"\n{name}:{os.path.getsize(os.path.join(jars, name))}".encode())
    return h.hexdigest()[:16]


def _archive_base() -> tuple[str | None, str]:
    """(cache path of the archive without extension, "") when the
    archive may be used, else (None, why not)."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf):
        real = sorted(f for f in os.listdir(conf) if not f.endswith(".template"))
        if real:
            return None, f"Spark conf dir {conf} holds {real[0]}"
    cache = _cache_dir()
    os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
    if not os.access(cache, os.W_OK):
        return None, f"cache dir {cache} is not writable"
    return os.path.join(cache, _archive_key(spark_home, _java())), ""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _sweep_partials(base: str) -> bool:
    """Delete half-written archives of dead builders; True when a live
    process is building this key right now."""
    cache, key = os.path.split(base)
    building = False
    for name in os.listdir(cache):
        parts = name.split(".")
        if len(parts) != 3 or parts[2] != "tmp" or not parts[1].isdigit():
            continue
        if _pid_alive(int(parts[1])):
            building = building or parts[0] == key
        else:
            _remove(os.path.join(cache, name))
    return building


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def prepare_archive(cpus: int | None = None) -> _Archive:
    """The archive for the current JDK and Spark install: the cached
    one, or one built now in a child process; ``path`` is None (with the
    reason in ``note``) when the archive is off. A file-system error
    turns it off too, never fails the caller."""
    try:
        return _prepare_archive(cpus)
    except OSError as exc:
        return _Archive(None, f"cds archive off: {exc}")


def _prepare_archive(cpus: int | None) -> _Archive:
    base, why = _archive_base()
    if base is None:
        return _Archive(None, f"cds archive off: {why}")
    path = f"{base}.jsa"
    if os.path.exists(path):
        with open(path, "rb") as fh:
            magic = int.from_bytes(fh.read(4), sys.byteorder)
        if magic == _DYNAMIC_ARCHIVE_MAGIC:
            return _Archive(path, f"cds archive used: {path}")
        _remove(path)  # the next session builds a fresh one
        return _Archive(None, f"cds archive off: {path} was not a CDS archive, deleted it")
    if os.path.exists(f"{base}.failed"):
        return _Archive(None, f"cds archive off: an earlier build failed, see {base}.failed")
    if _sweep_partials(base):
        return _Archive(None, "cds archive off: another process is building it")
    return _build_archive(base, cpus or default_cpus())


def _startup_archive(cpus: int) -> _Archive:
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return _Archive(None, "cds archive off: this process already has a JVM")
    return prepare_archive(cpus)


@contextlib.contextmanager
def _empty_conf_dir():
    """Point SPARK_CONF_DIR at the cache's empty conf dir while a JVM
    launches: the JDK refuses to dump an archive with a non-empty
    directory on the class path, and an archive is only accepted when
    the class path it was dumped with matches."""
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(_cache_dir(), "conf")
    try:
        yield
    finally:
        if before is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = before


def _error_file(cache: str) -> str:
    """JVM option that writes a crash log into the cache, not the caller's cwd."""
    return f"-XX:ErrorFile={os.path.join(cache, 'hs_err_pid%p.log')}"


def _launch(app_name: str, cpus: int, archive: _Archive) -> tuple[SparkSession, str]:
    """Start (or join) the session; with an archive, fall back to a
    plain launch once if the JVM does not come up with it."""
    if archive.path is None:
        return _builder(app_name, cpus).getOrCreate(), archive.note
    cache = os.path.dirname(archive.path)
    started = time.time()
    try:
        with _empty_conf_dir():
            builder = _builder(app_name, cpus,
                               f"-XX:SharedArchiveFile={archive.path} {_error_file(cache)}")
            return builder.getOrCreate(), archive.note
    except PySparkRuntimeError:
        if SparkContext._gateway is not None:  # the JVM is up: not the archive's doing
            raise
    _remove(archive.path)
    crashes = [p for p in glob.glob(os.path.join(cache, "hs_err_pid*.log"))
               if os.path.getmtime(p) >= started]
    crash = f" (crash log: {max(crashes, key=os.path.getmtime)})" if crashes else ""
    note = f"cds archive off: the JVM did not start with {archive.path}{crash}, deleted it"
    return _builder(app_name, cpus).getOrCreate(), note


# A build that has not finished by then is abandoned (and marked failed).
_BUILD_TIMEOUT_S = 600
# First word of a JDK dynamic archive (HotSpot's CDS_DYNAMIC_ARCHIVE_MAGIC).
# A file without it is garbage the JVM would silently ignore. A file that
# keeps it but was cut short can kill the JVM at launch (JDK 17 dies of
# SIGBUS mapping it, -Xshare:auto or not); _launch then retries without.
_DYNAMIC_ARCHIVE_MAGIC = 0xF00BABA8


def _build_archive(base: str, cpus: int) -> _Archive:
    """Dump the archive from a child Python process into a temp name
    and rename it into place, so no session ever opens a partial file.
    A failed build leaves a ``.failed`` marker that stops later retries;
    a successful one deletes archives kept under other keys."""
    tmp = f"{base}.{os.getpid()}.tmp"
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (f"import sys; sys.path.insert(0, {pkg_parent!r}); "
            f"from dumbo_spark import session; session._dump_archive({tmp!r}, {cpus})")
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY_")}
    env["SPARK_CONF_DIR"] = os.path.join(_cache_dir(), "conf")
    started = time.monotonic()
    try:
        proc = subprocess.run([sys.executable, "-c", code], env=env, stdin=subprocess.DEVNULL,
                              stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                              timeout=_BUILD_TIMEOUT_S)
        error = "" if proc.returncode == 0 else (
            f"exit {proc.returncode}\n" + proc.stderr.decode(errors="replace")[-4000:])
    except subprocess.TimeoutExpired:
        error = f"timed out after {_BUILD_TIMEOUT_S}s"
    seconds = time.monotonic() - started
    if not error and not (os.path.exists(tmp) and os.path.getsize(tmp) > 0):
        error = "the JVM exited without writing an archive"
    if error:
        _remove(tmp)
        with open(f"{base}.failed", "w") as fh:
            fh.write(error)
        return _Archive(None, f"cds archive off: the build failed, see {base}.failed")
    path = f"{base}.jsa"
    os.replace(tmp, path)
    cache = os.path.dirname(base)
    for name in os.listdir(cache):
        if name.endswith(".jsa") and os.path.join(cache, name) != path:
            _remove(os.path.join(cache, name))
    return _Archive(path, f"cds archive built in {seconds:.1f}s: {path}", seconds)


def _dump_archive(path: str, cpus: int) -> None:
    """Child side of ``_build_archive``: run a fixed warm-up that loads
    the classes a session and a typical job need, then stop Spark and
    wait for the JVM to write the archive as it exits. After the first
    action the warm-up jobs run side by side (class loading is most of
    their time), which shortens the one-time build."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    spark = _builder("dumbo_spark_cds", cpus, f"-XX:ArchiveClassesAtExit={path} "
                     f"{_error_file(os.path.dirname(path))}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).agg(F.sum("id")).collect()

    def parquet(work: str) -> None:
        out = os.path.join(work, "t.parquet")
        spark.range(100).withColumn("s", F.col("id").cast("string")).write.parquet(out)
        spark.read.parquet(out).filter("id > 5").count()

    def shuffle_join() -> None:
        left = spark.range(1000).withColumn("k", F.col("id") % 10)
        right = spark.range(10).withColumnRenamed("id", "k")
        left.join(right.hint("merge"), "k").groupBy("k").count().collect()

    def arrow() -> None:
        def double(batches):
            for pdf in batches:
                yield pdf * 2

        spark.range(100).toPandas()
        spark.range(100).mapInPandas(double, "id long").collect()

    with tempfile.TemporaryDirectory() as work, ThreadPoolExecutor(3) as pool:
        jobs = [pool.submit(parquet, work), pool.submit(shuffle_join), pool.submit(arrow)]
        for job in jobs:
            job.result()
    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway exits on EOF; the archive is written at exit
    if jvm.wait() != 0:
        raise SystemExit(f"the JVM exited with {jvm.returncode} while writing the archive")


_shipped_apps: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make dumbo_spark importable on executor Python workers.

    UDF closures (compat veneer, multimodal extractors) pickle by
    reference to this package. The PYTHONPATH export in __init__ only
    helps if the package was imported before the JVM started — a host
    application that builds its SparkSession first would still get
    ModuleNotFoundError on workers. addPyFile is ordering-independent:
    it propagates to already-running executors with the next task set.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _shipped_apps:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(), "dumbo_spark_pyfiles.zip")
    tmp = f"{zpath}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    _shipped_apps.add(app_id)


def release_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist EVERY persisted RDD in the session — including
    localCheckpoint blocks, which ``spark.catalog.clearCache()`` does
    NOT touch (it drops cached plans only). The iterative operators
    (connected_components, pagerank, k-core/k-truss) leave their
    per-round label checkpoints pinned until the lazy py4j detach +
    JVM GC get around to them; in a long shared-session sweep those
    blocks accumulate executor memory and inflate later queries
    (measured: an iterative query ran 4x its fresh-process time after
    two others in the same session). Returns the number released.
    Call between queries whose timing or memory should be isolated.

    Under a checkpoint directory it also deletes every reliable pin's
    ``rdd-N`` files there (Spark deletes them only when
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on and the
    frame is garbage-collected).

    Lives here (not dumbo_spark.testing) so bench-only environments
    without duckdb/pandas can import it — it is a runtime utility, not
    an oracle-harness helper (ADVICE r12).
    """
    sc = spark.sparkContext
    jrdds = list(sc._jsc.getPersistentRDDs().values())
    for jrdd in jrdds:
        jrdd.unpersist()
    if sc.getCheckpointDir() is not None:
        from dumbo_spark.operators._checkpoint import _delete_checkpoint_files

        _delete_checkpoint_files(sc, sc.getCheckpointDir() + "/rdd-*")
    return len(jrdds)


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply runtime-settable confs + package shipping to a session we
    didn't build (the driver harness hands us one)."""
    for k, v in RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    _ship_package(spark)
