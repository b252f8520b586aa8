"""Lifecycle of the driver JVM's class-data-sharing archive (the
start-up path of ``session.get_session``).

Every test points ``XDG_CACHE_HOME`` at its own ``tmp_path``, so none
reads or writes the user's real archive. Only the two damaged-archive
tests start a JVM, each in a fresh subprocess; the real build is paid
once, by the ``warmup`` CLI test.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError

from dumbo_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """A private cache dir; the archive code may not build in it."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)

    def no_build(base, cpus):
        raise AssertionError("the archive code tried to build")

    monkeypatch.setattr(session, "_build_archive", no_build)
    return tmp_path / "xdg" / "dumbo_spark" / "cds"


def _install(root, jars: dict[str, int], release: str) -> tuple[str, str]:
    """A fake SPARK_HOME with sized jars and a fake JDK with a release file."""
    spark_home, jdk = root / "spark", root / "jdk"
    (spark_home / "jars").mkdir(parents=True)
    for name, size in jars.items():
        (spark_home / "jars" / name).write_bytes(b"x" * size)
    (jdk / "bin").mkdir(parents=True)
    (jdk / "release").write_text(release)
    return str(spark_home), str(jdk / "bin" / "java")


def test_key_changes_with_the_jar_list_and_the_jdk(tmp_path):
    home, java = _install(tmp_path, {"a.jar": 3, "b.jar": 5}, 'JAVA_VERSION="17.0.20"')
    key = session._archive_key(home, java)
    assert session._archive_key(home, java) == key

    (tmp_path / "spark" / "jars" / "b.jar").write_bytes(b"x" * 6)
    resized = session._archive_key(home, java)
    (tmp_path / "spark" / "jars" / "c.jar").write_bytes(b"x")
    added = session._archive_key(home, java)
    (tmp_path / "jdk" / "release").write_text('JAVA_VERSION="17.0.21"')
    new_jdk = session._archive_key(home, java)
    moved_jdk = session._archive_key(home, str(tmp_path / "other" / "bin" / "java"))
    assert len({key, resized, added, new_jdk, moved_jdk}) == 5


def test_real_conf_dir_turns_the_archive_off(cache, tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.executor.cores 1\n")
    (conf / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    archive = session.prepare_archive(2)
    assert archive.path is None
    assert "spark-defaults.conf" in archive.note
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert not cache.exists()


def test_template_only_conf_dir_goes_on_to_build(cache, tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    built = []
    monkeypatch.setattr(session, "_build_archive",
                        lambda base, cpus: built.append(base) or session._Archive(None, ""))
    session.prepare_archive(2)
    assert len(built) == 1 and os.path.dirname(built[0]) == str(cache)


@pytest.mark.parametrize("jvm", ["gateway", "gateway_port"])
def test_a_running_jvm_makes_the_archive_code_a_noop(cache, monkeypatch, jvm):
    monkeypatch.setattr(SparkContext, "_gateway", object() if jvm == "gateway" else None)
    if jvm == "gateway_port":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")

    def no_archive(cpus=None):
        raise AssertionError("the archive code ran beside a live JVM")

    monkeypatch.setattr(session, "prepare_archive", no_archive)
    archive = session._startup_archive(2)
    assert archive.path is None and "JVM" in archive.note
    assert not cache.exists()


def test_failed_marker_stops_a_rebuild(cache):
    base, why = session._archive_base()
    assert base is not None, why
    with open(f"{base}.failed", "w") as fh:
        fh.write("an earlier build failed")
    archive = session.prepare_archive(2)
    assert archive.path is None and f"{base}.failed" in archive.note


def test_failed_build_leaves_a_marker_and_no_partial_file(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setattr(session.sys, "executable", "false")  # the child exits 1
    archive = session.prepare_archive(2)
    base, _ = session._archive_base()
    assert archive.path is None and "build failed" in archive.note
    assert sorted(os.listdir(os.path.dirname(base))) == sorted(
        ["conf", os.path.basename(base) + ".failed"])


def test_partial_archives_of_live_and_dead_builders(cache):
    """A dead builder's half-written file is swept; a live builder's
    makes this session start without the archive instead of racing it."""
    base, _ = session._archive_base()
    stale = f"{base}.{_dead_pid()}.tmp"
    live = f"{base}.{os.getppid()}.tmp"
    for path in (stale, live):
        open(path, "w").close()
    archive = session.prepare_archive(2)
    assert archive.path is None and "building" in archive.note
    assert not os.path.exists(stale) and os.path.exists(live)


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_a_jvm_that_fails_with_the_archive_is_retried_without_it(cache, monkeypatch):
    """The launch is retried once without the archive, the archive is
    deleted, SPARK_CONF_DIR is restored either way, and the note names
    the crash log the JVM wrote into the cache."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("SPARK_CONF_DIR", "/nonexistent/conf")
    cache.mkdir(parents=True)
    archive = cache / "k.jsa"
    archive.write_bytes(b"archive")
    launches = []

    class Builder:
        def __init__(self, java_options: str) -> None:
            self.java_options = java_options

        def getOrCreate(self):
            launches.append((self.java_options, os.environ["SPARK_CONF_DIR"]))
            if "SharedArchiveFile" in self.java_options:
                (cache / "hs_err_pid7.log").write_text("SIGBUS")
                raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED",
                                          messageParameters={})
            return "session"

    monkeypatch.setattr(session, "_builder",
                        lambda app, cpus, java_options="": Builder(java_options))
    spark, note = session._launch("t", 2, session._Archive(str(archive), "used"))
    assert spark == "session" and "did not start" in note
    assert f"crash log: {cache / 'hs_err_pid7.log'}" in note
    assert not archive.exists()
    error_file = f"-XX:ErrorFile={cache / 'hs_err_pid%p.log'}"
    assert launches == [(f"-XX:SharedArchiveFile={archive} {error_file}", str(cache / "conf")),
                        ("", "/nonexistent/conf")]
    assert os.environ["SPARK_CONF_DIR"] == "/nonexistent/conf"


def _fresh_session(xdg: str, java_options: str = "") -> subprocess.CompletedProcess:
    """Start a session in a new process against the cache under ``xdg``,
    working in ``xdg`` (so a crash log left in the working dir stays
    inside the test's tmp dir); its stdout ends with the start-up log line and
    ``range(10).count()``."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYSPARK_GATEWAY_") and k != "SPARK_CONF_DIR"}
    env["XDG_CACHE_HOME"] = xdg
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, env.get("PYTHONPATH")]))
    if java_options:
        env["JAVA_TOOL_OPTIONS"] = f"{env.get('JAVA_TOOL_OPTIONS', '')} {java_options}".strip()
    code = ("import logging, sys\n"
            "log = logging.getLogger('dumbo_spark.session')\n"
            "log.setLevel(logging.INFO)\n"
            "log.addHandler(logging.StreamHandler(sys.stdout))\n"
            "from dumbo_spark.session import get_session\n"
            "print(get_session('cds_test', cpus=1).range(10).count())\n")
    return subprocess.run([sys.executable, "-c", code], env=env, cwd=xdg,
                          capture_output=True, text=True, timeout=300)


def test_cli_warmup_builds_an_archive_the_jvm_maps(tmp_path):
    """``warmup`` builds the archive into the cache, and a JVM that must
    map it (-Xshare:on fails the launch otherwise) starts from it: the
    class path the archive was dumped with matches the one sessions use."""
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path))
    env.pop("SPARK_CONF_DIR", None)
    r = subprocess.run([sys.executable, "-m", "dumbo_spark.cli", "warmup"], env=env,
                       cwd=REPO, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    out = dict(line.split(": ", 1) for line in r.stdout.splitlines())
    path = out["archive"]
    assert path.startswith(str(tmp_path)) and path.endswith(".jsa"), r.stdout
    assert os.path.getsize(path) == int(out["size_bytes"]) > 0
    assert float(out["build_s"]) > 0

    s = _fresh_session(str(tmp_path), "-Xshare:on")
    assert s.returncode == 0, s.stderr[-2000:]
    assert s.stdout.splitlines()[-2:] == [f"cds archive used: {path}", "10"]


@pytest.mark.parametrize("damage", ["garbage", "truncated"])
def test_damaged_archive_degrades_to_the_plain_start_up(tmp_path, monkeypatch, damage):
    """A garbage archive, and a real one cut in half, each still give a
    working session, and neither is kept: garbage is recognised by its
    header; a truncated archive keeps a valid header, and JDK 17 then
    dies mapping it (SIGBUS, -Xshare:auto does not save it), so the
    launch is retried without it. The next session rebuilds. The dying
    JVM's crash log goes to the cache, not the working directory."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    base, why = session._archive_base()
    assert base is not None, why
    if damage == "garbage":
        data = os.urandom(1 << 16)
    else:  # a real dynamic archive of a bare JVM start, in a fraction of a second
        real = str(tmp_path / "real.jsa")
        subprocess.run([session._java(), f"-XX:ArchiveClassesAtExit={real}", "-version"],
                       capture_output=True, check=True, timeout=120)
        with open(real, "rb") as fh:
            data = fh.read()
        data = data[: len(data) // 2]
    with open(f"{base}.jsa", "wb") as fh:
        fh.write(data)
    s = _fresh_session(str(tmp_path))
    assert s.returncode == 0, s.stderr[-2000:]
    note, count = s.stdout.splitlines()[-2:]
    assert count == "10"
    assert note.endswith("deleted it"), note
    assert not os.path.exists(f"{base}.jsa")
    assert not list(tmp_path.glob("hs_err_pid*.log"))
    if damage == "truncated":
        assert "crash log: " + os.path.dirname(base) in note, note
