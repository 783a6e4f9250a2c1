"""The driver JVM's cold-start class archive (``cds``): how it is keyed,
published and refused, and that every failure is a plain start.

Each session here runs in a subprocess with its own cache
(``XDG_CACHE_HOME``) and never touches ``$SPARK_HOME/conf``. The
module's one archive comes from two concurrent first launches, of which
exactly one may dump it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import time

import pytest
from pyspark.find_spark_home import _find_spark_home

from spark_streaming_test_spark import cds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAST_LINE = "cds-session: done"

# Builds get_spark, runs a query and prints what the launch chose as one
# JSON line, then its last line. With a barrier directory it then waits
# for <barrier>/go, so that two sessions overlap.
_SESSION = textwrap.dedent(f"""
    import json, os, sys, time
    sys.path.insert(0, {REPO!r})
    from spark_streaming_test_spark.session import get_spark
    spark = get_spark("cds-test")
    jvm = spark._jvm.java.lang.System
    print(json.dumps({{
        "opts": spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions", ""),
        "conf_dir": jvm.getenv("SPARK_CONF_DIR"),
        "probe": spark.conf.get("spark.graft.cdsprobe", None),
        "classpath": jvm.getProperty("java.class.path"),
        "rows": spark.sql("SELECT 1 AS x").collect()[0].x,
    }}))
    print({LAST_LINE!r}, flush=True)
    if len(sys.argv) > 1:
        open(os.path.join(sys.argv[1], str(os.getpid())), "w").close()
        deadline = time.monotonic() + 120
        while not os.path.exists(os.path.join(sys.argv[1], "go")):
            assert time.monotonic() < deadline, "barrier timed out"
            time.sleep(0.1)
""")


def _env(cache, conf_dir=None) -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="1")
    env.pop("SPARK_CONF_DIR", None)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    return env


def _start(cache, *args, conf_dir=None) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _SESSION, *map(str, args)], env=_env(cache, conf_dir),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _finish(proc: subprocess.Popen) -> tuple[dict, str, str]:
    """The session's JSON report, stdout and stderr, once it exited 0."""
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    lines = out.splitlines()
    report = json.loads(lines[lines.index(LAST_LINE) - 1])
    assert report["rows"] == 1
    return report, out, err


def _run(cache, conf_dir=None) -> tuple[dict, str, str]:
    return _finish(_start(cache, conf_dir=conf_dir))


def _files(cache, suffix) -> list[str]:
    d = os.path.join(cache, "spark-graft", "cds")
    return sorted(n for n in os.listdir(d) if n.endswith(suffix)) if os.path.isdir(d) else []


@pytest.fixture(scope="module")
def first_launches(tmp_path_factory):
    """Two sessions launched together on an empty cache, both alive
    until both reported: ``(cache, [(report, stdout, stderr), ...])``."""
    cache = tmp_path_factory.mktemp("cds-cache")
    barrier = tmp_path_factory.mktemp("cds-barrier")
    procs = [_start(cache, barrier) for _ in range(2)]
    deadline = time.monotonic() + 240
    while len(os.listdir(barrier)) < 2:
        assert all(p.poll() is None for p in procs), [p.communicate() for p in procs]
        assert time.monotonic() < deadline, "sessions did not start"
        time.sleep(0.2)
    (barrier / "go").touch()
    return cache, [_finish(p) for p in procs]


@pytest.fixture
def plain_env(monkeypatch, tmp_path):
    """This process's environment as a launch with a fresh cache sees it."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", *cds.CLASSPATH_ENV):
        monkeypatch.delenv(var, raising=False)
    return tmp_path / "cache"


def test_archive_key_is_a_pure_function_of_jvm_and_classpath(tmp_path):
    libjvm = tmp_path / "libjvm.so"
    libjvm.write_bytes(b"jvm")
    (tmp_path / "link.so").symlink_to(libjvm)
    jars = []
    for name in ("a.jar", "b.jar"):
        (tmp_path / name).write_bytes(b"jar " + name.encode())
        jars.append(str(tmp_path / name))
    conf = str(tmp_path / "conf")
    key = cds.archive_key(str(libjvm), conf, jars)
    assert key == cds.archive_key(str(libjvm), conf, list(jars))
    assert key == cds.archive_key(str(tmp_path / "link.so"), conf, jars)
    assert key != cds.archive_key(str(libjvm), conf, jars[::-1])
    assert key != cds.archive_key(str(libjvm), conf + "2", jars)
    assert key != cds.archive_key(str(libjvm), conf, jars[:1])
    st = os.stat(jars[0])
    os.utime(jars[0], ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    touched = cds.archive_key(str(libjvm), conf, jars)
    assert touched != key
    libjvm.write_bytes(b"jvm 2")
    assert cds.archive_key(str(libjvm), conf, jars) != touched


def test_plan_swaps_only_a_template_conf_dir(plain_env, tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("spark.x 1\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    launch = cds.plan(_find_spark_home())
    try:
        assert launch.conf_dir == os.path.join(cds.cache_dir(), "conf")
        assert launch.java_options.startswith(f"-XX:ArchiveClassesAtExit={launch.dump.part} ")
        # The lock is held: a second launch starts plain.
        assert cds.plan(_find_spark_home()) is None
    finally:
        launch.dump.release()
    (conf / "spark-defaults.conf").write_text("spark.x 1\n")
    assert cds.plan(_find_spark_home()) is None
    monkeypatch.delenv("SPARK_CONF_DIR")
    monkeypatch.setenv("HADOOP_CONF_DIR", str(conf))
    assert cds.plan(_find_spark_home()) is None


def test_conf_dir_with_settings_is_not_hidden(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.cdsprobe 42\n")
    report, _, _ = _run(tmp_path / "cache", conf_dir=conf)
    assert report["opts"] == ""
    assert report["conf_dir"] == str(conf)
    assert report["probe"] == "42"
    assert not _files(tmp_path / "cache", ".jsa")


def test_concurrent_first_launches_dump_once(first_launches):
    cache, runs = first_launches
    opts = sorted(report["opts"] for report, _, _ in runs)
    assert opts[0] == "", opts
    assert opts[1].startswith("-XX:ArchiveClassesAtExit="), opts
    assert len(_files(cache, ".jsa")) == 1
    assert _files(cache, ".part") == []


def test_dumping_session_prints_nothing_after_its_last_line(first_launches):
    """The JVM's ~500 dump warnings at exit go to stderr: a bench's final
    stdout line stays last."""
    _, runs = first_launches
    (_, out, err), = [r for r in runs if r[0]["opts"]]
    assert out.splitlines()[-1] == LAST_LINE
    assert "[warning][cds" not in out
    assert "[warning][cds" in err


def test_truncated_archive_is_never_published(first_launches, plain_env):
    src_cache, runs = first_launches
    (report, _, _), = [r for r in runs if r[0]["opts"]]
    archive = os.path.join(src_cache, "spark-graft", "cds", _files(src_cache, ".jsa")[0])
    launch = cds.plan(_find_spark_home())
    dump = launch.dump
    # Checked with the class path it was dumped for, the whole archive
    # maps and the truncated one does not.
    dump.classpath = report["classpath"]
    assert dump.check(archive)
    with open(archive, "rb") as f:
        head = f.read(os.path.getsize(archive) // 2)
    with open(dump.part, "wb") as f:
        f.write(head)
    dump.publish()
    assert _files(plain_env, ".jsa") == []
    assert _files(plain_env, ".part") == []
    # The next session starts plain while another launch holds the lock.
    fd = cds._lock(cds.cache_dir())
    try:
        report, _, _ = _run(plain_env)
    finally:
        os.close(fd)
    assert report["opts"] == ""


def test_stale_archive_starts_normally(first_launches, plain_env):
    """An archive dumped for another class path (here: another cache's
    conf dir) is refused with a warning on stderr, not stdout."""
    src_cache, _ = first_launches
    archive = os.path.join(src_cache, "spark-graft", "cds", _files(src_cache, ".jsa")[0])
    dump = cds.plan(_find_spark_home()).dump
    dump.release()
    shutil.copyfile(archive, dump.archive)
    report, out, err = _run(plain_env)
    assert report["opts"].startswith(f"-XX:SharedArchiveFile={dump.archive} ")
    assert out.splitlines()[-1] == LAST_LINE
    assert "[warning]" not in out
    assert "Unable to use shared archive" in err
