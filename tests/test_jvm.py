"""The edge-trigger state machine's jar (``jvm``): how it is keyed,
compiled once, published and refused, and that a session without it
still starts.

Every test runs on its own cache (``XDG_CACHE_HOME``) and a JDK whose
``javac`` is a shim that logs each launch before running the real one.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest
from pyspark.find_spark_home import _find_spark_home

from spark_streaming_test_spark import cds, jvm

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = _find_spark_home()

_BUILD = textwrap.dedent(f"""
    import sys
    sys.path.insert(0, {REPO!r})
    from spark_streaming_test_spark import jvm
    print(jvm.edge_trigger_jar({SPARK_HOME!r}))
""")

_NO_JAVAC_SESSION = textwrap.dedent(f"""
    import os, sys
    sys.path.insert(0, {REPO!r})
    from pyspark.sql import functions as F
    from spark_streaming_test_spark.session import get_spark
    from spark_streaming_test_spark.streaming.pipeline import (
        edge_trigger_stream, packet_stream_from_dir)
    spark = get_spark("no-javac")
    print("rows", spark.sql("SELECT 1 AS x").collect()[0].x)
    os.makedirs(sys.argv[1])
    totals = packet_stream_from_dir(spark, sys.argv[1]).select(
        "nif", F.col("bytes").alias("total_bytes"))
    try:
        edge_trigger_stream(totals, max_limit=150.0)
    except RuntimeError as e:
        print("error", e)
""")


def _jdk(root, javac: bool):
    """A JDK home under ``root`` that runs the real JDK's binaries; with
    ``javac`` its ``javac`` logs each launch to ``root/javac.log``."""
    real = cds.java_home()
    if real is None or not os.access(os.path.join(real, "bin", "javac"), os.X_OK):
        pytest.skip("no JDK with javac")
    home = root / "jdk"
    (home / "bin").mkdir(parents=True)
    shutil.copyfile(os.path.join(real, "release"), home / "release")
    (home / "lib").symlink_to(os.path.join(real, "lib"))
    (home / "bin" / "java").symlink_to(os.path.join(real, "bin", "java"))
    if javac:
        shim = home / "bin" / "javac"
        shim.write_text(
            f'#!/bin/sh\necho javac >> "{root / "javac.log"}"\n'
            f'exec "{real}/bin/javac" "$@"\n'
        )
        shim.chmod(0o755)
    return home


@pytest.fixture
def jdk(tmp_path, monkeypatch):
    """``(log, cache)`` with JAVA_HOME on the logging JDK and an empty cache."""
    monkeypatch.setenv("JAVA_HOME", str(_jdk(tmp_path, javac=True)))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return tmp_path / "javac.log", cds.cache_dir("jvm")


def _launches(log) -> int:
    return len(log.read_text().split()) if log.exists() else 0


def _files(cache, suffix) -> list[str]:
    return sorted(n for n in os.listdir(cache) if n.endswith(suffix))


def test_jar_key_is_a_pure_function_of_source_spark_and_jdk():
    src = open(jvm.SOURCE, "rb").read()
    key = jvm.jar_key(src, "2.13-4.1.2", "17.0.20")
    assert key == jvm.jar_key(bytes(src), "2.13-4.1.2", "17.0.20")
    assert key != jvm.jar_key(src + b"\n", "2.13-4.1.2", "17.0.20")
    assert key != jvm.jar_key(src, "2.13-4.1.3", "17.0.20")
    assert key != jvm.jar_key(src, "2.13-4.1.2", "17.0.21")
    assert jvm.spark_release(SPARK_HOME)


def test_concurrent_first_builds_publish_one_jar(jdk):
    log, cache = jdk
    procs = [
        subprocess.Popen([sys.executable, "-c", _BUILD], stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True)
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=300) for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    paths = {out.strip() for out, _ in outs}
    assert len(paths) == 1, outs
    (path,) = paths
    assert jvm.is_jar(path)
    assert _launches(log) == 1
    assert _files(cache, ".jar") == [os.path.basename(path)]
    assert _files(cache, ".part") == []


def test_cache_hit_launches_no_javac_and_edited_source_gets_a_new_key(
        jdk, tmp_path, monkeypatch):
    log, cache = jdk
    jar = jvm.edge_trigger_jar(SPARK_HOME)
    assert jar is not None and _launches(log) == 1
    assert jvm.edge_trigger_jar(SPARK_HOME) == jar
    assert _launches(log) == 1
    edited = tmp_path / "EdgeTrigger.java"
    edited.write_text(open(jvm.SOURCE).read() + "// edited\n")
    monkeypatch.setattr(jvm, "SOURCE", str(edited))
    rebuilt = jvm.edge_trigger_jar(SPARK_HOME)
    assert rebuilt is not None and rebuilt != jar
    assert _launches(log) == 2
    assert _files(cache, ".jar") == [os.path.basename(rebuilt)]


def test_truncated_jar_is_never_published(jdk, monkeypatch):
    """A build whose output is cut short is dropped, and a leftover part
    of a dead build is neither read nor kept."""
    log, cache = jdk
    jar = jvm.edge_trigger_jar(SPARK_HOME)
    whole = open(jar, "rb").read()
    os.remove(jar)
    stale = jar[: -len(".jar")] + ".1.part"
    with open(stale, "wb") as f:
        f.write(whole[: len(whole) // 2])

    def truncated(javac, spark_home, out):
        with open(out, "wb") as f:
            f.write(whole[: len(whole) // 2])

    compile_jar = jvm.compile_jar
    monkeypatch.setattr(jvm, "compile_jar", truncated)
    assert jvm.edge_trigger_jar(SPARK_HOME) is None
    assert _files(cache, ".jar") == []
    assert _files(cache, ".part") == [os.path.basename(stale)]
    monkeypatch.setattr(jvm, "compile_jar", compile_jar)
    assert jvm.edge_trigger_jar(SPARK_HOME) == jar
    assert jvm.is_jar(jar)
    assert _files(cache, ".part") == []


def test_session_without_javac_starts_and_edge_trigger_names_javac(tmp_path):
    """No javac and no cached jar: get_spark starts, and only
    edge_trigger_stream fails, with an error that names javac."""
    env = dict(os.environ, JAVA_HOME=str(_jdk(tmp_path, javac=False)),
               XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_GRAFT_CPUS="1")
    env.pop("SPARK_CONF_DIR", None)
    # The class archive is someone else's to dump: this launch starts plain.
    archives = os.path.join(env["XDG_CACHE_HOME"], "spark-graft", "cds")
    os.makedirs(archives)
    fd = cds._lock(archives)
    try:
        proc = subprocess.run(
            [sys.executable, "-c", _NO_JAVAC_SESSION, str(tmp_path / "in")],
            env=env, capture_output=True, text=True, timeout=300,
        )
    finally:
        os.close(fd)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert "rows 1" in lines, proc.stdout
    (error,) = [line for line in lines if line.startswith("error ")]
    assert "javac" in error
    assert not os.path.exists(os.path.join(env["XDG_CACHE_HOME"], "spark-graft", "jvm"))
