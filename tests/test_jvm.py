"""The engine's jar (``jvm``): how it is keyed, compiled once, published
and refused; that its checkpoint manager sets file modes as Hadoop does;
and that a session without it still starts and streams.

Every build test runs on its own cache (``XDG_CACHE_HOME``) and a JDK
whose ``javac`` is a shim that logs each launch before running the real
one; the checkpoint-manager tests use the session's jar.
"""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile

import pytest
from pyspark.find_spark_home import _find_spark_home

from spark_streaming_test_spark import cds, jvm
from spark_streaming_test_spark.session import FS_CHECKPOINT_MANAGER, get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = _find_spark_home()

_BUILD = textwrap.dedent(f"""
    import sys
    sys.path.insert(0, {REPO!r})
    from spark_streaming_test_spark import jvm
    print(jvm.engine_jar({SPARK_HOME!r}))
""")

_NO_JAVAC_SESSION = textwrap.dedent(f"""
    import os, sys
    from datetime import datetime
    sys.path.insert(0, {REPO!r})
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from spark_streaming_test_spark.session import get_spark
    from spark_streaming_test_spark.streaming.pipeline import (
        edge_trigger_stream, packet_stream_from_dir)
    KEY = "spark.sql.streaming.checkpointFileManagerClass"
    src, chk = sys.argv[1:3]
    spark = get_spark("no-javac")
    print("rows", spark.sql("SELECT 1 AS x").collect()[0].x)
    print("manager", spark.conf.get(KEY))
    os.makedirs(src)
    totals = packet_stream_from_dir(spark, src).select(
        "nif", F.col("bytes").alias("total_bytes"))
    try:
        edge_trigger_stream(totals, max_limit=150.0)
    except RuntimeError as e:
        print("error", e)
    seen = []
    q = (packet_stream_from_dir(spark, src).writeStream
         .foreachBatch(lambda df, _bid: seen.extend(r.nif for r in df.collect()))
         .option("checkpointLocation", chk).start())
    for i in range(2):
        pq.write_table(pa.table({{
            "nif": [f"N{{i}}"], "bytes": [1.0],
            "ts": pa.array([datetime(2024, 1, 1, 0, i)], type=pa.timestamp("us")),
        }}), f"{{src}}/b{{i}}.parquet")
        q.processAllAvailable()
    print("batches", q.lastProgress["batchId"] + 1, *seen)
    q.stop()
    print("manager again", get_spark("no-javac").conf.get(KEY))
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


def _sources() -> list[bytes]:
    return [open(path, "rb").read() for path in jvm.SOURCES]


def test_jar_key_is_a_pure_function_of_source_spark_and_jdk():
    src = _sources()
    key = jvm.jar_key(src, "2.13-4.1.2", "17.0.20")
    assert key == jvm.jar_key([bytes(s) for s in src], "2.13-4.1.2", "17.0.20")
    assert key != jvm.jar_key(src[:-1] + [src[-1] + b"\n"], "2.13-4.1.2", "17.0.20")
    assert key != jvm.jar_key(src, "2.13-4.1.3", "17.0.20")
    assert key != jvm.jar_key(src, "2.13-4.1.2", "17.0.21")
    assert jvm.spark_release(SPARK_HOME)


def test_jar_holds_every_source_and_editing_any_one_gives_a_new_key():
    names = [os.path.basename(p) for p in jvm.SOURCES]
    assert names == ["EdgeTrigger.java", "LocalCheckpointFileManager.java"]
    assert jvm.CLASS_ENTRIES == [
        "sparkgraft/EdgeTrigger.class", "sparkgraft/LocalCheckpointFileManager.class"]
    src = _sources()
    keys = {jvm.jar_key(src, "2.13-4.1.2", "17.0.20")}
    for i in range(len(src)):
        edited = list(src)
        edited[i] += b"// edited\n"
        keys.add(jvm.jar_key(edited, "2.13-4.1.2", "17.0.20"))
    # Swapping two texts is an edit too: the key follows the name order.
    keys.add(jvm.jar_key(src[::-1], "2.13-4.1.2", "17.0.20"))
    assert len(keys) == len(src) + 2


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
    # One javac compiled every source: is_jar asks for each one's class.
    assert jvm.is_jar(path)
    assert _launches(log) == 1
    assert _files(cache, ".jar") == [os.path.basename(path)]
    assert _files(cache, ".part") == []


def test_cache_hit_launches_no_javac_and_edited_source_gets_a_new_key(
        jdk, tmp_path, monkeypatch):
    log, cache = jdk
    jar = jvm.engine_jar(SPARK_HOME)
    assert jar is not None and _launches(log) == 1
    assert jvm.engine_jar(SPARK_HOME) == jar
    assert _launches(log) == 1
    edited = tmp_path / "EdgeTrigger.java"
    edited.write_text(open(jvm.SOURCES[0]).read() + "// edited\n")
    monkeypatch.setattr(jvm, "SOURCES", [str(edited), *jvm.SOURCES[1:]])
    rebuilt = jvm.engine_jar(SPARK_HOME)
    assert rebuilt is not None and rebuilt != jar
    assert _launches(log) == 2
    assert _files(cache, ".jar") == [os.path.basename(rebuilt)]


def test_truncated_jar_is_never_published(jdk, monkeypatch):
    """A build whose output is cut short is dropped, and a leftover part
    of a dead build is neither read nor kept."""
    log, cache = jdk
    jar = jvm.engine_jar(SPARK_HOME)
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
    assert jvm.engine_jar(SPARK_HOME) is None
    assert _files(cache, ".jar") == []
    assert _files(cache, ".part") == [os.path.basename(stale)]
    monkeypatch.setattr(jvm, "compile_jar", compile_jar)
    assert jvm.engine_jar(SPARK_HOME) == jar
    assert jvm.is_jar(jar)
    assert _files(cache, ".part") == []


def test_jar_without_any_one_class_is_refused(jdk, tmp_path):
    """A jar is whole only with every source's class: one that lacks
    any of them is not a jar to publish or reuse."""
    jar = jvm.engine_jar(SPARK_HOME)
    with zipfile.ZipFile(jar) as z:
        entries = {n: z.read(n) for n in z.namelist()}
    for missing in jvm.CLASS_ENTRIES:
        partial = tmp_path / f"without-{os.path.basename(missing)}.jar"
        with zipfile.ZipFile(partial, "w") as z:
            for name, data in entries.items():
                if name != missing:
                    z.writestr(name, data)
        assert not jvm.is_jar(str(partial)), missing


def test_session_without_javac_starts_and_edge_trigger_names_javac(tmp_path):
    """No javac and no cached jar: get_spark starts, and only
    edge_trigger_stream fails, with an error that names javac. The
    session checkpoints through Hadoop's FileSystem-based manager, on
    its launching and a later call alike, and a checkpointed stateless
    stream runs."""
    env = dict(os.environ, JAVA_HOME=str(_jdk(tmp_path, javac=False)),
               XDG_CACHE_HOME=str(tmp_path / "cache"), SPARK_GRAFT_CPUS="1")
    env.pop("SPARK_CONF_DIR", None)
    # The class archive is someone else's to dump: this launch starts plain.
    archives = os.path.join(env["XDG_CACHE_HOME"], "spark-graft", "cds")
    os.makedirs(archives)
    fd = cds._lock(archives)
    try:
        proc = subprocess.run(
            [sys.executable, "-c", _NO_JAVAC_SESSION, str(tmp_path / "in"),
             str(tmp_path / "chk")],
            env=env, capture_output=True, text=True, timeout=300,
        )
    finally:
        os.close(fd)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert "rows 1" in lines, proc.stdout
    (error,) = [line for line in lines if line.startswith("error ")]
    assert "javac" in error
    assert f"manager {FS_CHECKPOINT_MANAGER}" in lines, proc.stdout
    assert f"manager again {FS_CHECKPOINT_MANAGER}" in lines, proc.stdout
    assert "batches 2 N0 N1" in lines, proc.stdout
    assert os.listdir(tmp_path / "chk" / "commits") and not [
        n for n in os.listdir(tmp_path / "chk" / "commits") if n.endswith(".tmp")]
    assert not os.path.exists(os.path.join(env["XDG_CACHE_HOME"], "spark-graft", "jvm"))


def test_second_get_spark_keeps_the_checkpoint_manager(spark):
    """builder.config re-applies SQL confs to a running session, so a
    later, non-launching get_spark must name the class the launch did."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == jvm.CHECKPOINT_MANAGER
    assert jvm.loaded(spark._jvm)
    assert get_spark("tests").conf.get(key) == jvm.CHECKPOINT_MANAGER


def test_raw_set_permission_reads_back_every_mode(spark, tmp_path):
    """Raw sets rwx-only modes itself and reads back exactly what Hadoop's
    forked chmod sets; a sticky mode takes Hadoop's own path (NIO's
    PosixFilePermission has no sticky bit, so reading 01777 back shows
    it), and the 0700 after it shows that Raw's own path clears it."""
    j = spark._jvm
    raw = getattr(j.sparkgraft, "LocalCheckpointFileManager$Raw")()
    raw.initialize(j.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    f = tmp_path / "f"
    f.write_text("x")
    d = tmp_path / "d"
    d.mkdir()
    for path, mode in ((f, 0o644), (f, 0o600), (d, 0o755), (d, 0o1777), (d, 0o700)):
        perm = j.org.apache.hadoop.fs.permission.FsPermission(f"{mode:04o}")
        assert perm.toShort() == mode
        raw.setPermission(j.org.apache.hadoop.fs.Path(f"file://{path}"), perm)
        assert stat.S_IMODE(os.stat(path).st_mode) == mode, (path, oct(mode))
