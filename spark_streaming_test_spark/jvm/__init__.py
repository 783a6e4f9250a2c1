"""JVM-side operators, compiled once per source, Spark release and JDK.

``EdgeTrigger.java`` is the edge-trigger state machine that
``streaming.pipeline.edge_trigger_stream`` runs as a
``flatMapGroupsWithState``: a JVM function keeps Python workers off the
alert stream's per-batch path.

``edge_trigger_jar`` compiles it with the JDK's ``javac`` (``cds.java_home``)
against ``$SPARK_HOME/jars/*`` and caches the jar beside the class
archive, in ``$XDG_CACHE_HOME/spark-graft/jvm/<key>.jar``, keyed by the
source's sha256, the Spark release and the JDK release. It is published
like the archive: under the cache's lock ``javac``'s classes are zipped
to ``<key>.<pid>.part``, which is renamed to ``<key>.jar`` only once it
opens as a jar holding the class, so a truncated jar is never used.
``session.get_spark`` passes the jar in ``spark.jars``, which adds it to
the driver's application class loader, not to the JVM class path that
the archive is keyed by.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import tempfile
import warnings
import zipfile

from spark_streaming_test_spark import cds

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "EdgeTrigger.java")
CLASS_ENTRY = "sparkgraft/EdgeTrigger.class"
JAVAC_TIMEOUT_S = 300


def spark_release(spark_home: str) -> str:
    """Scala and Spark version of the jars in ``spark_home``, from the
    spark-core jar's name (``2.13-4.1.2``); empty when there is none."""
    names = glob.glob(os.path.join(spark_home, "jars", "spark-core_*.jar"))
    return os.path.basename(names[0])[len("spark-core_"):-len(".jar")] if names else ""


def jar_key(source: bytes, spark: str, java: str) -> str:
    """Name of the jar for one source text, Spark release and JDK release."""
    h = hashlib.sha256(source)
    h.update(f"\0{spark}\0{java}".encode())
    return h.hexdigest()[:24]


def is_jar(path: str) -> bool:
    """Whether ``path`` is a whole jar that holds the compiled class."""
    try:
        with zipfile.ZipFile(path) as z:
            return CLASS_ENTRY in z.namelist() and z.testzip() is None
    except (OSError, zipfile.BadZipFile):
        return False


def compile_jar(javac: str, spark_home: str, out: str) -> None:
    """Compile ``SOURCE`` and zip its classes to ``out``; on a compile
    error warn with ``javac``'s output and write nothing."""
    with tempfile.TemporaryDirectory(dir=os.path.dirname(out)) as classes:
        cmd = [javac, "-nowarn", "-d", classes,
               "-cp", os.path.join(spark_home, "jars", "*"), SOURCE]
        try:
            done = subprocess.run(cmd, capture_output=True, text=True,
                                  timeout=JAVAC_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            warnings.warn(f"javac failed: {e}")
            return
        if done.returncode != 0:
            warnings.warn(f"javac failed:\n{done.stderr[-3000:]}")
            return
        with zipfile.ZipFile(out, "w") as z:
            for root, _, files in os.walk(classes):
                for name in files:
                    path = os.path.join(root, name)
                    z.write(path, os.path.relpath(path, classes))


def edge_trigger_jar(spark_home: str) -> str | None:
    """Path of the cached jar, compiled first when it is missing; None
    when there is neither a cached jar nor a ``javac``, or the cache is
    unusable. Concurrent first calls wait on the cache's lock, so one
    compiles and the others reuse its jar."""
    home = cds.java_home()
    if home is None:
        return None
    with open(SOURCE, "rb") as f:
        key = jar_key(f.read(), spark_release(spark_home), cds.java_version(home))
    cache = cds.cache_dir("jvm")
    jar = os.path.join(cache, f"{key}.jar")
    if os.path.exists(jar):
        return jar
    javac = os.path.join(home, "bin", "javac")
    if not os.access(javac, os.X_OK):
        return None
    try:
        os.makedirs(cache, exist_ok=True)
        fd = cds._lock(cache, wait=True)
        try:
            # Published while this call waited for the lock.
            if not os.path.exists(jar):
                part = os.path.join(cache, f"{key}.{os.getpid()}.part")
                compile_jar(javac, spark_home, part)
                cds.install(part, jar, is_jar)
        finally:
            os.close(fd)
    except OSError:
        return None
    return jar if os.path.exists(jar) else None
