"""JVM-side classes of the engine, compiled once per source set, Spark
release and JDK into one jar.

- ``EdgeTrigger.java`` is the edge-trigger state machine that
  ``streaming.pipeline.edge_trigger_stream`` runs as a
  ``flatMapGroupsWithState``: a JVM function keeps Python workers off the
  alert stream's per-batch path.
- ``LocalCheckpointFileManager.java`` is the session's streaming
  checkpoint manager (``CHECKPOINT_MANAGER``): Hadoop's FileSystem-based
  one, except that on ``file:`` it sets each checkpoint file's mode with
  one ``chmod(2)`` where Hadoop without libhadoop forks a ``chmod``.

``engine_jar`` compiles every ``*.java`` here with the JDK's ``javac``
(``cds.java_home``) against ``$SPARK_HOME/jars/*`` and caches the jar
beside the class archive, in ``$XDG_CACHE_HOME/spark-graft/jvm/<key>.jar``,
keyed by the sources' sha256 (sorted by name), the Spark release and the
JDK release. It is published like the archive: under the cache's lock
``javac``'s classes are zipped to ``<key>.<pid>.part``, which is renamed
to ``<key>.jar`` only once it opens as a jar holding every class, so a
truncated jar is never used. ``session.get_spark`` passes the jar in
``spark.jars``, which adds it to the driver's application class loader,
not to the JVM class path that the archive is keyed by.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import tempfile
import warnings
import zipfile

from py4j.java_gateway import JavaClass

from spark_streaming_test_spark import cds

SOURCES = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "*.java")))
PACKAGE = "sparkgraft"
# The jar entry of each source's top-level class.
CLASS_ENTRIES = [f"{PACKAGE}/{os.path.basename(s)[:-len('.java')]}.class" for s in SOURCES]
CHECKPOINT_MANAGER = f"{PACKAGE}.LocalCheckpointFileManager"
JAVAC_TIMEOUT_S = 300


def spark_release(spark_home: str) -> str:
    """Scala and Spark version of the jars in ``spark_home``, from the
    spark-core jar's name (``2.13-4.1.2``); empty when there is none."""
    names = glob.glob(os.path.join(spark_home, "jars", "spark-core_*.jar"))
    return os.path.basename(names[0])[len("spark-core_"):-len(".jar")] if names else ""


def jar_key(sources: list[bytes], spark: str, java: str) -> str:
    """Name of the jar for the source texts (in ``SOURCES`` order), Spark
    release and JDK release."""
    h = hashlib.sha256()
    for source in sources:
        h.update(hashlib.sha256(source).digest())
    h.update(f"\0{spark}\0{java}".encode())
    return h.hexdigest()[:24]


def is_jar(path: str) -> bool:
    """Whether ``path`` is a whole jar that holds every source's class."""
    try:
        with zipfile.ZipFile(path) as z:
            return set(CLASS_ENTRIES) <= set(z.namelist()) and z.testzip() is None
    except (OSError, zipfile.BadZipFile):
        return False


def loaded(gateway_jvm) -> bool:
    """Whether the running driver JVM loads the jar's classes: only a JVM
    launched with the jar in ``spark.jars`` does."""
    return isinstance(getattr(gateway_jvm, PACKAGE).LocalCheckpointFileManager, JavaClass)


def compile_jar(javac: str, spark_home: str, out: str) -> None:
    """Compile ``SOURCES`` and zip its classes to ``out``; on a compile
    error warn with ``javac``'s output and write nothing."""
    with tempfile.TemporaryDirectory(dir=os.path.dirname(out)) as classes:
        cmd = [javac, "-nowarn", "-d", classes,
               "-cp", os.path.join(spark_home, "jars", "*"), *SOURCES]
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


def engine_jar(spark_home: str) -> str | None:
    """Path of the cached jar, compiled first when it is missing; None
    when there is neither a cached jar nor a ``javac``, or the cache is
    unusable. Concurrent first calls wait on the cache's lock, so one
    compiles and the others reuse its jar."""
    home = cds.java_home()
    if home is None:
        return None
    sources = []
    for path in SOURCES:
        with open(path, "rb") as f:
            sources.append(f.read())
    key = jar_key(sources, spark_release(spark_home), cds.java_version(home))
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
