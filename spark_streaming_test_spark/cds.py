"""Cold-start class archive for the driver JVM (JDK dynamic AppCDS).

Every launch of the driver JVM loads, parses and verifies the same ~30k
Spark classes from the jars, about half of ``get_spark``'s wall.
``session.get_spark`` instead launches it with a dynamic class-data
sharing archive (``-XX:SharedArchiveFile``), whose classes are mapped
from one file already parsed and verified.

The archive lives in ``$XDG_CACHE_HOME/spark-graft/cds/`` (``~/.cache``
when the variable is unset), is keyed by the JVM and the class path
(``archive_key``) and is never written in place:

- A launch that finds no ``<key>.jsa`` takes the cache's ``flock`` and
  launches with ``-XX:ArchiveClassesAtExit=<key>.<pid>.part``. At exit
  this process stops the JVM, which writes the archive there, checks it
  with a ``-Xshare:on`` JVM and only then renames it to ``<key>.jsa``,
  pruning every other archive. A truncated archive must never be
  published: mapping one kills the JVM with SIGBUS, where a stale or
  foreign one only draws a warning.
- A launch that finds neither an archive nor a free lock starts plain.
  The lock is released when its holder dies, so it never goes stale.

CDS refuses non-empty directories on the class path, and Spark's
launcher puts the conf dir first on it. The launch therefore points
``SPARK_CONF_DIR`` at an empty directory in the cache, which is only
done when the real conf dir holds nothing but ``*.template`` files, so a
deployment's ``spark-defaults.conf`` is never hidden. Any class-path
entry the key does not cover, an unknown JVM or an unusable cache means
a plain start, never a failure.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
from collections.abc import Callable
from typing import NamedTuple

# The JDK the archive flags were measured on; 13-16 have them too.
MIN_JAVA = 17
# Environment through which Spark's launcher adds class-path entries that
# the key does not cover.
CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                 "SPARK_CLASSPATH", "SPARK_PREPEND_CLASSES", "SPARK_TESTING")
# CDS warnings go to stderr: by default the JVM prints them on stdout, the
# dump ~500 lines of them at exit, after a bench's final stdout line.
LOG_OPTIONS = "-Xlog:cds*=off -Xlog:cds*=warning:stderr"
# How long the exit hook waits for the dumping JVM and for the check.
EXIT_TIMEOUT_S = 300


def cache_dir(kind: str = "cds") -> str:
    """``$XDG_CACHE_HOME/spark-graft/<kind>``: ``cds`` for the archives,
    ``jvm`` for the compiled operator jars."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-graft", kind)


def archive_key(libjvm: str, conf_dir: str, jars: list[str]) -> str:
    """Name of the archive for one JVM and class path: a hash of the
    ``libjvm.so`` real path, size and mtime, the conf dir, and each jar's
    path, size and mtime, in class-path order."""
    h = hashlib.sha256()
    for path, stat in [(os.path.realpath(libjvm), True), (conf_dir, False)] + [
            (jar, True) for jar in jars]:
        h.update(path.encode())
        if stat:
            st = os.stat(path)
            h.update(f"\0{st.st_size}\0{st.st_mtime_ns}".encode())
        h.update(b"\n")
    return h.hexdigest()[:24]


def java_home() -> str | None:
    """The JDK that Spark's launcher runs: ``JAVA_HOME``, else the
    ``java`` on ``PATH``."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def java_version(home: str) -> str:
    """``JAVA_VERSION`` of the JDK at ``home`` from its ``release`` file;
    empty when unknown."""
    try:
        with open(os.path.join(home, "release")) as f:
            m = re.search(r'^JAVA_VERSION="([^"]*)"', f.read(), re.M)
    except OSError:
        return ""
    return m.group(1) if m else ""


def java_major(home: str) -> int:
    """Feature release of the JDK at ``home``; 0 when unknown."""
    m = re.match(r"(?:1\.)?(\d+)", java_version(home))
    return int(m.group(1)) if m else 0


def holds_settings(conf_dir: str) -> bool:
    """Whether ``conf_dir`` holds anything but ``*.template`` files."""
    try:
        return any(not n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return False


class Launch(NamedTuple):
    """How to launch the driver JVM: the options for
    ``spark.driver.defaultJavaOptions`` (not ``extraJavaOptions``, which a
    ``--driver-java-options`` in ``PYSPARK_SUBMIT_ARGS`` overrides) and
    the ``SPARK_CONF_DIR`` to launch with. ``dump`` is set when this
    launch writes the archive."""

    java_options: str
    conf_dir: str
    dump: Dump | None = None


class Dump:
    """One launch that writes the archive: holds the cache's lock from
    before the JVM starts until the archive is published or dropped."""

    def __init__(self, cache: str, key: str, java: str, lock_fd: int):
        self.cache = cache
        self.java = java
        self.lock_fd = lock_fd
        self.pid = os.getpid()
        self.part = os.path.join(cache, f"{key}.{self.pid}.part")
        self.archive = os.path.join(cache, f"{key}.jsa")
        self.proc = None
        self.classpath = ""

    def started(self, spark) -> None:
        """Record the JVM the gateway launched and publish at exit. The
        check runs with the JVM's own class path, not the launcher's
        ``jars/*``: the archive records the order the launcher chose."""
        from pyspark import SparkContext

        self.classpath = spark._jvm.java.lang.System.getProperty("java.class.path")
        self.proc = getattr(SparkContext._gateway, "proc", None)
        atexit.register(self.publish)

    def publish(self) -> None:
        """Stop the JVM so that it writes the archive, check it and
        rename it into place; otherwise drop it. Then release the lock."""
        if os.getpid() != self.pid:  # a forked child inherited the hook
            return
        try:
            self._stop_jvm()
            install(self.part, self.archive, self.check)
        finally:
            self.release()

    def check(self, archive: str) -> bool:
        """Whether a JVM maps ``archive`` for this class path; a
        truncated or foreign archive exits non-zero (or crashes)."""
        cmd = [self.java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
               "-XX:-CreateCoredumpOnCrash", "-XX:ErrorFile=/dev/null",
               *LOG_OPTIONS.split(), "-cp", self.classpath, "-version"]
        try:
            done = subprocess.run(cmd, stdout=subprocess.DEVNULL,
                                  stderr=subprocess.DEVNULL, timeout=EXIT_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired):
            return False
        return done.returncode == 0

    def release(self) -> None:
        try:
            os.remove(self.part)
        except FileNotFoundError:
            pass
        if self.lock_fd >= 0:
            os.close(self.lock_fd)
            self.lock_fd = -1

    def _stop_jvm(self) -> None:
        """Close the gateway's stdin, on which the JVM exits as it does when
        this process ends, and wait for it, dump included. No-op once it
        exited."""
        if self.proc is None or self.proc.poll() is not None:
            return
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=EXIT_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def install(part: str, final: str, valid: Callable[[str], bool]) -> None:
    """Rename ``part`` to ``final`` when ``valid(part)``, then prune the
    cache; remove ``part`` otherwise. Called with the cache's lock held."""
    try:
        if os.path.exists(part) and valid(part):
            os.replace(part, final)
            prune(os.path.dirname(final), keep=final)
    finally:
        try:
            os.remove(part)
        except FileNotFoundError:
            pass


def prune(cache: str, keep: str) -> None:
    """Remove every file of ``keep``'s kind (its suffix) and every
    leftover part but ``keep``; called with the lock held, so no other
    writer is under way."""
    suffix = os.path.splitext(keep)[1]
    for path in glob.glob(os.path.join(cache, f"*{suffix}")) + glob.glob(
            os.path.join(cache, "*.part")):
        if path != keep:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass


def _lock(cache: str, wait: bool = False) -> int | None:
    """The cache's lock; without ``wait``, None when another process
    holds it."""
    fd = os.open(os.path.join(cache, "dump.lock"), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | (0 if wait else fcntl.LOCK_NB))
    except BlockingIOError:
        os.close(fd)
        return None
    return fd


def plan(spark_home: str) -> Launch | None:
    """How to launch the driver JVM with the archive, or None to launch
    it plain."""
    if any(os.environ.get(v) for v in CLASSPATH_ENV):
        return None
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "--driver-class-path" in submit or "extraClassPath" in submit:
        return None
    home = java_home()
    if home is None or java_major(home) < MIN_JAVA:
        return None
    libjvm = os.path.join(home, "lib", "server", "libjvm.so")
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    cache = cache_dir()
    if not os.path.exists(libjvm) or not jars or re.search(r"[\s'\"\\]", cache):
        return None
    conf = os.path.join(cache, "conf")
    try:
        if holds_settings(os.environ.get("SPARK_CONF_DIR")
                          or os.path.join(spark_home, "conf")):
            return None
        os.makedirs(conf, exist_ok=True)
        if os.listdir(conf):
            return None
        key = archive_key(libjvm, conf, jars)
        archive = os.path.join(cache, f"{key}.jsa")
        if not os.path.exists(archive):
            fd = _lock(cache)
            if fd is None:
                return None
            # Published between the check and the lock.
            if not os.path.exists(archive):
                dump = Dump(cache, key, os.path.join(home, "bin", "java"), fd)
                return Launch(f"-XX:ArchiveClassesAtExit={dump.part} {LOG_OPTIONS}",
                              conf, dump)
            os.close(fd)
    except OSError:
        return None
    return Launch(f"-XX:SharedArchiveFile={archive} {LOG_OPTIONS}", conf)


def launches_jvm() -> bool:
    """Whether the next ``getOrCreate`` launches the driver JVM: no
    gateway yet, and not running under ``spark-submit``, whose JVM is
    already up."""
    from pyspark import SparkContext

    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


def get_or_create(builder):
    """``builder.getOrCreate()``, launching the driver JVM with the
    archive when this call is the one that launches it."""
    from pyspark.find_spark_home import _find_spark_home

    launch = plan(_find_spark_home()) if launches_jvm() else None
    if launch is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.config("spark.driver.defaultJavaOptions",
                               launch.java_options).getOrCreate()
    except BaseException:
        if launch.dump is not None:
            launch.dump.release()
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if launch.dump is not None:
        launch.dump.started(spark)
    return spark
