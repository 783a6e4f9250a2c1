"""SparkSession factory tuned for this engine.

Local mode is the test harness; the conf is written for a real cluster:
AQE handles skew/coalescing at 100 TB, shuffle partitions are sized by
``SPARK_GRAFT_CPUS`` locally (a cluster deployment overrides via
``--conf``), Arrow is on for every Pandas-UDF exchange, and the session
timezone is pinned UTC so event-time semantics are deployment-independent
(and match the DuckDB oracle, which is UTC-naive).
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from spark_streaming_test_spark import cds, jvm
from spark_streaming_test_spark.iterate import clear_memo


# The directory that holds this package. get_spark puts it on the Python
# workers' path: the worker daemon and executor-side imports of the
# package's pandas UDFs must not depend on the JVM's cwd.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Hadoop's FileSystem-based streaming checkpoint manager: the session's
# when the engine's jar (and so jvm.CHECKPOINT_MANAGER) is not loaded.
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def add_worker_path(path: str) -> None:
    """Prepend ``path`` to ``PYTHONPATH`` unless it is there already.

    Python workers inherit ``PYTHONPATH`` from the JVM, which copies
    this process's environment when the gateway launches, so this only
    reaches workers when it runs before the first session."""
    parts = os.environ.get("PYTHONPATH", "")
    if path not in parts.split(os.pathsep):
        os.environ["PYTHONPATH"] = path + (os.pathsep + parts if parts else "")


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "spark_streaming_test_spark") -> SparkSession:
    """Build (or reuse) the tuned SparkSession."""
    # Before the JVM launches: make this package importable by every
    # worker, which the worker daemon below needs. No-op afterwards.
    add_worker_path(PACKAGE_ROOT)
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle sizing: ~1 partition per core locally. On a 1000-executor
        # cluster this is overridden upward (target ~128MB per shuffle
        # partition); AQE coalesces down at runtime either way.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # Adaptive execution: runtime coalescing, skew-join splitting, and
        # dynamic join-strategy switching — load-bearing at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
        # Arrow for all Python<->JVM batch exchange (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic event-time semantics + DuckDB-oracle parity.
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet timestamps as written (driver data is µs/ns naive).
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Python workers fork from worker_daemon, which stops every task
        # from re-reading the indexes of pyspark.zip and the spark-core
        # jar (~220 ms per task on Python 3.11).
        .config("spark.python.daemon.module",
                "spark_streaming_test_spark.worker_daemon")
    )
    # The engine's jar (jvm): the edge-trigger state machine and the
    # checkpoint manager, on the driver's application class loader; only
    # the launching call can add it. Without javac and a cached jar the
    # session starts without it, and only edge_trigger_stream fails.
    if cds.launches_jvm():
        jar = jvm.engine_jar(_find_spark_home())
        if jar is not None:
            builder = builder.config("spark.jars", jar)
        has_jar = jar is not None
    else:
        has_jar = SparkContext._jvm is not None and jvm.loaded(SparkContext._jvm)
    # Streaming checkpoints (offset, commit and source logs, state
    # deltas and their checksums) go through Hadoop's FileSystem API,
    # not the default FileContext. Without libhadoop, local FileContext
    # forks a `readlink` per getFileLinkStatus, several per atomic write
    # (~100 forks per micro-batch, ~30 ms per file), and FileSystem forks
    # the `chmod` of the file and of its .crc; the jar's manager sets
    # those modes with chmod(2), so steady batches fork nothing. Same
    # guarantees on file:: both write a temp file, check that the target
    # is absent and POSIX-rename it (AbstractFileSystem.rename ends in
    # RawLocalFileSystem.rename), and a second writer of a log entry
    # still gets a subclass of Hadoop's FileAlreadyExistsException, which
    # HDFSMetadataLog's concurrent-writer guard catches. Every call
    # names the same class, because builder.config re-applies SQL confs
    # to a running session. An HDFS deployment that wants FileContext
    # sets this back with --conf, like the partitions.
    builder = builder.config("spark.sql.streaming.checkpointFileManagerClass",
                             jvm.CHECKPOINT_MANAGER if has_jar else FS_CHECKPOINT_MANAGER)
    if "SPARK_GRAFT_DRIVER_MEMORY" in os.environ:
        builder = builder.config(
            "spark.driver.memory", os.environ["SPARK_GRAFT_DRIVER_MEMORY"]
        )
    # The launch maps Spark's classes from a cached class archive (cds).
    spark = cds.get_or_create(builder)
    spark.sparkContext.setLogLevel("WARN")
    return spark


# --- cross-query state reset (bench/sweep harness isolation) -------------------


def reset_query_state(spark: SparkSession) -> None:
    """Full cross-query isolation for benchmarking/sweeping: clear
    the cross-query frame memo (``iterate.materialize_once``), the SQL
    cache manager, and ALL persisted RDD blocks (catalog.clearCache does
    not touch RDD-layer localCheckpoint persistence — measured: 60+
    queries' accumulated checkpoints slowed suite-tail iterative
    queries ~1.7x)."""
    clear_memo()
    spark.catalog.clearCache()
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    # Unpersisting a localCheckpointed RDD logs a WARN that its lineage
    # is truncated; here that is the point, so mute it for the loop.
    root = spark._jvm.org.apache.logging.log4j.LogManager.getRootLogger()
    level = root.getLevel().name()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for rid in list(jrdds.keySet().toArray()):
            jrdds.get(rid).unpersist()
    finally:
        spark.sparkContext.setLogLevel(level)
