"""Test-table catalog: load driver-generated parquet, register views.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scans stay declarative (``spark.read.parquet``) so Catalyst gets predicate
pushdown, column pruning, and (on a partitioned production layout)
partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .iterate import materialize, materialize_once

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one test table. Filters/projections applied by callers are
    pushed into this parquet scan by Catalyst.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark rejects by
    default; read it as raw nanos (legacy conf, runtime-settable so it
    also holds under the driver's own session) and truncate to a µs
    timestamp — the same ns->µs truncation DuckDB applies, keeping the
    oracle comparison exact.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Event-time semantics (window/date_trunc/extract) must not depend on
    # the host session's timezone — pin UTC even under a foreign session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Newer driver generations write TIMESTAMP(MICROS) without
    # isAdjustedToUTC; Spark 4 would infer TIMESTAMP_NTZ (which
    # unix_micros/window() reject). Disabling the inference makes the
    # vectorized reader yield plain TIMESTAMP directly — no per-row
    # cast projection on every fact scan (the cast fallback below cost
    # a measured ~1.2x on timestamp-heavy queries).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # integer div: epoch-nanos (~1.7e18) would lose precision in a
            # double-typed `/`
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Some driver generations write parquet TIMESTAMP(MICROS)
            # without isAdjustedToUTC, which Spark 4 infers as
            # TIMESTAMP_NTZ — a type unix_micros/window() reject.
            # Under the UTC session pinned above this cast is
            # wall-clock-preserving, so every operator (and the DuckDB
            # oracle, which reads the same naive values) sees identical
            # instants regardless of which generation wrote the files.
            df = df.withColumn(
                field.name, F.col(field.name).cast(T.TimestampType())
            )
    return df


def distinct_order_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct lineitem (order ``ok``, part ``pk``) pairs, checkpointed
    once per SF: the basket/recommender operators and the co-purchase
    graphs all start from this frame."""
    return materialize_once(
        spark,
        sf_dir,
        "distinct_items",
        lambda: materialize(
            load(spark, sf_dir, "lineitem")
            .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
            .distinct()
        ),
    )


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition iff the scan under-parallelizes.

    The driver's test tables are single parquet files with one row group,
    so Spark reads them as ONE input partition — and any CPU-heavy per-row
    transform (shingling, hashing, scoring) then runs on one core. On a
    production layout (many files / row groups) the scan already yields
    >= cores partitions and this is a no-op, so the extra shuffle is only
    paid when it buys parallelism. Cost: the shuffle moves the raw rows
    once; for compute-dominated operators that's the right trade."""
    from .session import default_parallelism

    target = min_partitions or default_parallelism()
    # Probe with inputFiles() (a file listing) — NOT df.rdd, which forces
    # full physical planning and costs seconds on wide plans. Few files
    # ⇒ few scan partitions (single-row-group test files don't split).
    if len(df.inputFiles()) < target:
        return df.repartition(target)
    return df


def bounded_broadcast(df: DataFrame, est_rows: int) -> DataFrame:
    """Broadcast-hint ``df`` only when its known row count is safely
    inside the broadcast budget; above it, return the frame unhinted so
    the planner shuffle-joins it.

    ``F.broadcast`` is a MANDATORY hint — it bypasses
    ``autoBroadcastJoinThreshold`` and the planner cannot back out — so
    hinting a corpus-derived frame (an embeddings table, a node-sized
    rank/degree frame, an O(N*k) edge list) would hit the 8 GB /
    512M-row broadcast cap or OOM the driver at production scale.
    Checkpointed frames have no catalog stats, but their row counts are
    known (or bounded) at plan time, so gate on rows: the default 1M
    rows is at most a few hundred MB framed for the row shapes involved
    — comfortably executor-resident, far under the hard cap. Production
    overrides via ``SPARK_GRAFT_BROADCAST_MAX_ROWS``. Join RESULTS are
    identical under either strategy; only the physical plan changes."""
    try:
        cap = int(os.environ.get("SPARK_GRAFT_BROADCAST_MAX_ROWS", "1000000"))
    except ValueError:
        cap = 1_000_000
    return F.broadcast(df) if 0 <= est_rows <= cap else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (for the SQL API paths)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
