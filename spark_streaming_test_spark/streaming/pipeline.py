"""Structured Streaming form of the reference pipeline.

Reference (rakrachok/spark-streaming-test) shape:
  receiver packet stream -> mapToPair(nif, len) -> 5-min micro-batches ->
  reduceByKey(sum) -> threshold routing -> edge-triggered Kafka alerts
  (MainApp.java:38-64, KafkaProducer.java:34-41).

This module provides the same pipeline as ONE incremental Structured
Streaming query, in two flavors:

  * event-time: watermark + tumbling window aggregation (idiomatic;
    handles late data, which the DStream model could not), then
    edge-trigger state.
  * processing-time parity: per-batch totals through the same
    edge-trigger state under ``trigger(processingTime='5 minutes')``,
    alerts handed to ``foreachBatch(kafka_wire_batch_sink(...))`` —
    batch boundaries define the window exactly as MainApp.java:26,38.

The edge-trigger dedup is a keyed stateful operator, a JVM
``flatMapGroupsWithState`` (``jvm/EdgeTrigger.java``, compiled by
``session.get_spark``) with a per-NIC boolean flag — globally consistent
and checkpointed, deliberately fixing the reference's per-executor-JVM
static map (KafkaProducer.java:15, see SURVEY.md §4.3: the reference
re-sends on executor reassignment and loses state on restart; we do not
replicate the bug). No Python worker runs on the alert path: the state
function is Java and the Kafka-wire sink produces from the driver.

Scale: state is one boolean per NIC key — O(distinct keys) cluster-wide,
partitioned by key hash; the windowed agg before it is the only shuffle.
Alert rows are O(keys whose flag flipped in the batch).
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from py4j.java_gateway import JavaClass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.traffic import ALERT_MSG, INFO_MSG
from ..sources.kafka_wire import KafkaWireProducer

# Packet-stream schema: FIXTURES.md §12 — (nif, raw|bytes, ts); the
# reference element is Tuple2<String nifName, byte[] raw>
# (CaptureNetworkReceiver.java:23,99-101) + event time added.
PACKET_SCHEMA = T.StructType(
    [
        T.StructField("nif", T.StringType()),
        T.StructField("bytes", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

ALERT_SCHEMA = T.StructType(
    [
        T.StructField("nif", T.StringType()),
        T.StructField("total_bytes", T.DoubleType()),
        T.StructField("is_alert", T.BooleanType()),
        T.StructField("message", T.StringType()),
    ]
)


def packet_stream_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """File-based packet stream: each parquet file dropped into ``path``
    becomes (part of) a micro-batch — the deterministic test stand-in
    for the receiver source (O1). ``maxFilesPerTrigger=1`` pins the
    file->batch mapping so multi-batch state tests are reproducible."""
    return (
        spark.readStream.schema(PACKET_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def windowed_totals_stream(
    packets: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Event-time form of MainApp's per-batch reduceByKey: watermarked
    tumbling-window sum per NIC. Append-mode emits a window once the
    watermark passes — late packets within the watermark are included,
    a capability the reference lacked."""
    return (
        packets.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "nif")
        .agg(F.sum("bytes").alias("total_bytes"))
        .select(
            F.col("window.start").alias("window_start"), "nif", "total_bytes"
        )
    )


def edge_trigger_stream(
    totals: DataFrame, max_limit: float, ttl_ms: int | None = None
) -> DataFrame:
    """Edge-triggered alert dedup over per-key totals.

    ``totals`` must be an UN-aggregated stream of per-key contributions
    (e.g. the raw packet stream projected to (nif, total_bytes) per
    micro-batch): Structured Streaming allows one stateful operator per
    query, so the per-batch sum happens inside the state function —
    mirroring the reference, where reduceByKey ran per micro-batch
    before the stateful producer (MainApp.java:54-63).

    ``ttl_ms`` bounds the state store at large key counts: a NIC silent
    for ``ttl_ms`` of processing time loses its flag and alerts again on
    its next observation, like a new key. A processing-time timeout
    keeps the engine running no-data batches, so a query with a TTL
    never goes idle (``processAllAvailable`` does not return)."""
    spark = totals.sparkSession
    trigger = spark._jvm.sparkgraft.EdgeTrigger
    if not isinstance(trigger, JavaClass):
        raise RuntimeError(
            "edge_trigger_stream runs the JVM class sparkgraft.EdgeTrigger, "
            "which session.get_spark compiles with javac and caches; this "
            "session was launched without it (no javac and no cached jar, "
            "or not launched by get_spark)"
        )
    jdf = trigger.apply(
        totals.select(
            F.col("nif").cast("string").alias("nif"),
            F.col("total_bytes").cast("double").alias("total_bytes"),
        )._jdf,
        float(max_limit),
        -1 if ttl_ms is None else int(ttl_ms),
        ALERT_MSG,
        INFO_MSG,
        ALERT_SCHEMA.json(),
    )
    return DataFrame(jdf, spark)


def write_alerts_kafka(
    alerts: DataFrame,
    brokers: str,
    topic: str = "alerts",
    checkpoint: str | None = None,
):
    """Kafka sink (O14): null key + string value, topic 'alerts' —
    matching KafkaProducer.java:17,38. The built-in sink is
    at-least-once (an upgrade over the reference's fire-and-forget
    at-most-once, KafkaProducer.java:39 — see SURVEY.md §4.3).

    Requires the spark-sql-kafka package on the classpath; callers gate
    on broker availability (tests use the memory sink instead)."""
    writer = (
        alerts.selectExpr(
            "CAST(NULL AS STRING) AS key", "message AS value"
        )
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def kafka_wire_batch_sink(
    host: str,
    port: int,
    topic: str,
    acks: int = 1,
    message_format: str = "v1",
    compression: str = "none",
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` hook that ships each micro-batch's alerts to a
    Kafka broker over the ACTUAL produce wire protocol — pure-stdlib
    sockets, no connector jar (the pyspark distribution ships none;
    COVERAGE.md). Record shape matches the reference producer exactly:
    null key, the alert message string as the value
    (KafkaProducer.java:17,38 — ``new ProducerRecord<>(topic, alert)``).

    Produced from the driver: each batch's messages are collected in one
    job and sent as one produce request through one producer, so no
    Python worker runs in the batch's tasks. Alert rows are O(keys whose
    flag flipped in the batch) — keeping them few is what the edge
    trigger is for — and a batch larger than
    ``spark.driver.maxResultSize`` fails its collect. Delivery is
    at-least-once with acks=1 (foreachBatch replays a failed batch and
    the producer retries retriable errors); acks=0 reproduces the
    reference's fire-and-forget at-most-once (SURVEY §4.3).
    ``message_format`` ('v1'|'v2'|'auto' — ApiVersions negotiation) and
    ``compression`` ('none'|'gzip'|'snappy'|'lz4'|'zstd') pass straight to
    the producer."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        now_ms = int(time.time() * 1000)
        records = [
            (None, row["message"].encode("utf-8"), now_ms)
            for row in batch_df.select("message").collect()
        ]
        if not records:
            return
        with KafkaWireProducer(
            host, port, message_format=message_format, compression=compression
        ) as producer:
            producer.produce(topic, records, acks=acks)

    return write


def write_alerts_kafka_wire(
    alerts: DataFrame,
    host: str,
    port: int,
    topic: str = "alerts",
    checkpoint: str | None = None,
    acks: int = 1,
    message_format: str = "v1",
    compression: str = "none",
):
    """O14 with real bytes on a real socket: the edge-triggered alert
    stream produced to a broker speaking the public Kafka protocol
    (framed ProduceRequest v2, CRC-checked v1 messages) via
    :func:`kafka_wire_batch_sink`. The declarative ``format("kafka")``
    form stays in :func:`write_alerts_kafka` for clusters that ship the
    connector jar."""
    writer = alerts.writeStream.foreachBatch(
        kafka_wire_batch_sink(
            host,
            port,
            topic,
            acks=acks,
            message_format=message_format,
            compression=compression,
        )
    ).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def enrich_with_dim(stream_df: DataFrame, dim_df: DataFrame, join_expr) -> DataFrame:
    """Stream-static join: enrich a live stream against a batch
    dimension. The static side is broadcast into every micro-batch —
    a map-side hash join with NO stream-side shuffle and no state.
    Spark re-resolves the static plan each batch, so a dim refreshed
    in place is picked up without restarting the query (the fix for
    the reference's startup-only limits snapshot, MainApp.java:44-49)."""
    return stream_df.join(F.broadcast(dim_df), join_expr)


def interval_join_streams(
    clicks: DataFrame,
    purchases: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join (attribution shape):
    each click matched to the same user's purchases within
    ``max_delay`` after it. Both sides carry watermarks and the join
    condition bounds event-time distance, so Spark can evict buffered
    rows once the watermark passes the interval — state stays
    O(interval), not O(stream). Expects columns
    (click_id, c_user, click_ts) and (p_id, p_user, p_ts, p_value)."""
    c = clicks.withWatermark("click_ts", watermark)
    p = purchases.withWatermark("p_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") < F.col("click_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    return c.join(p, cond, "inner")


def interval_join_streams_outer(
    clicks: DataFrame,
    purchases: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """LEFT OUTER watermarked stream-stream join: matched pairs emit
    immediately; an UNMATCHED click emits once with NULL purchase
    columns only after the watermark passes its interval end — the
    engine must prove no future purchase can arrive before it declares
    the click unconverted. Same state bound as the inner form (the
    interval condition evicts buffered rows); the null-side emission is
    what turns attribution into a complete outcome table rather than a
    matches-only one."""
    c = clicks.withWatermark("click_ts", watermark)
    p = purchases.withWatermark("p_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") < F.col("click_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    return c.join(p, cond, "leftOuter")


def dedup_within_watermark_stream(
    packets: DataFrame, keys: tuple[str, ...] = ("nif",), delay: str = "10 minutes"
) -> DataFrame:
    """Watermark-bounded streaming dedup: suppress repeats of a key
    whose event time falls within ``delay`` of the kept occurrence;
    once the watermark passes, the key's state is EVICTED and a later
    recurrence is emitted again. This is the bounded-state form of
    ``dropDuplicates`` — at 100 TB the forever-state variant grows with
    keys-ever-seen and eventually OOMs every executor, while this one
    is bounded by keys-per-watermark-window. Batch twin:
    ``batch_oracle.stream_dedup_windowed``."""
    return packets.withWatermark("ts", delay).dropDuplicatesWithinWatermark(list(keys))


def idempotent_batch_writer(base_path: str):
    """Replay-safe ``foreachBatch`` sink: each micro-batch lands in its
    own ``batch_id=N`` directory with overwrite semantics, so a batch
    REPLAYED after a failure (foreachBatch is at-least-once) overwrites
    its own previous output instead of appending duplicates —
    exactly-once OUTPUT from an at-least-once hook. This is the
    idempotent-sink upgrade over the reference's fire-and-forget
    producer (KafkaProducer.java:38-39, at-most-once; SURVEY §4.3)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{base_path}/batch_id={batch_id}"
        )

    return write


EWMA_SCHEMA = T.StructType(
    [
        T.StructField("nif", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def _ewma_fold_fn() -> Callable[..., Iterator[pd.DataFrame]]:
    """applyInPandasWithState fold for :func:`ewma_stream`."""

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (nif,) = key
        pdf = pd.concat(list(pdfs))
        pdf = pdf.sort_values(["ts", "total_bytes"])
        s, n = (state.get if state.exists else (None, 0))
        for x in pdf["total_bytes"]:
            x = float(x)
            s = x if s is None else (s + x) / 2.0
            n += 1
        state.update((float(s), int(n)))
        yield pd.DataFrame({"nif": [nif], "n": [n], "ewma": [s]})

    return fn


def ewma_stream(values: DataFrame) -> DataFrame:
    """Per-key streaming EWMA (alpha = 1/2) over (nif, total_bytes, ts)
    rows — the live twin of the batch ``ts_ewma_smooth`` operator,
    emitting the running smoothed value once per key per micro-batch.

    State per key is O(1): the running smoothed value and an
    observation count. Each micro-batch folds its rows in (ts, value)
    order through ``s -> (s + x) / 2`` — the same IEEE-exact halving as
    the batch form, so a given arrival order reproduces bitwise across
    restarts (the state checkpoint carries the fold seed)."""
    return values.groupBy("nif").applyInPandasWithState(
        _ewma_fold_fn(),
        outputStructType=EWMA_SCHEMA,
        stateStructType=T.StructType(
            [
                T.StructField("s", T.DoubleType()),
                T.StructField("n", T.LongType()),
            ]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def merge_upsert_writer(state_path: str, key_cols: list[str]):
    """``foreachBatch`` MERGE sink: maintain a keyed GOLDEN TABLE under
    ``state_path`` by upserting each micro-batch — existing keys update
    (last-writer-wins within the batch is the caller's pre-aggregation
    contract), new keys insert. Plain-parquet copy-on-write rendition
    of ``MERGE INTO`` (Delta/Iceberg make the rewrite transactional;
    the anti-join + union algebra is identical — and the same as the
    batch `cdc_merge_apply` operator, here driven incrementally).

    Staging-then-rename keeps readers off half-written state; the
    rewrite cost is the golden table, not history — the incremental
    alternative to recomputing a full aggregate every batch. At scale
    the table is partitioned and only partitions containing batch keys
    rewrite (dynamic partition overwrite — `scan_dynamic_partition_
    overwrite` proves that isolation)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        import os
        import shutil

        spark = batch_df.sparkSession
        current = os.path.join(state_path, "current")
        staged = os.path.join(state_path, f"_staged_{batch_id}")
        if os.path.exists(current):
            existing = spark.read.parquet(current)
            keep = existing.join(
                batch_df.select(*key_cols).distinct(), key_cols, "left_anti"
            )
            merged = keep.unionByName(batch_df)
        else:
            merged = batch_df
        merged.write.mode("overwrite").parquet(staged)
        old = os.path.join(state_path, f"_old_{batch_id}")
        if os.path.exists(current):
            os.rename(current, old)
        os.rename(staged, current)
        if os.path.exists(old):
            shutil.rmtree(old)

    return write


RATE_SCHEMA = (
    "user_id bigint, ts timestamp, window_start timestamp, allowed boolean"
)


def _rate_limit_fn(k: int) -> Callable[..., Iterator[pd.DataFrame]]:
    """applyInPandasWithState fold for :func:`rate_limit_stream`."""

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        pdf = pd.concat(list(pdfs)).sort_values("ts")
        win, used = state.get if state.exists else (None, 0)
        out = []
        for ts in pdf["ts"]:
            w = ts.floor("h")
            if win is None or w != win:
                win, used = w, 0
            out.append((user_id, ts, w, used < k))
            used += 1
        state.update((win, used))
        yield pd.DataFrame(out, columns=["user_id", "ts", "window_start", "allowed"])

    return fn


def rate_limit_stream(events: DataFrame, k: int) -> DataFrame:
    """Streaming per-(user, hour) token-bucket rate limiter over
    (user_id, ts) rows: the first ``k`` events of a user's hour window
    pass, later ones are flagged throttled. State per user is
    ``(win, used)``: a row in a new hour window resets the budget in
    place, so a key's state never grows with history — O(active keys).
    The batch twin is ``batch_oracle.stream_rate_limit``."""
    return events.groupBy("user_id").applyInPandasWithState(
        _rate_limit_fn(k),
        outputStructType=RATE_SCHEMA,
        stateStructType="win timestamp, used int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_TIMEOUT_SCHEMA = (
    "nif string, n_packets bigint, total_bytes double, closed_by string"
)


def session_close_on_timeout_stream(
    packets: DataFrame, timeout_ms: int = 2000
) -> DataFrame:
    """Sessions that CLOSE ON SILENCE via processing-time state timeout
    (``GroupStateTimeout.ProcessingTimeTimeout``): per NIC, packets
    accumulate into open-session state; when a key sees no data for
    ``timeout_ms`` the engine calls the function with
    ``state.hasTimedOut`` and the session emits exactly once, closed by
    'timeout'. This is the semantics the reference's capture loop
    approximates with its bounded 300-packet cycle
    (CaptureNetworkReceiver.java:97,110-126) — emit when the source
    goes quiet — done with engine-managed timers instead of loop
    bounds. State is O(open keys) and every timeout EVICTS its key."""
    import pandas as pd  # noqa: F811

    def fold(key, pdfs, state: GroupState):
        (nif,) = key
        if state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "nif": [nif],
                    "n_packets": [int(n)],
                    "total_bytes": [float(total)],
                    "closed_by": ["timeout"],
                }
            )
        else:
            n, total = state.get if state.exists else (0, 0.0)
            for pdf in pdfs:
                n += len(pdf)
                total += float(pdf["bytes"].sum())
            state.update((int(n), float(total)))
            state.setTimeoutDuration(timeout_ms)
            return
            yield  # pragma: no cover — generator form

    return packets.groupBy("nif").applyInPandasWithState(
        fold,
        outputStructType=SESSION_TIMEOUT_SCHEMA,
        stateStructType="n bigint, total double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


HW_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("nif", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("forecast_1", T.DoubleType()),
    ]
)


def _hw_fold_fn(period: int) -> Callable[..., Iterator[pd.DataFrame]]:
    """applyInPandasWithState fold for :func:`holt_winters_stream` —
    the live twin of the batch ``ts_holt_winters`` operator, identical
    recurrence (alpha = beta = gamma = 1/2, exact halvings).

    Per-key state is O(period): the rotating seasonal vector plus
    level/trend, and during warm-up the first-cycle buffer. A given
    arrival order reproduces the batch fold bitwise — the checkpoint
    carries the full seed, so restarts continue the exact sequence."""

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (nif,) = key
        pdf = pd.concat(list(pdfs))
        pdf = pdf.sort_values(["ts", "total_bytes"])
        if state.exists:
            n, buf, lvl, tr, seas = state.get
            buf = list(buf or [])
            seas = list(seas or [])
        else:
            n, buf, lvl, tr, seas = 0, [], None, None, []
        for x in pdf["total_bytes"]:
            x = float(x)
            n += 1
            if lvl is None:
                buf.append(x)
                if len(buf) == period:
                    lvl = sum(buf) / float(period)
                    tr = 0.0
                    seas = [v - lvl for v in buf]
                    buf = []
            else:
                sc = seas[0]
                lvl2 = (x - sc + lvl + tr) / 2.0
                tr = (lvl2 - lvl + tr) / 2.0
                sc2 = (x - lvl2 + sc) / 2.0
                seas = seas[1:] + [sc2]
                lvl = lvl2
        state.update(
            (
                int(n),
                [float(v) for v in buf],
                None if lvl is None else float(lvl),
                None if tr is None else float(tr),
                [float(v) for v in seas],
            )
        )
        f1 = None if lvl is None else lvl + tr + seas[0]
        yield pd.DataFrame(
            {
                "nif": [nif],
                "n": [n],
                "level": [lvl],
                "trend": [tr],
                "forecast_1": [f1],
            }
        )

    return fn


def holt_winters_stream(values: DataFrame, period: int = 24) -> DataFrame:
    """Per-key streaming Holt-Winters over (nif, total_bytes, ts) rows:
    level + trend + rotating seasonal vector maintained incrementally,
    one (level, trend, forecast) emission per key per micro-batch.
    State is O(period) per key — the incremental form of the batch
    ``ts_holt_winters`` fold, for the always-on forecast the batch
    recompute can't serve cheaply."""
    return values.groupBy("nif").applyInPandasWithState(
        _hw_fold_fn(period),
        outputStructType=HW_STREAM_SCHEMA,
        stateStructType=T.StructType(
            [
                T.StructField("n", T.LongType()),
                T.StructField("buf", T.ArrayType(T.DoubleType())),
                T.StructField("level", T.DoubleType()),
                T.StructField("trend", T.DoubleType()),
                T.StructField("seas", T.ArrayType(T.DoubleType())),
            ]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming HMM filter (scaled forward algorithm with state) ---------------

HMM_FILTER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("forward_loglik", T.DoubleType()),
        T.StructField("p_intent", T.DoubleType()),
    ]
)


def _hmm_filter_fn() -> Callable[..., Iterator[pd.DataFrame]]:
    """applyInPandasWithState fold for :func:`hmm_filter_stream`: the
    SCALED forward recurrence (normalize alphas each step, accumulate
    log of the scale) — the numerically-unbounded-stream form whose
    batch twin is ``ml_hmm_forward`` (which can stay unscaled because
    corpus sequences are ~70 steps). State per user is O(1):
    (a0, a1, loglik, n)."""
    import math

    from ..operators.mltrain import _F_A, _F_E, _F_PI, _V_CATS

    cats = {c: i for i, c in enumerate(_V_CATS)}
    pi = [float(v) for v in _F_PI]
    A = [[float(v) for v in row] for row in _F_A]
    E = [[float(v) for v in row] for row in _F_E]

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        pdf = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        if state.exists:
            a0, a1, ll, n = state.get
        else:
            a0, a1, ll, n = None, None, 0.0, 0
        for et in pdf["event_type"]:
            x = cats[et]
            if a0 is None:
                b0, b1 = pi[0] * E[0][x], pi[1] * E[1][x]
            else:
                b0 = (a0 * A[0][0] + a1 * A[1][0]) * E[0][x]
                b1 = (a0 * A[0][1] + a1 * A[1][1]) * E[1][x]
            c = b0 + b1
            ll += math.log(c)
            a0, a1 = b0 / c, b1 / c
            n += 1
        state.update((float(a0), float(a1), float(ll), int(n)))
        yield pd.DataFrame(
            {
                "user_id": [user],
                "n_events": [n],
                "forward_loglik": [ll],
                "p_intent": [a1],
            }
        )

    return fn


def hmm_filter_stream(events: DataFrame) -> DataFrame:
    """Per-user streaming HMM posterior: every micro-batch advances
    the scaled forward recurrence from checkpointed state and emits
    the running sequence log-likelihood and filtered P(intent). The
    session-scoring shape: state is two doubles per user regardless
    of stream length, each batch costs O(batch events), and a
    restart resumes mid-sequence from the checkpoint (exactly the
    mid-epoch-resume property tests pin). Input needs columns
    (user_id, ts, event_id, event_type)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _hmm_filter_fn(),
        outputStructType=HMM_FILTER_SCHEMA,
        stateStructType=T.StructType(
            [
                T.StructField("a0", T.DoubleType()),
                T.StructField("a1", T.DoubleType()),
                T.StructField("ll", T.DoubleType()),
                T.StructField("n", T.LongType()),
            ]
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
