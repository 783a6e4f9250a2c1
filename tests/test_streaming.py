"""Structured Streaming tests: file-source micro-batches driving the
reference pipeline; edge-trigger truth table (O13, KafkaProducer.java:35-40);
streaming windowed agg == batch equivalent; custom packet DataSource."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import pandas as pd
import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_streaming_test_spark.streaming.pipeline import (
    ALERT_MSG,
    INFO_MSG,
    PACKET_SCHEMA,
    edge_trigger_stream,
    packet_stream_from_dir,
    windowed_totals_stream,
)


def _write_packet_batch(spark, path: str, rows: list[tuple], batch_id: int) -> None:
    """One flat parquet file == one micro-batch (maxFilesPerTrigger=1).
    Written via pyarrow: the streaming file source lists plain files
    under the path, not nested write.parquet directories."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "nif": [r[0] for r in rows],
            "bytes": [r[1] for r in rows],
            "ts": pa.array([r[2] for r in rows], type=pa.timestamp("us")),
        }
    )
    pq.write_table(table, f"{path}/b{batch_id}.parquet")


def _ts(minute: int):
    from datetime import datetime

    return datetime(2024, 1, 1, 0, minute, 0)


def test_edge_trigger_truth_table(spark, tmp_path):
    """Per-key totals over 4 batches; emissions only on flag flips.

    Key A totals: 200(alert,emit) 220(alert,SUPPRESS) 80(info,emit) 90(info,SUPPRESS)
    Key B totals: 100(info,emit) 400(alert,emit) ...
    """
    src = str(tmp_path / "in")
    out = str(tmp_path / "chk")
    batches = [
        [("A", 200.0, _ts(0)), ("B", 100.0, _ts(0))],
        [("A", 120.0, _ts(5)), ("A", 100.0, _ts(5)), ("B", 400.0, _ts(5))],
        [("A", 80.0, _ts(10)), ("B", 500.0, _ts(10))],
        [("A", 90.0, _ts(15)), ("B", 90.0, _ts(15))],
    ]
    _write_packet_batch(spark, src, batches[0], 0)
    packets = packet_stream_from_dir(spark, src)
    totals = packets.select("nif", F.col("bytes").alias("total_bytes"))
    alerts = edge_trigger_stream(totals, max_limit=150.0)
    q = (
        alerts.writeStream.format("memory")
        .queryName("edge_out")
        .outputMode("append")
        .option("checkpointLocation", out)
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_packet_batch(spark, src, rows, i)
            q.processAllAvailable()
        got = [
            (r["nif"], r["total_bytes"], r["is_alert"], r["message"])
            for r in spark.sql(
                "SELECT * FROM edge_out ORDER BY nif, total_bytes"
            ).collect()
        ]
    finally:
        q.stop()
    assert got == [
        ("A", 80.0, False, INFO_MSG),     # batch2: alert->info EMIT
        ("A", 200.0, True, ALERT_MSG),    # batch0: first obs EMIT
        # A batch1 (220, alert) suppressed; A batch3 (90, info) suppressed
        ("B", 90.0, False, INFO_MSG),     # batch3: alert->info EMIT
        ("B", 100.0, False, INFO_MSG),    # batch0: first obs EMIT
        ("B", 400.0, True, ALERT_MSG),    # batch1: info->alert EMIT
        # B batch2 (500, alert) suppressed
    ]


def test_streaming_window_equals_batch(spark, sf_dir, tmp_path):
    """Streaming watermarked tumbling-window agg over a bounded input
    produces exactly the batch groupBy(window) result — the incremental
    correctness contract behind streaming/batch_oracle.py."""
    from spark_streaming_test_spark.catalog import load

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("nif"),
        F.col("value").alias("bytes"),
        "ts",
    )
    src = str(tmp_path / "ev")
    ev.write.parquet(src, mode="overwrite")

    packets = (
        spark.readStream.schema(PACKET_SCHEMA).parquet(src)
    )
    totals = windowed_totals_stream(packets, window="1 hour", watermark="0 seconds")
    q = (
        totals.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["nif"]): round(r["total_bytes"], 6)
            for r in spark.sql("SELECT * FROM win_out").collect()
        }
    finally:
        q.stop()
    expected = {
        (r["ws"], r["nif"]): round(r["total"], 6)
        for r in ev.groupBy(
            F.window("ts", "1 hour").start.alias("ws"), "nif"
        )
        .agg(F.sum("bytes").alias("total"))
        .collect()
    }
    # Append mode only emits windows closed by the watermark; with a
    # 0-second watermark everything except the max-event-time window
    # closes. Allow the (tiny) open tail to be absent.
    assert len(got) >= len(expected) - 60
    for k, v in got.items():
        assert expected[k] == v, k


def test_synthetic_packet_source_stream(spark, tmp_path):
    """Custom DataSource (O1 stand-in): registered format streams
    deterministic frames; offsets advance per batch and stop at
    max_batches; raw payload bounded by snaplen."""
    from spark_streaming_test_spark.sources.packets import register

    register(spark)
    stream = (
        spark.readStream.format("synthetic_packets")
        .option("nifs", "2")
        .option("packets_per_batch", "5")
        .option("snaplen", "256")
        .option("max_batches", "3")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pkt_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM pkt_out").collect()
    finally:
        q.stop()
    assert len(rows) == 2 * 5 * 3  # nifs * packets_per_batch * max_batches
    assert {r["nif"] for r in rows} == {"eth0", "eth1"}
    assert all(64 <= len(r["raw"]) <= 256 for r in rows)
    # determinism: batch replay yields identical frames
    from spark_streaming_test_spark.sources.packets import _gen_batch, _Conf

    conf = _Conf({"nifs": "2", "packets_per_batch": "5", "snaplen": "256"})
    again = list(_gen_batch(conf, 0))
    assert list(_gen_batch(conf, 0)) == again


def test_synthetic_packet_source_batch(spark):
    """Batch read of the same format (one schema, interchangeable
    sources)."""
    from spark_streaming_test_spark.sources.packets import register

    register(spark)
    df = (
        spark.read.format("synthetic_packets")
        .option("nifs", "3")
        .option("packets_per_batch", "4")
        .load()
    )
    assert df.count() == 12
    assert df.columns == ["nif", "raw", "ts"]


def test_packet_source_partition_per_nic(spark, tmp_path):
    """Source parallelism matches the reference's thread-per-NIC model
    (CaptureNetworkReceiver.java:68-75): both the batch and the stream
    reader plan exactly one input partition per NIC, and each NIC's
    frames land wholly inside its own partition."""
    from pyspark.sql import functions as F

    from spark_streaming_test_spark.sources.packets import register

    register(spark)

    def nif_to_pids(rows):
        out = {}
        for r in rows:
            out.setdefault(r["nif"], set()).add(r["pid"])
        return out

    batch = (
        spark.read.format("synthetic_packets")
        .option("nifs", "3")
        .option("packets_per_batch", "4")
        .load()
        .select("nif", F.spark_partition_id().alias("pid"))
        .distinct()
        .collect()
    )
    by_nif = nif_to_pids(batch)
    assert set(by_nif) == {"eth0", "eth1", "eth2"}
    assert all(len(pids) == 1 for pids in by_nif.values())
    assert len({next(iter(p)) for p in by_nif.values()}) == 3  # no NICs share a task

    stream = (
        spark.readStream.format("synthetic_packets")
        .option("nifs", "2")
        .option("packets_per_batch", "3")
        .option("max_batches", "2")
        .load()
        .select("nif", F.spark_partition_id().alias("pid"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pkt_parts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk_parts"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT DISTINCT nif, pid FROM pkt_parts").collect()
    finally:
        q.stop()
    by_nif = nif_to_pids(rows)
    assert set(by_nif) == {"eth0", "eth1"}
    assert all(len(pids) == 1 for pids in by_nif.values())
    assert len({next(iter(p)) for p in by_nif.values()}) == 2


def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics (absent from the DStream reference): an event
    older than (max event time - watermark delay) must NOT be folded
    into its already-finalized window, and append mode must emit each
    window exactly once."""
    src = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    _write_packet_batch(spark, src, [("A", 100.0, _ts(0)), ("A", 50.0, _ts(2))], 0)
    totals = windowed_totals_stream(
        packet_stream_from_dir(spark, src), window="5 minutes", watermark="10 minutes"
    )
    q = (
        totals.writeStream.format("memory")
        .queryName("wm_out")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        # Advance max event time to :20 -> watermark becomes :10, sealing
        # the [:00,:05) window.
        _write_packet_batch(spark, src, [("A", 10.0, _ts(20))], 1)
        q.processAllAvailable()
        # 999 at :01 is 19 min late (< watermark :10): must be DISCARDED.
        _write_packet_batch(spark, src, [("A", 999.0, _ts(1)), ("A", 10.0, _ts(40))], 2)
        q.processAllAvailable()
        # One more batch so the new watermark (:30) seals [:20,:25).
        _write_packet_batch(spark, src, [("A", 1.0, _ts(41))], 3)
        q.processAllAvailable()
        got = {
            (r["window_start"].minute, r["total_bytes"])
            for r in spark.sql("SELECT * FROM wm_out").collect()
        }
        # The engine's own observability must agree: the state operator
        # reports exactly ONE row dropped by the watermark across the
        # run (the 999-byte packet) — this is the live counterpart of
        # the stream_late_data_accounting diagnostic.
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
    finally:
        q.stop()
    assert got == {(0, 150.0), (20, 10.0)}, got
    assert dropped == 1, dropped


def test_edge_trigger_state_survives_restart(spark, tmp_path):
    """Checkpointed keyed state across a stop/start cycle — the semantic
    upgrade over the reference's static per-JVM map (SURVEY.md §4.3):
    after restart the processor must REMEMBER key A is in the alert
    state and suppress the repeat, where the reference would re-send."""
    import glob as _glob

    src = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")

    def start_query():
        packets = packet_stream_from_dir(spark, src)
        totals = packets.select("nif", F.col("bytes").alias("total_bytes"))
        alerts = edge_trigger_stream(totals, max_limit=150.0)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        return (
            alerts.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", chk)
            .start()
        )

    _write_packet_batch(spark, src, [("A", 200.0, _ts(0))], 0)
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # Restart from the same checkpoint; A stays over-limit.
    _write_packet_batch(spark, src, [("A", 220.0, _ts(5))], 1)
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _glob.glob(f"{out}/*.parquet")
    rows = [
        (r["nif"], r["total_bytes"], r["is_alert"])
        for r in spark.read.parquet(out).collect()
    ]
    # Exactly the first observation; the post-restart repeat is suppressed.
    assert rows == [("A", 200.0, True)], rows


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming dropDuplicates keeps keyed state bounded by the
    watermark and drops cross-batch repeats of the same (nif, ts)."""
    src = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    _write_packet_batch(spark, src, [("A", 1.0, _ts(0)), ("B", 2.0, _ts(0))], 0)
    packets = packet_stream_from_dir(spark, src)
    deduped = packets.withWatermark("ts", "10 minutes").dropDuplicates(["nif", "ts"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dd_out")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        # (A, :00) repeats across batches -> dropped by state, not batch-local dedup.
        _write_packet_batch(spark, src, [("A", 9.0, _ts(0)), ("C", 3.0, _ts(1))], 1)
        q.processAllAvailable()
        got = sorted(
            (r["nif"], r["bytes"]) for r in spark.sql("SELECT * FROM dd_out").collect()
        )
    finally:
        q.stop()
    assert got == [("A", 1.0), ("B", 2.0), ("C", 3.0)], got


def test_streaming_session_window(spark, tmp_path):
    """Event-time session windows in a live stream: activity separated
    by < 5-minute gaps merges into one session; a longer gap starts a
    new one. Append mode emits a session only after the watermark passes
    its close — asserted across micro-batches."""
    src = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    _write_packet_batch(
        spark, src, [("A", 10.0, _ts(0)), ("A", 20.0, _ts(3))], 0
    )
    packets = packet_stream_from_dir(spark, src)
    sessions = (
        packets.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes"), "nif")
        .agg(F.sum("bytes").alias("total_bytes"))
        .select(
            F.col("session_window.start").alias("sess_start"),
            F.col("session_window.end").alias("sess_end"),
            "nif",
            "total_bytes",
        )
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        # :30 is > 5 min after :03 -> new session; watermark -> :20,
        # sealing the first session ([:00, :08) = last event + gap).
        _write_packet_batch(spark, src, [("A", 5.0, _ts(30))], 1)
        q.processAllAvailable()
        _write_packet_batch(spark, src, [("A", 1.0, _ts(50))], 2)
        q.processAllAvailable()
        got = sorted(
            (r["sess_start"].minute, r["sess_end"].minute, r["total_bytes"])
            for r in spark.sql("SELECT * FROM sess_out").collect()
        )
    finally:
        q.stop()
    # Session 1: events at :00 and :03 merged (gap 3 < 5), closes :08.
    # Session 2: the :30 event, closed at :35, sealed once watermark hit :40.
    assert got == [(0, 8, 30.0), (30, 35, 5.0)], got


def test_stream_static_join_enrichment(spark, sf_dir, tmp_path):
    """Live stream-static join: a streamed events feed broadcast-joined
    to the customer dim matches the batch join row-for-row."""
    from spark_streaming_test_spark.catalog import load
    from spark_streaming_test_spark.streaming.pipeline import enrich_with_dim

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value", "ts")
    src = str(tmp_path / "ev")
    ev.write.parquet(src, mode="overwrite")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")

    stream = spark.readStream.schema(
        "event_id long, user_id long, value double, ts timestamp"
    ).parquet(src)
    enriched = enrich_with_dim(
        stream, cust, F.col("user_id") == F.col("c_custkey")
    ).select("event_id", "c_mktsegment")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["event_id"], r["c_mktsegment"])
            for r in spark.sql("SELECT * FROM enrich_out").collect()
        }
    finally:
        q.stop()
    expected = {
        (r["event_id"], r["c_mktsegment"])
        for r in ev.join(cust, ev.user_id == cust.c_custkey)
        .select("event_id", "c_mktsegment")
        .collect()
    }
    assert got == expected


def test_stream_stream_interval_join(spark, sf_dir, tmp_path):
    """Live watermarked stream-stream interval join produces exactly the
    batch interval-join pairs on a bounded input."""
    from spark_streaming_test_spark.catalog import load
    from spark_streaming_test_spark.streaming.pipeline import interval_join_streams

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    csrc, psrc = str(tmp_path / "clicks"), str(tmp_path / "purch")
    clicks.write.parquet(csrc, mode="overwrite")
    purchases.write.parquet(psrc, mode="overwrite")

    cs = spark.readStream.schema(
        "click_id long, c_user long, click_ts timestamp"
    ).parquet(csrc)
    ps = spark.readStream.schema(
        "p_id long, p_user long, p_ts timestamp"
    ).parquet(psrc)
    joined = interval_join_streams(cs, ps).select("click_id", "p_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["click_id"], r["p_id"])
            for r in spark.sql("SELECT * FROM ssj_out").collect()
        }
    finally:
        q.stop()
    expected = {
        (r["click_id"], r["p_id"])
        for r in clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("click_ts"))
            & (F.col("p_ts") < F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select("click_id", "p_id")
        .collect()
    }
    assert got == expected


def test_rate_source_drives_pipeline(spark, tmp_path):
    """The built-in rate source (SURVEY §2.1 scans family) feeds the
    traffic projection live: synthesize (nif, bytes, ts) from rate rows
    and confirm data flows end-to-end into the memory sink."""
    import time

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
        .select(
            F.concat(F.lit("eth"), (F.col("value") % 2)).alias("nif"),
            (F.col("value") % 100 + 1).cast("double").alias("bytes"),
            F.col("timestamp").alias("ts"),
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        deadline = time.time() + 30
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM rate_out").collect()[0]["c"]
            if n > 0:
                break
            time.sleep(0.5)
        assert n > 0, "rate source produced no rows within 30s"
        nifs = {
            r["nif"] for r in spark.sql("SELECT DISTINCT nif FROM rate_out").collect()
        }
        assert nifs <= {"eth0", "eth1"}
    finally:
        q.stop()


def test_available_now_backfill_terminates(spark, sf_dir, tmp_path):
    """Trigger.AvailableNow: process the whole backlog as bounded
    micro-batches, then stop — the backfill mode for reprocessing a
    historical corpus through a streaming pipeline without leaving a
    continuous query running. Totals must equal the batch aggregate."""
    from spark_streaming_test_spark.catalog import load

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("nif"),
        F.col("value").alias("bytes"),
        "ts",
    )
    src = str(tmp_path / "ev")
    ev.write.parquet(src, mode="overwrite")

    stream = spark.readStream.schema(PACKET_SCHEMA).parquet(src)
    totals = stream.groupBy("nif").agg(F.sum("bytes").alias("total_bytes"))
    q = (
        totals.writeStream.format("memory")
        .queryName("backfill_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "AvailableNow query did not self-terminate"
    finally:
        q.stop()
    got = {
        r["nif"]: round(r["total_bytes"], 6)
        for r in spark.sql("SELECT * FROM backfill_out").collect()
    }
    expected = {
        r["nif"]: round(r["total"], 6)
        for r in ev.groupBy("nif").agg(F.sum("bytes").alias("total")).collect()
    }
    assert got == expected


def test_idempotent_sink_replay_safe(spark, sf_dir, tmp_path):
    """maxFilesPerTrigger=1 forces multiple micro-batches through the
    idempotent foreachBatch sink; replaying a batch (the at-least-once
    failure mode) must not change the landed row count."""
    from spark_streaming_test_spark.catalog import load
    from spark_streaming_test_spark.streaming.pipeline import idempotent_batch_writer

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    src = str(tmp_path / "ev")
    # several source files => several micro-batches at 1 file/trigger
    ev.repartition(4).write.parquet(src, mode="overwrite")

    out = str(tmp_path / "out")
    writer = idempotent_batch_writer(out)
    seen = []

    def hook(df, bid):
        seen.append((bid, df.count()))
        writer(df, bid)

    q = (
        spark.readStream.schema("event_id long, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(hook)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len(seen) >= 2, f"expected multiple micro-batches, got {seen}"

    total = ev.count()
    landed = spark.read.parquet(out)
    assert landed.count() == total

    # Replay the last batch: overwrite semantics keep the count stable.
    # (Materialize first — a lazy scan would read the directory it is
    # about to overwrite.)
    last_bid = seen[-1][0]
    rows = spark.read.parquet(f"{out}/batch_id={last_bid}").collect()
    replay = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    writer(replay, last_bid)
    assert spark.read.parquet(out).count() == total


def test_edge_trigger_ttl_evicts_silent_key(spark, tmp_path):
    """With ``ttl_ms`` a NIC silent past the TTL loses its flag: A
    alerts at 200, its state is evicted (the state store reads 0 rows),
    and its next alert at 220 is emitted again as a first observation,
    where without a TTL (test_edge_trigger_truth_table) it is
    suppressed. A processing-time timeout keeps no-data batches
    running, so processAllAvailable() never returns: the test paces
    batches with a 1 s trigger and polls."""
    src = str(tmp_path / "in")
    _write_packet_batch(spark, src, [("A", 200.0, _ts(0))], 0)
    totals = packet_stream_from_dir(spark, src).select(
        "nif", F.col("bytes").alias("total_bytes")
    )
    q = (
        edge_trigger_stream(totals, max_limit=150.0, ttl_ms=1500)
        .writeStream.format("memory")
        .queryName("ttl_out")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )

    def wait_for(cond) -> None:
        deadline = time.time() + 90
        while not cond():
            assert time.time() < deadline, q.lastProgress
            time.sleep(0.5)

    def state_rows() -> int | None:
        progress = q.lastProgress
        return progress and progress["stateOperators"][0]["numRowsTotal"]

    def emitted() -> list[tuple]:
        return [
            (r["nif"], r["total_bytes"], r["is_alert"], r["message"])
            for r in spark.sql("SELECT * FROM ttl_out ORDER BY total_bytes").collect()
        ]

    try:
        wait_for(lambda: len(emitted()) == 1)
        wait_for(lambda: state_rows() == 0)
        _write_packet_batch(spark, src, [("A", 220.0, _ts(5))], 1)
        wait_for(lambda: len(emitted()) == 2)
    finally:
        q.stop()
    assert emitted() == [
        ("A", 200.0, True, ALERT_MSG),
        ("A", 220.0, True, ALERT_MSG),  # re-emitted: the flag was evicted
    ]


def test_dedup_within_watermark_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a key repeating within the 10-min
    bound is suppressed; after the watermark passes (evicting state),
    the same key is emitted again — proving the state is time-bounded,
    unlike forever-state dropDuplicates."""
    from spark_streaming_test_spark.streaming.pipeline import (
        dedup_within_watermark_stream,
    )

    src = str(tmp_path / "pkt_src")
    chk = str(tmp_path / "chk")
    batches = [
        # A twice within 1 min (dup suppressed), B once
        [("A", 10.0, _ts(0)), ("A", 11.0, _ts(1)), ("B", 20.0, _ts(0))],
        # C at +30 min advances the watermark to +20, evicting A/B state
        [("C", 30.0, _ts(30))],
        # A recurs after eviction -> emitted again
        [("A", 12.0, _ts(31))],
    ]
    _write_packet_batch(spark, src, batches[0], 0)
    deduped = dedup_within_watermark_stream(packet_stream_from_dir(spark, src))
    q = (
        deduped.writeStream.format("memory")
        .queryName("wm_dedup_out")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_packet_batch(spark, src, rows, i)
            q.processAllAvailable()
        got = [
            (r["nif"], r["bytes"])
            for r in spark.sql("SELECT nif, bytes FROM wm_dedup_out").collect()
        ]
    finally:
        q.stop()
    assert sorted(got) == [("A", 10.0), ("A", 12.0), ("B", 20.0), ("C", 30.0)], got


def test_countmin_sketch_merges_across_microbatches(spark, sf_dir, tmp_path):
    """Count-min mergeability — the property that makes the sketch the
    streaming frequency estimator: summing per-micro-batch sketches
    cell-wise must equal the sketch built over the whole corpus in one
    batch pass. foreachBatch maintains the running sketch as a
    cell-wise SUM (a parquet accumulator keyed by (row_i, bucket));
    maxFilesPerTrigger splits the input so several merges really
    happen."""
    from spark_streaming_test_spark.catalog import load
    from spark_streaming_test_spark.operators.aggregates import (
        CM_DEPTH,
        CM_WIDTH,
    )

    ev = load(spark, sf_dir, "events").select("user_id")
    src = str(tmp_path / "ev")
    # multiple files => multiple micro-batches with maxFilesPerTrigger=1
    ev.repartition(4).write.parquet(src, mode="overwrite")
    acc = str(tmp_path / "sketch_acc")

    def buckets():
        return F.array(
            *[
                F.pmod(
                    F.xxhash64(F.col("user_id"), F.lit(i)), F.lit(CM_WIDTH)
                )
                for i in range(CM_DEPTH)
            ]
        )

    def merge_sketch(batch_df, batch_id):
        part = (
            batch_df.select(F.posexplode(buckets()).alias("row_i", "bucket"))
            .groupBy("row_i", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        part.write.parquet(acc, mode="append")

    stream = (
        spark.readStream.schema("user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(merge_sketch)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "stream did not terminate"
    finally:
        q.stop()

    merged = {
        (r["row_i"], r["bucket"]): r["total"]
        for r in spark.read.parquet(acc)
        .groupBy("row_i", "bucket")
        .agg(F.sum("c").alias("total"))
        .collect()
    }
    batch = {
        (r["row_i"], r["bucket"]): r["c"]
        for r in ev.select(F.posexplode(buckets()).alias("row_i", "bucket"))
        .groupBy("row_i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert merged == batch


def test_streaming_merge_sink_materializes_latest_state(spark, sf_dir, tmp_path):
    """foreachBatch MERGE sink: each micro-batch upserts into a keyed
    parquet state table (read-modify-write with last-writer-wins inside
    the batch, batch supersedes base — the same anti-join + union plan
    as cdc_merge_apply). After the backlog drains, the table must equal
    the one-shot batch compaction (cdc_changelog_compact semantics,
    minus tombstones: upsert-only here)."""
    from spark_streaming_test_spark.catalog import load

    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("seq"),
        F.col("user_id").alias("key"),
        "value",
    )
    src = str(tmp_path / "ev")
    ev.repartition(4).write.parquet(src, mode="overwrite")
    state = str(tmp_path / "state")

    def merge_batch(batch_df, batch_id):
        import os

        # Merge = union(base, batch) -> last-writer-wins BY SEQ, not by
        # arrival order: file-source micro-batches carry no ordering
        # guarantee across files, so a later batch can hold older rows.
        w = Window.partitionBy("key").orderBy(F.col("seq").desc())
        combined = batch_df
        if os.path.exists(state):
            combined = spark.read.parquet(state).unionByName(batch_df)
        out = (
            combined.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        # rewrite to a temp dir then swap would be the production move;
        # a direct overwrite after materializing is enough for the test
        out.localCheckpoint(eager=True).write.parquet(
            state, mode="overwrite"
        )

    stream = (
        spark.readStream.schema("seq bigint, key bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "stream did not terminate"
    finally:
        q.stop()

    got = {
        (r["key"]): (r["seq"], round(r["value"], 6))
        for r in spark.read.parquet(state).collect()
    }
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    expected = {
        r["key"]: (r["seq"], round(r["value"], 6))
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == expected


def test_streaming_query_listener_reports_progress(spark, tmp_path):
    """StreamingQueryListener observability: progress events must
    arrive with row counts — what a production deployment exports to
    its metrics system (the reference logs per-batch counts from
    foreachRDD, MainApp.java:51-53; the listener is the structured
    equivalent)."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen = {"progress": 0, "rows": 0}

    class L(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            seen["progress"] += 1
            seen["rows"] += event.progress.numInputRows

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(L())
    try:
        stream = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 50)
            .load()
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("listener_probe")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .start()
        )
        try:
            import time as _t

            deadline = _t.time() + 60
            while _t.time() < deadline and seen["rows"] == 0:
                _t.sleep(1)
        finally:
            q.stop()
    finally:
        # leave no listener behind for other tests
        pass
    assert seen["progress"] >= 1, "no progress events delivered"
    assert seen["rows"] > 0, "listener saw zero input rows"


def test_streaming_ewma_matches_batch_fold(spark, tmp_path):
    """Three micro-batches of per-key values; the final streaming EWMA
    must equal a plain Python left fold s -> (s+x)/2 over the full
    arrival-ordered sequence — state carries the fold seed across
    batches, and the exact-halving recurrence leaves no float slack."""
    from spark_streaming_test_spark.streaming.pipeline import ewma_stream

    src = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    batches = [
        [("A", 100.0, _ts(0)), ("A", 50.0, _ts(1)), ("B", 10.0, _ts(0))],
        [("A", 75.0, _ts(5)), ("B", 20.0, _ts(5)), ("B", 30.0, _ts(6))],
        [("A", 10.0, _ts(10)), ("B", 40.0, _ts(10))],
    ]
    _write_packet_batch(spark, src, batches[0], 0)
    packets = packet_stream_from_dir(spark, src)
    values = packets.select(
        "nif", F.col("bytes").alias("total_bytes"), "ts"
    )
    q = (
        ewma_stream(values)
        .writeStream.format("memory")
        .queryName("ewma_out")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_packet_batch(spark, src, rows, i)
            q.processAllAvailable()
        rows = spark.sql(
            "SELECT nif, n, ewma FROM ewma_out"
        ).collect()
    finally:
        q.stop()

    def fold(xs):
        s = None
        for x in xs:
            s = x if s is None else (s + x) / 2.0
        return s

    seq = {"A": [100.0, 50.0, 75.0, 10.0], "B": [10.0, 20.0, 30.0, 40.0]}
    # one emission per key per batch it appears in
    per_key = {}
    for r in rows:
        per_key.setdefault(r["nif"], []).append((r["n"], r["ewma"]))
    for k, emissions in per_key.items():
        assert len(emissions) == 3
        n_final, ewma_final = max(emissions)
        assert n_final == len(seq[k])
        assert ewma_final == fold(seq[k]), (k, emissions)
    # intermediate state carried: batch-2 emission equals fold of prefix
    for k in seq:
        prefix_n, prefix_val = sorted(per_key[k])[1]
        assert prefix_val == fold(seq[k][:prefix_n])


def test_streaming_ewma_state_survives_restart(spark, tmp_path):
    """The EWMA fold seed must come back from the checkpoint after a
    stop/start: the post-restart smoothed value has to equal the fold
    over the FULL sequence, not a fresh fold over the second batch."""
    import glob as _glob

    from spark_streaming_test_spark.streaming.pipeline import ewma_stream

    src = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")

    def start_query():
        packets = packet_stream_from_dir(spark, src)
        values = packets.select(
            "nif", F.col("bytes").alias("total_bytes"), "ts"
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        return (
            ewma_stream(values)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", chk)
            .start()
        )

    _write_packet_batch(
        spark, src, [("A", 100.0, _ts(0)), ("A", 50.0, _ts(1))], 0
    )
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _write_packet_batch(spark, src, [("A", 75.0, _ts(5))], 1)
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _glob.glob(f"{out}/*.parquet")
    rows = sorted(
        (r["n"], r["ewma"]) for r in spark.read.parquet(out).collect()
    )
    # batch 0: fold(100, 50) = 75.0; batch 1 resumes from state:
    # (75 + 75) / 2 = 75.0 with n=3 — a fresh fold would report n=1.
    assert rows == [(2, 75.0), (3, 75.0)], rows


def test_foreach_batch_merge_upsert_golden_table(spark, tmp_path):
    """Incremental MERGE sink: the golden table after N micro-batches
    must equal the batch recompute over everything ingested — keys
    seen again UPDATE in place (no duplicates), new keys insert, and
    a reader never sees more than one row per key."""
    from pyspark.sql import functions as F

    from spark_streaming_test_spark.streaming.pipeline import (
        merge_upsert_writer,
        packet_stream_from_dir,
    )

    src = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    state = str(tmp_path / "golden")
    batches = [
        [("A", 10.0, _ts(0)), ("B", 5.0, _ts(1))],
        [("A", 99.0, _ts(2)), ("C", 7.0, _ts(3))],   # A updates, C inserts
        [("B", 1.0, _ts(4))],                         # B updates
    ]
    _write_packet_batch(spark, src, batches[0], 0)
    # Per-key totals within the micro-batch; MERGE keys on nif.
    agg = (
        packet_stream_from_dir(spark, src)
        .groupBy("nif")
        .agg(F.max("bytes").alias("last_length"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(merge_upsert_writer(state, ["nif"]))
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_packet_batch(spark, src, rows, i)
            q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["nif"]: r["last_length"]
        for r in spark.read.parquet(f"{state}/current").collect()
    }
    # complete-mode aggregate over ALL ingested rows -> max per key.
    assert got == {"A": 99.0, "B": 5.0, "C": 7.0}, got
    # exactly one row per key — the reader-facing MERGE invariant.
    n = spark.read.parquet(f"{state}/current").count()
    assert n == 3, n


def test_stream_union_two_sources(spark, tmp_path):
    """Two independent file-source streams UNIONed into one query — the
    multi-region/multi-topic ingest shape (the reference runs one
    receiver per NIC and unions implicitly; Structured Streaming makes
    the union an explicit plan node). Each source advances its own
    offsets; rows from both must land exactly once."""
    src_a = str(tmp_path / "a")
    src_b = str(tmp_path / "b")
    chk = str(tmp_path / "chk")
    _write_packet_batch(spark, src_a, [("A", 1.0, _ts(0))], 0)
    _write_packet_batch(spark, src_b, [("B", 2.0, _ts(0))], 0)
    unioned = packet_stream_from_dir(spark, src_a).unionByName(
        packet_stream_from_dir(spark, src_b)
    )
    q = (
        unioned.writeStream.format("memory")
        .queryName("union_out")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_packet_batch(spark, src_a, [("A", 3.0, _ts(1))], 1)
        q.processAllAvailable()
        _write_packet_batch(spark, src_b, [("B", 4.0, _ts(1))], 1)
        q.processAllAvailable()
        got = sorted(
            (r["nif"], r["bytes"])
            for r in spark.sql("SELECT * FROM union_out").collect()
        )
    finally:
        q.stop()
    assert got == [("A", 1.0), ("A", 3.0), ("B", 2.0), ("B", 4.0)], got


def test_jsonl_python_datasource_stream_sink(spark, sf_dir, tmp_path):
    """The custom Python DataSource STREAM writer: each micro-batch's
    tasks stage temp files, the epoch commit publishes them under
    epoch=<batchId>/ with a _SUCCESS manifest, and the union of all
    epochs equals the batch projection of the input — the
    task-commit-protocol upgrade over the reference's at-least-once
    foreach push (KafkaProducer.java:12-43)."""
    import glob
    import json as _json

    from spark_streaming_test_spark.catalog import load
    from spark_streaming_test_spark.sources.jsonl_sink import register_sink

    register_sink(spark)
    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    src = str(tmp_path / "src")
    ev.write.parquet(src, mode="overwrite")

    out = str(tmp_path / "out")
    q = (
        spark.readStream.schema("event_id bigint, event_type string")
        .parquet(src)
        .writeStream.format("jsonl_dir")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), "stream-sink query did not terminate"
    finally:
        q.stop()

    epochs = sorted(glob.glob(os.path.join(out, "epoch=*")))
    assert epochs, "no epoch directories published"
    n_rows = 0
    for edir in epochs:
        manifest = os.path.join(edir, "_SUCCESS")
        assert os.path.exists(manifest), f"missing manifest in {edir}"
        listed = _json.load(open(manifest))
        listed_rows = sum(p["rows"] for p in listed["parts"])
        on_disk = 0
        for part in glob.glob(os.path.join(edir, "*.jsonl")):
            with open(part) as f:
                for line in f:
                    rec = _json.loads(line)
                    assert set(rec) == {"event_id", "event_type"}
                    on_disk += 1
        assert on_disk == listed_rows, "manifest disagrees with files"
        n_rows += on_disk
    assert n_rows == ev.count()
    # No stray temp files survive the commit.
    assert not glob.glob(os.path.join(out, "**", "*.tmp"), recursive=True)


def test_stream_stream_outer_join_emits_unmatched(spark, tmp_path):
    """LEFT OUTER watermarked stream-stream join: matched click/purchase
    pairs emit as data arrives, and a click with NO purchase in its
    interval emits exactly once with NULL purchase columns after the
    watermark passes its interval end — the completeness half of
    attribution the inner join cannot express."""
    from pyspark.sql import Row

    from spark_streaming_test_spark.streaming.pipeline import (
        interval_join_streams_outer,
    )

    def ts(h, m=0):
        import datetime

        return datetime.datetime(2024, 1, 1, h, m)

    csrc, psrc = str(tmp_path / "clicks"), str(tmp_path / "purch")
    c_schema = "click_id long, c_user long, click_ts timestamp"
    p_schema = "p_id long, p_user long, p_ts timestamp"
    spark.createDataFrame(
        [Row(click_id=1, c_user=1, click_ts=ts(10)),
         Row(click_id=2, c_user=2, click_ts=ts(10))],
        c_schema,
    ).write.parquet(csrc)
    spark.createDataFrame(
        [Row(p_id=101, p_user=1, p_ts=ts(10, 10))], p_schema
    ).write.parquet(psrc)

    cs = spark.readStream.schema(c_schema).parquet(csrc)
    ps = spark.readStream.schema(p_schema).parquet(psrc)
    joined = interval_join_streams_outer(cs, ps).select(
        "click_id", "p_id"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_outer_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        # Phase B: much-later rows on BOTH sides push each side's
        # watermark past click 2's interval end (10:30 + 1h delay).
        spark.createDataFrame(
            [Row(click_id=3, c_user=9, click_ts=ts(13))], c_schema
        ).write.mode("append").parquet(csrc)
        spark.createDataFrame(
            [Row(p_id=109, p_user=9, p_ts=ts(13))], p_schema
        ).write.mode("append").parquet(psrc)
        q.processAllAvailable()
        # Phase C: one more batch so the post-watermark eviction pass
        # emits the null-matched row.
        spark.createDataFrame(
            [Row(click_id=4, c_user=8, click_ts=ts(15))], c_schema
        ).write.mode("append").parquet(csrc)
        spark.createDataFrame(
            [Row(p_id=108, p_user=8, p_ts=ts(15))], p_schema
        ).write.mode("append").parquet(psrc)
        q.processAllAvailable()
        got = {
            (r["click_id"], r["p_id"])
            for r in spark.sql("SELECT * FROM ssj_outer_out").collect()
        }
    finally:
        q.stop()
    assert (1, 101) in got, f"matched pair missing: {got}"
    assert (3, 109) in got, f"late matched pair missing: {got}"
    assert (2, None) in got, f"unmatched click never emitted: {got}"
    # The unmatched click emits exactly once.
    assert sum(1 for c, p in got if c == 2) == 1


def test_rate_limit_stream(spark, tmp_path):
    """Live per-(user, hour) rate limiter through keyed state:
    first K events of a window pass, later ones are throttled, a new
    window resets the budget — and the state survives across
    micro-batches (the second batch continues the first's count)."""
    from spark_streaming_test_spark.streaming.pipeline import rate_limit_stream

    def ts(h, m):
        from datetime import datetime

        return datetime(2024, 1, 1, h, m)

    src = str(tmp_path / "src")
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_batch(rows, name):
        os.makedirs(src, exist_ok=True)
        t = pa.table({
            "user_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "ts": pa.array([r[1] for r in rows], type=pa.timestamp("us")),
        })
        pq.write_table(t, f"{src}/{name}.parquet")

    # batch 1: user 1 sends 3 events in hour 10 (K=2 -> TTT -> T,T,F)
    write_batch([(1, ts(10, 0)), (1, ts(10, 5)), (1, ts(10, 10))], "b0")
    stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
    limited = rate_limit_stream(stream, k=2)
    q = (
        limited.writeStream.format("memory")
        .queryName("rl_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: same hour (still throttled — state carried over),
        # then next hour (budget resets)
        write_batch([(1, ts(10, 20)), (1, ts(11, 0))], "b1")
        q.processAllAvailable()
        got = sorted(
            (r["ts"], r["allowed"])
            for r in spark.sql("SELECT * FROM rl_out").collect()
        )
    finally:
        q.stop()
    assert got == [
        (ts(10, 0), True),
        (ts(10, 5), True),
        (ts(10, 10), False),
        (ts(10, 20), False),  # window budget already used in batch 1
        (ts(11, 0), True),    # new hour resets
    ]


def test_foreach_writer_per_row_sink(spark, tmp_path):
    """The per-element ForeachWriter contract (O15, the reference's
    foreach Kafka push): open(partition, epoch) -> process(row) ->
    close(err), one writer instance per partition per epoch. Rows land
    in per-(partition, epoch) files; their union equals the input."""
    import glob

    from pyspark.sql import Row

    out = str(tmp_path / "rows")
    os.makedirs(out, exist_ok=True)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [Row(event_id=i, event_type=("click" if i % 2 else "view"))
         for i in range(20)],
        "event_id long, event_type string",
    ).write.parquet(src)

    class FileWriter:
        def open(self, partition_id, epoch_id):
            self.path = os.path.join(out, f"p{partition_id}-e{epoch_id}.txt")
            self.fh = open(self.path, "a")
            return True

        def process(self, row):
            self.fh.write(f"{row.event_id}:{row.event_type}\n")

        def close(self, error):
            self.fh.close()

    q = (
        spark.readStream.schema("event_id long, event_type string")
        .parquet(src)
        .writeStream.foreach(FileWriter())
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    lines = []
    for f in glob.glob(os.path.join(out, "*.txt")):
        lines += open(f).read().splitlines()
    assert sorted(lines) == sorted(
        f"{i}:{'click' if i % 2 else 'view'}" for i in range(20)
    )


def test_jsonl_stream_sink_restart_exactly_once(spark, tmp_path):
    """Exactly-once across restart for the custom Python DataSource
    stream sink: a second query on the SAME checkpoint continues epoch
    numbering, does not re-publish committed epochs, and the union of
    all epochs equals the total input with no duplicates."""
    import glob

    from pyspark.sql import Row

    from spark_streaming_test_spark.sources.jsonl_sink import register_sink

    register_sink(spark)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")

    def write_rows(lo, hi, name):
        spark.createDataFrame(
            [Row(event_id=i) for i in range(lo, hi)], "event_id long"
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema("event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.format("jsonl_dir")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()

    write_rows(0, 10, "a")
    write_rows(10, 20, "b")
    run_once()
    epochs_first = set(glob.glob(os.path.join(out, "epoch=*")))
    manifests_first = {
        e: os.path.getmtime(os.path.join(e, "_SUCCESS")) for e in epochs_first
    }
    assert len(epochs_first) >= 2, "maxFilesPerTrigger should split epochs"

    write_rows(20, 30, "c")
    run_once()
    epochs_second = set(glob.glob(os.path.join(out, "epoch=*")))
    assert epochs_second > epochs_first, "restart must add new epochs"
    for e, mtime in manifests_first.items():
        assert os.path.getmtime(os.path.join(e, "_SUCCESS")) == mtime, (
            f"committed epoch {e} was re-published after restart"
        )

    seen = []
    import json as _json

    for part in glob.glob(os.path.join(out, "epoch=*", "*.jsonl")):
        with open(part) as f:
            seen += [_json.loads(line)["event_id"] for line in f]
    assert sorted(seen) == list(range(30)), "rows lost or duplicated"


def test_packet_source_filter_pushdown_prunes_partitions(spark):
    """Python DataSource filter pushdown (Spark 4.1): an equality
    filter on the partition-defining nif column is accepted by
    pushFilters() and applied at planning — the filtered scan
    schedules ONE task (per-NIC partition pruning) instead of one per
    NIC, and non-pushable residual filters still evaluate correctly
    post-scan."""
    from spark_streaming_test_spark.sources import packets

    saved = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        packets.register(spark)
        df = (
            spark.read.format("synthetic_packets")
            .option("nifs", 4)
            .option("packets_per_batch", 50)
            .load()
        )
        assert df.rdd.getNumPartitions() == 4
        flt = df.filter(F.col("nif") == "eth2")
        assert flt.rdd.getNumPartitions() == 1, "partition not pruned"
        rows = flt.select("nif").distinct().collect()
        assert [r["nif"] for r in rows] == ["eth2"]
        assert flt.count() == 50
        # residual (non-pushable) filter still applies after the scan
        mixed = df.filter(
            (F.col("nif") == "eth1") & (F.length("raw") > 1000)
        )
        assert mixed.rdd.getNumPartitions() == 1
        got = mixed.select("nif").distinct().collect()
        assert [r["nif"] for r in got] == ["eth1"]
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", saved)



def test_session_close_on_processing_timeout(spark, tmp_path):
    """Processing-time state timeout: a NIC's open session emits
    exactly once, closed by 'timeout', after the key goes silent for
    the timeout duration. With a timeout configured the engine keeps
    scheduling state-cleanup micro-batches even with no data — which
    both fires the timer without needing new input AND means
    processAllAvailable() can never be used as a barrier here; the
    test paces batches with a 1s trigger and polls the sink."""
    from spark_streaming_test_spark.streaming.pipeline import (
        session_close_on_timeout_stream,
    )

    src = str(tmp_path / "in")
    _write_packet_batch(spark, src, [("A", 10.0, _ts(0)), ("A", 5.0, _ts(1))], 0)
    sessions = session_close_on_timeout_stream(
        packet_stream_from_dir(spark, src), timeout_ms=1500
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_to_out")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM sess_to_out").collect()
            if rows:
                break
            time.sleep(1)
    finally:
        q.stop()
    got = {
        (r["nif"], r["n_packets"], r["total_bytes"], r["closed_by"])
        for r in rows
    }
    assert got == {("A", 2, 15.0, "timeout")}, got


def test_update_output_mode_emits_only_changed_windows(spark, tmp_path):
    """Update output mode: after each micro-batch the sink receives
    ONLY windows whose aggregate changed in that batch — unlike
    complete (everything every time) or append (only finalized
    windows). The low-latency dashboard mode: re-emission of window A
    must not drag unchanged window B with it."""
    src = str(tmp_path / "in")
    _write_packet_batch(
        spark, src, [("A", 10.0, _ts(1)), ("B", 5.0, _ts(40))], 0
    )
    packets = packet_stream_from_dir(spark, src)
    totals = windowed_totals_stream(packets, window="30 minutes", watermark="2 hours")
    q = (
        totals.writeStream.format("memory")
        .queryName("upd_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            (r["nif"], r["window_start"].minute, r["total_bytes"])
            for r in spark.sql("SELECT * FROM upd_out").collect()
        }
        assert first == {("A", 0, 10.0), ("B", 30, 5.0)}
        # batch 1 touches ONLY window (A, minute 0)
        _write_packet_batch(spark, src, [("A", 7.0, _ts(2))], 1)
        q.processAllAvailable()
        rows = [
            (r["nif"], r["window_start"].minute, r["total_bytes"])
            for r in spark.sql("SELECT * FROM upd_out").collect()
        ]
    finally:
        q.stop()
    # memory sink in update mode appends each batch's emissions: the
    # second batch must have added exactly one row — the updated A
    # window with its new total — and no re-emission of B.
    assert sorted(rows) == sorted(
        [("A", 0, 10.0), ("B", 30, 5.0), ("A", 0, 17.0)]
    ), rows


@pytest.mark.parametrize("policy,expect_late_row", [("min", True), ("max", False)])
def test_multiple_watermark_policy(spark, tmp_path, policy, expect_late_row):
    """Union of two watermarked sources: the GLOBAL watermark is the
    min of the per-source watermarks by default — a lagging source
    holds the clock back, so its old-but-honest rows stay accepted —
    while multipleWatermarkPolicy=max lets the fastest source advance
    the clock and drops them. The policy is the lever between
    completeness (min) and state size/latency (max) in multi-source
    topologies."""
    saved = spark.conf.get("spark.sql.streaming.multipleWatermarkPolicy", "min")
    spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
    try:
        fast, slow = str(tmp_path / "fast"), str(tmp_path / "slow")
        # fast source is hours ahead; slow source sits at 10:00
        _write_packet_batch(spark, fast, [("F", 1.0, _ts(0).replace(hour=15))], 0)
        _write_packet_batch(spark, slow, [("S", 1.0, _ts(0).replace(hour=10))], 0)

        def src(path):
            return (
                spark.readStream.schema(PACKET_SCHEMA)
                .parquet(path)
                .withWatermark("ts", "10 minutes")
            )

        counts = (
            src(fast).unionByName(src(slow))
            .groupBy(F.window("ts", "30 minutes"), "nif")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            counts.writeStream.format("memory")
            .queryName(f"wm_{policy}")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .start()
        )
        try:
            q.processAllAvailable()
            # late row on the SLOW source: 9:30, behind slow's own
            # watermark head (10:00) by 30 min > the 10-min delay —
            # but under the MIN policy the global clock is also held
            # at ~9:50, window 9:30 is not yet closed... the row's
            # window [9:30,10:00) ends at 10:00 > global watermark
            # 9:50 -> accepted; under MAX the clock sits at ~14:50
            # and the window is long closed -> dropped.
            _write_packet_batch(
                spark, slow, [("S", 1.0, _ts(30).replace(hour=9))], 1
            )
            q.processAllAvailable()
            rows = {
                (r["nif"], r["window"].start.hour, r["window"].start.minute)
                for r in spark.sql(f"SELECT * FROM wm_{policy}").collect()
            }
        finally:
            q.stop()
        late_window_present = ("S", 9, 30) in rows
        assert late_window_present == expect_late_row, (policy, rows)
    finally:
        spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", saved)


def test_jsonl_stream_commit_replay_idempotent(tmp_path):
    """Crash-mid-commit replay: a second commit of the SAME epoch with
    freshly-named (uuid) parts must replace the first attempt's files,
    not publish next to them — glob readers would double-count
    otherwise. Simulates the driver dying between the os.replace calls
    and the commit-log entry, then replaying the batch."""
    import glob
    import json
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from spark_streaming_test_spark.sources.jsonl_sink import (
        JsonlCommit,
        JsonlStreamWriter,
    )

    schema = StructType([StructField("v", LongType())])
    out = str(tmp_path / "replay")
    writer = JsonlStreamWriter({"path": out}, schema)

    def fake_attempt(values):
        os.makedirs(out, exist_ok=True)
        msgs = []
        for i, v in enumerate(values):
            import uuid as _uuid

            name = f"part-{i:05d}-{_uuid.uuid4().hex}.jsonl"
            tmp = os.path.join(out, f".{name}.tmp")
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(json.dumps({"v": v}) + "\n")
            msgs.append(JsonlCommit(tmp_path=tmp, final_name=name, n_rows=1))
        return msgs

    writer.commit(fake_attempt([1, 2]), batchId=0)   # first (crashed) attempt
    writer.commit(fake_attempt([1, 2]), batchId=0)   # replay of epoch 0
    parts = glob.glob(os.path.join(out, "epoch=0", "*.jsonl"))
    assert len(parts) == 2, parts  # replay replaced, not appended
    rows = []
    for p in parts:
        with open(p, encoding="utf-8") as f:
            rows += [json.loads(line)["v"] for line in f]
    assert sorted(rows) == [1, 2]
    manifest = json.load(open(os.path.join(out, "epoch=0", "_SUCCESS")))
    assert {p["file"] for p in manifest["parts"]} == {
        os.path.basename(p) for p in parts
    }


def test_packet_source_contradictory_nif_filters_empty(spark):
    """Pushed filters are a CONJUNCTION: nif='eth0' AND nif='eth1' must
    select nothing (the source INTERSECTS accepted EqualTo values; a
    union would return both NICs while claiming the filters applied)."""
    from pyspark.sql import functions as F

    from spark_streaming_test_spark.sources.packets import register

    register(spark)
    df = (
        spark.read.format("synthetic_packets")
        .option("nifs", "3")
        .option("packets_per_batch", "4")
        .load()
    )
    both = df.filter((F.col("nif") == "eth0") & (F.col("nif") == "eth1"))
    assert both.count() == 0
    # sanity: a single accepted filter still prunes to one NIC
    one = df.filter(F.col("nif") == "eth1")
    assert one.count() == 4
    assert {r["nif"] for r in one.collect()} == {"eth1"}


def test_chained_windowed_aggs_stream_equals_batch(spark, sf_dir, tmp_path):
    """LIVE multi-stateful pipeline: two chained time-window aggregates
    (5 min -> 1 hour) in append mode over a bounded stream must equal
    the batch cascade (streaming/batch_oracle.py::stream_chained_windows
    semantics). Chained stateful operators are the Spark-3.4+ capability
    that replaced the old 'multiple streaming aggregations unsupported'
    limitation."""
    from spark_streaming_test_spark.catalog import load

    ev = load(spark, sf_dir, "events").select("ts", "event_type", "value")
    src = str(tmp_path / "ev")
    ev.write.parquet(src, mode="overwrite")

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    five = stream.groupBy(F.window("ts", "5 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    hour = (
        five.groupBy(
            F.window(F.window_time("window"), "1 hour").alias("hw"), "event_type"
        )
        .agg(F.sum("n").alias("n_events"))
        .select(
            F.col("hw.start").alias("window_start"), "event_type", "n_events"
        )
    )
    q = (
        hour.writeStream.format("memory")
        .queryName("chained_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): r["n_events"]
            for r in spark.sql("SELECT * FROM chained_out").collect()
        }
    finally:
        q.stop()
    expected = {
        (r["ws"], r["event_type"]): r["n_events"]
        for r in ev.groupBy(
            F.window("ts", "1 hour").start.alias("ws"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    # Append mode emits only watermark-closed windows; the open tail
    # (max-event-time hour per key) may be absent.
    assert len(got) >= len(expected) - 10, (len(got), len(expected))
    assert got, "chained stateful pipeline emitted nothing"
    for k, v in got.items():
        assert expected[k] == v, k


def test_streaming_holt_winters_matches_batch_fold(spark, tmp_path):
    """Streaming Holt-Winters (period 4) across three micro-batches
    must reproduce the batch recurrence bitwise: warm-up mean + cycle
    deviations, then exact-halving level/trend/seasonal updates, with
    state carrying the fold across batches."""
    from spark_streaming_test_spark.streaming.pipeline import (
        holt_winters_stream,
        packet_stream_from_dir,
    )

    period = 4
    src = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    xs = [100.0, 50.0, 75.0, 10.0, 80.0, 60.0, 90.0]
    batches = [
        [("A", x, _ts(i)) for i, x in enumerate(xs[:3])],
        [("A", x, _ts(3 + i)) for i, x in enumerate(xs[3:5])],
        [("A", x, _ts(5 + i)) for i, x in enumerate(xs[5:])],
    ]
    _write_packet_batch(spark, src, batches[0], 0)
    packets = packet_stream_from_dir(spark, src)
    values = packets.select("nif", F.col("bytes").alias("total_bytes"), "ts")
    q = (
        holt_winters_stream(values, period=period)
        .writeStream.format("memory")
        .queryName("hw_out")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        for i, rows in enumerate(batches[1:], start=1):
            _write_packet_batch(spark, src, rows, i)
            q.processAllAvailable()
        rows = spark.sql(
            "SELECT n, level, trend, forecast_1 FROM hw_out"
        ).collect()
    finally:
        q.stop()

    # Python replay of the identical recurrence
    lvl = sum(xs[:period]) / float(period)
    tr = 0.0
    seas = [v - lvl for v in xs[:period]]
    for x in xs[period:]:
        sc = seas[0]
        lvl2 = (x - sc + lvl + tr) / 2.0
        tr = (lvl2 - lvl + tr) / 2.0
        seas = seas[1:] + [(x - lvl2 + sc) / 2.0]
        lvl = lvl2
    final = max((r["n"], r) for r in rows)[1]
    assert final["n"] == len(xs)
    assert final["level"] == lvl
    assert final["trend"] == tr
    assert final["forecast_1"] == lvl + tr + seas[0]
    # batch-1 emission is still warming up (n=3 < period): null state
    warm = min((r["n"], r) for r in rows)[1]
    assert warm["n"] == 3 and warm["level"] is None


def test_reference_pipeline_composed_end_to_end(spark, tmp_path):
    """The WHOLE reference pipeline composed live — packet file source
    → per-batch totals → edge-triggered alert state → custom JSONL
    stream sink — with a RESTART in the middle: alert emissions across
    both runs must equal the Python truth-table replay of the
    per-batch totals (state survives the checkpoint), and the sink
    must hold exactly one copy of each emission."""
    import glob
    import json as _json
    import os as _os

    from spark_streaming_test_spark.sources.jsonl_sink import register_sink
    from spark_streaming_test_spark.streaming.pipeline import (
        ALERT_MSG,
        INFO_MSG,
        edge_trigger_stream,
        packet_stream_from_dir,
    )

    register_sink(spark)
    src = str(tmp_path / "in")
    out = str(tmp_path / "alerts")
    chk = str(tmp_path / "chk")
    limit = 100.0
    # batch -> (nif, bytes): designed to flip A's alert state twice and
    # B's once, with suppressed repeats in between
    batches = [
        [("A", 150.0, _ts(0)), ("B", 10.0, _ts(0))],   # A: alert, B: info
        [("A", 160.0, _ts(5)), ("B", 20.0, _ts(5))],   # both suppressed
        [("A", 30.0, _ts(10)), ("B", 200.0, _ts(10))], # A: info, B: alert
        [("A", 20.0, _ts(15)), ("B", 220.0, _ts(15))], # both suppressed
    ]

    def run_available(n_batches_written):
        packets = packet_stream_from_dir(spark, src)
        totals = packets.select("nif", F.col("bytes").alias("total_bytes"))
        q = (
            edge_trigger_stream(totals, limit)
            .writeStream.format("jsonl_dir")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(180)
        finally:
            q.stop()

    # run 1: first two batches
    for i, rows in enumerate(batches[:2]):
        _write_packet_batch(spark, src, rows, i)
    run_available(2)
    # RESTART: feed the remaining batches through a fresh query on the
    # same checkpoint — the edge-trigger state must carry over
    for i, rows in enumerate(batches[2:], start=2):
        _write_packet_batch(spark, src, rows, i)
    run_available(4)

    emitted = []
    for part in glob.glob(_os.path.join(out, "epoch=*", "*.jsonl")):
        with open(part) as f:
            emitted += [_json.loads(line) for line in f]
    got = sorted(
        (e["nif"], e["is_alert"], e["message"]) for e in emitted
    )
    # Python truth-table replay over per-batch totals
    state: dict = {}
    expect = []
    for rows in batches:
        per_key: dict = {}
        for nif, b, _t in rows:
            per_key[nif] = per_key.get(nif, 0.0) + b
        for nif, total in per_key.items():
            is_alert = total > limit
            if nif not in state or state[nif] != is_alert:
                expect.append(
                    (nif, is_alert, ALERT_MSG if is_alert else INFO_MSG)
                )
            state[nif] = is_alert
    assert got == sorted(expect), (got, expect)


def test_streaming_query_listener_and_observed_metrics(spark, tmp_path):
    """Monitoring surface: a StreamingQueryListener must receive
    progress events whose observedMetrics carry the df.observe()
    aggregates — the hook a production deployment uses for row-count /
    data-quality alerting without a second query."""
    import time

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    events = {"progress": [], "terminated": []}

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, e):
            pass

        def onQueryProgress(self, e):
            events["progress"].append(e.progress)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            events["terminated"].append(e.id)

    listener = Capture()
    spark.streams.addListener(listener)
    try:
        src = str(tmp_path / "src")
        spark.createDataFrame(
            [(i, float(i % 7)) for i in range(100)], "id long, v double"
        ).write.parquet(src)
        q = (
            spark.readStream.schema("id long, v double")
            .parquet(src)
            .observe(
                "ingest_qa",
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("v") == 0.0, 1).otherwise(0)).alias(
                    "n_zero"
                ),
            )
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener delivery is async; poll briefly
        for _ in range(40):
            if events["progress"] and events["terminated"]:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)
    assert events["terminated"], "no termination event delivered"
    obs = {}
    for p in events["progress"]:
        obs.update(p.observedMetrics or {})
    assert "ingest_qa" in obs, [list((p.observedMetrics or {}).keys())
                                for p in events["progress"]]
    row = obs["ingest_qa"]
    assert row["n_rows"] == 100 and row["n_zero"] == 15


def test_windowed_agg_on_rocksdb_state_store(spark, tmp_path):
    """Production state-store path: the SAME windowed aggregation runs
    on the RocksDB state store provider (the large-state backend —
    state lives off-heap/on-disk instead of the default in-memory
    HDFS-backed map) and produces identical results, surviving a
    restart from its checkpoint."""
    from pyspark.sql import functions as F

    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    src = str(tmp_path / "src")
    out_tbl = "rocksdb_windows"
    rows = [
        (i, f"u{i % 3}", float(i % 11))
        for i in range(300)
    ]
    (
        spark.createDataFrame(rows, "sec long, user string, v double")
        .select(F.timestamp_seconds(F.col("sec") * 60).alias("ts"), "user", "v")
        .write.parquet(src)
    )
    saved = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try:
        q = (
            spark.readStream.schema("ts timestamp, user string, v double")
            .parquet(src)
            .groupBy(F.window("ts", "1 hour"), "user")
            .agg(F.sum("v").alias("total"))
            .select(
                F.unix_timestamp("window.start").alias("w"), "user", "total"
            )
            .writeStream.format("memory")
            .queryName(out_tbl)
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["w"], r["user"]): r["total"]
            for r in spark.sql(f"SELECT * FROM {out_tbl}").collect()
        }
        # verify the provider actually engaged (checkpoint holds RocksDB
        # SST/zip artifacts, not the default provider's .delta files)
        import glob

        state_files = glob.glob(
            str(tmp_path / "ckpt" / "state" / "**" / "*"), recursive=True
        )
        assert any(".zip" in f or ".sst" in f for f in state_files), (
            state_files[:10]
        )
        want = {}
        for sec, user, v in rows:
            w = (sec * 60) // 3600 * 3600
            want[(w, user)] = want.get((w, user), 0.0) + v
        assert got == want
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", saved
            )


def test_rocksdb_changelog_checkpointing_restart(spark, tmp_path):
    """RocksDB CHANGELOG checkpointing (the low-latency commit path for
    large state: per-batch uploads ship the batch's changelog instead
    of a full SST snapshot): a stateful dedup stream commits with
    changelogCheckpointing enabled, restarts from the checkpoint with
    a second batch of files, and (a) dedup state demonstrably survived
    the bounce — re-sent keys stay deduped, (b) the checkpoint holds
    .changelog artifacts, the observable difference vs snapshot-only
    mode."""
    import glob

    from pyspark.sql import functions as F

    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    confs = {
        "spark.sql.streaming.stateStore.providerClass": provider,
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)

    def run_once():
        q = (
            spark.readStream.schema("k string, v long")
            .parquet(src)
            .dropDuplicates(["k"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    try:
        spark.createDataFrame(
            [("a", 1), ("b", 2)], "k string, v long"
        ).write.mode("append").parquet(src)
        run_once()
        # second batch: one duplicate key (a) + one new key (c); the
        # duplicate only stays suppressed if RocksDB state survived the
        # restart via snapshot + changelog replay
        spark.createDataFrame(
            [("a", 99), ("c", 3)], "k string, v long"
        ).write.mode("append").parquet(src)
        run_once()
        got = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
        assert got == {"a": 1, "b": 2, "c": 3}, got
        state_files = glob.glob(f"{ckpt}/state/**/*", recursive=True)
        assert any(f.endswith(".changelog") for f in state_files), (
            "changelog checkpointing did not engage",
            state_files[:10],
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_streaming_incremental_substring_index(spark, tmp_path):
    """Streaming form of dedup_incremental_substring: a foreachBatch
    pipeline keeps a growing anchor-gram index on disk; each micro-batch
    of documents is screened against the index built from every PRIOR
    batch, then its own grams are merged in. A doc repeating a prior
    batch's text must screen dup_like (hit ratio 1.0); unseen text must
    screen new; and the index equals the batch-recomputed gram set."""
    import json
    import os

    from pyspark.sql import functions as F

    from spark_streaming_test_spark.llm.dedup import (
        SUBSTR_L,
        _token_gram_frame,
    )

    src = str(tmp_path / "docs_in")
    chk = str(tmp_path / "chk")
    idx = str(tmp_path / "gram_index")
    out = str(tmp_path / "verdicts")
    os.makedirs(src)

    base_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fresh_text = "one two three four five six seven eight nine ten eleven"

    def write_batch(i, rows):
        with open(f"{src}/batch_{i}.json", "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")

    def screen_and_merge(batch_df, _bid):
        sp = batch_df.sparkSession
        grams = _token_gram_frame(batch_df).select("doc_id", "g").distinct()
        grams.localCheckpoint(eager=True)
        if os.path.exists(f"{idx}/_SUCCESS"):
            base = sp.read.parquet(idx).withColumn("in_base", F.lit(True))
        else:
            base = sp.createDataFrame([], "g string").withColumn(
                "in_base", F.lit(True)
            )
        probe = (
            grams.join(base, "g", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_grams"),
                F.count("in_base").alias("n_in_base"),
            )
        )
        probe.write.mode("append").parquet(out)
        merged = (
            base.select("g").unionByName(grams.select("g")).distinct()
        )
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(idx)

    write_batch(0, [(1, base_text)])
    q = (
        spark.readStream.schema("doc_id bigint, text string")
        .json(src)
        .writeStream.foreachBatch(screen_and_merge)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: doc 2 repeats batch-1 text verbatim, doc 3 is unseen
        write_batch(1, [(2, base_text), (3, fresh_text)])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["doc_id"]: (r["n_grams"], r["n_in_base"])
        for r in spark.read.parquet(out).collect()
    }
    n1 = len(base_text.split()) - SUBSTR_L + 1
    n3 = len(fresh_text.split()) - SUBSTR_L + 1
    assert got[1] == (n1, 0)      # first batch probes an empty index
    assert got[2] == (n1, n1)     # verbatim repeat: hit ratio 1.0
    assert got[3] == (n3, 0)      # unseen text: hit ratio 0.0
    # index == batch recompute over everything ingested
    idx_grams = {r["g"] for r in spark.read.parquet(idx).collect()}
    toks = base_text.split()
    want = {" ".join(toks[i : i + SUBSTR_L]) for i in range(n1)}
    toks = fresh_text.split()
    want |= {" ".join(toks[i : i + SUBSTR_L]) for i in range(n3)}
    assert idx_grams == want


# --- checkpoint file manager: fork floor and the properties it keeps ----------

_FORK_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
src, chk, log = sys.argv[2:5]
import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spark_streaming_test_spark.session import get_spark
from spark_streaming_test_spark.streaming.pipeline import (
    edge_trigger_stream,
    packet_stream_from_dir,
)

spark = get_spark("checkpoint-forks")
os.makedirs(src)
packets = packet_stream_from_dir(spark, src)
totals = packets.select("nif", F.col("bytes").alias("total_bytes"))
q = (
    edge_trigger_stream(totals, max_limit=150.0)
    .writeStream.foreachBatch(lambda df, _bid: df.collect())
    .option("checkpointLocation", chk)
    .start()
)
for i, nbytes in enumerate([200.0, 220.0, 80.0, 400.0]):
    table = pa.table({
        "nif": ["A", "B"],
        "bytes": [nbytes, 300.0 - nbytes],
        "ts": pa.array([datetime(2024, 1, 1, 0, i)] * 2, type=pa.timestamp("us")),
    })
    pq.write_table(table, f"{src}/b{i}.parquet")
    q.processAllAvailable()
    with open(log, "a") as f:
        f.write(f"batch {i}\\n")
print("BATCHES", q.lastProgress["batchId"] + 1)
q.stop()
spark.stop()
"""


def test_checkpoint_writes_fork_no_readlink_or_chmod(tmp_path):
    """Without libhadoop, Hadoop's local FileContext forks a `readlink`
    for every getFileLinkStatus (56 per micro-batch at 2 state
    partitions through the default checkpoint manager), and
    RawLocalFileSystem.setPermission forks a `chmod` for every file and
    .crc it creates (22 per batch at 4 state partitions through
    FileSystemBasedCheckpointFileManager); the session's manager forks
    neither. Shims first on the JVM's PATH log every `readlink` and
    `chmod` it starts; batches after the first must start none."""
    real = {cmd: shutil.which(cmd) for cmd in ("readlink", "chmod")}
    if None in real.values():
        pytest.skip("no readlink/chmod binary on PATH")
    log = tmp_path / "forks.log"
    shims = tmp_path / "bin"
    shims.mkdir()
    for cmd, path in real.items():
        shim = shims / cmd
        shim.write_text(f'#!/bin/sh\necho {cmd} >> "{log}"\nexec "{path}" "$@"\n')
        shim.chmod(0o755)
    script = tmp_path / "forks.py"
    script.write_text(_FORK_SCRIPT)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    env["PATH"] = f"{shims}{os.pathsep}{env['PATH']}"
    proc = subprocess.run(
        [sys.executable, str(script), repo, str(tmp_path / "in"),
         str(tmp_path / "chk"), str(log)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "BATCHES 4" in proc.stdout, proc.stdout
    # One count per batch: the lines logged since the previous marker.
    per_batch, counts = [], {"readlink": 0, "chmod": 0}
    for line in log.read_text().split("\n"):
        if line.startswith("batch "):
            per_batch.append(counts)
            counts = {"readlink": 0, "chmod": 0}
        elif line:
            counts[line] += 1
    assert len(per_batch) == 4
    forks = ", ".join(
        f"batch {i}: {c['readlink']} readlink / {c['chmod']} chmod"
        for i, c in enumerate(per_batch)
    )
    assert all(c["readlink"] == 0 and c["chmod"] == 0 for c in per_batch[1:]), forks


def test_checkpoint_manager_keeps_atomic_logs_and_checksums(spark, tmp_path):
    """What the session's checkpoint file manager must keep of the
    default one: a second writer of an existing log entry fails with
    Hadoop's FileAlreadyExistsException (HDFSMetadataLog's concurrent-
    writer guard catches that class), and every log entry and state
    delta keeps its Hadoop .crc sidecar and Spark's delta checksum."""
    import glob as _glob

    from py4j.protocol import Py4JJavaError

    src = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    _write_packet_batch(spark, src, [("A", 200.0, _ts(0))], 0)
    packets = packet_stream_from_dir(spark, src)
    totals = packets.select("nif", F.col("bytes").alias("total_bytes"))
    q = (
        edge_trigger_stream(totals, max_limit=150.0)
        .writeStream.foreachBatch(lambda df, _bid: df.collect())
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_packet_batch(spark, src, [("A", 220.0, _ts(1))], 1)
        q.processAllAvailable()
    finally:
        q.stop()

    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    path = jvm.org.apache.hadoop.fs.Path(f"file://{chk}/offsets/0")
    mgr = (
        jvm.org.apache.spark.sql.execution.streaming.checkpointing
        .CheckpointFileManager.create(path.getParent(), hadoop_conf)
    )
    before = open(f"{chk}/offsets/0").read()
    with pytest.raises(Py4JJavaError) as err:
        mgr.createAtomic(path, False).close()
    exists_cls = jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert exists_cls.isInstance(err.value.java_exception), str(err.value)
    assert open(f"{chk}/offsets/0").read() == before

    entries = [f"{chk}/{log}/{n}" for log in ("offsets", "commits") for n in (0, 1)]
    deltas = sorted(_glob.glob(f"{chk}/state/0/*/*.delta"))
    assert deltas, os.listdir(chk)
    for f in entries + deltas:
        assert os.path.exists(f), f
        d, name = os.path.split(f)
        assert os.path.exists(f"{d}/.{name}.crc"), f"no Hadoop .crc for {f}"
    for f in deltas:
        assert os.path.exists(f"{f}.crc"), f"no Spark checksum for {f}"


def test_checkpoint_file_modes_match_the_filesystem_manager(spark, tmp_path):
    """The session's manager sets each checkpoint file's mode in the JVM;
    every file and directory a short edge-trigger stream leaves (offset,
    commit and source logs, state deltas, Spark's checksum files and
    every .crc) must get the mode Hadoop's FileSystem-based manager gives
    it, under the same umask."""
    from spark_streaming_test_spark import jvm
    from spark_streaming_test_spark.session import FS_CHECKPOINT_MANAGER

    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == jvm.CHECKPOINT_MANAGER

    def modes(name):
        src = str(tmp_path / name / "in")
        chk = str(tmp_path / name / "chk")
        for i, rows in enumerate([[("A", 200.0, _ts(0))], [("A", 80.0, _ts(1))]]):
            _write_packet_batch(spark, src, rows, i)
        totals = packet_stream_from_dir(spark, src).select(
            "nif", F.col("bytes").alias("total_bytes")
        )
        q = (
            edge_trigger_stream(totals, max_limit=150.0)
            .writeStream.foreachBatch(lambda df, _bid: df.collect())
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # Which manager wrote them: the session's, or the one asked for.
        manager = (
            spark._jvm.org.apache.spark.sql.execution.streaming.checkpointing
            .CheckpointFileManager.create(
                spark._jvm.org.apache.hadoop.fs.Path(f"file://{chk}"),
                spark._jsparkSession.sessionState().newHadoopConf(),
            ).getClass().getName()
        )
        out = {}
        for root, dirs, files in os.walk(chk):
            for n in dirs + files:
                path = os.path.join(root, n)
                out[os.path.relpath(path, chk)] = oct(os.stat(path).st_mode)
        return manager, out

    ours, got = modes("session")
    spark.conf.set(key, FS_CHECKPOINT_MANAGER)
    try:
        theirs, want = modes("filesystem")
    finally:
        spark.conf.set(key, jvm.CHECKPOINT_MANAGER)
    assert (ours, theirs) == (jvm.CHECKPOINT_MANAGER, FS_CHECKPOINT_MANAGER)
    # The maintenance thread may snapshot one run's state and not the other's.
    common = got.keys() & want.keys()
    assert {p: got[p] for p in common} == {p: want[p] for p in common}
    names = [os.path.basename(p) for p in common]
    for kind in ("offsets/1", "commits/1", "sources/0/1", "offsets/.1.crc"):
        assert kind in common, sorted(common)
    assert any(n.endswith(".delta") for n in names), sorted(common)
    assert any(n.endswith(".delta.crc") and not n.startswith(".") for n in names)
    assert any(n.endswith(".delta.crc") and n.startswith(".") for n in names)


def test_edge_trigger_resumes_past_leftover_checkpoint_temp_files(spark, tmp_path):
    """A writer that loses the atomic-write race for a log entry leaves
    its temp file and that file's Hadoop .crc in the log directory
    (``.N.<uuid>.tmp``, ``..N.<uuid>.tmp.crc``). A restart over such a
    pair must not read it as a batch: the query resumes with the same
    state and the same emissions."""
    import uuid

    src = str(tmp_path / "in")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")

    def run_once():
        totals = packet_stream_from_dir(spark, src).select(
            "nif", F.col("bytes").alias("total_bytes")
        )
        q = (
            edge_trigger_stream(totals, max_limit=150.0)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _write_packet_batch(spark, src, [("A", 200.0, _ts(0)), ("B", 100.0, _ts(0))], 0)
    run_once()
    tmp = f".1.{uuid.uuid4()}.tmp"
    for name in (tmp, f".{tmp}.crc"):
        with open(f"{chk}/offsets/{name}", "w") as f:
            f.write("v1\n{}\n")
    _write_packet_batch(spark, src, [("A", 220.0, _ts(5)), ("B", 400.0, _ts(5))], 1)
    run_once()
    rows = sorted(
        (r["nif"], r["total_bytes"], r["is_alert"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [
        ("A", 200.0, True),   # A's 220 is suppressed: its flag survived
        ("B", 100.0, False),
        ("B", 400.0, True),
    ], rows
    assert sorted(n for n in os.listdir(f"{chk}/offsets") if n.isdigit()) == ["0", "1"]
