"""The alert workload: the reference pipeline as one Structured
Streaming query, driven as a closed loop.

Each iteration renames one seeded packet file into the stream's input
directory and calls ``processAllAvailable()``, which returns once the
micro-batch has committed, i.e. after the Kafka-wire sink got its acks.
That interval is the unit latency. File writing, the replay check and
trace bookkeeping happen between iterations, outside the timed span."""

from __future__ import annotations

import os
import time

from . import spans
from .checks import EdgeTriggerReplay, message_counts
from .harness import (
    Ctx,
    Outcome,
    engine_layers,
    jvm_pid,
    process_tree,
    retained_mb,
    timed_setup,
)
from .inputs import REFERENCE_MAX_LIMIT, PacketShape, PacketSource
from .stats import mean

TOPIC = "nic-alerts"
# Small batches, so per-batch fixed cost dominates: offset log, planning,
# state-store commit, the Python worker round-trip, one sink socket per
# task. After the first batch a quarter of the NICs flip state per batch.
SHAPE = PacketShape(nics=64, packets=50, flips=16)
WARMUP = 3  # untimed batches before the measured window
MAX_BATCHES = 2000

_PHASES = {
    "latestOffset": "sources.latest_offset_ms",
    "getBatch": "sources.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "addBatch": "streaming.add_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "triggerExecution": "streaming.trigger_ms",
}


class AlertPipeline:
    """packet files -> edge_trigger_stream -> foreachBatch Kafka-wire
    sink -> in-process broker, on a fresh session, input directory and
    checkpoint."""

    def __init__(self, ctx: Ctx):
        from pyspark.sql import functions as F

        from spark_streaming_test_spark.operators.traffic import lookup_max_limit
        from spark_streaming_test_spark.session import get_spark
        from spark_streaming_test_spark.sources.kafka_wire import MiniKafkaBroker
        from spark_streaming_test_spark.streaming.pipeline import (
            edge_trigger_stream,
            kafka_wire_batch_sink,
            packet_stream_from_dir,
        )

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t0
        self.input_dir = os.path.join(ctx.work, "input")
        os.makedirs(self.input_dir)
        self.broker = MiniKafkaBroker().start()
        packets = packet_stream_from_dir(self.spark, self.input_dir)
        totals = packets.select("nif", F.col("bytes").alias("total_bytes"))
        alerts = edge_trigger_stream(totals, max_limit=lookup_max_limit(self.spark))
        self.query = (
            alerts.writeStream.foreachBatch(
                kafka_wire_batch_sink(self.broker.host, self.broker.port, TOPIC, acks=1)
            )
            .option("checkpointLocation", os.path.join(ctx.work, "ckpt"))
            .start()
        )
        self.query.processAllAvailable()

    def stop(self) -> None:
        self.query.stop()
        self.broker.stop()
        self.spark.stop()


def _progress_sample(progress: dict, latency_ms: float, rows: int) -> dict[str, float]:
    d = progress.get("durationMs", {})
    out = {name: float(d.get(phase, 0)) for phase, name in _PHASES.items()}
    out["streaming.driver_gap_ms"] = latency_ms - d.get("triggerExecution", 0)
    ops = progress.get("stateOperators") or [{}]
    out["streaming.state_update_ms"] = float(ops[0].get("allUpdatesTimeMs", 0))
    out["streaming.state_commit_ms"] = float(ops[0].get("commitTimeMs", 0))
    out["streaming.state_rows_total"] = float(ops[0].get("numRowsTotal", 0))
    out["streaming.state_mem_bytes"] = float(ops[0].get("memoryUsedBytes", 0))
    out["streaming.add_batch_ms_per_mrow"] = d.get("addBatch", 0) / (rows / 1e6)
    return out


def run(ctx: Ctx) -> Outcome:
    out = Outcome()
    pipe = timed_setup(ctx, lambda: AlertPipeline(ctx), out)
    jvm = jvm_pid(pipe.spark)
    source = PacketSource(SHAPE, ctx.seed, os.path.join(ctx.work, "staging"), MAX_BATCHES)
    replay = EdgeTriggerReplay(REFERENCE_MAX_LIMIT)
    samples: list[dict[str, float]] = []
    seen_records = seen_requests = 0
    measure_start = cpu_start = None
    batch = 0
    with ctx.tracer.span("workload", workload=ctx.workload, seed=ctx.seed):
        while batch < MAX_BATCHES:
            if batch == WARMUP:
                out.retained_mb = retained_mb(pipe.spark)
                measure_start = time.perf_counter()
                if ctx.trace:
                    cpu_start = spans.cpu_seconds(process_tree())
            elif measure_start is not None and time.perf_counter() - measure_start >= ctx.seconds:
                break
            with ctx.tracer.span("file_write", batch=batch):
                staged = source.write(batch)
            due = replay.expect(staged)
            landed = os.path.join(pipe.input_dir, os.path.basename(staged))
            with ctx.tracer.span("batch", batch=batch) as sp:
                wall0 = time.time()
                t0 = time.perf_counter()
                os.rename(staged, landed)
                pipe.query.processAllAvailable()
                latency_ms = (time.perf_counter() - t0) * 1000.0
                wall1 = time.time()
            records = pipe.broker.fetch(TOPIC)
            requests = pipe.broker.requests_seen
            ok = message_counts(records[seen_records:]) == due
            out.attempted += 1
            out.failed += 0 if ok else 1
            if not ok:
                out.notes.append(
                    f"batch {batch}: broker got {dict(message_counts(records[seen_records:]))}, "
                    f"replay expects {dict(due)}"
                )
            if batch == 0:
                out.first_unit_ms = latency_ms
            if batch >= WARMUP:
                out.latencies_ms.append(latency_ms)
                out.windows.append((wall0, wall1))
                if ctx.trace:
                    progress = pipe.query.lastProgress or {}
                    s = _progress_sample(progress, latency_ms, SHAPE.rows)
                    n_rec = len(records) - seen_records
                    n_req = requests - seen_requests
                    s["streaming.rows_per_s"] = SHAPE.rows / (latency_ms / 1000.0)
                    s["kafka_wire.records"] = n_rec
                    s["kafka_wire.produce_requests"] = n_req
                    s["kafka_wire.records_per_request"] = n_rec / n_req if n_req else 0.0
                    s["kafka_wire.emit_ratio"] = n_rec / SHAPE.nics
                    samples.append(s)
                    _attach_phases(ctx.tracer, sp, progress)
            seen_records, seen_requests = len(records), requests
            batch += 1
        if ctx.trace and cpu_start is not None:
            out.cpu_s = spans.cpu_seconds(process_tree()) - cpu_start
    out.peak_rss_mb = spans.peak_rss_mb([os.getpid(), jvm])
    pipe.stop()
    if ctx.trace:
        out.layers = {k: mean([s[k] for s in samples]) for k in samples[0]} if samples else {}
        log = spans.read_event_log(ctx.event_log_dir)
        out.layers.update(engine_layers(log, out.windows))
        # The batch job's result stage runs the state function and the
        # producer in the same tasks; its executor time bounds the sink's.
        out.layers["kafka_wire.sink_stage_ms"] = mean(
            [
                sum(s.run_ms for s in log.result_stages(log.jobs_between(a, b)))
                for a, b in out.windows
            ]
        )
    return out


def _attach_phases(tracer, batch_span, progress: dict) -> None:
    """Attach the micro-batch's StreamingQueryProgress phases as child
    spans of the batch. Spark reports each phase's duration, not its
    start, so children are laid end to end from the batch start."""
    if batch_span is None:
        return
    start = batch_span["start"]
    for phase, ms in (progress.get("durationMs") or {}).items():
        if phase == "triggerExecution":
            continue
        tracer.add(f"progress.{phase}", start, start + ms / 1000.0,
                   parent=batch_span["id"], source="StreamingQueryProgress")
        start += ms / 1000.0
