"""Names, units and directions of every metric the benchmark prints.
``BENCHMARK.json`` lists the same names (checked by the self-tests)."""

from __future__ import annotations

WORKLOADS = ("alerts_live", "query_mix")

# Printed with --trace 0, for every workload.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_ms_p50": ("ms", "lower"),
    "retained_mb": ("MiB", "lower"),
}

# Queries of the query_mix workload, in pass order: one-pass scan,
# exchange, Arrow-UDF and text operators, then one driver-looped
# iterative query.
MIX_QUERIES = (
    "traffic_alerts",
    "tpch_q5_local_supplier_volume",
    "join_salted_skew",
    "udf_pandas_scalar",
    "text_tfidf_topk",
    "graph_pagerank",
)

_STREAM_LAYERS = {
    "sources.latest_offset_ms": ("ms", "lower"),
    "sources.get_batch_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.driver_gap_ms": ("ms", "lower"),
    "streaming.state_update_ms": ("ms", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.state_rows_total": ("count", "lower"),
    "streaming.state_mem_bytes": ("bytes", "lower"),
    "streaming.add_batch_ms_per_mrow": ("ms/Mrow", "lower"),
    "streaming.rows_per_s": ("rows/s", "higher"),
    "kafka_wire.records": ("count", "lower"),
    "kafka_wire.produce_requests": ("count", "lower"),
    "kafka_wire.records_per_request": ("ratio", "higher"),
    "kafka_wire.emit_ratio": ("ratio", "lower"),
    "kafka_wire.sink_stage_ms": ("ms", "lower"),
}

_QUERY_LAYERS = {
    "build_s": ("s", "lower"),
    "exec_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "single_task_stages": ("count", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
}

# Printed with --trace 1, for every workload; a layer the workload does
# not run reads 0. Engine-wide figures are per unit of work (one
# micro-batch, or one warm pass of the mix).
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    **_STREAM_LAYERS,
    **{f"{q}.{m}": spec for q in MIX_QUERIES for m, spec in _QUERY_LAYERS.items()},
    "exec.jobs": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.single_task_stages": ("count", "lower"),
    "exec.executor_run_ms": ("ms", "lower"),
    "exec.gc_ms": ("ms", "lower"),
    "exchange.shuffle_write_bytes": ("bytes", "lower"),
    "exchange.spill_bytes": ("bytes", "lower"),
    "driver.gap_s": ("s", "lower"),
    "proc.cpu_s": ("s", "lower"),
    "proc.peak_rss_mb": ("MiB", "lower"),
    "warmup.first_unit_ms": ("ms", "lower"),
    "trace.latency_ms_p50": ("ms", "lower"),
    "trace.overhead_pct": ("%", "lower"),
}
