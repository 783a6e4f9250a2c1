"""Run context, timed set-up, session teardown and the engine-wide
per-layer figures shared by all workloads."""

from __future__ import annotations

import os
import signal
import time
from dataclasses import dataclass, field

from . import spans
from .stats import mean

SHUTDOWN_TIMEOUT_S = 60.0


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    t_start: float
    tracer: spans.Tracer

    @property
    def event_log_dir(self) -> str:
        return os.path.join(self.work, "eventlog")


@dataclass
class Outcome:
    """What a workload measured. ``latencies_ms`` are the timed units
    (micro-batches or warm passes); ``windows`` their epoch intervals,
    used to attribute event-log jobs in the traced run."""

    latencies_ms: list[float] = field(default_factory=list)
    windows: list[tuple[float, float]] = field(default_factory=list)
    setup_s: float = 0.0
    get_spark_s: float = 0.0
    first_unit_ms: float = 0.0
    peak_rss_mb: float = 0.0
    retained_mb: float = 0.0
    cpu_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)


def timed_setup(ctx: Ctx, start, out: Outcome, input_s: float = 0.0):
    """Set the workload up once and time it from process start, so the
    figure carries interpreter imports, the JVM launch and the first
    ``get_spark``, less ``input_s`` spent generating inputs before it.
    ``start()`` builds the session and starts the workload's query,
    returning a handle with a ``get_spark_s`` attribute."""
    with ctx.tracer.span("setup"):
        handle = start()
    out.setup_s = time.perf_counter() - ctx.t_start - input_s
    out.get_spark_s = handle.get_spark_s
    return handle


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def retained_mb(spark) -> float:
    """Memory the driver holds after a fixed amount of work: this
    process's resident set plus the JVM's heap in use after a full
    collection and its non-heap (metaspace, code cache) in use, MiB.
    Unlike the JVM's peak RSS this does not depend on when the
    collector last ran. Taken before the measured window, so the full
    collection cannot disturb a timed unit and the job history Spark
    retains is the same size on every run."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return used / 2**20 + spans.rss_mb(os.getpid())


def process_tree() -> list[int]:
    """This process and everything it started (the JVM, Python workers)."""
    return spans.descendants(os.getpid())


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it and every process
    below this one has exited; kill stragglers after
    ``SHUTDOWN_TIMEOUT_S``."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # The gateway JVM exits when its stdin closes.
            proc.stdin.close()
            proc.wait(timeout=SHUTDOWN_TIMEOUT_S)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + SHUTDOWN_TIMEOUT_S
    while True:
        left = [p for p in process_tree() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + SHUTDOWN_TIMEOUT_S
        time.sleep(0.05)


def engine_layers(log: spans.EventLog, windows) -> dict[str, float]:
    """Mean per unit of work of the jobs submitted in each window."""
    rows = []
    for start, end in windows:
        jobs = log.jobs_between(start, end)
        stages = log.completed_stages(jobs)
        rows.append(
            {
                "exec.jobs": len(jobs),
                "exec.tasks": sum(s.tasks for s in stages),
                "exec.single_task_stages": sum(1 for s in stages if s.tasks == 1),
                "exec.executor_run_ms": sum(s.run_ms for s in stages),
                "exec.gc_ms": sum(s.gc_ms for s in stages),
                "exchange.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
                "exchange.spill_bytes": sum(s.spill_bytes for s in stages),
                "driver.gap_s": (end - start) - spans.busy_union_s(jobs, start, end),
            }
        )
    return {k: mean([r[k] for r in rows]) for k in rows[0]} if rows else {}
