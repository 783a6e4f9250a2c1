"""The query mix: registry queries over seeded star-schema tables.

Protocol per run: one cold pass that collects every query's result and
compares it with its DuckDB oracle (the comparison itself is untimed),
one untimed warm pass, then timed warm passes to the ``noop`` sink until
the measured window is spent. ``reset_query_state`` runs before every query, so no query
reuses another's cached frames."""

from __future__ import annotations

import os
import time

from . import spans
from .checks import oracle_connection, oracle_digest, result_digest
from .harness import (
    Ctx,
    Outcome,
    engine_layers,
    jvm_pid,
    process_tree,
    retained_mb,
    timed_setup,
)
from .inputs import TableScale, write_tables
from .metrics import MIX_QUERIES
from .stats import mean

SCALE = TableScale(
    customers=1500, suppliers=100, parts=500, orders=15000,
    events=10000, users=150, documents=500, embeddings=500,
)
# Timed passes keep getting faster as the JIT warms the planner, so the
# median depends on how many passes it spans. Six passes fill --seconds 25
# on a 4-core box; the floor keeps the count the same when the box is slow.
MIN_WARM_PASSES = 6


class MixSession:
    """A session with the mix's queries looked up in the registry and
    every input table resolved (schema read from its parquet footer)."""

    def __init__(self, table_dir: str):
        from spark_streaming_test_spark import registry
        from spark_streaming_test_spark.catalog import load
        from spark_streaming_test_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.get_spark_s = time.perf_counter() - t0
        queries = registry.queries()
        self.fns = {name: queries[name] for name in MIX_QUERIES}
        oracles = registry.oracle_sql()
        self.oracles = {name: oracles[name] for name in MIX_QUERIES}
        for name in os.listdir(table_dir):
            load(self.spark, table_dir, name.removesuffix(".parquet"))


def run(ctx: Ctx) -> Outcome:
    from spark_streaming_test_spark.session import reset_query_state

    out = Outcome()
    t0 = time.perf_counter()
    table_dir = os.path.join(ctx.work, "tables")
    rows = write_tables(SCALE, ctx.seed, table_dir)
    input_s = time.perf_counter() - t0
    sess = timed_setup(ctx, lambda: MixSession(table_dir), out, input_s)
    spark = sess.spark
    jvm = jvm_pid(spark)
    sc = spark.sparkContext
    timings: dict[str, list[tuple[float, float]]] = {q: [] for q in MIX_QUERIES}

    def run_query(name: str, label: str, collect: bool):
        reset_query_state(spark)
        sc.setJobGroup(f"{name}#{label}", name)
        with ctx.tracer.span("query", query=name, label=label):
            t0 = time.perf_counter()
            with ctx.tracer.span("build"):
                df = sess.fns[name](spark, table_dir)
            t1 = time.perf_counter()
            with ctx.tracer.span("collect" if collect else "exec"):
                if collect:
                    result = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
                    result = None
            t2 = time.perf_counter()
        return df, result, t1 - t0, t2 - t1

    def warm_pass(label: str) -> dict[str, tuple[float, float]]:
        """Every query once to the noop sink: (build_s, exec_s) of each
        query that ran."""
        times = {}
        with ctx.tracer.span("pass", label=label):
            for name in MIX_QUERIES:
                out.attempted += 1
                try:
                    _, _, build_s, exec_s = run_query(name, label, collect=False)
                except Exception as exc:  # a failing query is counted, the pass goes on
                    out.failed += 1
                    out.notes.append(f"{name}: {type(exc).__name__}: {exc}")
                    continue
                times[name] = (build_s, exec_s)
        return times

    with ctx.tracer.span("workload", workload=ctx.workload, seed=ctx.seed):
        digests = {}
        with ctx.tracer.span("pass", label="cold"):
            for name in MIX_QUERIES:
                out.attempted += 1
                try:
                    df, result, build_s, collect_s = run_query(name, "cold", collect=True)
                except Exception as exc:  # a failing query is counted, the pass goes on
                    out.failed += 1
                    out.notes.append(f"{name}: {type(exc).__name__}: {exc}")
                    continue
                out.first_unit_ms += (build_s + collect_s) * 1000.0
                digests[name] = result_digest(df.columns, result)
        # Before DuckDB runs in this process, so its memory is not counted.
        out.retained_mb = retained_mb(spark)
        con = oracle_connection(table_dir, rows)
        for name, got in digests.items():
            want = oracle_digest(con, sess.oracles[name])
            if got != want:
                out.failed += 1
                out.notes.append(f"{name}: rows/hash {got} != oracle {want}")
        con.close()
        # One untimed warm pass: the JIT keeps speeding the planner up for
        # several passes, and the first warm pass is the slowest of them.
        warm_pass("warmup")
        cpu0 = spans.cpu_seconds(process_tree()) if ctx.trace else 0.0
        measure_start = time.perf_counter()
        n_pass = 0
        while n_pass < MIN_WARM_PASSES or time.perf_counter() - measure_start < ctx.seconds:
            wall0 = time.time()
            times = warm_pass(f"warm{n_pass}")
            for name, t in times.items():
                timings[name].append(t)
            out.latencies_ms.append(sum(b + e for b, e in times.values()) * 1000.0)
            out.windows.append((wall0, time.time()))
            n_pass += 1
        if ctx.trace:
            out.cpu_s = spans.cpu_seconds(process_tree()) - cpu0
    out.peak_rss_mb = spans.peak_rss_mb([os.getpid(), jvm])
    spark.stop()
    if ctx.trace:
        log = spans.read_event_log(ctx.event_log_dir)
        out.layers = engine_layers(log, out.windows)
        for name in MIX_QUERIES:
            if timings[name]:
                out.layers[f"{name}.build_s"] = mean([b for b, _ in timings[name]])
                out.layers[f"{name}.exec_s"] = mean([e for _, e in timings[name]])
            per_pass = []
            for p in range(n_pass):
                jobs = log.jobs_in_group(f"{name}#warm{p}")
                stages = log.completed_stages(jobs)
                per_pass.append(
                    (
                        len(jobs),
                        sum(1 for s in stages if s.tasks == 1),
                        sum(s.shuffle_write_bytes for s in stages),
                    )
                )
            out.layers[f"{name}.jobs"] = mean([p[0] for p in per_pass])
            out.layers[f"{name}.single_task_stages"] = mean([p[1] for p in per_pass])
            out.layers[f"{name}.shuffle_bytes"] = mean([p[2] for p in per_pass])
    return out
