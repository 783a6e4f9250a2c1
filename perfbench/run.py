#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload alerts_live --seed 1 --seconds 15 --trace 0

Prints readable summary lines, then, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` is a separate traced run
(spans, Spark event log, StreamingQueryProgress) reporting the per-layer
metrics. Exits 1 when an output check fails or the workload raises, and
2 when the program under test is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM = "spark_streaming_test_spark"
# Import the benchmark as a package from the repository root, not its
# modules from the script directory.
sys.path[0] = ROOT

from perfbench.metrics import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Environment the JVM and the executor Python workers inherit; it
    must be in place before the first SparkSession launches the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "eventlog"))
    # Executor Python workers resolve the program through PYTHONPATH.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


def program_digest() -> str:
    """Hash of the program's and the benchmark's Python sources, so
    untraced runs of other code never enter this code's overhead."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PROGRAM), HERE):
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if not d.startswith((".", "__")))
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _history_path(workload: str) -> str:
    return os.path.join(HERE, ".out", f"untraced-{workload}-{program_digest()}.json")


def _load_history(workload: str) -> list[float]:
    try:
        with open(_history_path(workload)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return []


def untraced_reference(args) -> bool:
    """Before a traced run, make sure this code has an untraced latency
    to compare with: when none is recorded, run the same workload, seed
    and window untraced first (it records its latency on exit). Runs
    before this process changes its environment, so the reference run
    inherits none of the tracing settings."""
    if _load_history(args.workload):
        return True
    print("no untraced run of this code recorded; running one for reference", flush=True)
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", f"{args.seconds:g}", "--trace", "0"]
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL)
    return done.returncode == 0 and bool(_load_history(args.workload))


def report(args, out, ctx) -> dict:
    from perfbench.stats import highest_supported, median

    lat = median(out.latencies_ms)
    unit = "warm pass" if args.workload == "query_mix" else "micro-batch"
    tail = highest_supported(out.latencies_ms)
    print(
        f"{args.workload} seed={args.seed}: {len(out.latencies_ms)} timed {unit}es, "
        f"latency p50 {lat:.1f} ms; "
        + (f"p{tail[0]} {tail[1]:.1f} ms" if tail else
           "no tail percentile has 10 samples beyond it")
    )
    print(f"timed {unit}es (ms): {' '.join(f'{x:.0f}' for x in out.latencies_ms)}")
    print(f"set-up from process start: {out.setup_s:.3f} s "
          f"(get_spark {out.get_spark_s:.3f} s)")
    for note in out.notes:
        print(f"CHECK FAILED: {note}")
    if not args.trace:
        values = {"setup_s": out.setup_s, "latency_ms_p50": lat,
                  "retained_mb": out.retained_mb}
        history = _load_history(args.workload) + [lat]
        os.makedirs(os.path.dirname(_history_path(args.workload)), exist_ok=True)
        with open(_history_path(args.workload), "w") as f:
            json.dump(history[-50:], f)
        return {k: {"value": values[k], "unit": u} for k, (u, _) in END_TO_END.items()}
    layers = {name: 0.0 for name in PER_LAYER}
    layers.update(out.layers)
    layers["session.get_spark_s"] = out.get_spark_s
    layers["proc.cpu_s"] = out.cpu_s / len(out.latencies_ms)
    layers["proc.peak_rss_mb"] = out.peak_rss_mb
    layers["warmup.first_unit_ms"] = out.first_unit_ms
    layers["trace.latency_ms_p50"] = lat
    history = _load_history(args.workload)
    layers["trace.overhead_pct"] = (lat / median(history) - 1.0) * 100.0
    print(f"tracing overhead: {layers['trace.overhead_pct']:+.1f}% against the median "
          f"of {len(history)} untraced run(s) of this code")
    trace_file = os.path.join(HERE, ".out", f"trace-{args.workload}-seed{args.seed}.json")
    ctx.tracer.write(trace_file)
    print(f"spans: {len(ctx.tracer.spans)} written to {os.path.relpath(trace_file, ROOT)}")
    return {k: {"value": float(layers[k]), "unit": u} for k, (u, _) in PER_LAYER.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PROGRAM, "__init__.py")):
        print(f"error: the program package {PROGRAM}/ is not in {ROOT}", file=sys.stderr)
        return 2
    t_start = T_START
    if args.trace:
        t0 = time.perf_counter()
        if not untraced_reference(args):
            print("error: the untraced reference run failed; no result", file=sys.stderr)
            return 1
        t_start += time.perf_counter() - t0  # not part of this run's set-up
    work = os.path.join(
        HERE, ".work", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work, bool(args.trace))
    os.chdir(work)  # spark-warehouse, derby.log and metastore_db land here
    try:
        from perfbench import harness, mix, spans, stream

        ctx = harness.Ctx(
            workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), work=work, t_start=t_start,
            tracer=spans.Tracer(bool(args.trace)),
        )
        try:
            module = stream if args.workload == "alerts_live" else mix
            out = module.run(ctx)
        finally:
            harness.shutdown_jvm()
        metrics = report(args, out, ctx)
    except Exception:
        traceback.print_exc()
        print(f"error: workload {args.workload} raised; no result", file=sys.stderr)
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    correct = out.failed == 0
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
