#!/usr/bin/env python
"""Registry-wide single-task-stage sweep (optimization rounds).

Runs every registered query through ``bench.run_query`` (one cold run +
one timed run, the bench's own protocol on the bench's own session)
against ``$SPARK_GRAFT_SF_DIR`` and records, via ``bench.hot_stages``,
every stage that completed with <= 2 tasks while burning >= 0.3 s of
executor time. Those are the stages that serialize onto one core: at
corpus scale they are the scale-killers the optimization guide
(§2.5-2.6) says to hunt first. The bench only covers the 75 headline
queries; this sweep is the mechanized backstop for the other ~540
registered paths.

Output: one JSON line per query appended to ``--out`` (default
``plans/r14/single_task_sweep.jsonl``) with the timed run's wall and
any hot single-task stages (each tagged with the run that produced it
and with its Python worker time, ``py_init_ms`` and ``py_run_ms``, so
a per-task Python set-up floor shows without an event log) and the
count of its stage ids the status store evicted before they were read,
plus a final summary line. An unknown or failing query becomes an
``err`` line and the sweep goes on.

Usage::

    python tools/sweep_single_task.py                  # full registry
    python tools/sweep_single_task.py --only a,b,c     # subset
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import (  # noqa: E402
    HOT_MAX_TASKS,
    HOT_MIN_RUN_S,
    hot_stages,
    run_query,
)
from spark_streaming_test_spark import registry  # noqa: E402
from spark_streaming_test_spark.session import get_spark  # noqa: E402

# Stages and jobs the status store keeps (spark.ui.retainedStages and
# retainedJobs, default 1000). Over the limit it drops a tenth of them,
# SKIPPED stages first whatever their age, then the oldest completed
# ones, so a query's own stages vanish before hot_stages reads them:
# 458 stage ids of a graph_eccentricity, graph_betweenness_exact sweep
# run twice at sf0.1. The largest cold + run1 window measured is
# graph_betweenness_exact's, 536 stages in 353 jobs; 5000 keeps every
# completed stage of the query just run, at ~15 KB of driver heap a
# stage. hot_stages counts the stage ids evicted anyway.
RETAINED = 5000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma-separated query subset")
    ap.add_argument("--out", default=os.path.join(
        ROOT, "plans", "r14", "single_task_sweep.jsonl"))
    args = ap.parse_args()

    # Read when get_spark launches the JVM, as perfbench passes its
    # event-log conf.
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.ui.retainedStages={RETAINED}",
        "--conf", f"spark.ui.retainedJobs={RETAINED}",
        "pyspark-shell",
    ])
    spark = get_spark("single-task-sweep")
    qs = registry.queries()
    names = [n for n in args.only.split(",") if n] or sorted(qs)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    n_hot = n_evicted = 0
    with open(args.out, "a") as out:
        for i, name in enumerate(names):
            rec: dict = {"query": name}
            try:
                _, [wall] = run_query(spark, name, qs[name], sf_dir, 1)
                hot, evicted = hot_stages(spark, name)
                rec.update(wall=wall, hot=hot, evicted=evicted)
                n_evicted += evicted
                if hot:
                    n_hot += 1
                    print(f"[{i+1}/{len(names)}] {name} wall={wall:.2f}s "
                          f"HOT: " + "; ".join(
                              f"{h['run']}:stage{h['stage']}:{h['tasks']}t/"
                              f"{h['run_s']}s" for h in hot[:3]),
                          flush=True)
            except Exception as e:  # record, keep sweeping
                rec["err"] = f"{type(e).__name__}: {e}"[:200]
                print(f"[{i+1}/{len(names)}] {name} ERR {rec['err'][:80]}",
                      flush=True)
            out.write(json.dumps(rec) + "\n")
            out.flush()
        out.write(json.dumps({
            "summary": True, "n_queries": len(names),
            "n_with_hot_single_task": n_hot, "n_evicted_stages": n_evicted,
            "min_run_s": HOT_MIN_RUN_S, "max_tasks": HOT_MAX_TASKS,
            "sf_dir": sf_dir,
            "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }) + "\n")
    print(f"done: {len(names)} queries, {n_hot} with hot single-task stages, "
          f"{n_evicted} stages evicted before they were read")


if __name__ == "__main__":
    main()
