#!/usr/bin/env python
"""Fresh-process driver simulation — the local twin of the external
correctness gate, runnable over any slice of the registry.

Usage:
    python tools/driver_sim.py [--sf-dir DIR] [--start N] [--count N]
                               [--names a,b,c]

For each selected query: run the Spark implementation and (when an
oracle exists) the DuckDB SQL, compare with tests/compare.assert_match
(row count + column names + result types + exact values after
canonical sort — a strict superset of the driver's hash). Queries
without an oracle get the driver's weaker rows-run check. Prints one
status line per query and a final summary; exits 1 on any failure.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from spark_streaming_test_spark.catalog import TABLES  # noqa: E402
from spark_streaming_test_spark.registry import all_queries  # noqa: E402
from spark_streaming_test_spark.session import (  # noqa: E402
    get_spark,
    reset_query_state,
)
from tests.compare import assert_match  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--count", type=int, default=50)
    ap.add_argument("--names", default="")
    args = ap.parse_args()

    qs = all_queries()
    if args.names:
        picked = {n: qs[n] for n in args.names.split(",")}
    else:
        names = list(qs)[args.start : args.start + args.count]
        picked = {n: qs[n] for n in names}

    spark = get_spark("driver-sim")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    failures = []
    for i, (name, q) in enumerate(picked.items()):
        t0 = time.perf_counter()
        try:
            df = q.fn(spark, args.sf_dir)
            if q.oracle is None:
                n = df.count()
                status = f"rows-only ({n} rows)"
            else:
                assert_match(df, con, q.oracle, name)
                status = "hash-green"
        except Exception as e:  # noqa: BLE001 — report and continue
            failures.append(name)
            status = f"FAIL: {type(e).__name__}: {e}"
            traceback.print_exc(limit=3)
        dt = time.perf_counter() - t0
        print(f"[{i + 1}/{len(picked)}] {name}: {status} ({dt:.1f}s)",
              flush=True)
        # Long sweeps at bigger SFs OOMed the default 1g driver heap
        # around query ~75: persisted blocks (pagerank edge indexes,
        # checkpointed BPE frames, ...) accumulate across queries that
        # each fit comfortably alone. Drop them between queries, with
        # the localCheckpoint blocks and frame caches clearCache misses.
        reset_query_state(spark)

    print(f"\n{len(picked) - len(failures)}/{len(picked)} green"
          + (f"; FAILURES: {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
