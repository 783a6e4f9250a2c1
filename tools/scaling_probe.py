#!/usr/bin/env python
"""Scale-out evidence probe (optimization round 14, VERDICT r13 ask #2).

The sf0.1 bench cannot demonstrate parallel scale-out: per-task fixed
cost dominates, so every cohort runs FASTER at 8 cores than 32
(PERF_r13 scaling block, all ratios < 1). This tool measures the same
queries at a grain where compute dominates:

1. ``generate``: build a REPLICAS x sf0.1 dataset under --dir by
   unioning key-offset copies of each table (ids shifted per replica,
   one offset per key domain, so joins/graphs become R disjoint copies
   of the sf0.1 structure — the co-purchase projection cannot densify,
   per-user series keep their length, join fan-outs replicate instead
   of exploding). This is a
   MEASUREMENT fixture only: no oracle runs against it and no query
   path reads it outside this tool.
2. ``run``: in THIS process (launch once per core count via
   $SPARK_GRAFT_CPUS), noop-time the probe cohort with the bench's
   ``run_query`` (1 cold run + $SPARK_GRAFT_BENCH_REPEATS repeats,
   default 3, median) and append one JSON line to --out.

Usage (two fresh processes per the bench's own discipline):

    python tools/scaling_probe.py generate --dir /tmp/sfscale10
    SPARK_GRAFT_CPUS=32 python tools/scaling_probe.py run --dir /tmp/sfscale10
    SPARK_GRAFT_CPUS=8  python tools/scaling_probe.py run --dir /tmp/sfscale10

The committed artifact (plans/r14/scaling_probe.json) holds both lines;
speedup_32_over_8 >= ~2 on the compute-heavy queries is the scale-out
evidence the sf0.1 bench cannot produce.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = 10
SRC = "/root/testdata/sf0.1"

# Key domains: every integer key column that holds one kind of key. A
# replica shifts all columns of a domain by the SAME offset, so replica
# orders reference replica customers and replica lineitems reference
# replica orders, parts and suppliers. events.user_id joins customers
# and orders (join_asof, the streaming enrich oracle), so it is a
# custkey. region/nation keys stay as-is.
KEY_DOMAINS = {
    "custkey": ["c_custkey", "o_custkey", "user_id"],
    "orderkey": ["o_orderkey", "l_orderkey"],
    "partkey": ["p_partkey", "l_partkey"],
    "suppkey": ["s_suppkey", "l_suppkey"],
    "vec_id": ["vec_id"],
    "doc_id": ["doc_id"],
    "event_id": ["event_id"],
}


def domain_spans(col_max: dict[str, int]) -> dict[str, int]:
    """Per-column replica offset step: one more than the max over every
    column of the column's key domain."""
    return {
        c: max(col_max[k] for k in cols) + 1
        for cols in KEY_DOMAINS.values()
        for c in cols
    }


# Compute-heavy cohort: the heavy-tail bench cohort plus the heaviest
# sweep finds — the queries whose 100 TB posture the round argues for.
PROBE = [
    "emb_pca_power",
    "emb_covariance_matrix",
    "ml_isotonic_calibration",
    "sim_nn_descent",
    "sim_knn_graph_search",
    "graph_spectral_bisection",
    "ts_matrix_profile",
    "dedup_minhash_lsh",
    "text_tfidf_topk",
    "tpch_q1_pricing_summary",
]


def generate(out_dir: str) -> None:
    from pyspark.sql import functions as F

    from spark_streaming_test_spark.catalog import TABLES, load
    from spark_streaming_test_spark.session import get_spark

    spark = get_spark("scaling-probe-gen")
    key_cols = {c for cols in KEY_DOMAINS.values() for c in cols}
    tables = {name: load(spark, SRC, name) for name in TABLES}
    col_max: dict[str, int] = {}
    for base in tables.values():
        keys = [c for c in base.columns if c in key_cols]
        if keys:
            row = base.agg(*[F.max(c).alias(c) for c in keys]).collect()[0]
            col_max.update({c: int(row[c]) for c in keys})
    spans = domain_spans(col_max)
    os.makedirs(out_dir, exist_ok=True)
    for name, base in tables.items():
        keys = [c for c in base.columns if c in spans]
        if not keys:
            # dimension-like tables (region, nation) stay as-is
            base.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"{name}.parquet")
            )
            continue
        parts = []
        for r in range(REPLICAS):
            rep = base
            for k in keys:
                rep = rep.withColumn(k, F.col(k) + F.lit(r * spans[k]))
            parts.append(rep)
        out = parts[0]
        for rep in parts[1:]:
            out = out.unionByName(rep)
        (
            out.repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"{name}.parquet"))
        )
        print(f"generated {name} x{REPLICAS}", flush=True)


def run(data_dir: str, out_path: str) -> None:
    from bench import REPEATS, median, run_query
    from spark_streaming_test_spark import registry
    from spark_streaming_test_spark.session import (
        default_parallelism,
        get_spark,
    )

    spark = get_spark("scaling-probe")
    qs = registry.queries()
    timings: dict[str, float] = {}
    for name in PROBE:
        try:
            _, runs = run_query(spark, name, qs[name], data_dir, REPEATS)
            timings[name] = median(runs)
            print(f"{timings[name]:8.2f}s {name}", flush=True)
        except Exception as e:
            timings[name] = -1.0
            print(f"ERR {name}: {str(e)[:120]}", flush=True)
    rec = {
        "cpus": default_parallelism(),
        "replicas": REPLICAS,
        "data_dir": data_dir,
        "timings": timings,
        "total": round(sum(v for v in timings.values() if v > 0), 3),
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["generate", "run"])
    ap.add_argument("--dir", default="/tmp/sfscale10")
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r14", "scaling_probe.json"))
    args = ap.parse_args()
    if args.mode == "generate":
        generate(args.dir)
    else:
        run(args.dir, args.out)


if __name__ == "__main__":
    main()
