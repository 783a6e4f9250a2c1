#!/usr/bin/env python
"""Benchmark harness — runs the headline query suite and prints ONE JSON line.

Protocol (driver contract + BASELINE.md): run at ``$SPARK_GRAFT_SF_DIR``
(default ``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]``, time each
headline query's full materialization, and emit::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the built-in ``noop`` sink — every
partition is computed on executors but nothing is collected to the driver,
so the timing measures the distributed plan, not driver serialization.
A warm-up pass (count of one parquet) removes JVM/codegen cold-start from
the first query's number.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from py4j.protocol import Py4JJavaError  # noqa: E402

from spark_streaming_test_spark import registry  # noqa: E402
from spark_streaming_test_spark.session import (  # noqa: E402
    get_spark,
    reset_query_state,
)

# Headline suite: one representative per operator family (SURVEY.md §2.1),
# weighted toward the shuffle/join-heavy plans that dominate at 100 TB.
# Grouped into named cohorts whose subtotals are what the final stdout
# line reports (the driver keeps only the last ~2000 bytes of stdout —
# BENCH_r11.json was truncated to "parsed": null because the per-query
# map outgrew that budget; per-query numbers now ship ONLY in
# BENCH_REPEATS.json + stderr). "original_50" is the cohort BASELINE.md's
# 61.5 s headline number covers; later cohorts' first sf0.1 numbers in
# their introduction round's BENCH_REPEATS are their own baselines.
HEADLINE = [
    "traffic_alerts",            # flagship: scan+agg+broadcast join+routing
    "tpch_q1_pricing_summary",   # wide hash aggregate over lineitem
    "tpch_q3_shipping_priority", # 3-way join + agg + top-k
    "tpch_q5_local_supplier_volume",  # 6-way join
    "tpch_q10_returned_items",   # join + group + top-k
    "agg_rollup",                # multi-level aggregate
    "window_topk_per_group",     # partitioned window + filter
    "join_asof",                 # as-of (time-series) join
    "stream_edge_trigger_alerts",  # stateful dedup semantics (batch oracle)
    "dedup_exact",               # content-hash dedup over documents
    "dedup_minhash_lsh",         # shingle→minhash→band→bucket self-join
    "sim_bruteforce_topk",       # top-k cosine over embeddings
    "sim_ivf_topk",              # IVF coarse-quantizer ANN (scale path)
    "text_quality_score",        # text-analysis scalar pipeline
    "text_token_topk",           # tokenize→explode→count→top-k (word-count shape)
    "agg_rollup_hierarchical_time",  # continuous-aggregate partial reuse
    "sample_hash_deterministic", # scan-level hash sampling
    "udf_pandas_scalar",         # Arrow-batched Python UDF path
    "text_chunk_fixed",          # explode-based document chunking
    "text_pack_greedy",          # sequence packing via partitioned window
    "text_bigram_pmi",           # collocation mining: explode + 3-way marginal join
    "dedup_ngram_jaccard",       # inverted shingle index near-dup (postings shuffle)
    "scan_partitioned_pruning",  # partition-pruned scan off a Hive-style layout
    "join_salted_skew",          # hot-key salted join (skew mitigation path)
    "stream_stream_join",        # interval-bounded stream-stream join, batch twin
    "decon_ngram_overlap",       # benchmark n-gram contamination sweep
    "emb_kmeans_assign",         # broadcast-centroid k-means assignment pass
    "text_tfidf_topk",           # TF-IDF: word-count shape + broadcast df join
    "graph_pagerank",            # iterative fixed-point join-agg loop
    "er_blocked_match",          # blocked self-join entity resolution
    "sim_pq_adc_topk",           # PQ code scan + distance-table lookups
    "ts_anomaly_zscore",         # trailing-window anomaly scoring
    "graph_triangle_count",      # oriented wedge-closure triangle join
    "text_bigram_logprob",       # bigram-LM train+score (two corpus passes)
    "dq_constraint_suite",       # multi-table constraint metrics, 1 pass/table
    "sim_sparse_cosine_join",    # truncated TF-IDF inverted-index pair join
    "ts_cusum_shift",            # exact-decimal cumulative window over series
    "window_moving_median",      # bounded-frame sort-and-index rolling median
    "join_fuzzy_dictionary",     # blocked equi-join + levenshtein + top-1 window
    "mlstats_auc_roc",           # rank-statistic AUC: count-pair shuffle + window
    "geo_radius_join",           # grid-cell spatial candidate join
    "join_interval_overlap",     # 1-D binned interval-overlap candidates
    "sim_binary_hamming_topk",   # sign-bit pack + XOR/popcount retrieval
    "dedup_incremental_exact",   # base-index probe + intra-delta window
    "text_rake_keyphrases",      # stopword runs + vocab-bounded scores
    "text_line_dedup",           # line-hash shuffle + in-order reassembly
    "agg_bootstrap_ci",          # x100 fan-out reduced map-side (resample means)
    "rec_item_item_topn",        # bounded basket pair join + top-N window
    "graph_label_propagation",   # 3-round majority message passing
    "sql_recursive_cte",         # depth-bounded recursive CTE execution
    # -- media/decoder path (added r10; first sf0.1 numbers in
    #    BENCH_r10.json are these queries' baseline, per BASELINE.md).
    #    Fixture-backed decoders are wall-cheap but pin the mapInPandas
    #    decode plumbing; the kafka v2 wire encode is SF-scaled.
    "traffic_alerts_kafka_wire_v2",   # KIP-98 record-batch encode, CRC-32C
    "mm_decode_jpeg_progressive",     # SOF2 successive-approximation decode
    "mm_jpeg_progressive_preview",    # prefix-read scan-1 preview
    "mm_decode_jpeg_420",             # chroma-subsampled baseline JPEG
    "mm_decode_png_interlaced",       # Adam7 deinterlace + unfilter
    "scan_parquet_pages_handrolled",  # hand-rolled data pages + dictionary
    "scan_warc_zst_records",          # RFC 8878 zstd WARC streaming scan
    "mm_video_mp4_frames",            # ISO-BMFF demux + sample decode
    # -- round-10 corpus-scaled additions (first sf0.1 numbers in
    #    BENCH_r10.json are their baseline)
    "text_compress_ratio",            # token-dict codec quality signal
    "text_bpe_train_sampled",         # hash-sampled BPE merge training
    "text_unigram_segment",           # unigram-LM Viterbi segmentation
    "text_wordpiece_segment",         # WordPiece greedy segmentation
    # -- round-11: the never-benched heavy tail (VERDICT r10 #7). The
    #    full-registry sf0.1 sweep walls ranked all 609 queries; these
    #    six had the highest Spark-only (noop-sink) steady-state walls
    #    of the never-benched set — iterative/unrolled plans whose cost
    #    class the old headline under-sampled. First sf0.1 numbers in
    #    BENCH_r11.json are their baseline.
    "emb_pca_power",                  # unrolled power iteration (8 rounds)
    "ml_isotonic_calibration",        # PAVA pool-adjacent-violators unroll
    "sim_knn_graph_search",           # beam search over the kNN graph
    "sim_nn_descent",                 # NN-descent graph construction rounds
    "emb_covariance_matrix",          # D^2/2 moment reduce (the r10 red, now fixed)
    "graph_spectral_bisection",       # power iteration on the Laplacian
    # -- round-11 additions (first sf0.1 numbers in BENCH_r11.json)
    "mlstats_lift_gains_distributed", # two-pass distributed exact rank
    "dedup_semdedup",                 # cluster-bounded semantic dedup
    "mm_audio_vorbis_packets",        # Vorbis §4.3 packet census
    # -- round-12 additions (first sf0.1 numbers in BENCH_REPEATS of
    #    round 12 are their baseline)
    "dedup_semdedup_centroid_rep",    # paper-faithful centroid-rep SemDeDup
    "events_value_lorenz_distributed",  # corpus-grain distributed prefix sum
    # -- round-13 additions (first sf0.1 numbers in BENCH_REPEATS of
    #    round 13 are their baseline)
    "agg_cms_heavy_hitters",          # count-min sketch heavy hitters
    "graph_sssp_weighted",            # weighted SSSP on iterate_state
]

# Cohort boundaries over HEADLINE (contiguous slices, in order). The
# final stdout line reports one subtotal per cohort; "original_50" is
# the BASELINE.md-comparable set. New rounds append (name, count)
# here when they append queries to HEADLINE.
COHORTS: list[tuple[str, int]] = [
    ("original_50", 50),
    ("media_r10", 8),
    ("tokenizer_r10", 4),
    ("heavy_tail_r11", 6),
    ("new_r11", 3),
    ("new_r12", 2),
    ("new_r13", 2),
]


def cohort_slices() -> dict[str, list[str]]:
    """HEADLINE partitioned into the named cohorts (exact cover)."""
    out: dict[str, list[str]] = {}
    i = 0
    for name, n in COHORTS:
        out[name] = HEADLINE[i : i + n]
        i += n
    assert i == len(HEADLINE), (
        f"COHORTS cover {i} of {len(HEADLINE)} headline queries — "
        "append a cohort entry for the new queries"
    )
    return out


def calibration_probe(spark) -> dict[str, float]:
    """Pinned Spark-only micro-workloads, independent of every operator
    in this repo — a box-speed yardstick embedded in each round's bench
    record so cross-round numbers can be normalized without re-running
    old code (VERDICT r9 item 3: a 37→44 s swing was box drift, proven
    only by an ad-hoc A/B). Two axes:

    - ``cpu_sec``: codegen arithmetic over ``range(200M)`` reduced to
      one sum — pure per-core throughput, no exchange.
    - ``shuffle_sec``: ``range(20M)`` hash-aggregated into 4096 keys —
      exchange + partial-agg machinery.

    Median of 3 runs each (first run additionally pays any residual
    warm-up). BASELINE.md documents the normalization rule."""
    from pyspark.sql import functions as F

    def med3(build) -> float:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        return sorted(runs)[1]

    cpu = med3(
        lambda: spark.range(0, 200_000_000, 1, 32)
        .select((F.col("id") * 2 + 1).alias("x"))
        .agg(F.sum("x").alias("s"))
    )
    shuffle = med3(
        lambda: spark.range(0, 20_000_000, 1, 32)
        .groupBy((F.col("id") % 4096).alias("k"))
        .count()
    )
    return {"cpu_sec": cpu, "shuffle_sec": shuffle}


REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

# A stage is "hot single-task" when it ran on <= HOT_MAX_TASKS tasks yet
# burned >= HOT_MIN_RUN_S of executor time: serialized compute, the
# scale-killer that tools/sweep_single_task.py hunts across the registry.
HOT_MAX_TASKS = 2
HOT_MIN_RUN_S = 0.3

# SQL metrics of the Python-runner plan nodes (ArrowEvalPython,
# MapInPandas, FlatMapGroupsInPandas, ...) that hot_stages reports per
# stage. Per-task Python worker set-up shows in the first; on a reused
# worker Spark also counts there the wait since its previous task.
PY_METRICS = {
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}
# The SQL status store keeps a timing metric only as rendered text:
# "127 ms" when one task reported it, else "total (min, med, max
# (stageId: taskId))\n1.2 s (80 ms, 95 ms, 410 ms (stage 7.0: task 31))",
# the total followed by the stage of the slowest task.
_TIMING = re.compile(
    r"([\d.]+) (ms|s|m|h)(?: \(.*\(stage (\d+)\.\d+: task \d+\)\))?$")
_MS_PER_UNIT = {"ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}


def median(runs: list[float]) -> float:
    return sorted(runs)[len(runs) // 2]


def run_query(spark, name: str, fn, sf_dir: str, repeats: int):
    """Time one registry query the bench's way; returns (cold_s, runs).

    One timed cold run, then ``repeats`` timed runs, each forced into
    the ``noop`` sink under job group ``f"{name}#{label}"`` (``cold``,
    ``run1``, ...) for hot_stages. The cold run pays JIT/codegen and,
    for module-cached queries (edge index, co-purchase pairs, IVF), the
    cache BUILD, so it is the only number where a cache-build
    regression shows. Then reset_query_state isolates the next query:
    60+ queries' accumulated checkpoints slowed the suite's tail
    iterative queries ~1.7x (spectral bisection 13 s alone, 24 s at
    position 68)."""
    sc = spark.sparkContext

    def timed(label: str) -> float:
        sc.setJobGroup(f"{name}#{label}", name)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    try:
        cold = timed("cold")
        runs = [timed(f"run{i}") for i in range(1, repeats + 1)]
    finally:
        sc._jsc.clearJobGroup()
        reset_query_state(spark)
    return cold, runs


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _stage(store, sid: int):
    """The stage's last attempt, or None once the store has evicted it
    (past spark.ui.retainedStages, long iterative queries)."""
    try:
        return store.lastStageAttempt(sid)
    except Py4JJavaError as e:
        if "NoSuchElementException" not in str(e.java_exception):
            raise
        return None


def _metric_stage(store, execution, tagged: str | None) -> int | None:
    """The stage a rendered SQL metric belongs to: the stage it names,
    else (one task reported it) the execution's only one-task stage."""
    if tagged is not None:
        return int(tagged)
    one_task = [
        sid for sid in _scala_iter(execution.stages())
        if (st := _stage(store, sid)) is not None and st.numCompleteTasks() == 1
    ]
    return one_task[0] if len(one_task) == 1 else None


def python_worker_ms(spark, job: int, stage: int) -> dict[str, float]:
    """``py_init_ms`` and ``py_run_ms`` (PY_METRICS) of one stage of
    ``job``, 0 where it ran no Python.

    Read from the SQL status store, which like the core one works with
    the UI off; the core store's stage accumulables leave SQL metrics
    out. It keeps totals as rendered text, so one of 1 s or more is
    known to 0.1 s, and a one-task total in an execution with several
    one-task stages cannot be placed (it counts for none)."""
    out = dict.fromkeys(PY_METRICS.values(), 0.0)
    store = spark.sparkContext._jsc.sc().statusStore()
    execution_id = store.jobWithAssociatedSql(job)._2()
    if execution_id.isEmpty():
        return out
    sql = spark._jsparkSession.sharedState().statusStore()
    execution = sql.execution(execution_id.get())
    if execution.isEmpty():
        return out
    values = sql.executionMetrics(execution_id.get())
    for metric in _scala_iter(execution.get().metrics()):
        key = PY_METRICS.get(metric.name())
        value = values.get(metric.accumulatorId()) if key else None
        if value is None or value.isEmpty():
            continue
        hit = _TIMING.search(value.get())
        if hit and _metric_stage(store, execution.get(), hit[3]) == stage:
            out[key] += round(float(hit[1]) * _MS_PER_UNIT[hit[2]], 1)
    return out


def hot_stages(spark, name: str) -> tuple[list[dict], int]:
    """Hot single-task stages of run_query's runs of ``name``, each
    tagged with its run label and its Python worker time
    (python_worker_ms), read from Spark's in-process status store
    (works with the UI disabled): job group -> job ids -> stage ids ->
    the stage's last attempt. Also returns how many of the runs' stage
    ids the store had already evicted (past spark.ui.retainedStages),
    which it cannot read."""
    sc = spark.sparkContext
    # Listeners fill both status stores asynchronously: without this a
    # call right after a run could miss its stages' SQL metrics.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    hot, seen, evicted = [], set(), 0
    for i in itertools.count():
        label = f"run{i}" if i else "cold"
        jobs = tracker.getJobIdsForGroup(f"{name}#{label}")
        if not jobs:
            break
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                s = _stage(store, sid)
                if s is None:
                    evicted += 1
                elif (str(s.status()) == "COMPLETE"
                        and s.numCompleteTasks() <= HOT_MAX_TASKS
                        and s.executorRunTime() >= HOT_MIN_RUN_S * 1000):
                    hot.append({
                        "run": label,
                        "stage": sid,
                        "tasks": s.numCompleteTasks(),
                        "run_s": round(s.executorRunTime() / 1000, 3),
                        "input_mb": s.inputBytes() >> 20,
                        "shuffle_read_kb": s.shuffleReadBytes() >> 10,
                        **python_worker_ms(spark, job, sid),
                        "name": s.name()[:80],
                    })
    return hot, evicted


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("bench")
    qs = registry.queries()

    # Warm up JVM class loading / codegen / python workers / parquet
    # reader on a tiny scale factor so the first measured query reflects
    # steady-state execution, not one-time session costs.
    from pyspark.sql import functions as F

    from spark_streaming_test_spark.catalog import load

    warm = load(spark, "/root/testdata/sf0.001", "events")
    dim = spark.createDataFrame([("a", 1)], "k string, v int")
    (
        warm.groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.sum("value").alias("s"))
        .join(F.broadcast(dim), F.lit(True))
        .write.format("noop").mode("overwrite").save()
    )

    calibration = calibration_probe(spark)

    # The MEDIAN of the repeats is the steady-state number BASELINE.md
    # tracks: on a shared local[32] box single runs of sub-3-second
    # queries jitter ±2× (the r4 verdict flagged four such phantom
    # "regressions"). Raw repeats and cold times ship in the sidecar and
    # history records only; the final stdout line is the driver contract.
    timings: dict[str, float] = {}
    repeats: dict[str, list[float]] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        cold[name], repeats[name] = run_query(
            spark, name, qs[name], sf_dir, REPEATS
        )
        timings[name] = median(repeats[name])

    # Per-query numbers (medians + raw repeats) are diagnostics, not
    # part of the driver-recorded line; inlining repeats in r5 — and
    # then merely the 71-query median map in r11 — grew the stdout line
    # past the driver's ~2000-byte tail buffer and truncated the JSON
    # head ("parsed": null). Ship per-query data to the sidecar file +
    # stderr; the FINAL stdout line carries only cohort subtotals and
    # is size-pinned so it survives tail truncation at ANY suite size.
    record = {"repeats": repeats, "medians": timings, "cold": cold,
              "sf": sf,
              "calibration": calibration,
              "wall_clock_utc": time.strftime(
                  "%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    root = os.path.dirname(os.path.abspath(__file__))
    sidecar = os.path.join(root, "BENCH_REPEATS.json")
    try:
        with open(sidecar, "w") as f:
            json.dump(record, f)
    except OSError as e:  # read-only checkout: stderr still has the data
        print(f"bench: could not write {sidecar}: {e}", file=sys.stderr)
    # BENCH_REPEATS.json is only the LATEST run — a contended driver box
    # overwriting a committed idle-box record made cross-round per-query
    # comparison require git archaeology (VERDICT r12). Every run also
    # APPENDS here with its calibration probe embedded, so any two runs
    # remain comparable at matched calibration without re-running.
    history = os.path.join(root, "BENCH_HISTORY.jsonl")
    try:
        with open(history, "a") as f:
            f.write(json.dumps(record) + "\n")
    except OSError as e:
        print(f"bench: could not append {history}: {e}", file=sys.stderr)
    print(json.dumps({"repeats": repeats, "medians": timings}), file=sys.stderr)
    print(final_line(timings, sf, calibration))


# Hard budget for the driver-recorded line: the r11 artifact shows the
# driver keeps the LAST 2000 bytes of stdout, so the final line must
# fit with slack (other trailing output could share the window).
FINAL_LINE_BUDGET = 1500


def final_line(
    timings: dict[str, float], sf, calibration: dict[str, float] | None = None
) -> str:
    """The ONE stdout line the driver records. Kept as a pure function
    so tests/test_entry.py can pin the protocol (compact JSON, exact
    key set, < FINAL_LINE_BUDGET bytes) without running the suite.

    Reports COHORT SUBTOTALS, not per-query timings: the per-query map
    outgrew the driver's 2000-byte stdout tail at 71 queries (r11's
    record was head-truncated and unparseable) and only gets wider.
    ``queries`` holds one entry per cohort — "original_50" is the
    BASELINE.md-comparable subtotal — and the full per-query map lives
    in BENCH_REPEATS.json (pointed to by ``per_query``) and on stderr."""
    slices = cohort_slices()
    subtotals = {
        cohort: round(sum(timings[q] for q in names if q in timings), 3)
        for cohort, names in slices.items()
    }
    line = json.dumps(
        {
            "metric": "headline_suite_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": subtotals,
            "n_queries": len(timings),
            "sf": sf,
            "calibration": calibration or {},
            "per_query": "BENCH_REPEATS.json",
        },
        separators=(",", ":"),
    )
    assert len(line.encode()) < FINAL_LINE_BUDGET, (
        f"final line {len(line.encode())}B >= {FINAL_LINE_BUDGET}B — "
        "would be tail-truncated by the driver; trim cohort names"
    )
    return line


if __name__ == "__main__":
    main()
