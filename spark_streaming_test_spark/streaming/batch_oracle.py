"""Streaming semantics in batch-checkable form.

Structured Streaming's incremental operators (tumbling/sliding/session
windows, watermark dedup, the reference's edge-triggered alert state)
produce, on a finite input, exactly what the equivalent batch query
produces — that's the correctness contract this module exploits: each
query here IS the streaming computation, expressed over the bounded
``events`` table so the driver's DuckDB oracle can check it. The live
``readStream`` forms of the same pipelines live in
``streaming/pipeline.py`` and are exercised by tests/test_streaming.py.

Reference parity: the 5-minute tumbling window is the reference's batch
interval (MainApp.java:26,38); the edge-trigger query is the
KafkaProducer dedup state machine (KafkaProducer.java:34-41) — emit only
when the alert flag changes per key, first observation emits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.deterministic import dsum, sql_dsum
from ..operators.traffic import ALERT_MSG, INFO_MSG
from ..registry import register


@register(
    "stream_tumbling_window",
    bench=True,
    tags=("streaming", "window"),
    oracle=f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate (F.window) — the streaming
    groupBy(window, key) in its batch-equivalent form."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_sliding_window",
    tags=("streaming", "window"),
    oracle=f"""
WITH offsets AS (SELECT unnest([0, 30]) AS off_minutes),
slid AS (
  SELECT time_bucket(INTERVAL '1 hour', ts - to_minutes(off_minutes))
           + to_minutes(off_minutes) AS window_start,
         value
  FROM events, offsets
)
SELECT window_start, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM slid GROUP BY 1
""",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 hour length, 30 min slide): each event lands in
    2 windows. Spark expands via the window generator; the oracle
    replicates with an explicit offset unnest."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_session_window",
    tags=("streaming", "session"),
    oracle=f"""
WITH gaps AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM sess GROUP BY user_id, session_id
""",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) via F.session_window — merged
    event groups per user. The oracle derives identical sessions with
    the classic lag-gap + running-count sessionization.

    Note: session_window.end is start-of-last-event + gap; the oracle
    compares MIN/MAX event time per session instead (engine-neutral)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )


@register(
    "stream_dedup_by_key",
    tags=("streaming", "dedup"),
    oracle="""
SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
) t WHERE rn = 1
""",
)
def stream_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``dropDuplicates(key)`` keeps the first arrival per key;
    batch equivalent: row_number over arrival order = 1. (The raw
    ``dropDuplicates`` on an unordered batch is nondeterministic — this
    is the deterministic formulation of the same semantics.)"""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


@register(
    "stream_edge_trigger_alerts",
    tags=("streaming", "stateful", "flagship"),
    oracle=f"""
WITH agg AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
         CAST(user_id AS VARCHAR) AS nif,
         {sql_dsum('value')} AS total_bytes
  FROM events GROUP BY 1, 2
),
flagged AS (
  SELECT window_start, nif, total_bytes,
         total_bytes > 150 AS is_alert,
         LAG(total_bytes > 150) OVER (PARTITION BY nif ORDER BY window_start)
           AS prev_alert
  FROM agg
)
SELECT window_start, nif, total_bytes, is_alert,
       CASE WHEN is_alert THEN '{ALERT_MSG}' ELSE '{INFO_MSG}' END AS message
FROM flagged
WHERE prev_alert IS NULL OR is_alert <> prev_alert
""",
)
def stream_edge_trigger_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13 — the reference's edge-triggered alert dedup
    (KafkaProducer.java:34-41: send only when the per-NIC alert flag
    changes; first observation always sends) in batch form: lag over the
    per-key window sequence, keep rows where the flag flips.

    The true streaming form (a JVM flatMapGroupsWithState with a per-key
    boolean flag, checkpointed and globally consistent — fixing
    the reference's per-JVM static-map bug, SURVEY.md §4.3) is
    ``streaming.pipeline.edge_trigger_stream`` and is tested in
    tests/test_streaming.py; on any bounded input both produce exactly
    these rows."""
    ev = load(spark, sf_dir, "events")
    agg = (
        ev.groupBy(
            F.window("ts", "5 minutes"),
            F.col("user_id").cast("string").alias("nif"),
        )
        .agg(dsum("value").alias("total_bytes"))
        .select(
            F.col("window.start").alias("window_start"), "nif", "total_bytes"
        )
    )
    is_alert = F.col("total_bytes") > 150
    w = Window.partitionBy("nif").orderBy("window_start")
    flagged = agg.select(
        "window_start", "nif", "total_bytes", is_alert.alias("is_alert")
    ).withColumn("prev_alert", F.lag("is_alert").over(w))
    return (
        flagged.filter(
            F.col("prev_alert").isNull()
            | (F.col("is_alert") != F.col("prev_alert"))
        )
        .select(
            "window_start",
            "nif",
            "total_bytes",
            "is_alert",
            F.when(F.col("is_alert"), ALERT_MSG).otherwise(INFO_MSG).alias("message"),
        )
    )


@register(
    "stream_static_enrich",
    tags=("streaming", "join"),
    oracle=f"""
SELECT c.c_mktsegment AS mktsegment,
       e.event_type,
       COUNT(*) AS n_events,
       {sql_dsum('e.value')} AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join in batch-checkable form: the event stream
    enriched against a slowly-changing dimension (customer), then
    aggregated per segment. In the live form (pipeline.py::
    enrich_with_dim) the dim is broadcast to every micro-batch — a
    map-side join, no stream-side shuffle; the post-join agg is the
    only stateful stage. This is the scale form of the reference's
    collect-once limits lookup (MainApp.java:44-49)."""
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


@register(
    "stream_stream_join",
    tags=("streaming", "join", "interval"),
    oracle=f"""
SELECT c.event_id AS click_id,
       c.user_id,
       COUNT(p.event_id) AS n_purchases,
       {sql_dsum('p.value')} AS purchase_value
FROM events c
LEFT JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND p.ts < c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click'
GROUP BY 1, 2
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join in batch-checkable form: every click
    joined to the same user's purchases in the following 30 minutes
    (attribution). The live form (pipeline.py::interval_join_streams)
    is a watermarked stream-stream join — the time bound is what lets
    Spark evict buffered state, keeping per-key state O(events in the
    interval) instead of unbounded. NULL-sum over no purchases stays
    NULL on both engines."""
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
        F.col("value").alias("p_value"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("click_ts"))
        & (F.col("p_ts") < F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return (
        clicks.join(purchases, cond, "left")
        .groupBy(F.col("click_id"), F.col("c_user").alias("user_id"))
        .agg(
            F.count("p_id").alias("n_purchases"),
            dsum("p_value").alias("purchase_value"),
        )
    )


@register(
    "stream_dedup_windowed",
    tags=("streaming", "dedup", "watermark"),
    oracle="""
SELECT user_id, event_type,
       time_bucket(INTERVAL '10 minutes', ts) AS window_start,
       event_id AS first_event_id, ts AS first_ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, event_type,
                        time_bucket(INTERVAL '10 minutes', ts)
           ORDER BY ts, event_id) AS rn
  FROM events
) t WHERE rn = 1
""",
)
def stream_dedup_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded dedup: keep the first event per (key, 10-minute
    bucket) — the batch twin of ``dropDuplicatesWithinWatermark``-style
    state, where a key recurring AFTER the time bound is emitted again
    (unlike ``stream_dedup_by_key``'s forever-state). At scale this is
    the form you want: state is evictable by watermark, so the dedup
    map is bounded by keys-per-window, not keys-ever-seen."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type", "window_start").orderBy(
        "ts", "event_id"
    )
    return (
        ev.withColumn("window_start", F.window("ts", "10 minutes")["start"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "window_start",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


TOPK_PER_WINDOW = 3


@register(
    "stream_window_topk",
    tags=("streaming", "window", "topk"),
    oracle=f"""
WITH agg AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
         user_id,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT window_start, user_id, n_events,
         ROW_NUMBER() OVER (PARTITION BY window_start
                            ORDER BY n_events DESC, user_id) AS rnk
  FROM agg
)
SELECT window_start, user_id, n_events, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= {TOPK_PER_WINDOW}
""",
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK_PER_WINDOW} most active users per hourly window — the
    'trending entities per window' streaming-analytics staple, in its
    batch-oracle form (live: the same plan runs under foreachBatch on
    the windowed aggregate, since rank windows aren't incremental).
    Window agg (one shuffle, map-side partials) then a per-window
    group-limit rank — WindowGroupLimit keeps k rows per window per
    task, so the rank stage moves O(windows x k) rows."""
    ev = load(spark, sf_dir, "events")
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "user_id",
            "n_events",
        )
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "user_id"
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK_PER_WINDOW)
    )


# --- watermark late-data accounting ---------------------------------------

JITTER_MOD_S = 900        # synthetic network delay: 0..15 min per event
JITTER_PRIME = 2654435761  # Knuth multiplicative hash spread
WM_DELAY_MIN = 5          # withWatermark("ts", "5 minutes")


@register(
    "stream_late_data_accounting",
    tags=("streaming", "watermark", "diagnostics"),
    oracle=f"""
WITH arr AS (
  SELECT event_type, ts,
         ts + to_seconds((event_id * {JITTER_PRIME}) % {JITTER_MOD_S}) AS ats,
         event_id
  FROM events
),
wm AS (
  SELECT event_type, ts,
         MAX(ts) OVER (PARTITION BY event_type ORDER BY ats, event_id
                       ROWS UNBOUNDED PRECEDING)
           - INTERVAL {WM_DELAY_MIN} MINUTE AS wmark
  FROM arr
)
SELECT event_type,
       time_bucket(INTERVAL '1 hour', ts) AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN ts < wmark THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(SUM(CASE WHEN ts < wmark THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS drop_rate
FROM wm GROUP BY 1, 2
""",
)
def stream_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing diagnostic: replay each per-type event stream in
    ARRIVAL order (event time + a deterministic hash jitter of up to 15
    minutes — the synthetic network delay) and count, per hourly window,
    how many rows a ``withWatermark("ts", "{WM_DELAY_MIN} minutes")``
    stream would DROP: rows whose event time is already behind the
    running max event time minus the delay when they arrive. This is the
    query you run over yesterday's log before choosing a production
    watermark — pair it with ``events_inter_arrival`` (burstiness).

    Scale: the running-max window partitions by event_type — the same
    per-shard watermark structure Structured Streaming keeps (the global
    watermark is the min over shards), so there is no global sort; each
    stream's arrival replay sorts within its hash partition and the
    window-count reduce rides the same exchange. Integer/timestamp
    arithmetic only — nothing to round."""
    ev = load(spark, sf_dir, "events")
    arr = ev.select(
        "event_type",
        "ts",
        F.expr(
            f"ts + make_interval(0,0,0,0,0,0,(event_id * {JITTER_PRIME}) % {JITTER_MOD_S})"
        ).alias("ats"),
        "event_id",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ats", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wm = arr.withColumn(
        "wmark",
        F.max("ts").over(w) - F.expr(f"INTERVAL {WM_DELAY_MIN} MINUTE"),
    )
    late = F.when(F.col("ts") < F.col("wmark"), 1).otherwise(0)
    return (
        wm.groupBy("event_type", F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(late).alias("n_dropped"),
            (F.sum(late).cast("double") / F.count(F.lit(1))).alias("drop_rate"),
        )
        .select(
            "event_type",
            F.col("window.start").alias("window_start"),
            F.col("n_total").cast("bigint").alias("n_total"),
            F.col("n_dropped").cast("bigint").alias("n_dropped"),
            "drop_rate",
        )
    )


RATE_LIMIT_K = 3  # allowed events per user per hour


@register(
    "stream_rate_limit",
    tags=("streaming", "state", "rate-limit"),
    oracle=f"""
SELECT event_id, user_id,
       time_bucket(INTERVAL '1 hour', ts) AS window_start,
       CAST(rn AS INTEGER) AS rn,
       rn <= {RATE_LIMIT_K} AS allowed
FROM (
  SELECT event_id, user_id, ts,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, time_bucket(INTERVAL '1 hour', ts)
           ORDER BY ts, event_id) AS rn
  FROM events
)
""",
)
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key token-bucket rate limiter in batch-checkable form: the
    first {RATE_LIMIT_K} events per (user, hour) pass, the rest are
    flagged throttled — the trust-and-safety / API-quota primitive. In
    the live form (``pipeline.rate_limit_stream``) the per-(key, window)
    counter is ``applyInPandasWithState`` keyed state ``(win, used)``
    whose window rollover resets it (the edge-trigger state's shape
    with a counter instead of a flag); this bounded twin IS the same
    computation on a finite input: one shuffle on the key, one ordered
    rank, verdict projection."""
    ev = load(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    w = Window.partitionBy("user_id", win).orderBy("ts", "event_id")
    return ev.withColumn("rn", F.row_number().over(w)).select(
        "event_id",
        "user_id",
        win.start.alias("window_start"),
        F.col("rn").cast("int").alias("rn"),
        (F.col("rn") <= RATE_LIMIT_K).alias("allowed"),
    )


# Per-stream session gaps (seconds): bursty streams close fast, sparse
# funnels stay open longer — the tuning dynamic session windows exist for.
DYN_GAPS = {"click": 120, "view": 120, "purchase": 600, "signup": 1800}
DYN_GAP_DEFAULT = 300

_GAP_SECS_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in DYN_GAPS.items())
    + f" ELSE {DYN_GAP_DEFAULT} END"
)
# session_window's dynamic gap must be CalendarIntervalType — a STRING
# gap column ('120 seconds') casts there implicitly; the ANSI INTERVAL
# literal would be DayTimeIntervalType and is rejected.
_GAP_IVL_SQL = (
    "CASE event_type "
    + " ".join(f"WHEN '{k}' THEN '{v} seconds'" for k, v in DYN_GAPS.items())
    + f" ELSE '{DYN_GAP_DEFAULT} seconds' END"
)


@register(
    "stream_session_dynamic_gap",
    tags=("streaming", "window", "session"),
    oracle=f"""
WITH g AS (
  SELECT user_id, event_type, ts, value,
         {_GAP_SECS_SQL} AS gap_s
  FROM events
),
flagged AS (
  SELECT user_id, event_type, ts, value, gap_s,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > gap_s * 1000000 THEN 1 ELSE 0 END AS new_session
  FROM g
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts)
),
islands AS (
  SELECT user_id, event_type, ts, value, gap_s,
         SUM(new_session) OVER (PARTITION BY user_id, event_type
                                ORDER BY ts ROWS UNBOUNDED PRECEDING)
           AS session_id
  FROM flagged
)
SELECT user_id, event_type,
       MIN(ts) AS session_start,
       MAX(ts) + to_microseconds(CAST(MAX(gap_s) AS BIGINT) * 1000000)
         AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM islands
GROUP BY user_id, event_type, session_id
""",
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC, per-row gap expression
    (``session_window(ts, CASE ...)``) — bursty click streams close
    after {DYN_GAPS['click']}s of silence while sparse signup funnels
    stay open {DYN_GAPS['signup']}s, in ONE operator. The fixed-gap
    form is ``stream_session_window``; the gap column is what
    Structured Streaming's session state actually supports per key.

    Batch-checkable against the gaps-islands formulation (a session
    breaks exactly when the microsecond gap strictly exceeds the
    stream's gap — boundary semantics verified against the engine).
    One exchange on the session key either way."""
    ev = load(spark, sf_dir, "events")
    sw = F.session_window("ts", F.expr(_GAP_IVL_SQL))
    return (
        ev.groupBy(sw, "user_id", "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            "event_type",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "stream_chained_windows",
    tags=("streaming", "window", "multi-stateful"),
    oracle=f"""
WITH five AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS w5, event_type,
         COUNT(*) AS n, {sql_dsum('value')} AS s
  FROM events GROUP BY 1, 2
)
SELECT time_bucket(INTERVAL '1 hour', w5) AS window_start, event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_subwindows,
       MAX(s) AS max_5m_sum
FROM five GROUP BY 1, 2
""",
)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED time-window aggregations — the multi-stateful cascade
    (Spark 3.4+ streaming capability): 5-minute pre-aggregates roll up
    into 1-hour windows in the same pipeline, the standard downsample
    topology that keeps the wide input shuffle at fine granularity
    while serving coarse dashboards. In streaming both stages are
    stateful operators chained in append mode (the live form is
    exercised in tests/test_streaming.py); on bounded input the
    cascade equals this batch twin. Scale: stage-2 input is one row
    per (5-min window, key) — pre-aggregation bounds the second
    shuffle at windows x keys regardless of event volume."""
    ev = load(spark, sf_dir, "events")
    five = ev.groupBy(F.window("ts", "5 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("s"),
    )
    return (
        five.groupBy(
            F.window(F.col("window.start"), "1 hour").alias("hw"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_subwindows"),
            F.max("s").alias("max_5m_sum"),
        )
        .select(
            F.col("hw.start").alias("window_start"),
            "event_type",
            "n_events",
            "n_subwindows",
            "max_5m_sum",
        )
    )
