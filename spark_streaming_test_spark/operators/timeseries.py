"""Time-series regularization: resample to a fixed grid + forward fill.

Metric pipelines (and the feature-engineering side of training-data
work) constantly turn irregular event streams into fixed-interval
series: aggregate to a grid, materialize EVERY grid slot (gaps
included), and forward-fill observations so downstream models see a
dense matrix. The reference's 5-minute micro-batch windows
(``MainApp.java:26,38``) are the streaming cousin; this is the batch
form over the ``events`` fixture.

Three declarative steps, all Catalyst-visible:

1. hourly aggregate per series — one hash shuffle with map-side
   partial aggregation (deterministic decimal mean);
2. grid densification — per-series ``sequence(min, max, 1 hour)``
   exploded, LEFT JOIN observations; the grid frame is tiny
   (series x hours), so the join broadcasts the aggregate, never the
   corpus;
3. forward fill — ``last(value, ignorenulls=True)`` over an
   unbounded-preceding window per series, riding the same series
   partitioning as step 1.

Series key note: the fixture keys by ``event_type`` (6 series). At
100 TB the key would be a high-cardinality series id (host, metric,
user), which partitions cleanly; a 6-key production workload would
need salting — see ``operators/skew.py`` for the pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..functions.deterministic import davg, dsum, sql_davg
from ..registry import register


@register(
    "ts_resample_ffill",
    tags=("timeseries", "window", "gap-fill"),
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         {sql_davg('value')} AS v
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
bounds AS (
  SELECT event_type, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY event_type
),
grid AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
  FROM bounds
),
joined AS (
  SELECT g.event_type, g.h, hourly.v
  FROM grid g LEFT JOIN hourly ON g.event_type = hourly.event_type AND g.h = hourly.h
)
SELECT event_type, h, (v IS NOT NULL) AS observed,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_ffill
FROM joined
""",
)
def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of ``events.value`` per event_type with every
    grid hour materialized and gaps forward-filled from the last
    observation. ``observed`` marks real vs filled slots.

    The filled value is a deterministic decimal mean, so the
    forward-fill copies bitwise-identical doubles on both engines."""
    e = load(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(davg("value").alias("v"))
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    joined = grid.join(F.broadcast(hourly), ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "h",
        F.col("v").isNotNull().alias("observed"),
        F.last("v", ignorenulls=True).over(w).alias("v_ffill"),
    )


ANOM_WIN = 20  # trailing rows in the reference window
ANOM_MIN = 5  # minimum trailing observations before scoring
ANOM_Z = 3.0  # |z| flag threshold
Z_DP = 8


@register(
    "ts_anomaly_zscore",
    tags=("timeseries", "window", "anomaly"),
    oracle=f"""
WITH w AS (
  SELECT user_id, event_id, ts, value,
         COUNT(*) OVER trail AS n,
         {{dsum}} AS s,
         {{dsum2}} AS s2
  FROM events
  WINDOW trail AS (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN {ANOM_WIN} PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, ts, value,
       CAST(n AS BIGINT) AS n_ref,
       round((value - s / n)
             / sqrt(s2 / n - (s / n) * (s / n)), {Z_DP}) AS z,
       abs((value - s / n)
           / sqrt(s2 / n - (s / n) * (s / n))) > {ANOM_Z} AS is_anomaly
FROM w
WHERE n >= {ANOM_MIN}
  AND s2 / n - (s / n) * (s / n) > 0
""".format(
        dsum="CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER trail AS DOUBLE)",
        dsum2="CAST(SUM(CAST(value * value AS DECIMAL(25,6))) OVER trail"
        " AS DOUBLE)",
    ),
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event scored against the
    mean/std of its user's trailing {ANOM_WIN} observations (excluding
    itself); |z| > {ANOM_Z} flags the point. Rows with fewer than
    {ANOM_MIN} references or zero variance are unscoreable and dropped.

    One hash exchange on user_id; both trailing sums ride the same
    window frame, so Spark evaluates a single WindowExec. Sums are
    decimal-exact (value has 2 decimals, value² has 4 — both
    near-integer at scale 6), so mean/std/z are IEEE ops on identical
    doubles cross-engine; z rounds at {Z_DP} dp."""
    e = load(spark, sf_dir, "events")
    trail = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOM_WIN, -1)
    )
    dec = "decimal(25,6)"
    n = F.count(F.lit(1)).over(trail)
    s = F.sum(F.col("value").cast(dec)).over(trail).cast("double")
    s2 = (
        F.sum((F.col("value") * F.col("value")).cast(dec))
        .over(trail)
        .cast("double")
    )
    mu = s / n
    var = s2 / n - mu * mu
    z = (F.col("value") - mu) / F.sqrt(var)
    return (
        e.select(
            "user_id",
            "event_id",
            "ts",
            "value",
            n.alias("n_ref"),
            F.round(z, Z_DP).alias("z"),
            (F.abs(z) > ANOM_Z).alias("is_anomaly"),
            var.alias("_var"),
        )
        .filter((F.col("n_ref") >= ANOM_MIN) & (F.col("_var") > 0))
        .drop("_var")
    )


# --- interval union / coverage --------------------------------------------


@register(
    "ts_interval_coverage",
    tags=("timeseries", "interval", "gaps-islands"),
    oracle="""
WITH iv AS (
  SELECT s.s_nationkey AS nation,
         (s.s_suppkey * 97) % 300 AS a_start,
         (s.s_suppkey * 97) % 300 + 10 + (s.s_suppkey * 131) % 30 AS a_end
  FROM supplier s
),
ordered AS (
  SELECT nation, a_start, a_end,
         MAX(a_end) OVER (PARTITION BY nation ORDER BY a_start, a_end
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_end
  FROM iv
),
flagged AS (
  SELECT nation, a_start, a_end,
         CASE WHEN prev_max_end IS NULL OR a_start > prev_max_end
              THEN 1 ELSE 0 END AS new_island
  FROM ordered
),
islands AS (
  SELECT nation, a_start, a_end,
         SUM(new_island) OVER (PARTITION BY nation ORDER BY a_start, a_end
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT nation,
       CAST(COUNT(DISTINCT island) AS BIGINT) AS n_islands,
       CAST(SUM(len) AS BIGINT) AS covered_days,
       CAST(MAX(len) AS BIGINT) AS longest_run
FROM (
  SELECT nation, island, MAX(a_end) - MIN(a_start) + 1 AS len
  FROM islands GROUP BY nation, island
) GROUP BY nation
""",
)
def ts_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval UNION per nation: merge each nation's overlapping
    supplier-availability windows into disjoint islands and report how
    many, the total covered days, and the longest continuous run — the
    uptime/coverage question ("when is at least one supplier
    available?") that a plain SUM of interval lengths double-counts.

    The merge is the gaps-islands idiom lifted to intervals: one
    partition-ordered window computes the running max end; a new
    island starts exactly when a start clears it. ONE exchange on the
    group key serves both windows and the two-level reduce — no
    interval self-join anywhere, so it scales as a sort, not a join.
    Same synthetic integer-day windows as `join_interval_overlap`."""
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nation"),
        ((F.col("s_suppkey") * 97) % 300).alias("a_start"),
        (
            (F.col("s_suppkey") * 97) % 300
            + 10
            + (F.col("s_suppkey") * 131) % 30
        ).alias("a_end"),
    )
    w = Window.partitionBy("nation").orderBy("a_start", "a_end")
    prev_max = F.max("a_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = s.withColumn(
        "new_island",
        F.when(
            prev_max.isNull() | (F.col("a_start") > prev_max), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_island = islands.groupBy("nation", "island").agg(
        (F.max("a_end") - F.min("a_start") + 1).alias("len")
    )
    return per_island.groupBy("nation").agg(
        F.countDistinct("island").cast("bigint").alias("n_islands"),
        F.sum("len").cast("bigint").alias("covered_days"),
        F.max("len").cast("bigint").alias("longest_run"),
    )


# --- M4 visualization downsampling ----------------------------------------


@register(
    "ts_downsample_m4",
    tags=("timeseries", "downsample"),
    oracle="""
WITH pts AS (
  SELECT event_type, ts, event_id, value,
         time_bucket(INTERVAL '1 hour', ts) AS bucket
  FROM events
),
m4 AS MATERIALIZED (
  SELECT event_type, bucket,
         min({'ts': ts, 'id': event_id, 'v': value}) AS fi,
         max({'ts': ts, 'id': event_id, 'v': value}) AS la,
         min({'v': value, 'ts': ts, 'id': event_id}) AS mn,
         max({'v': value, 'ts': ts, 'id': event_id}) AS mx
  FROM pts GROUP BY event_type, bucket
)
SELECT event_type, bucket, 'first' AS role, fi.ts AS ts, fi.v AS value FROM m4
UNION ALL
SELECT event_type, bucket, 'last' AS role, la.ts AS ts, la.v AS value FROM m4
UNION ALL
SELECT event_type, bucket, 'min' AS role, mn.ts AS ts, mn.v AS value FROM m4
UNION ALL
SELECT event_type, bucket, 'max' AS role, mx.ts AS ts, mx.v AS value FROM m4
""",
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling: per (series, time bucket) keep exactly the
    first, last, min and max points — the lossless-for-rendering
    reduction every monitoring UI runs before plotting (a pixel column
    can only show those four), shrinking millions of points per series
    to 4 per bucket with zero visual error.

    Plan: ONE aggregation pass — the four extrema are lexicographic
    struct min/max (identical semantics in both engines), so there is
    no window and the shuffle carries 4 structs per (series, bucket)
    per task (struct-buffered min/max plans as a partial+final
    SortAggregate; still a single exchange, versus the 4 windowed rank
    passes it replaces). Roles then unfold from the 4-struct row via a
    bounded array explode (no rescan, no union of subtrees).
    Ties are total-ordered by the struct's trailing (ts, event_id) /
    (id) fields, so the kept points are unique and engine-independent."""
    pts = load(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        "value",
        F.window("ts", "1 hour").start.alias("bucket"),
    )
    m4 = pts.groupBy("event_type", "bucket").agg(
        F.min(F.struct("ts", F.col("event_id").alias("id"), F.col("value").alias("v"))).alias("fi"),
        F.max(F.struct("ts", F.col("event_id").alias("id"), F.col("value").alias("v"))).alias("la"),
        F.min(F.struct(F.col("value").alias("v"), "ts", F.col("event_id").alias("id"))).alias("mn"),
        F.max(F.struct(F.col("value").alias("v"), "ts", F.col("event_id").alias("id"))).alias("mx"),
    )
    roles = F.array(
        F.struct(F.lit("first").alias("role"), F.col("fi.ts").alias("ts"), F.col("fi.v").alias("value")),
        F.struct(F.lit("last").alias("role"), F.col("la.ts").alias("ts"), F.col("la.v").alias("value")),
        F.struct(F.lit("min").alias("role"), F.col("mn.ts").alias("ts"), F.col("mn.v").alias("value")),
        F.struct(F.lit("max").alias("role"), F.col("mx.ts").alias("ts"), F.col("mx.v").alias("value")),
    )
    return (
        m4.select("event_type", "bucket", F.explode(roles).alias("r"))
        .select(
            "event_type",
            "bucket",
            F.col("r.role").alias("role"),
            F.col("r.ts").alias("ts"),
            F.col("r.value").alias("value"),
        )
    )


# --- linear-interpolation gap fill ----------------------------------------


@register(
    "ts_interpolate_linear",
    tags=("timeseries", "gapfill", "interpolation"),
    oracle=f"""
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         {{dsum}} AS v
  FROM events GROUP BY 1, 2
),
span AS (
  SELECT user_id, MIN(d) AS d_lo, MAX(d) AS d_hi FROM daily GROUP BY user_id
),
grid AS (
  SELECT s.user_id, unnest(generate_series(s.d_lo, s.d_hi)) AS d
  FROM span s
),
joined AS (
  SELECT g.user_id, g.d, dd.v
  FROM grid g LEFT JOIN daily dd ON g.user_id = dd.user_id AND g.d = dd.d
),
bounded AS (
  SELECT user_id, d, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY d
           ROWS UNBOUNDED PRECEDING) AS prev_v,
         last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY d
           ROWS UNBOUNDED PRECEDING) AS prev_d,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY d
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY d
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
  FROM joined
)
SELECT user_id, CAST(d AS BIGINT) AS day_index,
       CASE WHEN v IS NOT NULL THEN v
            ELSE prev_v + (next_v - prev_v)
                 * (CAST(d - prev_d AS DOUBLE) / (next_d - prev_d))
       END AS value,
       v IS NULL AS interpolated
FROM bounded
""".format(
        dsum="CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)"
    ),
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill: densify each user's daily series
    over its own [first, last] span and fill missing days on the
    straight line between the bracketing observations — the
    level-estimating upgrade over forward fill (``ts_resample_ffill``)
    for metrics that trend between samples.

    One exchange on user_id carries grid generation (bounded sequence
    explode), the known-value join, and BOTH bracketing windows
    (last/first with IGNORE NULLS — no self-join, no as-of pass).
    Interpolated values are IEEE expressions of exact-decimal
    endpoints and integer day ratios — identical doubles cross-engine,
    no rounding required."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            ).alias("d"),
        )
        .agg(dsum("value").alias("v"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("d").alias("d_lo"), F.max("d").alias("d_hi")
    )
    grid = span.select(
        "user_id",
        F.explode(F.sequence(F.col("d_lo"), F.col("d_hi"))).alias("d"),
    )
    joined = grid.join(daily, ["user_id", "d"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_d = F.when(F.col("v").isNotNull(), F.col("d"))
    bounded = joined.select(
        "user_id",
        "d",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("prev_v"),
        F.last(known_d, ignorenulls=True).over(wp).alias("prev_d"),
        F.first("v", ignorenulls=True).over(wf).alias("next_v"),
        F.first(known_d, ignorenulls=True).over(wf).alias("next_d"),
    )
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        (F.col("d") - F.col("prev_d")).cast("double")
        / (F.col("next_d") - F.col("prev_d"))
    )
    return bounded.select(
        "user_id",
        F.col("d").cast("bigint").alias("day_index"),
        F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp).alias(
            "value"
        ),
        F.col("v").isNull().alias("interpolated"),
    )


# --- Hampel outlier filter ------------------------------------------------

HAMPEL_WIN = 21          # trailing frame (matches window_moving_median)
HAMPEL_K = "4.4478"      # 3 sigma x 1.4826 MAD consistency, literal


@register(
    "ts_outlier_hampel",
    tags=("timeseries", "robust", "anomaly"),
    oracle=f"""
WITH framed AS (
  SELECT user_id, ts, event_id, value,
         list_sort(list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {HAMPEL_WIN - 1} PRECEDING AND CURRENT ROW)) AS arr
  FROM events
),
med AS (
  SELECT user_id, ts, event_id, value, arr,
         arr[CAST((len(arr) + 1) // 2 AS INTEGER)] AS m
  FROM framed
),
mad AS (
  SELECT user_id, ts, event_id, value, m, len(arr) AS n,
         list_sort(list_transform(arr, x -> abs(x - m)))
           [CAST((len(arr) + 1) // 2 AS INTEGER)] AS mad
  FROM med
)
SELECT user_id, ts, event_id, value, m AS rolling_median, mad,
       CAST(n AS BIGINT) AS frame_n,
       abs(value - m) > CAST({HAMPEL_K} AS DOUBLE) * mad AS is_outlier
FROM mad
WHERE n >= 5
""",
)
def ts_outlier_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier filter: flag points farther than
    {HAMPEL_K}·MAD (≈3σ under normality) from the trailing rolling
    MEDIAN — the robust replacement for the z-score detector
    (``ts_anomaly_zscore``) when the reference window itself contains
    outliers that inflate the mean and stddev.

    Pure structural arithmetic on the bounded frame: sort-and-index
    median, sort-and-index MAD of absolute deviations, one literal
    comparison — no accumulation, no rounding, identical in any
    engine. Frame state is O({HAMPEL_WIN}) doubles per row on the one
    user_id exchange."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(HAMPEL_WIN - 1), Window.currentRow)
    )
    # Explicit keyed repartition (optimization r14, guide §2.5): AQE
    # byte-coalescing collapsed the ~2 MB user_id exchange to 2 tasks,
    # serializing the double array_sort per row.
    framed = e.select("user_id", "ts", "event_id", "value").repartition(
        spark.sparkContext.defaultParallelism, "user_id"
    ).withColumn(
        "arr", F.array_sort(F.collect_list("value").over(w))
    )
    med = framed.withColumn(
        "m", F.expr("element_at(arr, CAST((size(arr) + 1) DIV 2 AS INT))")
    )
    mad = med.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "m",
        F.size("arr").alias("n"),
        F.expr(
            "element_at(array_sort(transform(arr, x -> abs(x - m))),"
            " CAST((size(arr) + 1) DIV 2 AS INT))"
        ).alias("mad"),
    )
    return mad.filter(F.col("n") >= 5).select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.col("m").alias("rolling_median"),
        "mad",
        F.col("n").cast("bigint").alias("frame_n"),
        (
            F.abs(F.col("value") - F.col("m"))
            > F.expr(f"CAST({HAMPEL_K} AS DOUBLE)") * F.col("mad")
        ).alias("is_outlier"),
    )


# --- LTTB visualization downsampling ----------------------------------------

LTTB_B = 24  # target interior buckets (selected points = B + first + last)


@register(
    "ts_lttb_downsample",
    tags=("timeseries", "downsample", "lttb"),
    oracle=f"""
WITH RECURSIVE hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS v
  FROM events GROUP BY event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT)
),
ser AS (
  SELECT event_type, h, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         MIN(h) OVER (PARTITION BY event_type) AS h0
  FROM hourly
),
sized AS (
  SELECT *, LEAST({LTTB_B}, n - 2) AS beff, h - h0 AS tr
  FROM ser WHERE n >= 3
),
firstlast AS MATERIALIZED (
  SELECT event_type,
         MIN(CASE WHEN rn = 1 THEN tr END) AS tf,
         MIN(CASE WHEN rn = 1 THEN v END) AS vf,
         MIN(CASE WHEN rn = n THEN tr END) AS tl,
         MIN(CASE WHEN rn = n THEN v END) AS vl,
         MIN(beff) AS beff,
         MIN(h0) AS h0
  FROM sized GROUP BY event_type
),
interior AS MATERIALIZED (
  SELECT event_type,
         CAST(floor(((rn - 2) * beff) / CAST(n - 2 AS DOUBLE)) AS BIGINT) AS k,
         tr, v
  FROM sized WHERE rn > 1 AND rn < n
),
bkt AS (
  SELECT event_type, k,
         CAST(SUM(tr) AS BIGINT) AS st, CAST(SUM(v) AS BIGINT) AS sv,
         COUNT(*) AS cnt
  FROM interior GROUP BY event_type, k
),
cand AS MATERIALIZED (
  SELECT i.event_type, i.k, i.tr, i.v,
         COALESCE(nb.st, f.tl) AS st, COALESCE(nb.sv, f.vl) AS sv,
         COALESCE(nb.cnt, 1) AS cnt
  FROM interior i JOIN firstlast f USING (event_type)
  LEFT JOIN bkt nb ON nb.event_type = i.event_type AND nb.k = i.k + 1
),
-- One recursion step per bucket, argmax by ROW_NUMBER (earliest tr
-- wins ties): a relational fold, since DuckDB 1.0 nested list lambdas
-- that read the outer accumulator mix rows.
pick(event_type, k, t, v) AS (
  SELECT event_type, CAST(-1 AS BIGINT), tf, vf FROM firstlast
  UNION ALL
  SELECT event_type, k, tr, v FROM (
    SELECT c.event_type, c.k, c.tr, c.v,
           ROW_NUMBER() OVER (
             PARTITION BY c.event_type
             ORDER BY abs((p.t * c.cnt - c.st) * (c.v - p.v)
                          - (p.t - c.tr) * (c.sv - p.v * c.cnt)) DESC,
                      c.tr) AS r
    FROM pick p JOIN cand c ON c.event_type = p.event_type AND c.k = p.k + 1
  ) WHERE r = 1
)
SELECT p.event_type,
       CAST(ROW_NUMBER() OVER (PARTITION BY p.event_type ORDER BY p.k)
            AS INTEGER) AS sel_rank,
       p.t + f.h0 AS t_hour,
       p.v AS v_scaled
FROM (SELECT event_type, k, t, v FROM pick
      UNION ALL SELECT event_type, beff, tl, vl FROM firstlast) p
JOIN firstlast f USING (event_type)
""",
)
def ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013)
    — the de-facto standard for shape-preserving chart decimation,
    complementing ts_downsample_m4's per-pixel-column extrema: LTTB
    keeps the {LTTB_B}+2 points that maximize the effective triangle
    area with the PREVIOUSLY kept point and the NEXT bucket's centroid,
    so single-point spikes and trend turns survive where min/max alone
    distorts slopes.

    LTTB's selection is inherently SEQUENTIAL per series (each bucket's
    choice depends on the previous choice), so the recurrence runs as
    one row-local Catalyst fold over the per-series bucket array — the
    ts_dtw_distance pattern — with buckets encoded as
    [[next_sum_t, next_sum_v, next_cnt], cand_1, ..., cand_m] and the
    accumulator the list of chosen [t, v] points. All arithmetic stays
    in BIGINT: the triangle area is cross-multiplied by the next
    bucket's count instead of dividing to a fractional centroid
    (|.(ta*cnt - sum_t)(vp - va) - (ta - tp)(sum_v - va*cnt)|), and
    hour indexes are made series-relative to keep every product far
    below 2^63 — bitwise-exact cross-engine with zero rounding steps.
    Ties take the earliest candidate (strict > in the argmax fold) in
    both engines. Degenerate series: beff = min(B, n-2) shrinks the
    bucket count (the floor mapping is then surjective, so no bucket
    is empty and the fold never sees an empty candidate list); series
    with n < 3 are excluded.

    Scale posture: the parallelism axis is SERIES — the hourly rollup
    is one map-side-combined aggregation, each series folds inside a
    single task over an O(hours) array, and only the B+2 selected
    points leave the task. The ranking compares only candidates within
    one bucket against one running point, never point-to-point across
    the corpus."""
    hourly = load(spark, sf_dir, "events").groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
    ).agg(
        (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("v")
    )
    wseq = Window.partitionBy("event_type").orderBy("h")
    wall = Window.partitionBy("event_type")
    ser = hourly.select(
        "event_type", "h", "v",
        F.row_number().over(wseq).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.min("h").over(wall).alias("h0"),
    ).filter(F.col("n") >= 3)
    sized = ser.select(
        "*",
        F.least(F.lit(LTTB_B).cast("bigint"), F.col("n") - 2).alias("beff"),
        (F.col("h") - F.col("h0")).alias("tr"),
    )
    firstlast = sized.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") == 1, F.col("tr"))).alias("tf"),
        F.min(F.when(F.col("rn") == 1, F.col("v"))).alias("vf"),
        F.min(F.when(F.col("rn") == F.col("n"), F.col("tr"))).alias("tl"),
        F.min(F.when(F.col("rn") == F.col("n"), F.col("v"))).alias("vl"),
        F.min("h0").alias("h0"),
    )
    interior = sized.filter((F.col("rn") > 1) & (F.col("rn") < F.col("n"))).select(
        "event_type",
        F.floor(
            ((F.col("rn") - 2) * F.col("beff")) / (F.col("n") - 2).cast("double")
        )
        .cast("bigint")
        .alias("k"),
        "tr",
        "v",
    )
    bkt = interior.groupBy("event_type", "k").agg(
        F.sort_array(F.collect_list(F.array("tr", "v"))).alias("cands"),
        F.sum("tr").alias("st"),
        F.sum("v").alias("sv"),
        F.count(F.lit(1)).alias("cnt"),
    )
    wk = Window.partitionBy("event_type").orderBy("k")
    bkt2 = bkt.join(firstlast, "event_type").select(
        "event_type",
        "k",
        F.concat(
            F.array(
                F.array(
                    F.coalesce(F.lead("st").over(wk), F.col("tl")),
                    F.coalesce(F.lead("sv").over(wk), F.col("vl")),
                    F.coalesce(F.lead("cnt").over(wk), F.lit(1).cast("bigint")),
                )
            ),
            F.col("cands"),
        ).alias("enc"),
    )
    per_series = bkt2.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("k", "enc"))),
            lambda s: s["enc"],
        ).alias("bs")
    )

    def step(acc, bb):
        last = F.element_at(acc, F.size(acc))
        nxt = F.element_at(bb, 1)
        ta, va = F.element_at(last, 1), F.element_at(last, 2)
        st, sv = F.element_at(nxt, 1), F.element_at(nxt, 2)
        cnt = F.element_at(nxt, 3)
        scored = F.transform(
            F.slice(bb, 2, F.size(bb) - 1),
            lambda p: F.array(
                F.abs(
                    (ta * cnt - st) * (F.element_at(p, 2) - va)
                    - (ta - F.element_at(p, 1)) * (sv - va * cnt)
                ),
                F.element_at(p, 1),
                F.element_at(p, 2),
            ),
        )
        best = F.aggregate(
            scored,
            F.element_at(scored, 1),
            lambda x, y: F.when(
                F.element_at(y, 1) > F.element_at(x, 1), y
            ).otherwise(x),
        )
        return F.concat(acc, F.array(F.slice(best, 2, 2)))

    folded = per_series.join(firstlast, "event_type").select(
        "event_type",
        "h0",
        F.concat(
            F.aggregate(
                "bs", F.array(F.array(F.col("tf"), F.col("vf"))), step
            ),
            F.array(F.array(F.col("tl"), F.col("vl"))),
        ).alias("sel"),
    )
    return folded.select(
        "event_type", "h0", F.posexplode("sel").alias("pos", "p")
    ).select(
        "event_type",
        (F.col("pos") + 1).cast("int").alias("sel_rank"),
        (F.element_at("p", 1) + F.col("h0")).alias("t_hour"),
        F.element_at("p", 2).alias("v_scaled"),
    )


# --- 1-D Kalman filter --------------------------------------------------------

KALMAN_Q = 0.5  # process noise (random-walk drift per step)
KALMAN_R = 4.0  # observation noise


@register(
    "ts_kalman_1d",
    tags=("timeseries", "filter", "kalman"),
    oracle=f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2))
              AS DOUBLE) AS z
  FROM events GROUP BY event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT)
),
series AS (
  SELECT event_type, list(z ORDER BY h) AS zs FROM hourly GROUP BY event_type
),
filtered AS (
  SELECT event_type, len(zs) AS n_obs,
         list_reduce(
           [[zs[1], CAST(1.0 AS DOUBLE)]]
             || list_transform(zs[2:len(zs)], z -> [z, CAST(0.0 AS DOUBLE)]),
           (acc, ob) -> [
             acc[1] + ((acc[2] + CAST({KALMAN_Q} AS DOUBLE))
                       / (acc[2] + CAST({KALMAN_Q} AS DOUBLE)
                          + CAST({KALMAN_R} AS DOUBLE)))
                       * (ob[1] - acc[1]),
             (CAST(1.0 AS DOUBLE)
              - ((acc[2] + CAST({KALMAN_Q} AS DOUBLE))
                 / (acc[2] + CAST({KALMAN_Q} AS DOUBLE)
                    + CAST({KALMAN_R} AS DOUBLE))))
               * (acc[2] + CAST({KALMAN_Q} AS DOUBLE))
           ]
         ) AS st
  FROM series
)
SELECT event_type,
       CAST(n_obs AS BIGINT) AS n_obs,
       round(st[1], 8) AS kalman_x,
       round(st[2], 10) AS kalman_p
FROM filtered
""",
)
def ts_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (random-walk state, Q={KALMAN_Q}, R={KALMAN_R})
    over each hourly series, as ONE row-local fold — the DTW/LTTB
    pattern applied to the classic sequential filter: accumulator
    [x, P], per step K = (P+Q)/(P+Q+R), x += K(z - x),
    P = (1-K)(P+Q). Both engines run the IDENTICAL IEEE expression
    tree in frame order (Spark F.aggregate == DuckDB list_reduce with
    the init wrapped as the first element), so the filtered state
    matches to the last ulp; the final 8/10-dp rounds are safety on
    generic doubles (ties measure-zero), not a determinism crutch.
    Scale: parallelism = series; the fold is O(n) inside one task and
    only (x, P) leaves it. Steady state: P converges to the positive
    root of P^2 + QP - QR = 0 — asserted in tests."""
    hourly = load(spark, sf_dir, "events").groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
    ).agg(
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("z")
    )
    series = hourly.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("h", "z"))), lambda s: s["z"]
        ).alias("zs")
    )
    q, r = F.lit(float(KALMAN_Q)), F.lit(float(KALMAN_R))

    def step(acc, z):
        x, p = F.element_at(acc, 1), F.element_at(acc, 2)
        k = (p + q) / (p + q + r)
        return F.array(x + k * (z - x), (F.lit(1.0) - k) * (p + q))

    st = F.aggregate(
        F.slice(F.col("zs"), 2, F.greatest(F.size("zs") - 1, F.lit(0))),
        F.array(F.element_at(F.col("zs"), 1), F.lit(1.0)),
        step,
    )
    return series.select(
        "event_type",
        F.size("zs").cast("bigint").alias("n_obs"),
        F.round(F.element_at(st, 1), 8).alias("kalman_x"),
        F.round(F.element_at(st, 2), 10).alias("kalman_p"),
    )


# --- irregular-gap EWMA --------------------------------------------------------

EWMA_IRR_TAU = 6.0  # decay time constant, hours


@register(
    "ts_ewma_irregular",
    tags=("timeseries", "smoothing", "ewma"),
    oracle=f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2))
              AS DOUBLE) AS v
  FROM events GROUP BY event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT)
),
series AS (
  SELECT event_type,
         list([CAST(h AS DOUBLE), v] ORDER BY h) AS pts
  FROM hourly GROUP BY event_type
),
folded AS (
  SELECT event_type,
         list_reduce(
           [[[pts[1][1], pts[1][2], pts[1][2]]]]
             || list_transform(pts[2:len(pts)],
                               p -> [[p[1], p[2], CAST(0 AS DOUBLE)]]),
           (acc, pp) -> list_append(acc, [
             pp[1][1], pp[1][2],
             pp[1][2] + exp(-(pp[1][1] - acc[len(acc)][1])
                            / CAST({EWMA_IRR_TAU} AS DOUBLE))
                        * (acc[len(acc)][3] - pp[1][2])
           ])
         ) AS sm
  FROM series
)
SELECT event_type,
       CAST(sm[t.i][1] AS BIGINT) AS h,
       sm[t.i][2] AS v,
       round(sm[t.i][3], 8) AS smoothed
FROM folded, LATERAL unnest(range(1, len(sm) + 1)) AS t(i)
""",
)
def ts_ewma_irregular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular-gap exponential smoothing: s_t = v_t +
    exp(-dt/tau) * (s_prev - v_t), the continuous-time EWMA used when
    observations are NOT evenly spaced (sparse series, sensor dropouts)
    — the fixed-alpha ts_ewma_smooth is wrong there because a 5-hour
    gap should forget five times more than a 1-hour gap. Runs as one
    row-local fold per series carrying [t, v, s] triples (the
    Kalman/LTTB pattern); both engines evaluate the identical exp()
    expression in frame order, and the FINAL 8-dp round absorbs the
    one-ulp exp() divergence measured between JVM Math.exp and
    DuckDB's libm (the fold itself stays unrounded, so the drift never
    compounds past ~1e-12). Scale: parallelism = series, O(n)
    per task, the whole smoothed series exits as one array explode."""
    hourly = load(spark, sf_dir, "events").groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
    ).agg(
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("v")
    )
    series = hourly.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("h", "v"))),
            lambda s: F.array(s["h"].cast("double"), s["v"]),
        ).alias("pts")
    )
    tau = F.lit(float(EWMA_IRR_TAU))

    def step(acc, p):
        last = F.element_at(acc, F.size(acc))
        t_prev, s_prev = F.element_at(last, 1), F.element_at(last, 3)
        t, v = F.element_at(p, 1), F.element_at(p, 2)
        s = v + F.exp(-(t - t_prev) / tau) * (s_prev - v)
        return F.concat(acc, F.array(F.array(t, v, s)))

    first = F.element_at(F.col("pts"), 1)
    folded = series.select(
        "event_type",
        F.aggregate(
            F.slice(F.col("pts"), 2, F.greatest(F.size("pts") - 1, F.lit(0))),
            F.array(
                F.array(
                    F.element_at(first, 1),
                    F.element_at(first, 2),
                    F.element_at(first, 2),
                )
            ),
            step,
        ).alias("sm"),
    )
    return folded.select("event_type", F.posexplode("sm").alias("i", "p")).select(
        "event_type",
        F.element_at("p", 1).cast("bigint").alias("h"),
        F.element_at("p", 2).alias("v"),
        # exp() differs by one ulp between JVM Math.exp and DuckDB's
        # libm on some arguments (measured); 8-dp rounding of these
        # generic doubles absorbs it (ties are measure-zero — the
        # round-3 safety rule)
        F.round(F.element_at("p", 3), 8).alias("smoothed"),
    )
