"""Trend extraction over regularized series: EWMA, CUSUM, autocorrelation.

The monitoring side of the reference (5-minute alert windows,
``MainApp.java:26,38``) generalizes to trend operators over the same
hourly series that ``ts_resample_ffill`` builds: exponential smoothing
(the classic streaming baseline), CUSUM mean-shift detection (change
points), and rolling lag-1 autocorrelation (seasonality / burstiness
diagnostics).

All operators share ONE aggregation shape: hourly reduce on
(event_type, hour) — the only corpus-sized exchange, and it carries
map-side-combined partials, not raw rows. The per-series windows then
re-exchange on event_type alone, but that shuffle moves the already
tiny hourly frame (series x hours), which is the right trade: forcing
a single exchange would mean pre-partitioning RAW events by series
and losing the combine. Series count is the group-key cardinality; at
100 TB the key is a high-cardinality series id and partitions cleanly
(see ``operators/skew.py`` for the low-cardinality salting pattern).

Determinism notes (the cross-engine hash gate):

- EWMA is a LEFT FOLD ``s -> (s + x) / 2`` over the trailing-24 frame
  in frame order. Halving is an exact binary scaling and both engines
  fold left-to-right over identical doubles, so results match bitwise
  with no rounding (Spark ``reduce``, DuckDB ``list_reduce``).
- CUSUM and autocorrelation run on the EXACT-decimal hourly total
  series (raw values are 2-decimal; the hourly DECIMAL sum is
  lossless). CUSUM never materializes the mean — deviations are
  scaled through by n (``d = n*hv - S``), pure decimal arithmetic —
  and autocorrelation's six moments are decimal sums/products in the
  trailing frame. round() of an arbitrary double appears NOWHERE:
  cross-engine round() tie behavior was measured to diverge (Spark
  HALF_UP on the exact binary expansion vs DuckDB's scaled-double
  rounding), so exactness comes from decimal algebra instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.deterministic import davg, dsum, sql_davg, sql_dsum
from ..iterate import materialize
from ..registry import register

EWMA_WIN = 24  # trailing hours folded into the smoothed value
ACF_WIN = 24  # trailing (x, lag-1) pairs per correlation estimate
ACF_MIN = 12  # minimum pairs before emitting an estimate
CUSUM_FLAG = 1.5  # |cusum| / (sigma * sqrt(t)) flag threshold


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared hourly series: deterministic mean of ``value`` per
    (event_type, hour). One shuffle; every operator below rides it."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(davg("value").alias("v"))


_SQL_HOURLY = f"""
  SELECT event_type, date_trunc('hour', ts) AS h,
         {sql_davg('value')} AS v
  FROM events GROUP BY event_type, date_trunc('hour', ts)
"""


def _hourly_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal hourly totals: ``value`` is 2-decimal by
    construction, so the per-hour DECIMAL sum is lossless — the series
    every decimal-exact operator below builds on. Same single-shuffle
    shape as :func:`_hourly`."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("hv")
    )


_SQL_HOURLY_SUM = """
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS hv
  FROM events GROUP BY event_type, date_trunc('hour', ts)
"""


@register(
    "ts_ewma_smooth",
    tags=("timeseries", "window", "smoothing"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY})
SELECT event_type, h, v,
       list_reduce(
         list(v) OVER (PARTITION BY event_type ORDER BY h
                       ROWS BETWEEN {EWMA_WIN - 1} PRECEDING AND CURRENT ROW),
         (acc, x) -> (acc + x) / 2.0) AS ewma
FROM hourly
""",
)
def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 1/2) of the hourly
    series, seeded from the oldest value in a trailing 24-hour frame.

    alpha = 1/2 makes every fold step ``(acc + x) / 2`` — an IEEE-exact
    halving — so the smoothed series is reproducible bitwise across
    engines, partition counts, and reruns. The frame array is bounded
    (24 doubles), so the window state is O(1) per row at any scale."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-(EWMA_WIN - 1), Window.currentRow)
    )
    return (
        _hourly(spark, sf_dir)
        .withColumn("arr", F.collect_list("v").over(w))
        .select(
            "event_type",
            "h",
            "v",
            F.expr(
                "reduce(slice(arr, 2, size(arr) - 1), element_at(arr, 1),"
                " (acc, x) -> (acc + x) / 2.0D)"
            ).alias("ewma"),
        )
    )


@register(
    "ts_cusum_shift",
    tags=("timeseries", "window", "changepoint"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS DECIMAL(6,0)) AS nd,
         CAST(SUM(hv) AS DECIMAL(24,2)) AS s_dec,
         CAST(SUM(hv) AS DOUBLE) AS s,
         CAST(SUM(hv * hv) AS DOUBLE) AS s2,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM hourly GROUP BY event_type
),
dev AS (
  SELECT h.event_type, h.h,
         s.nd * h.hv - s.s_dec AS d,
         sqrt(s.s2 / s.n - (s.s / s.n) * (s.s / s.n)) AS sigma,
         s.n
  FROM hourly h JOIN stats s ON h.event_type = s.event_type
),
cum AS (
  SELECT event_type, h, sigma, n,
         CAST(SUM(d) OVER (PARTITION BY event_type ORDER BY h
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS cusum_scaled,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
              AS DOUBLE) AS t
  FROM dev
)
SELECT event_type, h, cusum_scaled / n AS cusum,
       cusum_scaled / NULLIF(n * sigma * sqrt(t), 0.0) AS score,
       abs(cusum_scaled / NULLIF(n * sigma * sqrt(t), 0.0)) > {CUSUM_FLAG}
         AS is_shift
FROM cum
""",
)
def ts_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift chart over hourly TOTALS: running sum of
    deviations from the series mean, normalized by sigma * sqrt(t) (a
    Brownian-motion scaling — a stable series hovers near 0, a level
    shift drifts the score past the flag line).

    Exactness without rounding: the mean is never materialized.
    Deviations are scaled through by n — ``d_i = n*hv_i - S`` — which
    is PURE integer-scaled decimal arithmetic (the raw values are
    2-decimal, so hourly sums are exact decimals), and the division by
    n happens once, on the final double. No round() of an arbitrary
    double anywhere, hence no cross-engine tie hazard."""
    hourly = _hourly_sum(spark, sf_dir)
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(6,0)").alias("nd"),
        F.sum("hv").cast("decimal(24,2)").alias("s_dec"),
        F.sum("hv").cast("double").alias("s"),
        F.sum(F.col("hv") * F.col("hv")).cast("double").alias("s2"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    n, s, s2 = F.col("n"), F.col("s"), F.col("s2")
    dev = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "h",
        (F.col("nd") * F.col("hv") - F.col("s_dec")).alias("d"),
        F.sqrt(s2 / n - (s / n) * (s / n)).alias("sigma"),
        n.alias("n"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wrn = Window.partitionBy("event_type").orderBy("h")
    cum = dev.select(
        "event_type",
        "h",
        "sigma",
        "n",
        F.sum("d").over(wcum).cast("double").alias("cusum_scaled"),
        F.row_number().over(wrn).cast("double").alias("t"),
    )
    score = F.col("cusum_scaled") / F.nullif(
        F.col("n") * F.col("sigma") * F.sqrt(F.col("t")), F.lit(0.0)
    )
    return cum.select(
        "event_type",
        "h",
        (F.col("cusum_scaled") / F.col("n")).alias("cusum"),
        score.alias("score"),
        (F.abs(score) > CUSUM_FLAG).alias("is_shift"),
    )


@register(
    "ts_rolling_autocorr",
    tags=("timeseries", "window", "autocorrelation"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
lagged AS (
  SELECT event_type, h, hv AS xd,
         LAG(hv) OVER (PARTITION BY event_type ORDER BY h) AS yd
  FROM hourly
),
pairs AS (
  SELECT event_type, h,
         CASE WHEN yd IS NOT NULL THEN xd END AS px, yd AS py
  FROM lagged
),
mom AS (
  SELECT event_type, h,
         CAST(COUNT(py) OVER trail AS DOUBLE) AS n,
         CAST(SUM(px) OVER trail AS DOUBLE) AS sx,
         CAST(SUM(py) OVER trail AS DOUBLE) AS sy,
         CAST(SUM(px * py) OVER trail AS DOUBLE) AS sxy,
         CAST(SUM(px * px) OVER trail AS DOUBLE) AS sxx,
         CAST(SUM(py * py) OVER trail AS DOUBLE) AS syy
  FROM pairs
  WINDOW trail AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {ACF_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, h, CAST(n AS BIGINT) AS n_pairs,
       (n * sxy - sx * sy)
         / NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0)
         AS acf1
FROM mom WHERE n >= {ACF_MIN}
""",
)
def ts_rolling_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling lag-1 autocorrelation of the hourly-total series over a
    trailing 24-hour frame — high acf1 = smooth trending load, near 0 =
    memoryless noise, negative = oscillation. Emitted once >= 12 pairs
    exist in the frame.

    The series is the exact-decimal hourly TOTAL (raw values are
    2-decimal, so the sum is lossless); Pearson correlation is then
    assembled from six exact decimal moments in the trailing frame.
    Spark's sliding re-aggregation and DuckDB's segment tree cannot
    disagree, because decimal addition is associative (doubles are
    not)."""
    hourly = _hourly_sum(spark, sf_dir)
    wlag = Window.partitionBy("event_type").orderBy("h")
    lagged = hourly.select(
        "event_type", "h", F.col("hv").alias("xd")
    ).withColumn("yd", F.lag("xd").over(wlag))
    pairs = lagged.select(
        "event_type",
        "h",
        F.when(F.col("yd").isNotNull(), F.col("xd")).alias("px"),
        F.col("yd").alias("py"),
    )
    trail = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-(ACF_WIN - 1), Window.currentRow)
    )
    mom = pairs.select(
        "event_type",
        "h",
        F.count("py").over(trail).cast("double").alias("n"),
        F.sum("px").over(trail).cast("double").alias("sx"),
        F.sum("py").over(trail).cast("double").alias("sy"),
        F.sum(F.col("px") * F.col("py")).over(trail).cast("double").alias("sxy"),
        F.sum(F.col("px") * F.col("px")).over(trail).cast("double").alias("sxx"),
        F.sum(F.col("py") * F.col("py")).over(trail).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    acf1 = (n * sxy - sx * sy) / F.nullif(
        F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), F.lit(0.0)
    )
    return mom.filter(n >= ACF_MIN).select(
        "event_type",
        "h",
        n.cast("bigint").alias("n_pairs"),
        acf1.alias("acf1"),
    )


@register(
    "ts_period_over_period",
    tags=("timeseries", "window", "growth"),
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS dv
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
lagged AS (
  SELECT event_type, d, dv,
         LAG(dv, 1) OVER w AS prev_d,
         LAG(dv, 7) OVER w AS prev_w
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d)
)
SELECT event_type, d,
       CAST(dv AS DOUBLE) AS total,
       CAST(dv - prev_d AS DOUBLE) AS dod_delta,
       CAST(dv - prev_d AS DOUBLE)
         / NULLIF(CAST(prev_d AS DOUBLE), 0.0) AS dod_pct,
       CAST(dv - prev_w AS DOUBLE) AS wow_delta,
       CAST(dv - prev_w AS DOUBLE)
         / NULLIF(CAST(prev_w AS DOUBLE), 0.0) AS wow_pct
FROM lagged
""",
)
def ts_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day and week-over-week growth of daily totals per
    series — the dashboard staple. Deltas are computed in exact decimal
    (lossless 2-decimal sums) and only the final ratios divide as
    doubles, NULLIF-guarded for zero baselines and NULL for the
    warm-up rows that have no prior period.

    Same one-shuffle shape as the rest of the module: daily reduce on
    (event_type, day), then both lags ride a single sorted window."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("dv")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "d",
        "dv",
        F.lag("dv", 1).over(w).alias("prev_d"),
        F.lag("dv", 7).over(w).alias("prev_w"),
    )
    dod = (F.col("dv") - F.col("prev_d")).cast("double")
    wow = (F.col("dv") - F.col("prev_w")).cast("double")
    return lagged.select(
        "event_type",
        "d",
        F.col("dv").cast("double").alias("total"),
        dod.alias("dod_delta"),
        (dod / F.nullif(F.col("prev_d").cast("double"), F.lit(0.0))).alias(
            "dod_pct"
        ),
        wow.alias("wow_delta"),
        (wow / F.nullif(F.col("prev_w").cast("double"), F.lit(0.0))).alias(
            "wow_pct"
        ),
    )


@register(
    "ts_seasonal_residual",
    tags=("timeseries", "seasonality", "decomposition"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
hod AS (
  SELECT event_type, CAST(EXTRACT(hour FROM h) AS INTEGER) AS hod,
         CAST(COUNT(*) AS DECIMAL(6,0)) AS nd,
         CAST(SUM(hv) AS DECIMAL(24,2)) AS s_dec,
         CAST(SUM(hv) AS DOUBLE) AS s,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM hourly GROUP BY event_type, CAST(EXTRACT(hour FROM h) AS INTEGER)
)
SELECT h.event_type, h.h, CAST(h.hv AS DOUBLE) AS total,
       p.hod, p.s / p.n AS seasonal_mean,
       CAST(p.nd * h.hv - p.s_dec AS DOUBLE) / p.n AS residual
FROM hourly h
JOIN hod p ON h.event_type = p.event_type
          AND CAST(EXTRACT(hour FROM h.h) AS INTEGER) = p.hod
""",
)
def ts_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal decomposition: each hourly total splits into
    the seasonal mean for that clock hour and a residual — the
    one-period classical decomposition that turns daily rhythm into a
    feature and leaves anomalies in the residual.

    Same no-rounding trick as :func:`ts_cusum_shift`: the residual is
    computed scaled-through (``n*hv - S``) in exact decimal and divided
    by n once, as a double, so both engines agree bitwise. The seasonal
    profile is 24 rows per series — broadcast back onto the hourly
    stream; two reduces, no extra sort."""
    hourly = _hourly_sum(spark, sf_dir)
    hod = hourly.groupBy(
        "event_type", F.hour("h").cast("int").alias("hod")
    ).agg(
        F.count(F.lit(1)).cast("decimal(6,0)").alias("nd"),
        F.sum("hv").cast("decimal(24,2)").alias("s_dec"),
        F.sum("hv").cast("double").alias("s"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    joined = hourly.withColumn(
        "hod", F.hour("h").cast("int")
    ).join(F.broadcast(hod), ["event_type", "hod"])
    return joined.select(
        "event_type",
        "h",
        F.col("hv").cast("double").alias("total"),
        "hod",
        (F.col("s") / F.col("n")).alias("seasonal_mean"),
        (
            (F.col("nd") * F.col("hv") - F.col("s_dec")).cast("double")
            / F.col("n")
        ).alias("residual"),
    )


@register(
    "window_ohlc_bars",
    tags=("timeseries", "window", "ohlc"),
    oracle=f"""
WITH framed AS (
  SELECT event_type, date_trunc('hour', ts) AS h, value,
         first_value(value) OVER w AS open,
         last_value(value) OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING) AS close
  FROM events
  WINDOW w AS (PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts, event_id)
)
SELECT event_type, h,
       MAX(open) AS open, MAX(value) AS high, MIN(value) AS low,
       MAX(close) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       {{dsum}} AS volume
FROM framed GROUP BY event_type, h
""".format(dsum=sql_dsum("value")),
)
def window_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars: per (series, hour) the first/last values
    in (ts, event_id) order plus high/low/count/volume — the
    market-data aggregation shape, equally the downsampling step any
    metrics store runs before charting.

    Open/close come from frame-bounded window first/last over a TOTAL
    order (event_id tiebreak), so concurrent ticks cannot make the bar
    nondeterministic; the bar reduce rides the same (series, hour)
    partitioning, so window and aggregate share one exchange. Volume
    is the exact decimal sum."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy(
        "event_type", F.date_trunc("hour", "ts")
    ).orderBy("ts", "event_id")
    framed = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
        "value",
        F.first("value").over(w).alias("open"),
        F.last("value")
        .over(
            w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("close"),
    )
    return framed.groupBy("event_type", "h").agg(
        F.max("open").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max("close").alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        dsum("value").alias("volume"),
    )


@register(
    "ts_holt_linear",
    tags=("timeseries", "window", "smoothing", "forecast"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY}),
framed AS (
  SELECT event_type, h, v,
         -- accumulator is a 2-element LIST [level, trend], not a struct:
         -- DuckDB 1.0 mis-evaluates the second field of struct-returning
         -- fold lambdas (measured: trend drifts from step 2 on), while
         -- list-returning lambdas fold correctly.
         list_transform(
           list(v) OVER (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN {EWMA_WIN - 1} PRECEDING AND CURRENT ROW),
           y -> [y, CAST(0.0 AS DOUBLE)]) AS arr
  FROM hourly
),
folded AS (
  SELECT event_type, h, v,
         list_reduce(arr,
           (a, x) -> [ (x[1] + a[1] + a[2]) / 2.0,
                       (a[2] + ((x[1] + a[1] + a[2]) / 2.0 - a[1])) / 2.0 ])
           AS st
  FROM framed
)
SELECT event_type, h, v,
       st[1] AS level, st[2] AS trend, st[1] + st[2] AS forecast_next
FROM folded
""",
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (alpha = beta = 1/2) over the
    trailing 24-hour frame: a level AND a trend component, plus the
    one-step-ahead forecast ``level + trend`` — what EWMA cannot give
    (EWMA lags any trending series by construction).

    Same exactness argument as :func:`ts_ewma_smooth`, extended to a
    2-component fold state: every update is additions and exact
    halvings evaluated in identical expression shape on both engines
    (Spark ``reduce`` with a struct accumulator, DuckDB ``list_reduce``
    over a struct-lifted frame whose first element seeds the fold
    exactly like Spark's init). Bounded frame, O(1) window state."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-(EWMA_WIN - 1), Window.currentRow)
    )
    folded = (
        _hourly(spark, sf_dir)
        .withColumn("arr", F.collect_list("v").over(w))
        .withColumn(
            "st",
            F.expr(
                "reduce(slice(arr, 2, size(arr) - 1),"
                " named_struct('l', element_at(arr, 1), 'b', 0.0D),"
                " (a, x) -> named_struct("
                "   'l', (x + a.l + a.b) / 2.0D,"
                "   'b', (a.b + ((x + a.l + a.b) / 2.0D - a.l)) / 2.0D))"
            ),
        )
    )
    return folded.select(
        "event_type",
        "h",
        "v",
        F.col("st.l").alias("level"),
        F.col("st.b").alias("trend"),
        (F.col("st.l") + F.col("st.b")).alias("forecast_next"),
    )


DON_WIN = 24  # Donchian lookback (hours), excluding the current bar


@register(
    "window_donchian_band",
    tags=("timeseries", "window", "breakout"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
banded AS (
  SELECT event_type, h, hv,
         MAX(hv) OVER trail AS upper_band,
         MIN(hv) OVER trail AS lower_band,
         COUNT(*) OVER trail AS n_lookback
  FROM hourly
  WINDOW trail AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {DON_WIN} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, h, CAST(hv AS DOUBLE) AS total,
       CAST(upper_band AS DOUBLE) AS upper_band,
       CAST(lower_band AS DOUBLE) AS lower_band,
       (hv > upper_band) AS breakout_up,
       (hv < lower_band) AS breakout_down
FROM banded WHERE n_lookback >= {DON_WIN // 2}
""",
)
def window_donchian_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel breakout detection: flag hours whose total
    breaches the max/min of the PRECEDING {DON_WIN}-hour channel (the
    current bar excluded, so a bar never breaks its own band) — the
    volume-surge / volume-collapse alarm in its classic trading form,
    emitted once half a lookback window exists.

    Min/max/compare over exact decimals: nothing to round, nothing
    order-dependent; one hourly reduce + one frame-bounded window on
    the same series partitioning."""
    hourly = _hourly_sum(spark, sf_dir)
    trail = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-DON_WIN, -1)
    )
    banded = hourly.select(
        "event_type",
        "h",
        "hv",
        F.max("hv").over(trail).alias("upper_band"),
        F.min("hv").over(trail).alias("lower_band"),
        F.count(F.lit(1)).over(trail).alias("n_lookback"),
    )
    return banded.filter(F.col("n_lookback") >= DON_WIN // 2).select(
        "event_type",
        "h",
        F.col("hv").cast("double").alias("total"),
        F.col("upper_band").cast("double").alias("upper_band"),
        F.col("lower_band").cast("double").alias("lower_band"),
        (F.col("hv") > F.col("upper_band")).alias("breakout_up"),
        (F.col("hv") < F.col("lower_band")).alias("breakout_down"),
    )


@register(
    "ts_mann_kendall",
    tags=("timeseries", "statistics", "trend-test"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
pairs AS (
  SELECT a.event_type,
         CASE WHEN b.hv > a.hv THEN 1
              WHEN b.hv < a.hv THEN -1 ELSE 0 END AS sgn
  FROM hourly a JOIN hourly b
    ON a.event_type = b.event_type AND a.h < b.h
),
stats AS (
  SELECT event_type,
         CAST(SUM(sgn) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM pairs GROUP BY event_type
),
sized AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n
  FROM hourly GROUP BY event_type
)
SELECT t.event_type, t.s AS mk_s, t.n_pairs,
       CAST(t.s AS DOUBLE) / CAST(t.n_pairs AS DOUBLE) AS kendall_tau,
       (CASE WHEN t.s > 0 THEN CAST(t.s AS DOUBLE) - 1.0
             WHEN t.s < 0 THEN CAST(t.s AS DOUBLE) + 1.0
             ELSE 0.0 END)
         / NULLIF(sqrt(z.n * (z.n - 1.0) * (2.0 * z.n + 5.0) / 18.0), 0.0)
         AS mk_z,
       abs((CASE WHEN t.s > 0 THEN CAST(t.s AS DOUBLE) - 1.0
                 WHEN t.s < 0 THEN CAST(t.s AS DOUBLE) + 1.0
                 ELSE 0.0 END)
         / NULLIF(sqrt(z.n * (z.n - 1.0) * (2.0 * z.n + 5.0) / 18.0), 0.0))
         > 1.96 AS has_trend
FROM stats t JOIN sized z ON t.event_type = z.event_type
""",
)
def ts_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test per series: the rank statistic
    S = sum of sign(x_j - x_i) over ordered hour pairs, Kendall's tau,
    and the continuity-corrected normal z (no-ties variance — exact
    decimals make value ties measure-zero-rare and the test is
    insensitive to the correction). Nonparametric: immune to the
    outliers that bias the OLS slope in ``agg_linreg_by_group``.

    PAIRWISE within a series — O(hours²) per key, fine for bounded
    series (720 hours here); the production form for years-long series
    is the documented seasonal/blocked variant (per-month S summed),
    which caps the quadratic term. Sign counting is pure integer
    arithmetic; only the final z divides as doubles."""
    hourly = _hourly_sum(spark, sf_dir)
    a = hourly.alias("a")
    b = hourly.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.h") < F.col("b.h")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(F.col("b.hv") > F.col("a.hv"), 1)
        .when(F.col("b.hv") < F.col("a.hv"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    stats = pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    sized = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    j = stats.join(F.broadcast(sized), "event_type")
    s_dbl = F.col("s").cast("double")
    s_corr = (
        F.when(F.col("s") > 0, s_dbl - 1.0)
        .when(F.col("s") < 0, s_dbl + 1.0)
        .otherwise(F.lit(0.0))
    )
    n = F.col("n")
    mk_z = s_corr / F.nullif(
        F.sqrt(n * (n - 1.0) * (2.0 * n + 5.0) / 18.0), F.lit(0.0)
    )
    return j.select(
        "event_type",
        F.col("s").alias("mk_s"),
        "n_pairs",
        (s_dbl / F.col("n_pairs").cast("double")).alias("kendall_tau"),
        mk_z.alias("mk_z"),
        (F.abs(mk_z) > 1.96).alias("has_trend"),
    )


@register(
    "events_inter_arrival",
    tags=("timeseries", "statistics", "burstiness"),
    oracle="""
WITH gaps AS (
  SELECT event_type,
         CAST(date_diff('second', lag(ts) OVER w, ts) AS BIGINT) AS gap_s
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
),
m AS (
  SELECT event_type,
         CAST(COUNT(gap_s) AS DOUBLE) AS n,
         CAST(SUM(gap_s) AS DOUBLE) AS s,
         CAST(SUM(gap_s * gap_s) AS DOUBLE) AS s2,
         CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
  FROM gaps GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_gaps,
       s / n AS mean_gap_s,
       sqrt(s2 / n - (s / n) * (s / n)) / NULLIF(s / n, 0.0) AS cv,
       (sqrt(s2 / n - (s / n) * (s / n)) - s / n)
         / NULLIF(sqrt(s2 / n - (s / n) * (s / n)) + s / n, 0.0)
         AS burstiness,
       max_gap_s
FROM m
""",
)
def events_inter_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival statistics per stream: mean gap, coefficient of
    variation, and the Goh–Barabási burstiness index
    ``(sigma - mu) / (sigma + mu)`` (−1 = metronome, 0 = Poisson,
    → 1 = heavy bursts) — how a telemetry platform distinguishes
    steady load from bursty load BEFORE picking window sizes and
    watermarks for it (a bursty stream needs longer watermark slack;
    see the streaming module's lateness tests).

    Gaps are exact integer seconds from a lag window; moments are
    integer sums (< 2^53 — no decimal plumbing needed); one
    user-invisible sort per series rides the single exchange."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    )
    m = gaps.groupBy("event_type").agg(
        F.count("gap_s").cast("double").alias("n"),
        F.sum("gap_s").cast("double").alias("s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("double").alias("s2"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
    )
    n, s, s2 = F.col("n"), F.col("s"), F.col("s2")
    mu = s / n
    sigma = F.sqrt(s2 / n - mu * mu)
    return m.select(
        "event_type",
        n.cast("bigint").alias("n_gaps"),
        mu.alias("mean_gap_s"),
        (sigma / F.nullif(mu, F.lit(0.0))).alias("cv"),
        ((sigma - mu) / F.nullif(sigma + mu, F.lit(0.0))).alias("burstiness"),
        "max_gap_s",
    )


FA_DP = 8          # percentage-error quantization (generic doubles only)
FA_POW = 1 << (EWMA_WIN - 1)  # common denominator for exact scaled errors


@register(
    "ts_forecast_accuracy",
    tags=("timeseries", "forecasting", "evaluation"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
seq AS (
  SELECT event_type, h,
         CAST(hv * 100 AS BIGINT) AS a_int,
         CAST(LAG(hv) OVER w * 100 AS BIGINT) AS prev_int,
         list_transform(
           list(CAST(hv * 100 AS BIGINT))
             OVER (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {EWMA_WIN} PRECEDING AND 1 PRECEDING),
           y -> [y, CAST(1 AS BIGINT)]) AS arr
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h)
),
folded AS (
  SELECT event_type, a_int, prev_int,
         list_reduce(arr, (a, x) -> [a[1] + x[1] * a[2], a[2] * 2]) AS fp
  FROM seq WHERE prev_int IS NOT NULL
),
scored AS (
  SELECT event_type,
         CAST(a_int AS DOUBLE) / 100.0 AS a,
         CAST(fp[1] AS DOUBLE) / CAST(fp[2] AS DOUBLE) / 100.0 AS f_ewma,
         abs(a_int * fp[2] - fp[1]) * ({FA_POW} // fp[2]) AS ae_e_scaled,
         abs(a_int - prev_int) * {FA_POW} AS ae_n_scaled,
         abs(CAST(a_int AS DOUBLE) - prev_int) / 100.0 AS ae_naive_d
  FROM folded
),
terms AS (
  SELECT event_type, ae_e_scaled, ae_n_scaled,
         round(ae_naive_d / a, {FA_DP}) AS ape_naive,
         round(abs(a - f_ewma) / a, {FA_DP}) AS ape_ewma,
         round(2.0 * abs(a - f_ewma) / (abs(a) + abs(f_ewma)), {FA_DP})
           AS sape_ewma
  FROM scored
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_forecasts,
       CAST(SUM(CAST(ape_naive AS DECIMAL(25,{FA_DP}))) AS DOUBLE)
         / COUNT(*) AS mape_naive,
       CAST(SUM(CAST(ape_ewma AS DECIMAL(25,{FA_DP}))) AS DOUBLE)
         / COUNT(*) AS mape_ewma,
       CAST(SUM(CAST(sape_ewma AS DECIMAL(25,{FA_DP}))) AS DOUBLE)
         / COUNT(*) AS smape_ewma,
       CAST(SUM(ae_e_scaled) AS DOUBLE) / CAST(SUM(ae_n_scaled) AS DOUBLE)
         AS mase_ewma
FROM terms GROUP BY event_type
""",
)
def ts_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scorecard closing the forecasting loop
    (EWMA/Holt produce forecasts; this grades them): one-step-ahead
    naive (last value) and EWMA forecasts over the hourly series,
    scored with MAPE, sMAPE and MASE (EWMA absolute error over the
    naive baseline's — < 1 means the smoother earns its keep).

    Determinism note (hard-won): |actual − EWMA| is a DYADIC
    combination of 2-decimal values, which lands EXACTLY on half-ties
    at any fixed decimal quantization once the fold depth passes the
    scale's 2-adic valuation — round() then disagrees across engines.
    So the MASE errors never touch floats: the EWMA folds as an exact
    integer pair [numerator, 2^steps] (centi-unit values times a
    power-of-two denominator stays in int64), errors cross-multiply
    to the common 2^{EWMA_WIN - 1} denominator, and MASE is ONE double
    division of two exact int64 sums. The percentage errors divide by
    the actual first — a non-dyadic denominator makes their 8-dp
    rounding measure-zero-safe. One exchange on event_type serves the
    LAG window, the trailing frame, and the reduce."""
    w = Window.partitionBy("event_type").orderBy("h")
    wtrail = w.rowsBetween(-EWMA_WIN, -1)
    hv_int = (F.col("hv") * 100).cast("bigint")
    seq = (
        _hourly_sum(spark, sf_dir)
        .withColumn("a_int", hv_int)
        .withColumn("prev_int", F.lag(hv_int).over(w))
        .withColumn("arr", F.collect_list(hv_int).over(wtrail))
        .filter(F.col("prev_int").isNotNull())
    )
    folded = seq.select(
        "event_type",
        "a_int",
        "prev_int",
        F.expr(
            "aggregate(slice(arr, 2, size(arr) - 1),"
            " array(element_at(arr, 1), 1L),"
            " (acc, x) -> array(element_at(acc, 1) + x * element_at(acc, 2),"
            "                   element_at(acc, 2) * 2L))"
        ).alias("fp"),
    )
    fnum, fden = F.element_at("fp", 1), F.element_at("fp", 2)
    a = F.col("a_int").cast("double") / 100.0
    f_ewma = fnum.cast("double") / fden.cast("double") / 100.0
    scored = folded.select(
        "event_type",
        a.alias("a"),
        f_ewma.alias("f_ewma"),
        (
            F.abs(F.col("a_int") * fden - fnum)
            * F.expr(f"{FA_POW}L div element_at(fp, 2)")
        ).alias("ae_e_scaled"),
        (F.abs(F.col("a_int") - F.col("prev_int")) * FA_POW).alias(
            "ae_n_scaled"
        ),
        (
            F.abs(F.col("a_int").cast("double") - F.col("prev_int")) / 100.0
        ).alias("ae_naive_d"),
    )
    af, fe = F.col("a"), F.col("f_ewma")
    terms = scored.select(
        "event_type",
        "ae_e_scaled",
        "ae_n_scaled",
        F.round(F.col("ae_naive_d") / af, FA_DP).alias("ape_naive"),
        F.round(F.abs(af - fe) / af, FA_DP).alias("ape_ewma"),
        F.round(2.0 * F.abs(af - fe) / (F.abs(af) + F.abs(fe)), FA_DP).alias(
            "sape_ewma"
        ),
    )
    dec = f"decimal(25,{FA_DP})"
    n = F.count(F.lit(1))

    def dmean(c):
        return F.sum(F.col(c).cast(dec)).cast("double") / n

    return terms.groupBy("event_type").agg(
        n.cast("bigint").alias("n_forecasts"),
        dmean("ape_naive").alias("mape_naive"),
        dmean("ape_ewma").alias("mape_ewma"),
        dmean("sape_ewma").alias("smape_ewma"),
        (
            F.sum("ae_e_scaled").cast("double")
            / F.sum("ae_n_scaled").cast("double")
        ).alias("mase_ewma"),
    )


@register(
    "window_drawdown",
    tags=("timeseries", "window", "risk"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
cum AS (
  SELECT event_type, h,
         CAST(SUM(hv) OVER (PARTITION BY event_type ORDER BY h
                            ROWS UNBOUNDED PRECEDING) AS DECIMAL(24,2))
           AS equity
  FROM hourly
),
dd AS (
  SELECT event_type, h, equity,
         CAST(MAX(equity) OVER (PARTITION BY event_type ORDER BY h
                                ROWS UNBOUNDED PRECEDING) AS DECIMAL(24,2))
           AS peak
  FROM cum
)
SELECT event_type,
       CAST(MAX(peak - equity) AS DOUBLE) AS max_drawdown,
       CAST(MAX(CASE WHEN peak - equity
                        = (SELECT MAX(p2.peak - p2.equity) FROM dd p2
                           WHERE p2.event_type = dd.event_type)
                 THEN h END) AS TIMESTAMP) AS worst_at,
       CAST(MAX(equity) AS DOUBLE) AS peak_equity
FROM dd GROUP BY event_type
""",
)
def window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series — the risk metric over the running
    cumulative total (treat hourly totals as P&L): drawdown(t) =
    running-peak − equity(t); report the worst, when it bottomed
    (latest such hour on ties), and the peak. Rolling sums, running
    max, and the differences all stay in EXACT decimal (2-decimal
    inputs), so no float ever enters — the double casts at the end
    convert exact small decimals losslessly.

    One exchange on event_type drives both stacked windows and the
    final reduce — the running-max-over-running-sum pattern costs no
    more than one window."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = (
        _hourly_sum(spark, sf_dir)
        .withColumn("equity", F.sum("hv").over(w).cast("decimal(24,2)"))
        .withColumn("peak", F.max("equity").over(w).cast("decimal(24,2)"))
        .withColumn("draw", F.col("peak") - F.col("equity"))
        # The per-series worst comes from ANOTHER window on the SAME
        # partitioning (not a self-join, which would re-execute the
        # whole running-sum subtree for the join's other side).
        .withColumn(
            "max_draw", F.max("draw").over(Window.partitionBy("event_type"))
        )
    )
    return dd.groupBy("event_type").agg(
        F.max("draw").cast("double").alias("max_drawdown"),
        F.max(
            F.when(F.col("draw") == F.col("max_draw"), F.col("h"))
        ).alias("worst_at"),
        F.max("equity").cast("double").alias("peak_equity"),
    )


TWA_DP = 8  # final ratio rounding: the scaled decimal sums exceed 2^53,
            # so the double casts may differ in the last ulp per engine;
            # rounding the RATIO (not the sums) restores bit equality.


@register(
    "window_time_weighted_avg",
    tags=("timeseries", "window", "twap"),
    oracle=f"""
WITH seq AS (
  SELECT event_type, CAST(ts AS DATE) AS day, value, ts,
         LEAD(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                        ORDER BY ts, event_id) AS nxt
  FROM events
),
weighted AS (
  SELECT event_type, day,
         CAST(value AS DECIMAL(12,2))
           * CAST(epoch_us(nxt) - epoch_us(ts) AS DECIMAL(18,0)) AS wv,
         epoch_us(nxt) - epoch_us(ts) AS w
  FROM seq WHERE nxt IS NOT NULL
)
SELECT event_type, day,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(w) AS BIGINT) AS covered_us,
       round(CAST(SUM(wv) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), {TWA_DP})
         AS twa_value
FROM weighted GROUP BY event_type, day
""",
)
def window_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over an IRREGULAR series (the TWAP /
    time_weight operator of tick stores): each observation counts for
    the micro-seconds until the next one, per (event_type, day) —
    where a plain AVG over-weights bursts, this is the number a
    billing/utilization/price pipeline actually wants.

    One exchange on (event_type, day) drives both the LEAD window and
    the final reduce. Weights are exact integer µs, products exact
    DECIMAL(12,2)×INT — the sums are lossless; only the final ratio is
    rounded (at {TWA_DP} dp) because its scaled numerator exceeds 2^53
    where engine double-casts may split an ulp. The last observation
    of each day carries no duration and is excluded (open interval) —
    same contract as range-interpolated time_weight."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    seq = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "value",
        "ts",
        F.lead("ts").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    dur = F.unix_micros("nxt") - F.unix_micros("ts")
    weighted = seq.select(
        "event_type",
        "day",
        (
            F.col("value").cast("decimal(12,2)")
            * dur.cast("decimal(18,0)")
        ).alias("wv"),
        dur.alias("w"),
    )
    return weighted.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum("w").cast("bigint").alias("covered_us"),
        F.round(
            F.sum("wv").cast("double") / F.sum("w").cast("double"), TWA_DP
        ).alias("twa_value"),
    )


XCORR_WIN = 24
XCORR_MIN = 12


@register(
    "ts_rolling_cross_corr",
    tags=("timeseries", "window", "correlation"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
aligned AS (
  SELECT a.h, a.hv AS xv, b.hv AS yv
  FROM (SELECT h, hv FROM hourly WHERE event_type = 'click') a
  JOIN (SELECT h, hv FROM hourly WHERE event_type = 'purchase') b
    ON a.h = b.h
),
mom AS (
  SELECT h,
         CAST(COUNT(*) OVER trail AS DOUBLE) AS n,
         CAST(SUM(xv) OVER trail AS DOUBLE) AS sx,
         CAST(SUM(yv) OVER trail AS DOUBLE) AS sy,
         CAST(SUM(CAST(xv * yv AS DECIMAL(30,4))) OVER trail AS DOUBLE) AS sxy,
         CAST(SUM(CAST(xv * xv AS DECIMAL(30,4))) OVER trail AS DOUBLE) AS sxx,
         CAST(SUM(CAST(yv * yv AS DECIMAL(30,4))) OVER trail AS DOUBLE) AS syy
  FROM aligned
  WINDOW trail AS (ORDER BY h
                   ROWS BETWEEN {XCORR_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT h, CAST(n AS BIGINT) AS n_hours,
       (n * sxy - sx * sy)
         / NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0.0)
         AS xcorr
FROM mom WHERE n >= {XCORR_MIN}
""",
)
def ts_rolling_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling CROSS-correlation between two metric streams (hourly
    click vs purchase totals, trailing {XCORR_WIN} h) — the "are these
    two systems still coupled" dial: a stable high value is the normal
    co-movement of traffic and conversions; a sudden drop flags a
    broken funnel step even while both series individually look
    healthy (exactly what per-series anomaly detection misses).

    Series align with ONE hour-keyed join of two filtered branches of
    the same hourly reduce; Pearson assembles from six exact decimal
    moments in the trailing frame — products of scale-2 decimals
    quantize exactly at scale 4 (the documented safe product scale),
    so sliding re-aggregation order cannot matter. Same machinery as
    `ts_rolling_autocorr`, lifted from lag pairs to series pairs."""
    hourly = _hourly_sum(spark, sf_dir)
    a = hourly.filter(F.col("event_type") == "click").select(
        "h", F.col("hv").alias("xv")
    )
    b = hourly.filter(F.col("event_type") == "purchase").select(
        "h", F.col("hv").alias("yv")
    )
    aligned = a.join(b, "h")
    trail = Window.orderBy("h").rowsBetween(-(XCORR_WIN - 1), Window.currentRow)
    dec4 = "decimal(30,4)"
    mom = aligned.select(
        "h",
        F.count(F.lit(1)).over(trail).cast("double").alias("n"),
        F.sum("xv").over(trail).cast("double").alias("sx"),
        F.sum("yv").over(trail).cast("double").alias("sy"),
        F.sum((F.col("xv") * F.col("yv")).cast(dec4)).over(trail)
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("xv") * F.col("xv")).cast(dec4)).over(trail)
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("yv") * F.col("yv")).cast(dec4)).over(trail)
        .cast("double")
        .alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    denom = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return mom.filter(n >= XCORR_MIN).select(
        "h",
        n.cast("bigint").alias("n_hours"),
        ((n * sxy - sx * sy) / F.nullif(denom, F.lit(0.0))).alias("xcorr"),
    )


# --- Theil–Sen robust trend -----------------------------------------------


@register(
    "ts_theil_sen_slope",
    tags=("timeseries", "trend", "robust"),
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         {sql_dsum('value')} AS y
  FROM events GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type, a.d AS d1, b.d AS d2,
         (b.y - a.y) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
),
ranked AS (
  SELECT event_type, slope,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY slope, d1, d2) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS np
  FROM slopes
),
med AS (
  SELECT event_type, MAX(np) AS n_pairs,
         SUM(slope) / COUNT(*) AS slope_med
  FROM ranked
  WHERE rn IN ((np + 1) // 2, (np + 2) // 2)
  GROUP BY event_type
),
resid AS (
  SELECT d.event_type, d.y - m.slope_med * d.d AS r, d.d,
         ROW_NUMBER() OVER (PARTITION BY d.event_type
                            ORDER BY d.y - m.slope_med * d.d, d.d) AS rn,
         COUNT(*) OVER (PARTITION BY d.event_type) AS nd
  FROM daily d JOIN med m ON d.event_type = m.event_type
),
icept AS (
  SELECT event_type, MAX(nd) AS n_days,
         SUM(r) / COUNT(*) AS intercept
  FROM resid
  WHERE rn IN ((nd + 1) // 2, (nd + 2) // 2)
  GROUP BY event_type
)
SELECT m.event_type,
       CAST(i.n_days AS BIGINT) AS n_days,
       CAST(m.n_pairs AS BIGINT) AS n_pairs,
       m.slope_med AS theil_sen_slope,
       i.intercept AS theil_sen_intercept
FROM med m JOIN icept i ON m.event_type = i.event_type
""",
)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event stream: the median of all
    pairwise daily slopes (and the median-residual intercept) — the
    estimator that shrugs off the outlier days that wreck OLS
    (`agg_linreg_by_group`'s failure mode).

    The quadratic step is bounded by the DAILY grain, not the corpus:
    the fact table reduces to O(streams × days) exact-decimal totals
    first, so the pair join is tiny at any corpus size (a year = ~66k
    pairs per stream; cap the window for longer spans). Medians are
    exact-rank selections — no interpolation — and every slope is a
    difference-quotient of already-identical doubles, so the result is
    bitwise stable with NO rounding anywhere."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            ).alias("d"),
        )
        .agg(dsum("value").alias("y"))
    )
    a = daily.select("event_type", F.col("d").alias("d1"), F.col("y").alias("y1"))
    b = daily.select("event_type", F.col("d").alias("d2"), F.col("y").alias("y2"))
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "event_type",
            "d1",
            "d2",
            (
                (F.col("y2") - F.col("y1"))
                / (F.col("d2") - F.col("d1")).cast("double")
            ).alias("slope"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "d1", "d2")
    wn = Window.partitionBy("event_type")
    ranked = slopes.withColumn("rn", F.row_number().over(wr)).withColumn(
        "np", F.count(F.lit(1)).over(wn)
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.expr("(np + 1) div 2"))
            | (F.col("rn") == F.expr("(np + 2) div 2"))
        )
        .groupBy("event_type")
        .agg(
            F.max("np").alias("n_pairs"),
            (F.sum("slope") / F.count(F.lit(1))).alias("slope_med"),
        )
    )
    resid = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n_pairs",
        "slope_med",
        "d",
        (F.col("y") - F.col("slope_med") * F.col("d")).alias("r"),
    )
    wrr = Window.partitionBy("event_type").orderBy("r", "d")
    rr = resid.withColumn("rn", F.row_number().over(wrr)).withColumn(
        "nd", F.count(F.lit(1)).over(wn)
    )
    icept = (
        rr.filter(
            (F.col("rn") == F.expr("(nd + 1) div 2"))
            | (F.col("rn") == F.expr("(nd + 2) div 2"))
        )
        .groupBy("event_type", "n_pairs", "slope_med")
        .agg(
            F.max("nd").alias("n_days"),
            (F.sum("r") / F.count(F.lit(1))).alias("intercept"),
        )
    )
    return icept.select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("slope_med").alias("theil_sen_slope"),
        F.col("intercept").alias("theil_sen_intercept"),
    )


# --- Pettitt change-point test --------------------------------------------

PETTITT_DP = 8  # p-value: exp of a rational — generic, round once


@register(
    "ts_changepoint_pettitt",
    tags=("timeseries", "changepoint", "robust"),
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         {sql_dsum('value')} AS y
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type, a.d AS di, b.d AS dj,
         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
),
fut AS (SELECT event_type, di AS d, SUM(s) AS a_t FROM pairs GROUP BY 1, 2),
pst AS (SELECT event_type, dj AS d, SUM(s) AS b_t FROM pairs GROUP BY 1, 2),
steps AS (
  SELECT dd.event_type, dd.d,
         COALESCE(f.a_t, 0) - COALESCE(p.b_t, 0) AS step
  FROM daily dd
  LEFT JOIN fut f ON dd.event_type = f.event_type AND dd.d = f.d
  LEFT JOIN pst p ON dd.event_type = p.event_type AND dd.d = p.d
),
cum AS (
  SELECT event_type, d,
         SUM(step) OVER (PARTITION BY event_type ORDER BY d
                         ROWS UNBOUNDED PRECEDING) AS u_t,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM steps
),
best AS (
  SELECT event_type, d, abs(u_t) AS k_abs, u_t, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY abs(u_t) DESC, d) AS rk
  FROM cum
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(k_abs AS BIGINT) AS k_stat,
       CAST(d AS BIGINT) AS change_day,
       round(least(CAST(1.0 AS DOUBLE),
                   2 * exp((-6.0 * k_abs * k_abs)
                     / (CAST(n AS DOUBLE)*n*n + CAST(n AS DOUBLE)*n))),
             {PETTITT_DP}) AS p_approx
FROM best WHERE rk = 1
""",
)
def ts_changepoint_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt nonparametric change-point test per event stream: find
    the day t maximizing |U_t| = |Σ_{{i≤t<j}} sign(y_j − y_i)| over the
    daily series — the rank-based mean-shift locator that needs no
    distributional assumption (the WHERE of the shift CUSUM flags).

    Quadratic work is bounded by the DAILY grain (the corpus reduces
    to O(streams × days) decimal totals first). U_t comes from the
    telescoping recurrence U_t − U_{{t−1}} = A_t − B_t with A/B the
    future/past sign sums per day — two bounded aggregations + one
    ordered window, not an O(n³) triple join. All-integer until the
    single generically-rounded exp() of the approximate p-value."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            ).alias("d"),
        )
        .agg(dsum("value").alias("y"))
    )
    a = daily.select("event_type", F.col("d").alias("di"), F.col("y").alias("yi"))
    b = daily.select("event_type", F.col("d").alias("dj"), F.col("y").alias("yj"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("di") < F.col("dj"))
        .select(
            "event_type",
            "di",
            "dj",
            F.when(F.col("yj") > F.col("yi"), 1)
            .when(F.col("yj") < F.col("yi"), -1)
            .otherwise(0)
            .alias("s"),
        )
    )
    fut = pairs.groupBy("event_type", F.col("di").alias("d")).agg(
        F.sum("s").alias("a_t")
    )
    pst = pairs.groupBy("event_type", F.col("dj").alias("d")).agg(
        F.sum("s").alias("b_t")
    )
    steps = (
        daily.select("event_type", "d")
        .join(fut, ["event_type", "d"], "left")
        .join(pst, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d",
            (F.coalesce("a_t", F.lit(0)) - F.coalesce("b_t", F.lit(0))).alias(
                "step"
            ),
        )
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type")
    cum = steps.withColumn("u_t", F.sum("step").over(wc)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs("u_t").desc(), "d"
    )
    best = cum.withColumn("rk", F.row_number().over(wr)).filter(F.col("rk") == 1)
    n_d = F.col("n").cast("double")
    return best.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.abs("u_t").cast("bigint").alias("k_stat"),
        F.col("d").cast("bigint").alias("change_day"),
        # least(1, ...): the asymptotic 2*exp(-6K^2/...) exceeds 1 for
        # small K — clamp to a valid p-value (mirrored in the oracle).
        F.round(
            F.least(
                F.lit(1.0),
                2.0
                * F.exp(
                    (-6.0 * F.abs("u_t") * F.abs("u_t"))
                    / (n_d * F.col("n") * F.col("n") + n_d * F.col("n"))
                ),
            ),
            PETTITT_DP,
        ).alias("p_approx"),
    )


# --- seasonal strength ----------------------------------------------------

STL_DP = 6   # centered squares are generic — round then decimal-sum
STL_OUT_DP = 8


@register(
    "ts_seasonal_strength",
    tags=("timeseries", "seasonality", "diagnostics"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
hod AS (
  SELECT event_type, CAST(EXTRACT(hour FROM h) AS INTEGER) AS hod,
         CAST(COUNT(*) AS DECIMAL(6,0)) AS nd,
         CAST(SUM(hv) AS DECIMAL(24,2)) AS s_dec,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM hourly GROUP BY event_type, CAST(EXTRACT(hour FROM h) AS INTEGER)
),
resid AS (
  SELECT h.event_type, CAST(h.hv AS DOUBLE) AS total,
         CAST(p.nd * h.hv - p.s_dec AS DOUBLE) / p.n AS r
  FROM hourly h
  JOIN hod p ON h.event_type = p.event_type
            AND CAST(EXTRACT(hour FROM h.h) AS INTEGER) = p.hod
),
mu AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(round(total, {STL_DP}) AS DECIMAL(25,{STL_DP})))
              AS DOUBLE) / COUNT(*) AS mu_t,
         CAST(SUM(CAST(round(r, {STL_DP}) AS DECIMAL(25,{STL_DP})))
              AS DOUBLE) / COUNT(*) AS mu_r
  FROM resid GROUP BY event_type
),
vv AS (
  SELECT s.event_type, m.n,
         CAST(SUM(CAST(round((s.total - m.mu_t) * (s.total - m.mu_t),
                             {STL_DP}) AS DECIMAL(30,{STL_DP}))) AS DOUBLE)
           / m.n AS var_t,
         CAST(SUM(CAST(round((s.r - m.mu_r) * (s.r - m.mu_r),
                             {STL_DP}) AS DECIMAL(30,{STL_DP}))) AS DOUBLE)
           / m.n AS var_r
  FROM resid s JOIN mu m ON s.event_type = m.event_type
  GROUP BY s.event_type, m.n
)
SELECT event_type, CAST(n AS BIGINT) AS n_hours,
       round(var_t, {STL_OUT_DP}) AS var_total,
       round(var_r, {STL_OUT_DP}) AS var_resid,
       round(greatest(CAST(0.0 AS DOUBLE), 1.0 - var_r / var_t),
             {STL_OUT_DP}) AS seasonal_strength
FROM vv
""",
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-strength diagnostic (the STL F_s statistic): per
    stream, 1 − Var(residual)/Var(total) after the hour-of-day
    decomposition — near 1 when the daily rhythm explains the series
    (forecast with the seasonal model), near 0 when it doesn't (fall
    back to EWMA/naive). The model-selection readout that decides
    BETWEEN this engine's forecasting operators.

    Builds on ``ts_seasonal_residual``'s exact scaled-through
    residuals; variances use the centered-decimal pattern
    (generic-round then exact sums) and the final ratios round at
    {STL_OUT_DP} dp. Two small reduces over the hourly grain."""
    hourly = _hourly_sum(spark, sf_dir)
    hod = hourly.groupBy(
        "event_type", F.hour("h").cast("int").alias("hod")
    ).agg(
        F.count(F.lit(1)).cast("decimal(6,0)").alias("nd"),
        F.sum("hv").cast("decimal(24,2)").alias("s_dec"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    resid = (
        hourly.withColumn("hod", F.hour("h").cast("int"))
        .join(F.broadcast(hod), ["event_type", "hod"])
        .select(
            "event_type",
            F.col("hv").cast("double").alias("total"),
            (
                (F.col("nd") * F.col("hv") - F.col("s_dec")).cast("double")
                / F.col("n")
            ).alias("r"),
        )
    )
    dec = f"decimal(25,{STL_DP})"
    dec30 = f"decimal(30,{STL_DP})"
    mu = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round("total", STL_DP).cast(dec)).cast("double")
            / F.count(F.lit(1))
        ).alias("mu_t"),
        (
            F.sum(F.round("r", STL_DP).cast(dec)).cast("double")
            / F.count(F.lit(1))
        ).alias("mu_r"),
    )
    vv = (
        resid.join(F.broadcast(mu), "event_type")
        .groupBy("event_type", "n")
        .agg(
            (
                F.sum(
                    F.round(
                        (F.col("total") - F.col("mu_t"))
                        * (F.col("total") - F.col("mu_t")),
                        STL_DP,
                    ).cast(dec30)
                ).cast("double")
                / F.first("n")
            ).alias("var_t"),
            (
                F.sum(
                    F.round(
                        (F.col("r") - F.col("mu_r"))
                        * (F.col("r") - F.col("mu_r")),
                        STL_DP,
                    ).cast(dec30)
                ).cast("double")
                / F.first("n")
            ).alias("var_r"),
        )
    )
    return vv.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.round("var_t", STL_OUT_DP).alias("var_total"),
        F.round("var_r", STL_OUT_DP).alias("var_resid"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - F.col("var_r") / F.col("var_t")),
            STL_OUT_DP,
        ).alias("seasonal_strength"),
    )


# --- literal-table spectral power (periodogram at fixed periods) ----------

SPECT_DP = 6  # v x literal-trig products round generically, then decimal-sum
# cos/sin literals for hour-of-day phases at the tested periods — inlined
# identically into BOTH engines so no transcendental runs at query time.
_COS_24 = ["1.0000000000", "0.9659258263", "0.8660254038", "0.7071067812", "0.5000000000", "0.2588190451", "0.0000000000", "-0.2588190451", "-0.5000000000", "-0.7071067812", "-0.8660254038", "-0.9659258263", "-1.0000000000", "-0.9659258263", "-0.8660254038", "-0.7071067812", "-0.5000000000", "-0.2588190451", "-0.0000000000", "0.2588190451", "0.5000000000", "0.7071067812", "0.8660254038", "0.9659258263"]
_SIN_24 = ["0.0000000000", "0.2588190451", "0.5000000000", "0.7071067812", "0.8660254038", "0.9659258263", "1.0000000000", "0.9659258263", "0.8660254038", "0.7071067812", "0.5000000000", "0.2588190451", "0.0000000000", "-0.2588190451", "-0.5000000000", "-0.7071067812", "-0.8660254038", "-0.9659258263", "-1.0000000000", "-0.9659258263", "-0.8660254038", "-0.7071067812", "-0.5000000000", "-0.2588190451"]
_COS_12 = ["1.0000000000", "0.8660254038", "0.5000000000", "0.0000000000", "-0.5000000000", "-0.8660254038", "-1.0000000000", "-0.8660254038", "-0.5000000000", "-0.0000000000", "0.5000000000", "0.8660254038", "1.0000000000", "0.8660254038", "0.5000000000", "0.0000000000", "-0.5000000000", "-0.8660254038", "-1.0000000000", "-0.8660254038", "-0.5000000000", "-0.0000000000", "0.5000000000", "0.8660254038"]
_SIN_12 = ["0.0000000000", "0.5000000000", "0.8660254038", "1.0000000000", "0.8660254038", "0.5000000000", "0.0000000000", "-0.5000000000", "-0.8660254038", "-1.0000000000", "-0.8660254038", "-0.5000000000", "-0.0000000000", "0.5000000000", "0.8660254038", "1.0000000000", "0.8660254038", "0.5000000000", "0.0000000000", "-0.5000000000", "-0.8660254038", "-1.0000000000", "-0.8660254038", "-0.5000000000"]


def _phase_case(tab: list[str], col: str) -> str:
    return (
        "CASE " + col + " "
        + " ".join(f"WHEN {h} THEN CAST({v} AS DOUBLE)" for h, v in enumerate(tab))
        + " END"
    )


@register(
    "ts_spectral_power",
    tags=("timeseries", "seasonality", "spectral"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
phased AS (
  SELECT event_type, CAST(hv AS DOUBLE) AS v,
         CAST(EXTRACT(hour FROM h) AS INTEGER) AS hod
  FROM hourly
),
terms AS (
  SELECT event_type,
         CAST(round(v * ({_phase_case(_COS_24, 'hod')}), {SPECT_DP})
              AS DECIMAL(30,{SPECT_DP})) AS c24,
         CAST(round(v * ({_phase_case(_SIN_24, 'hod')}), {SPECT_DP})
              AS DECIMAL(30,{SPECT_DP})) AS s24,
         CAST(round(v * ({_phase_case(_COS_12, 'hod')}), {SPECT_DP})
              AS DECIMAL(30,{SPECT_DP})) AS c12,
         CAST(round(v * ({_phase_case(_SIN_12, 'hod')}), {SPECT_DP})
              AS DECIMAL(30,{SPECT_DP})) AS s12
  FROM phased
),
sums AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(c24) AS DOUBLE) AS sc24, CAST(SUM(s24) AS DOUBLE) AS ss24,
         CAST(SUM(c12) AS DOUBLE) AS sc12, CAST(SUM(s12) AS DOUBLE) AS ss12
  FROM terms GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_hours,
       round((sc24 * sc24 + ss24 * ss24) / n, {SPECT_DP}) AS power_24h,
       round((sc12 * sc12 + ss12 * ss12) / n, {SPECT_DP}) AS power_12h,
       (sc24 * sc24 + ss24 * ss24) > (sc12 * sc12 + ss12 * ss12)
         AS daily_dominates
FROM sums
""",
)
def ts_spectral_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram power at the 24 h and 12 h periods per stream — the
    spectral confirmation of WHICH cycle drives a series (the
    seasonal-strength statistic says how much rhythm exists; this says
    whether it is the daily cycle or its half-day harmonic, which
    decides the decomposition period).

    The trig basis is a 24-entry LITERAL phase table inlined into both
    engines (the DCG-ladder trick applied to Fourier analysis) — no
    cos/sin executes at query time; v×literal products round
    generically and accumulate as exact decimals, so the DFT
    coefficients are order-invariant and the powers bitwise equal.
    One reduce over the hourly grain; adding test periods adds
    columns, not passes."""
    hourly = _hourly_sum(spark, sf_dir)
    phased = hourly.select(
        "event_type",
        F.col("hv").cast("double").alias("v"),
        F.hour("h").cast("int").alias("hod"),
    )
    dec = f"decimal(30,{SPECT_DP})"

    def term(tab):
        return F.round(
            F.col("v") * F.expr(_phase_case(tab, "hod")), SPECT_DP
        ).cast(dec)

    sums = phased.select(
        "event_type",
        term(_COS_24).alias("c24"),
        term(_SIN_24).alias("s24"),
        term(_COS_12).alias("c12"),
        term(_SIN_12).alias("s12"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c24").cast("double").alias("sc24"),
        F.sum("s24").cast("double").alias("ss24"),
        F.sum("c12").cast("double").alias("sc12"),
        F.sum("s12").cast("double").alias("ss12"),
    )
    p24 = F.col("sc24") * F.col("sc24") + F.col("ss24") * F.col("ss24")
    p12 = F.col("sc12") * F.col("sc12") + F.col("ss12") * F.col("ss12")
    return sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_hours"),
        F.round(p24 / F.col("n"), SPECT_DP).alias("power_24h"),
        F.round(p12 / F.col("n"), SPECT_DP).alias("power_12h"),
        (p24 > p12).alias("daily_dominates"),
    )


# --- time-series subsequence similarity search ------------------------------
# (EDBT 2019 "Time Series Similarity Search for Streaming Data" shape —
# PAPERS.md:6: match a query pattern against every sliding offset of
# every series, rank by distance.)

TSM_PATTERN = [120.0, 180.0, 240.0, 180.0, 120.0, 60.0]  # spike-and-decay
TSM_L = len(TSM_PATTERN)
TSM_TOPK = 3
TSM_DP = 6
_TSM_IPPP = 0.0
for _p in TSM_PATTERN:
    _TSM_IPPP = _TSM_IPPP + _p * _p  # left fold — both engines' ip order


@register(
    "ts_subsequence_match",
    tags=("timeseries", "similarity", "search"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
win AS (
  SELECT event_type, h,
         list(CAST(hv AS DOUBLE)) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN CURRENT ROW AND {TSM_L - 1} FOLLOWING) AS xs
  FROM hourly
),
scored AS (
  SELECT event_type, h,
         round(list_inner_product(xs, xs)
               - 2 * list_inner_product(
                   xs, CAST([{", ".join(repr(p) for p in TSM_PATTERN)}] AS DOUBLE[]))
               + CAST({_TSM_IPPP!r} AS DOUBLE), {TSM_DP}) AS d2
  FROM win WHERE len(xs) = {TSM_L}
)
SELECT event_type, h AS match_start, d2 FROM (
  SELECT event_type, h, d2,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d2, h) AS rn
  FROM scored
) r WHERE rn <= {TSM_TOPK}
""",
)
def ts_subsequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsequence similarity search: slide a literal {TSM_L}-hour query
    pattern over every series and return each series' {TSM_TOPK} best-
    matching offsets by squared Euclidean distance — the distributed
    pattern-matching primitive behind "find me other incidents shaped
    like this one".

    Scale shape: ONE per-series window pass builds the length-{TSM_L}
    sliding frames (no self-join over offsets, no explode of the
    series x pattern cross product); the distance is the bitwise-
    reproducible (ip(x,x) - 2*ip(x,p)) + ip(p,p) fold with the pattern
    and its norm inlined as literals, and the per-series top-k is a
    WindowGroupLimit. At 100 TB the pass stays shuffle-once per series
    key, and longer patterns only widen the frame, never the plan."""
    hourly = _hourly_sum(spark, sf_dir).select(
        "event_type", "h", F.col("hv").cast("double").alias("v")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.currentRow, TSM_L - 1)
    )
    pat = F.array(*[F.lit(p) for p in TSM_PATTERN])
    win = hourly.select(
        "event_type", "h", F.collect_list("v").over(w).alias("xs")
    ).filter(F.size("xs") == TSM_L)
    ip = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    xs = F.col("xs")
    d2 = F.round(
        ip(xs, xs) - 2 * ip(xs, pat) + F.lit(_TSM_IPPP), TSM_DP
    )
    scored = win.select("event_type", "h", d2.alias("d2"))
    wr = Window.partitionBy("event_type").orderBy("d2", "h")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TSM_TOPK)
        .select("event_type", F.col("h").alias("match_start"), "d2")
    )


# --- longest monotone-increase streaks (gaps-and-islands on trend) --------


@register(
    "ts_monotone_streaks",
    tags=("timeseries", "trend", "gaps-islands"),
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS dv
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
flagged AS (
  SELECT event_type, d, dv,
         CASE WHEN dv > lag(dv) OVER (PARTITION BY event_type ORDER BY d)
              THEN 1 ELSE 0 END AS up
  FROM daily
),
islands AS (
  SELECT event_type, d, up,
         SUM(1 - up) OVER (PARTITION BY event_type ORDER BY d
                           ROWS UNBOUNDED PRECEDING) AS isl
  FROM flagged
),
runs AS (
  -- an island is a maximal run of consecutive "up" days plus the
  -- break day that started it; streak length counts the up-steps
  SELECT event_type, isl,
         CAST(SUM(up) AS BIGINT) AS streak_len,
         MIN(d) AS streak_start
  FROM islands GROUP BY event_type, isl
),
best AS (
  SELECT event_type, streak_len, streak_start,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY streak_len DESC, streak_start) AS rn
  FROM runs
)
SELECT f.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(f.up) AS BIGINT) AS n_up_days,
       MAX(b.streak_len) AS longest_streak,
       MAX(b.streak_start) AS longest_streak_start
FROM flagged f
JOIN (SELECT * FROM best WHERE rn = 1) b ON f.event_type = b.event_type
GROUP BY f.event_type
""",
)
def ts_monotone_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of strictly-increasing daily totals per event type
    (gaps-and-islands over the trend direction): the "N days of
    uninterrupted growth" readout product dashboards quote, and the
    run-length statistic behind nonparametric runs tests.

    Daily totals are EXACT decimals (2-decimal money summed
    losslessly), so the strict ">" comparison — the entire semantic —
    cannot waver between engines; everything downstream is integer
    window arithmetic (up-flags, island ids via cumsum of breaks, run
    lengths).

    Plan: one corpus reduce to the per-(type, day) grain, then three
    windows all partitioned by event_type over day-count-bounded
    frames — the per-key state is O(days), never O(rows), so the
    shape is unchanged at 100 TB. Output per type: days observed,
    up-days, the longest streak and its start date."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("dv")
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    flagged = daily.select(
        "event_type",
        "d",
        F.when(F.col("dv") > F.lag("dv").over(wo), 1).otherwise(0).alias("up"),
    )
    islands = flagged.withColumn(
        "isl",
        F.sum(1 - F.col("up")).over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = islands.groupBy("event_type", "isl").agg(
        F.sum("up").cast("bigint").alias("streak_len"),
        F.min("d").alias("streak_start"),
    )
    wb = Window.partitionBy("event_type").orderBy(
        F.desc("streak_len"), "streak_start"
    )
    best = (
        runs.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select("event_type", "streak_len", "streak_start")
    )
    per_type = flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("up").cast("bigint").alias("n_up_days"),
    )
    return per_type.join(F.broadcast(best), "event_type").select(
        "event_type",
        "n_days",
        "n_up_days",
        F.col("streak_len").alias("longest_streak"),
        F.col("streak_start").alias("longest_streak_start"),
    )


# --- sample autocorrelation function (correlogram) ------------------------

ACF_MAX_LAG = 7
_ACF_DP = 10  # final ratio rounding (the corr rule)


def _sql_acf_oracle() -> str:
    lag_structs = ",".join(
        f"{{'lag': {k}, 'x': lag(c, {k}) OVER "
        f"(PARTITION BY event_type ORDER BY d)}}"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
gmom AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM daily GROUP BY event_type
),
lagged AS (
  SELECT event_type, c AS y,
         unnest([{lag_structs}], recursive := true)
  FROM daily
),
pairs AS (
  SELECT event_type, lag AS k,
         CAST(COUNT(*) AS BIGINT) AS nk,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM lagged WHERE x IS NOT NULL
  GROUP BY event_type, lag
)
SELECT p.event_type, p.k AS lag, p.nk AS n_pairs,
       round(
         (CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE) * CAST(p.sxy AS DOUBLE)
          - CAST(g.n AS DOUBLE) * CAST(g.s AS DOUBLE)
            * (CAST(p.sx AS DOUBLE) + CAST(p.sy AS DOUBLE))
          + CAST(p.nk AS DOUBLE) * CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE))
         / (CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE) * CAST(g.q AS DOUBLE)
            - CAST(g.n AS DOUBLE) * CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE)),
         {_ACF_DP}) AS acf
FROM pairs p JOIN gmom g ON p.event_type = g.event_type
"""


@register(
    "ts_acf_correlogram",
    tags=("timeseries", "trend", "autocorrelation"),
    oracle=_sql_acf_oracle(),
)
def ts_acf_correlogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sample AUTOCORRELATION FUNCTION at lags 1..{ACF_MAX_LAG} of
    each event type's daily total series — the correlogram that picks
    ARIMA orders and confirms the weekly cycle
    (`ts_rolling_autocorr` tracks lag-1 locally; this is the global
    multi-lag readout).

    r_k = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)², expanded so every
    moment is an exact INTEGER (daily totals in cents: S, Q, and the
    per-lag ΣX, ΣY, ΣXY) and the mean never materializes — the whole
    formula multiplies through by n². int64→double conversion is a
    single correctly-rounded IEEE op, identical in both engines; the
    final ratio rounds at {_ACF_DP} dp per the corr rule. Integer
    headroom: Q = Σc² needs daily-total² × days < 2^63 — holds to
    ~$10M-per-day-per-type series; beyond, drop to dollar units.

    Plan: ONE corpus reduce to the daily grain; {ACF_MAX_LAG} lag
    columns come from a single per-type window pass; the explode is
    days×{ACF_MAX_LAG} rows (bounded by calendar, not corpus); global
    moments broadcast back onto the per-lag aggregate."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(
        (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("c")
    )
    glob = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    # window lags materialize as plain columns first — Spark rejects
    # window expressions nested inside a generator's array argument
    with_lags = daily.select(
        "event_type",
        F.col("c").alias("y"),
        *[
            F.lag("c", k).over(wo).alias(f"x{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    lagged = with_lags.select(
        "event_type",
        "y",
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"), F.col(f"x{k}").alias("x")
                    )
                    for k in range(1, ACF_MAX_LAG + 1)
                ]
            )
        ).alias("lx"),
    ).select("event_type", "y", "lx.lag", "lx.x")
    pairs = (
        lagged.filter(F.col("x").isNotNull())
        .groupBy("event_type", F.col("lag").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nk"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        )
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    num = (
        d("n") * d("n") * d("sxy")
        - d("n") * d("s") * (d("sx") + d("sy"))
        + d("nk") * d("s") * d("s")
    )
    den = d("n") * d("n") * d("q") - d("n") * d("s") * d("s")
    return pairs.join(F.broadcast(glob), "event_type").select(
        "event_type",
        F.col("k").alias("lag"),
        F.col("nk").alias("n_pairs"),
        F.round(num / den, _ACF_DP).alias("acf"),
    )


# --- Holt-Winters additive seasonal forecasting ---------------------------

HW_PERIOD = 24  # hour-of-day seasonality


def _hw_spark_lambda() -> str:
    """One Holt-Winters update as a Spark fold lambda over a 26-slot
    array accumulator [level, trend, s_next, ..., s_last]; alpha =
    beta = gamma = 1/2 so every smoothing step is an exact halving.
    level' repeats inline (lambdas can't bind temporaries) — the
    duplicated subexpression evaluates identically."""
    lvl2 = (
        "(x - element_at(a, 3) + element_at(a, 1) + element_at(a, 2)) / 2.0D"
    )
    return (
        "(a, x) -> concat("
        f"array({lvl2}, "
        f"(({lvl2}) - element_at(a, 1) + element_at(a, 2)) / 2.0D), "
        f"slice(a, 4, {HW_PERIOD - 1}), "
        f"array((x - ({lvl2}) + element_at(a, 3)) / 2.0D))"
    )


def _hw_duck_lambda() -> str:
    lvl2 = "(x[1] - a[3] + a[1] + a[2]) / 2.0"
    return (
        "(a, x) -> list_concat(list_concat("
        f"[{lvl2}, (({lvl2}) - a[1] + a[2]) / 2.0], "
        f"a[4:{HW_PERIOD + 2}]), "
        f"[(x[1] - ({lvl2}) + a[3]) / 2.0])"
    )


@register(
    "ts_holt_winters",
    tags=("timeseries", "forecast", "seasonal"),
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS hv
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
ser AS (
  SELECT event_type,
         list(CAST(CAST(hv * 100 AS BIGINT) AS DOUBLE) ORDER BY h) AS arr
  FROM hourly GROUP BY event_type
),
prep AS (
  SELECT event_type, arr, CAST(len(arr) AS BIGINT) AS n,
         list_reduce(arr[1:{HW_PERIOD}], (a, x) -> a + x)
           / CAST(LEAST(len(arr), {HW_PERIOD}) AS DOUBLE) AS level0
  FROM ser
),
seeded AS (
  SELECT event_type, arr, n,
         list_concat([level0, CAST(0.0 AS DOUBLE)],
                     list_transform(arr[1:{HW_PERIOD}], x -> x - level0))
           AS init_st
  FROM prep
),
folded AS (
  SELECT event_type, n,
         list_reduce(
           list_concat([init_st],
                       list_transform(arr[{HW_PERIOD + 1}:], x -> [x])),
           {_hw_duck_lambda()}) AS st
  FROM seeded
)
SELECT event_type, n AS n_hours,
       st[1] AS level, st[2] AS trend,
       st[1] + st[2] + st[3] AS forecast_1,
       st[1] + 2.0 * st[2] + st[4] AS forecast_2,
       st[1] + 3.0 * st[2] + st[5] AS forecast_3
FROM folded
""",
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive HOLT-WINTERS (level + trend + {HW_PERIOD}-hour
    seasonality, alpha = beta = gamma = 1/2) over each type's exact
    hourly-total series, with 1/2/3-step-ahead forecasts — the
    seasonal member of the forecasting family (`ts_ewma_smooth` has
    no trend, `ts_holt_linear` no season; the M4 baselines).

    State is a {HW_PERIOD + 2}-slot array [level, trend, s_next..]
    that ROTATES: each step consumes the front seasonal factor and
    appends its update, so slot 3 is always the NEXT hour's factor and
    the h-step forecast reads level + h·trend + s_h directly.
    Initialization: level = mean of the first cycle (exact — cents
    are integers), seasonals = first-cycle deviations, trend 0.

    Every smoothing constant is 1/2, so updates are additions and
    EXACT halvings in identical expression shape on both engines
    (the ts_holt_linear playbook, widened to 26 components); the fold
    runs as one sequential pass per type (per-key state O(period), the
    streaming-friendly shape). One corpus shuffle for hourly totals,
    one per-type reduce; the fold list is calendar-bounded."""
    hs = _hourly_sum(spark, sf_dir).select(
        "event_type",
        "h",
        (F.col("hv") * 100).cast("bigint").cast("double").alias("x"),
    )
    ser = hs.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(h, x))), s -> s.x)"
        ).alias("arr")
    )
    prep = ser.select(
        "event_type",
        "arr",
        F.size("arr").cast("bigint").alias("n"),
        F.expr(
            f"aggregate(slice(arr, 1, {HW_PERIOD}), 0.0D, (a, x) -> a + x)"
            f" / cast(least(size(arr), {HW_PERIOD}) as double)"
        ).alias("level0"),
    )
    seeded = prep.select(
        "event_type",
        "arr",
        "n",
        F.expr(
            f"concat(array(level0, 0.0D), "
            f"transform(slice(arr, 1, {HW_PERIOD}), x -> x - level0))"
        ).alias("init_st"),
    )
    folded = seeded.select(
        "event_type",
        "n",
        F.expr(
            f"aggregate(slice(arr, {HW_PERIOD + 1}, "
            f"greatest(size(arr) - {HW_PERIOD}, 0)), init_st, "
            + _hw_spark_lambda()
            + ")"
        ).alias("st"),
    )
    st = lambda i: F.element_at("st", i)  # noqa: E731
    return folded.select(
        "event_type",
        F.col("n").alias("n_hours"),
        st(1).alias("level"),
        st(2).alias("trend"),
        (st(1) + st(2) + st(3)).alias("forecast_1"),
        (st(1) + F.lit(2.0) * st(2) + st(4)).alias("forecast_2"),
        (st(1) + F.lit(3.0) * st(2) + st(5)).alias("forecast_3"),
    )


# --- V-shape reversal pattern mining (MATCH_RECOGNIZE-style) --------------

VSHAPE_MIN_LEG = 2  # both the down leg and the up leg need >= this many steps


@register(
    "window_vshape_patterns",
    tags=("timeseries", "pattern", "gaps-islands"),
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS dv
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
dirs AS (
  SELECT event_type, d, dv,
         CASE WHEN dv > lag(dv) OVER w THEN 1
              WHEN dv < lag(dv) OVER w THEN -1
              ELSE 0 END AS dir
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d)
),
steps AS (SELECT * FROM dirs WHERE dir <> 0),
runs AS (
  SELECT event_type, d, dv, dir,
         SUM(CASE WHEN dir = prev_dir THEN 0 ELSE 1 END)
           OVER (PARTITION BY event_type ORDER BY d
                 ROWS UNBOUNDED PRECEDING) AS run_id
  FROM (
    SELECT event_type, d, dv, dir,
           lag(dir) OVER (PARTITION BY event_type ORDER BY d) AS prev_dir
    FROM steps
  ) s
),
run_stats AS (
  SELECT event_type, run_id, MAX(dir) AS dir,
         CAST(COUNT(*) AS BIGINT) AS len,
         MIN(d) AS first_step, MAX(d) AS last_step,
         MIN(dv) AS low_val
  FROM runs GROUP BY event_type, run_id
),
paired AS (
  SELECT event_type,
         lag(dir) OVER w AS dir_a, lag(len) OVER w AS len_a,
         lag(first_step) OVER w AS down_start, lag(low_val) OVER w AS low_a,
         dir AS dir_b, len AS len_b, first_step AS bottom_day,
         last_step AS up_end
  FROM run_stats
  WINDOW w AS (PARTITION BY event_type ORDER BY run_id)
)
SELECT event_type, down_start,
       CAST(bottom_day - INTERVAL 1 DAY AS DATE) AS approx_bottom,
       up_end,
       len_a AS down_steps, len_b AS up_steps,
       CAST(low_a AS DOUBLE) AS bottom_value
FROM paired
WHERE dir_a = -1 AND dir_b = 1
  AND len_a >= {VSHAPE_MIN_LEG} AND len_b >= {VSHAPE_MIN_LEG}
""",
)
def window_vshape_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-SHAPE REVERSAL detection on exact daily totals — what SQL's
    MATCH_RECOGNIZE (absent from both engines) would express as
    DOWN{{2,}} UP{{2,}}: a run of ≥ {VSHAPE_MIN_LEG} strictly-down
    steps immediately followed by ≥ {VSHAPE_MIN_LEG} strictly-up
    steps. Flat days break runs (direction 0 steps are removed before
    run-length encoding, so a plateau ends both legs — the strict
    form). Run-length encoding via gaps-islands (direction-change
    cumsum), then each run pairs with its predecessor through one
    lag — pattern matching as TWO window passes, no self-join.

    Strict comparisons sit on exact decimals, so run boundaries cannot
    waver; everything else is integer. All windows partition by
    event_type with O(days) frames — corpus-size-independent."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(12,2)"))
        .cast("decimal(18,2)")
        .alias("dv")
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    dirs = daily.select(
        "event_type",
        "d",
        "dv",
        F.when(F.col("dv") > F.lag("dv").over(wo), 1)
        .when(F.col("dv") < F.lag("dv").over(wo), -1)
        .otherwise(0)
        .alias("dir"),
    )
    steps = dirs.filter(F.col("dir") != 0)
    runs = steps.withColumn("prev_dir", F.lag("dir").over(wo)).withColumn(
        "run_id",
        F.sum(
            F.when(F.col("dir") == F.col("prev_dir"), 0).otherwise(1)
        ).over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    run_stats = runs.groupBy("event_type", "run_id").agg(
        F.max("dir").alias("dir"),
        F.count(F.lit(1)).cast("bigint").alias("len"),
        F.min("d").alias("first_step"),
        F.max("d").alias("last_step"),
        F.min("dv").alias("low_val"),
    )
    wr = Window.partitionBy("event_type").orderBy("run_id")
    paired = run_stats.select(
        "event_type",
        F.lag("dir").over(wr).alias("dir_a"),
        F.lag("len").over(wr).alias("len_a"),
        F.lag("first_step").over(wr).alias("down_start"),
        F.lag("low_val").over(wr).alias("low_a"),
        F.col("dir").alias("dir_b"),
        F.col("len").alias("len_b"),
        F.col("first_step").alias("bottom_day"),
        F.col("last_step").alias("up_end"),
    )
    return paired.filter(
        (F.col("dir_a") == -1)
        & (F.col("dir_b") == 1)
        & (F.col("len_a") >= VSHAPE_MIN_LEG)
        & (F.col("len_b") >= VSHAPE_MIN_LEG)
    ).select(
        "event_type",
        "down_start",
        F.date_sub("bottom_day", 1).alias("approx_bottom"),
        "up_end",
        F.col("len_a").alias("down_steps"),
        F.col("len_b").alias("up_steps"),
        F.col("low_a").cast("double").alias("bottom_value"),
    )


# --- forecast ensemble (inverse-MAPE weighted) ----------------------------

ENS_DP = 10  # final weight/forecast display rounding (corr rule)


@register(
    "ts_forecast_ensemble",
    tags=("timeseries", "forecast", "ensemble"),
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT)
              AS DOUBLE) AS v
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
fc AS (
  SELECT event_type, d, v,
         lag(v) OVER w AS f_naive,
         lag(v, 7) OVER w AS f_snaive,
         list_reduce(
           list_transform(list(v) OVER (PARTITION BY event_type ORDER BY d
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING),
                          x -> CAST(x AS DOUBLE)),
           (a, x) -> (a + x) / 2.0) AS f_ewma
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d)
),
err AS (
  SELECT event_type,
         {sql_davg('abs(v - f_naive) / v')} AS mape_naive,
         {sql_davg('abs(v - f_ewma) / v')} AS mape_ewma,
         {sql_davg('abs(v - f_snaive) / v')} AS mape_snaive
  FROM fc
  WHERE f_naive IS NOT NULL AND f_ewma IS NOT NULL AND f_snaive IS NOT NULL
  GROUP BY event_type
),
lastf AS (
  SELECT event_type, v AS last_naive,
         list_reduce(
           list_transform(arr, x -> CAST(x AS DOUBLE)),
           (a, x) -> (a + x) / 2.0) AS last_ewma,
         snv AS last_snaive
  FROM (
    SELECT event_type, d, v,
           list(v) OVER (PARTITION BY event_type ORDER BY d
                         ROWS UNBOUNDED PRECEDING) AS arr,
           lag(v, 6) OVER (PARTITION BY event_type ORDER BY d) AS snv,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d DESC) AS rn
    FROM daily
  ) t WHERE rn = 1
)
SELECT e.event_type,
       round(e.mape_naive, {ENS_DP}) AS mape_naive,
       round(e.mape_ewma, {ENS_DP}) AS mape_ewma,
       round(e.mape_snaive, {ENS_DP}) AS mape_snaive,
       round((1.0 / e.mape_naive)
             / (1.0 / e.mape_naive + 1.0 / e.mape_ewma + 1.0 / e.mape_snaive),
             {ENS_DP}) AS w_naive,
       round(((1.0 / e.mape_naive) * l.last_naive
              + (1.0 / e.mape_ewma) * l.last_ewma
              + (1.0 / e.mape_snaive) * l.last_snaive)
             / (1.0 / e.mape_naive + 1.0 / e.mape_ewma + 1.0 / e.mape_snaive)
             / 100.0, {ENS_DP}) AS ensemble_next
FROM err e JOIN lastf l ON e.event_type = l.event_type
""",
)
def ts_forecast_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST ENSEMBLE: blend naive (yesterday), EWMA (exact-halving
    fold over the full prefix), and seasonal-naive (same weekday last
    week) with INVERSE-MAPE weights — the "combine simple models"
    result that routinely beats any single method (the M-competitions'
    headline finding), with the weights learned from each method's own
    one-step backtest on the type's history. Output per type: the
    three MAPEs, the winner's weight, and the blended next-day
    forecast in dollars.

    MAPE uses RELATIVE errors — |v − f|/v is non-dyadic even when the
    EWMA error is an exact dyadic rational, dodging the decimal
    .5-tie rounding divergence (`ts_forecast_accuracy`'s hard-won
    rule). Folds and lags sit in per-type calendar-bounded windows;
    the prefix-fold costs O(days²) per type — bounded by calendar,
    never by corpus."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .cast("double")
        .alias("v")
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    wprefix = wo.rowsBetween(Window.unboundedPreceding, -1)
    fc = (
        daily.withColumn("_prefix", F.collect_list("v").over(wprefix))
        .select(
            "event_type",
            "d",
            "v",
            F.lag("v").over(wo).alias("f_naive"),
            F.lag("v", 7).over(wo).alias("f_snaive"),
            F.expr(
                "CASE WHEN size(_prefix) = 0 THEN NULL ELSE "
                "aggregate(slice(_prefix, 2, size(_prefix) - 1), "
                "element_at(_prefix, 1), (a, x) -> (a + x) / 2.0D) END"
            ).alias("f_ewma"),
        )
    )
    rel = lambda f: F.abs(F.col("v") - F.col(f)) / F.col("v")  # noqa: E731
    err = (
        fc.filter(
            F.col("f_naive").isNotNull()
            & F.col("f_ewma").isNotNull()
            & F.col("f_snaive").isNotNull()
        )
        .groupBy("event_type")
        .agg(
            davg(rel("f_naive")).alias("mape_naive"),
            davg(rel("f_ewma")).alias("mape_ewma"),
            davg(rel("f_snaive")).alias("mape_snaive"),
        )
    )
    wlast = Window.partitionBy("event_type").orderBy(F.desc("d"))
    lastf = (
        daily.withColumn(
            "arr",
            F.collect_list("v").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("snv", F.lag("v", 6).over(wo))
        .withColumn("rn", F.row_number().over(wlast))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("v").alias("last_naive"),
            F.expr(
                "aggregate(slice(arr, 2, size(arr) - 1), "
                "element_at(arr, 1), (a, x) -> (a + x) / 2.0D)"
            ).alias("last_ewma"),
            F.col("snv").alias("last_snaive"),
        )
    )
    c = F.col
    inv = lambda m: F.lit(1.0) / c(m)  # noqa: E731
    wsum = inv("mape_naive") + inv("mape_ewma") + inv("mape_snaive")
    return err.join(lastf, "event_type").select(
        "event_type",
        F.round(c("mape_naive"), ENS_DP).alias("mape_naive"),
        F.round(c("mape_ewma"), ENS_DP).alias("mape_ewma"),
        F.round(c("mape_snaive"), ENS_DP).alias("mape_snaive"),
        F.round(inv("mape_naive") / wsum, ENS_DP).alias("w_naive"),
        F.round(
            (
                inv("mape_naive") * c("last_naive")
                + inv("mape_ewma") * c("last_ewma")
                + inv("mape_snaive") * c("last_snaive")
            )
            / wsum
            / 100.0,
            ENS_DP,
        ).alias("ensemble_next"),
    )


# --- SAX symbolic approximation -------------------------------------------

SAX_SEGS = 8   # PAA segments per series
SAX_DP = 8     # z-score rounding before the decimal-summed PAA mean
# Gaussian breakpoints for alphabet size 4: P(Z < b) = 1/4, 1/2, 3/4.
SAX_BREAKS = (-0.6745, 0.0, 0.6745)


@register(
    "ts_sax_symbolize",
    tags=("timeseries", "sax", "symbolic"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(hv) AS DOUBLE) AS s,
         CAST(CAST(SUM(hv * hv) AS DECIMAL(30,4)) AS DOUBLE) AS s2
  FROM hourly GROUP BY event_type
),
mom AS (
  SELECT event_type, n, s / n AS mu,
         sqrt(s2 / n - (s / n) * (s / n)) AS sigma
  FROM stats WHERE s2 / n - (s / n) * (s / n) > 0
),
z AS (
  SELECT h.event_type, m.n,
         ROW_NUMBER() OVER (PARTITION BY h.event_type ORDER BY h.h) AS rn,
         round((CAST(h.hv AS DOUBLE) - m.mu) / m.sigma, {SAX_DP}) AS zr
  FROM hourly h JOIN mom m ON h.event_type = m.event_type
),
segs AS (
  SELECT event_type, n, ((rn - 1) * {SAX_SEGS}) // n AS seg,
         CAST(SUM(CAST(zr AS DECIMAL(25,{SAX_DP}))) AS DOUBLE) / COUNT(*)
           AS paa
  FROM z GROUP BY event_type, n, ((rn - 1) * {SAX_SEGS}) // n
),
sym AS (
  SELECT event_type, n, seg,
         CASE WHEN paa < CAST({SAX_BREAKS[0]} AS DOUBLE) THEN 'a'
              WHEN paa < CAST({SAX_BREAKS[1]} AS DOUBLE) THEN 'b'
              WHEN paa < CAST({SAX_BREAKS[2]} AS DOUBLE) THEN 'c'
              ELSE 'd' END AS s
  FROM segs
)
SELECT event_type, CAST(n AS BIGINT) AS n_points,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       string_agg(s, '' ORDER BY seg) AS sax_word
FROM sym GROUP BY event_type, n
""",
)
def ts_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) of each event-type's
    hourly series: z-normalize, compress to {SAX_SEGS} PAA segment
    means, and quantize each mean against the Gaussian quartile
    breakpoints into letters a-d. The resulting "word" (e.g.
    'bbcaddcb') is the classic symbolic index for motif discovery,
    anomaly lookup, and cheap series similarity — distance on words
    lower-bounds Euclidean distance on the raw series, which is what
    makes SAX a pruning index at scale.

    Scale shape: per-series moments are one hash aggregate; z-scores
    are a projection against the broadcast 5-row moment frame; PAA is
    a second hash aggregate on (series, segment) with map-side
    partials; the word assembly is O(segments) per series. Determinism:
    moments divide exact decimal sums once (products of 2-decimal
    values carry scale 4, inside the 2^53 margin at sf0.1); z-scores
    are generic doubles rounded at {SAX_DP} dp before the decimal-
    summed PAA mean; breakpoints compare as identical double
    literals."""
    hs = _hourly_sum(spark, sf_dir)
    stats = hs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("hv").cast("double").alias("s"),
        F.sum(F.col("hv") * F.col("hv"))
        .cast("decimal(30,4)")
        .cast("double")
        .alias("s2"),
    )
    mu = F.col("s") / F.col("n")
    var = F.col("s2") / F.col("n") - mu * mu
    mom = (
        stats.filter(var > 0)
        .select("event_type", "n", mu.alias("mu"), F.sqrt(var).alias("sigma"))
    )
    wo = Window.partitionBy("event_type").orderBy("h")
    z = (
        hs.join(F.broadcast(mom), "event_type")
        .withColumn("rn", F.row_number().over(wo))
        .select(
            "event_type",
            "n",
            "rn",
            F.round(
                (F.col("hv").cast("double") - F.col("mu")) / F.col("sigma"),
                SAX_DP,
            ).alias("zr"),
        )
    )
    segs = (
        z.withColumn("seg", F.expr(f"((rn - 1) * {SAX_SEGS}) div n"))
        .groupBy("event_type", "n", "seg")
        .agg(
            (
                F.sum(F.col("zr").cast(f"decimal(25,{SAX_DP})")).cast("double")
                / F.count(F.lit(1))
            ).alias("paa")
        )
    )
    paa = F.col("paa")
    sym = (
        F.when(paa < F.lit(SAX_BREAKS[0]), "a")
        .when(paa < F.lit(SAX_BREAKS[1]), "b")
        .when(paa < F.lit(SAX_BREAKS[2]), "c")
        .otherwise("d")
    )
    return (
        segs.select("event_type", "n", "seg", sym.alias("s"))
        .groupBy("event_type", F.col("n").cast("bigint").alias("n_points"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "s"))),
                    lambda r: r["s"],
                ),
                "",
            ).alias("sax_word"),
        )
    )


# --- SAX motif discovery ---------------------------------------------------

MOTIF_W = 24   # sliding window length (hours)
MOTIF_S = 12   # hop (50% overlap => every point is in exactly W/S windows)
MOTIF_SEGS = 4
MOTIF_MIN = 2  # a word is a motif when >= MOTIF_MIN windows share it


@register(
    "ts_sax_motifs",
    tags=("timeseries", "sax", "motif"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(hv) AS DOUBLE) AS s,
         CAST(CAST(SUM(hv * hv) AS DECIMAL(30,4)) AS DOUBLE) AS s2
  FROM hourly GROUP BY event_type
),
mom AS (
  SELECT event_type, n, s / n AS mu,
         sqrt(s2 / n - (s / n) * (s / n)) AS sigma
  FROM stats WHERE s2 / n - (s / n) * (s / n) > 0
),
z AS (
  SELECT h.event_type,
         ROW_NUMBER() OVER (PARTITION BY h.event_type ORDER BY h.h) AS rn,
         round((CAST(h.hv AS DOUBLE) - m.mu) / m.sigma, {SAX_DP}) AS zr
  FROM hourly h JOIN mom m ON h.event_type = m.event_type
),
pts AS (
  SELECT event_type, rn, zr, ((rn - 1) // {MOTIF_S}) - k AS w
  FROM z, LATERAL unnest(generate_series(0, {MOTIF_W // MOTIF_S - 1}))
            AS t(k)
  WHERE ((rn - 1) // {MOTIF_S}) - k >= 0
    AND rn <= (((rn - 1) // {MOTIF_S}) - k) * {MOTIF_S} + {MOTIF_W}
),
paa AS (
  SELECT event_type, w,
         ((rn - w * {MOTIF_S}) - 1) * {MOTIF_SEGS} // {MOTIF_W} AS seg,
         CAST(SUM(CAST(zr AS DECIMAL(25,{SAX_DP}))) AS DOUBLE) / COUNT(*)
           AS m,
         CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type, w) AS BIGINT)
           AS wn
  FROM pts
  GROUP BY event_type, w, ((rn - w * {MOTIF_S}) - 1) * {MOTIF_SEGS} // {MOTIF_W}
),
words AS (
  SELECT event_type, w,
         string_agg(CASE WHEN m < CAST({SAX_BREAKS[0]} AS DOUBLE) THEN 'a'
                         WHEN m < CAST({SAX_BREAKS[1]} AS DOUBLE) THEN 'b'
                         WHEN m < CAST({SAX_BREAKS[2]} AS DOUBLE) THEN 'c'
                         ELSE 'd' END, '' ORDER BY seg) AS word
  FROM paa WHERE wn = {MOTIF_W}
  GROUP BY event_type, w
)
SELECT event_type, word AS sax_word,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(MIN(w) AS BIGINT) AS first_window,
       CAST(MAX(w) AS BIGINT) AS last_window
FROM words
GROUP BY event_type, word
HAVING COUNT(*) >= {MOTIF_MIN}
""",
)
def ts_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX motif discovery: slide a {MOTIF_W}-hour window (hop
    {MOTIF_S}) over each z-scored series, compress every full window to
    a {MOTIF_SEGS}-letter SAX word, and report words recurring in >=
    {MOTIF_MIN} windows — the repeated-shape (motif) detector that
    turns "find similar subsequences" from an O(n²) subsequence scan
    into a GROUP BY on symbolic words. Recurring daily/weekly load
    shapes surface as high-count words; a word seen once is a
    potential discord (anomaly) — the same index answers both.

    Scale shape: the only fan-out is the window explode, bounded at
    W/S = {MOTIF_W // MOTIF_S}x regardless of data volume; PAA and
    word assembly are hash aggregates on (series, window) with
    map-side partials; motif grouping keys on the word. Window
    completeness (wn = {MOTIF_W}) is enforced identically in both
    engines via a windowed point count. Z-scores reuse the
    ``ts_sax_symbolize`` moment/rounding discipline."""
    hs = _hourly_sum(spark, sf_dir)
    stats = hs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("hv").cast("double").alias("s"),
        F.sum(F.col("hv") * F.col("hv"))
        .cast("decimal(30,4)")
        .cast("double")
        .alias("s2"),
    )
    mu = F.col("s") / F.col("n")
    var = F.col("s2") / F.col("n") - mu * mu
    mom = (
        stats.filter(var > 0)
        .select("event_type", mu.alias("mu"), F.sqrt(var).alias("sigma"))
    )
    wo = Window.partitionBy("event_type").orderBy("h")
    z = (
        hs.join(F.broadcast(mom), "event_type")
        .withColumn("rn", F.row_number().over(wo))
        .select(
            "event_type",
            "rn",
            F.round(
                (F.col("hv").cast("double") - F.col("mu")) / F.col("sigma"),
                SAX_DP,
            ).alias("zr"),
        )
    )
    base_w = F.expr(f"(rn - 1) div {MOTIF_S}")
    pts = (
        z.select(
            "event_type",
            "rn",
            "zr",
            F.explode(
                F.sequence(F.lit(0), F.lit(MOTIF_W // MOTIF_S - 1))
            ).alias("k"),
        )
        .withColumn("w", base_w - F.col("k"))
        .filter(
            (F.col("w") >= 0)
            & (F.col("rn") <= F.col("w") * MOTIF_S + MOTIF_W)
        )
        .drop("k")
    )
    seg = F.expr(f"((rn - w * {MOTIF_S}) - 1) * {MOTIF_SEGS} div {MOTIF_W}")
    paa = (
        pts.withColumn("seg", seg)
        .groupBy("event_type", "w", "seg")
        .agg(
            (
                F.sum(F.col("zr").cast(f"decimal(25,{SAX_DP})")).cast("double")
                / F.count(F.lit(1))
            ).alias("m"),
            F.count(F.lit(1)).alias("np"),
        )
        .withColumn(
            "wn",
            F.sum("np").over(Window.partitionBy("event_type", "w")),
        )
    )
    m = F.col("m")
    sym = (
        F.when(m < F.lit(SAX_BREAKS[0]), "a")
        .when(m < F.lit(SAX_BREAKS[1]), "b")
        .when(m < F.lit(SAX_BREAKS[2]), "c")
        .otherwise("d")
    )
    words = (
        paa.filter(F.col("wn") == MOTIF_W)
        .select("event_type", "w", "seg", sym.alias("s"))
        .groupBy("event_type", "w")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "s"))),
                    lambda r: r["s"],
                ),
                "",
            ).alias("sax_word")
        )
    )
    return (
        words.groupBy("event_type", "sax_word")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.min("w").cast("bigint").alias("first_window"),
            F.max("w").cast("bigint").alias("last_window"),
        )
        .filter(F.col("n_windows") >= MOTIF_MIN)
    )


# --- Bollinger bands -------------------------------------------------------

BOLL_WIN = 24  # trailing frame (hours)
BOLL_K = 2.0   # band half-width in sigmas


@register(
    "window_bollinger_bands",
    tags=("timeseries", "window", "bands"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
framed AS (
  SELECT event_type, h, CAST(hv AS DOUBLE) AS v,
         CAST(SUM(hv) OVER w AS DOUBLE) AS s,
         CAST(CAST(SUM(hv * hv) OVER w AS DECIMAL(30,4)) AS DOUBLE) AS s2,
         CAST(COUNT(*) OVER w AS BIGINT) AS n
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN {BOLL_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, h, v,
       s / n AS ma,
       s / n + CAST({BOLL_K} AS DOUBLE) * sqrt(s2 / n - (s / n) * (s / n))
         AS upper_band,
       s / n - CAST({BOLL_K} AS DOUBLE) * sqrt(s2 / n - (s / n) * (s / n))
         AS lower_band,
       v > s / n + CAST({BOLL_K} AS DOUBLE)
             * sqrt(s2 / n - (s / n) * (s / n))
         OR v < s / n - CAST({BOLL_K} AS DOUBLE)
             * sqrt(s2 / n - (s / n) * (s / n)) AS breakout
FROM framed WHERE n = {BOLL_WIN}
""",
)
def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the hourly series: trailing {BOLL_WIN}-hour
    mean ± {BOLL_K}σ, with a breakout flag when the current value
    leaves the band — the volatility-adaptive complement of the
    fixed-range Donchian channel (``window_donchian_band``) and the
    z-score detector (``ts_anomaly_zscore``), here with a FINITE frame
    so regime changes age out of the statistics.

    Determinism: the frame carries exact DECIMAL power sums (2-decimal
    values; squares at scale 4, inside the 2^53 margin at sf0.1) cast
    to double once, and every downstream op (divide, sqrt, ±) is the
    identical IEEE expression on both engines — no rounding anywhere,
    so the band edges and the breakout comparison match bitwise.

    Scale shape: ONE series-keyed ordered window with O(frame) state;
    warm-up rows (n < {BOLL_WIN}) are excluded identically in both
    engines."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-(BOLL_WIN - 1), Window.currentRow)
    )
    framed = _hourly_sum(spark, sf_dir).select(
        "event_type",
        "h",
        F.col("hv").cast("double").alias("v"),
        F.sum("hv").over(w).cast("double").alias("s"),
        F.sum(F.col("hv") * F.col("hv"))
        .over(w)
        .cast("decimal(30,4)")
        .cast("double")
        .alias("s2"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
    )
    ma = F.col("s") / F.col("n")
    sd = F.sqrt(F.col("s2") / F.col("n") - ma * ma)
    upper = ma + F.lit(BOLL_K) * sd
    lower = ma - F.lit(BOLL_K) * sd
    return framed.filter(F.col("n") == BOLL_WIN).select(
        "event_type",
        "h",
        "v",
        ma.alias("ma"),
        upper.alias("upper_band"),
        lower.alias("lower_band"),
        ((F.col("v") > upper) | (F.col("v") < lower)).alias("breakout"),
    )


# --- matrix profile (exact, blocked pairwise) -------------------------------

MP_W = 12    # subsequence length (hours of observed series)
MP_EXCL = 6  # trivial-match exclusion zone (w/2, the standard choice)
MP_DP = 8    # round z-norm distances before the argmin tie-break
MP_BLOCK = 256  # neighbor-side block length for the pair join (see below)


@register(
    "ts_matrix_profile",
    tags=("timeseries", "similarity", "motif"),
    oracle=f"""
WITH hourly AS ({_SQL_HOURLY_SUM}),
idxd AS (
  SELECT event_type, h, CAST(hv AS DOUBLE) AS v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS i
  FROM hourly
),
win AS (
  SELECT event_type, i, h,
         list(v) OVER (PARTITION BY event_type ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND {MP_W - 1} FOLLOWING)
           AS xs
  FROM idxd
),
subs AS (
  SELECT event_type, i, h, xs,
         list_sum(xs) / CAST({MP_W} AS DOUBLE) AS mu,
         list_inner_product(xs, xs) AS q
  FROM win WHERE len(xs) = {MP_W}
),
zs AS (
  SELECT event_type, i, h, xs, mu,
         sqrt(q / CAST({MP_W} AS DOUBLE) - mu * mu) AS sig
  FROM subs
  WHERE q / CAST({MP_W} AS DOUBLE) - mu * mu > CAST(0 AS DOUBLE)
),
pairs AS (
  SELECT a.event_type, a.i, a.h, b.i AS j,
         round(CAST({2 * MP_W} AS DOUBLE)
               * (CAST(1 AS DOUBLE)
                  - (list_inner_product(a.xs, b.xs) / CAST({MP_W} AS DOUBLE)
                     - a.mu * b.mu) / (a.sig * b.sig)),
               {MP_DP}) AS d2
  FROM zs a JOIN zs b
    ON a.event_type = b.event_type AND abs(a.i - b.i) >= {MP_EXCL}
)
SELECT event_type, CAST(i AS BIGINT) AS idx, h AS window_start,
       CAST(j AS BIGINT) AS nn_idx, d2 AS mp_dist2
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, i
                               ORDER BY d2, j) AS rn
  FROM pairs
) r WHERE rn = 1
""",
)
def ts_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact matrix profile (Yeh et al., "Matrix Profile I", ICDM'16):
    for every length-{MP_W} subsequence of each hourly series, the
    z-normalized distance to its nearest non-trivial neighbor
    (|i-j| >= {MP_EXCL} exclusion) and that neighbor's index. The
    global minimum is the series' top MOTIF pair, the maximum its top
    DISCORD (anomaly) — this is the exact counterpart of the symbolic
    ts_sax_motifs screen.

    z-norm distance via the correlation identity
    d2 = 2w(1 - (ip(xi,xj)/w - mu_i mu_j)/(sig_i sig_j)), every factor
    a row-local fold over the two subsequence arrays carried in the
    pair row — no cross-row float aggregation anywhere, so engine
    partial-agg order can't perturb anything and the doubles match
    bitwise (the ts_subsequence_match argument, extended to pairs).
    Constant subsequences (sig = 0) are excluded exactly.

    Scale posture: the published scale path (STOMP/SCAMP) is an FFT +
    O(1) dot-product recurrence, inherently sequential per series; the
    DISTRIBUTED formulation is blocked pairwise within each series
    (series are independent — the real parallelism axis at 100 TB is
    millions of series sharded by key) with the exclusion-zone filter
    pushed into the self-join. One window pass builds subsequences;
    the pair join shuffles only (i, 12-float array, 2 moments) rows,
    O(n^2/series) bounded by per-series length, never corpus-sized.

    Optimization r14 (guide §2.5, the single-task sweep): the pair
    join used to key on event_type alone — a handful of distinct
    values, so the O(n²/series) fold stage could never exceed
    n_series tasks and byte-based AQE coalesced it to ONE (measured:
    a 5.9 s 1-task stage in a 6.6 s query at sf0.1, 31 cores idle).
    Now BLOCKED: the neighbor side carries blk = (j-1) div {MP_BLOCK},
    the probe side fans out once per existing (event_type, blk) cell
    (a broadcast of the tiny distinct-blocks frame), and both sides
    ride ONE explicit co-partitioned exchange on (event_type, blk) —
    per-task work is n·{MP_BLOCK} folds per cell, parallel in
    n_series × n/{MP_BLOCK} cells at any scale. The same candidate
    pairs emerge (each j lives in exactly one block; the exclusion
    filter is unchanged), and the per-i argmin is now a min-struct
    aggregate — bitwise the ROW_NUMBER pick (lexicographic (d2, j)
    min IS the ORDER BY d2, j first row) with map-side combine, so
    the post-pair exchange carries per-(i, cell) partials, never the
    pair rows."""
    hourly = _hourly_sum(spark, sf_dir).select(
        "event_type", "h", F.col("hv").cast("double").alias("v")
    )
    wi = Window.partitionBy("event_type").orderBy("h")
    idxd = hourly.select(
        "event_type", "h", "v", F.row_number().over(wi).alias("i")
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(Window.currentRow, MP_W - 1)
    )
    ip = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    wD = F.lit(float(MP_W))
    win = idxd.select(
        "event_type", "i", "h", F.collect_list("v").over(wf).alias("xs")
    ).filter(F.size("xs") == MP_W)
    subs = win.select(
        "event_type",
        "i",
        "h",
        "xs",
        (
            F.aggregate(F.col("xs"), F.lit(0.0), lambda s, v: s + v) / wD
        ).alias("mu"),
        ip(F.col("xs"), F.col("xs")).alias("q"),
    )
    zs = materialize(
        subs.filter(F.col("q") / wD - F.col("mu") * F.col("mu") > F.lit(0.0))
        .select(
            "event_type",
            "i",
            "h",
            "xs",
            "mu",
            F.sqrt(F.col("q") / wD - F.col("mu") * F.col("mu")).alias("sig"),
        )
    )
    blocks = materialize(
        zs.select(
            "event_type",
            F.floor((F.col("i") - 1) / F.lit(MP_BLOCK)).alias("blk"),
        )
        .distinct()
    )
    npart = max(
        1, min(blocks.count(), 4 * spark.sparkContext.defaultParallelism)
    )
    a = (
        zs.select(
            "event_type",
            "i",
            "h",
            F.col("xs").alias("xa"),
            F.col("mu").alias("mua"),
            F.col("sig").alias("siga"),
        )
        .join(F.broadcast(blocks), "event_type")
        .repartition(npart, "event_type", "blk")
    )
    b = zs.select(
        F.col("event_type").alias("et_b"),
        F.floor((F.col("i") - 1) / F.lit(MP_BLOCK)).alias("blk_b"),
        F.col("i").alias("j"),
        F.col("xs").alias("xb"),
        F.col("mu").alias("mub"),
        F.col("sig").alias("sigb"),
    ).repartition(npart, "et_b", "blk_b")
    d2 = F.round(
        F.lit(float(2 * MP_W))
        * (
            F.lit(1.0)
            - (ip(F.col("xa"), F.col("xb")) / wD - F.col("mua") * F.col("mub"))
            / (F.col("siga") * F.col("sigb"))
        ),
        MP_DP,
    )
    pairs = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (F.col("blk") == F.col("blk_b"))
            & (F.abs(F.col("i") - F.col("j")) >= MP_EXCL),
        )
        .select("event_type", "i", "h", "j", d2.alias("d2"))
    )
    # per-(event_type, i) argmin: lexicographic min over (d2, j) — the
    # identical pick (and tie-break) as ROW_NUMBER ... ORDER BY d2, j,
    # but with map-side partial combine so only per-cell minima cross
    # the final exchange.
    nn = pairs.groupBy("event_type", "i", "h").agg(
        F.min(F.struct(F.col("d2"), F.col("j"))).alias("m")
    )
    return nn.select(
        "event_type",
        F.col("i").cast("bigint").alias("idx"),
        F.col("h").alias("window_start"),
        F.col("m.j").cast("bigint").alias("nn_idx"),
        F.col("m.d2").alias("mp_dist2"),
    )


# --- dynamic time warping ---------------------------------------------------

DTW_BIG = 9e18  # finite +inf stand-in for the DP boundary (hash-friendly)
DTW_DP = 8


@register(
    "ts_dtw_distance",
    tags=("timeseries", "similarity", "dtw"),
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS dv
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
stats AS (
  SELECT event_type,
         CAST(SUM(dv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
         sqrt(CAST(SUM(dv * dv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              - (CAST(SUM(dv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                * (CAST(SUM(dv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))) AS sig
  FROM daily GROUP BY event_type
),
series AS (
  SELECT d.event_type,
         list((CAST(dv AS DOUBLE) - mu) / sig ORDER BY d.d) AS zs
  FROM daily d JOIN stats USING (event_type)
  GROUP BY d.event_type, mu, sig
),
pairs AS (
  SELECT a.event_type AS et_a, b.event_type AS et_b,
         a.zs AS za, b.zs AS zb
  FROM series a JOIN series b ON a.event_type < b.event_type
)
SELECT et_a, et_b,
       CAST(len(za) AS BIGINT) AS n_a, CAST(len(zb) AS BIGINT) AS n_b,
       round(sqrt(
         list_reduce(
           [CAST([0.0] AS DOUBLE[]) || list_transform(zb, b -> CAST({DTW_BIG} AS DOUBLE))]
             || list_transform(za, a -> [a]),
           (prev, a) -> list_reduce(
             [CAST([{DTW_BIG}] AS DOUBLE[])] || list_transform(zb, b -> [b]),
             (acc2, bb) -> list_append(
               acc2,
               (a[1] - bb[1]) * (a[1] - bb[1])
                 + least(prev[len(acc2) + 1], prev[len(acc2)],
                         acc2[len(acc2)])
             )
           )
         )[len(zb) + 1]
       ), {DTW_DP}) AS dtw
FROM pairs
""",
)
def ts_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping distance between every pair of z-normalized
    daily series (Sakoe & Chiba 1978; the canonical elastic similarity
    for misaligned time series — two series with the same shape shifted
    by a day score near zero where Euclidean distance explodes).

    The full DP runs as ONE row-local nested fold: the outer
    fold walks series A carrying the previous DP row as an
    array<double> accumulator, the inner fold walks series B building
    the next row (cost + min of the three predecessors), with a finite
    {DTW_BIG} sentinel as the DP boundary. No UDF, no driver loop, no
    cross-row aggregation — the whole recurrence is a Catalyst
    expression evaluated independently per pair row, and DuckDB
    replays it with the same 2-arg list_reduce fold (init row
    prepended as the first element; scalars wrapped in 1-element
    lists so the accumulator and element types unify). Identical
    IEEE op order => bitwise-equal distances.

    Scale posture: at 100 TB the parallelism axis is PAIRS (millions
    of bounded-length series): building the series arrays is one
    groupBy per series key, the candidate pair join is the only
    shuffle, and each DP is O(len_a x len_b) inside one task with no
    memory beyond two DP rows. Long series want the banded
    (Sakoe-Chiba) variant — same fold with a windowed inner list —
    or the grid-signature candidate pruning of geo_trajectory_
    similarity in front."""
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("decimal(18,2)")
            .alias("dv")
        )
    )
    stats = daily.groupBy("event_type").agg(
        (
            F.sum("dv").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mu"),
        F.sqrt(
            F.sum(F.col("dv") * F.col("dv")).cast("double")
            / F.count(F.lit(1)).cast("double")
            - (F.sum("dv").cast("double") / F.count(F.lit(1)).cast("double"))
            * (F.sum("dv").cast("double") / F.count(F.lit(1)).cast("double"))
        ).alias("sig"),
    )
    series = (
        daily.join(stats, "event_type")
        .groupBy("event_type")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "d",
                            (
                                (F.col("dv").cast("double") - F.col("mu"))
                                / F.col("sig")
                            ).alias("z"),
                        )
                    )
                ),
                lambda s: s["z"],
            ).alias("zs")
        )
    )
    a = series.select(F.col("event_type").alias("et_a"), F.col("zs").alias("za"))
    b = series.select(F.col("event_type").alias("et_b"), F.col("zs").alias("zb"))
    za, zb = F.col("za"), F.col("zb")
    big = F.lit(DTW_BIG)
    prev0 = F.concat(F.array(F.lit(0.0)), F.transform(zb, lambda _: big))
    final_row = F.aggregate(
        za,
        prev0,
        lambda prev, av: F.aggregate(
            zb,
            F.array(big),
            lambda acc2, bv: F.concat(
                acc2,
                F.array(
                    (av - bv) * (av - bv)
                    + F.least(
                        F.element_at(prev, F.size(acc2) + 1),
                        F.element_at(prev, F.size(acc2)),
                        F.element_at(acc2, F.size(acc2)),
                    )
                ),
            ),
        ),
    )
    dtw = F.round(F.sqrt(F.element_at(final_row, F.size(zb) + 1)), DTW_DP)
    return (
        a.join(b, F.col("et_a") < F.col("et_b"))
        .select(
            "et_a",
            "et_b",
            F.size(za).cast("bigint").alias("n_a"),
            F.size(zb).cast("bigint").alias("n_b"),
            dtw.alias("dtw"),
        )
    )


# --- Ljung-Box portmanteau test ---------------------------------------------
#
# The correlogram's decision rule: Q = n(n+2) * sum_k rho_k^2 / (n-k)
# over lags 1..h is chi-square(h) under IID — the standard residual
# whiteness gate after fitting a forecast model. Reuses the exact
# integer moment expansion of ts_acf_correlogram (rho_k from int64
# S/Q/SX/SY/SXY, mean never materializes); the h-term sum runs as an
# ORDER-CANONICAL fold over the lag index so partial-aggregation
# order can't flake the hash. chi2 critical value at h dof is a
# literal — both engines compare identical doubles.

LJUNG_BOX_CHI2_95_DF7 = "14.067140449340169"  # qchisq(0.95, df=7)


def _sql_ljung_box_oracle() -> str:
    lag_structs = ",".join(
        f"{{'lag': {k}, 'x': lag(c, {k}) OVER "
        f"(PARTITION BY event_type ORDER BY d)}}"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
gmom AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM daily GROUP BY event_type
),
lagged AS (
  SELECT event_type, c AS y,
         unnest([{lag_structs}], recursive := true)
  FROM daily
),
pairs AS (
  SELECT event_type, lag AS k,
         CAST(COUNT(*) AS BIGINT) AS nk,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM lagged WHERE x IS NOT NULL
  GROUP BY event_type, lag
),
rho AS (
  SELECT p.event_type, p.k, g.n,
         (CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE) * CAST(p.sxy AS DOUBLE)
          - CAST(g.n AS DOUBLE) * CAST(g.s AS DOUBLE)
            * (CAST(p.sx AS DOUBLE) + CAST(p.sy AS DOUBLE))
          + CAST(p.nk AS DOUBLE) * CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE))
         / (CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE) * CAST(g.q AS DOUBLE)
            - CAST(g.n AS DOUBLE) * CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE))
           AS r
  FROM pairs p JOIN gmom g ON p.event_type = g.event_type
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_days,
       CAST({ACF_MAX_LAG} AS INTEGER) AS df,
       round(CAST(MAX(n) AS DOUBLE) * (MAX(n) + 2)
             * list_reduce([CAST(0 AS DOUBLE)] ||
                 list(r * r / (n - k) ORDER BY k),
                 (a, x) -> a + x), 8) AS q_stat,
       (round(CAST(MAX(n) AS DOUBLE) * (MAX(n) + 2)
             * list_reduce([CAST(0 AS DOUBLE)] ||
                 list(r * r / (n - k) ORDER BY k),
                 (a, x) -> a + x), 8)
          > CAST({LJUNG_BOX_CHI2_95_DF7} AS DOUBLE)) AS reject_iid
FROM rho GROUP BY event_type
"""


@register(
    "ts_ljung_box",
    tags=("timeseries", "trend", "autocorrelation", "test"),
    oracle=_sql_ljung_box_oracle(),
)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box whiteness test at lags 1..{ACF_MAX_LAG} of each event
    type's daily-cents series: Q = n(n+2) sum rho_k^2/(n-k) vs the
    chi-square 95% critical value (literal). rho_k uses the exact
    integer-moment expansion of the correlogram; the lag sum is a
    sorted fold — bitwise deterministic. One daily reduce, one window
    pass, O(types x lags) rows after."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("c")
    )
    glob = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    with_lags = daily.select(
        "event_type",
        F.col("c").alias("y"),
        *[
            F.lag("c", k).over(wo).alias(f"x{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    lagged = with_lags.select(
        "event_type",
        "y",
        F.explode_outer(
            F.array(
                *[
                    F.struct(F.lit(k).alias("lag"), F.col(f"x{k}").alias("x"))
                    for k in range(1, ACF_MAX_LAG + 1)
                ]
            )
        ).alias("lx"),
    ).select("event_type", "y", "lx.lag", "lx.x")
    pairs = (
        lagged.filter(F.col("x").isNotNull())
        .groupBy("event_type", F.col("lag").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nk"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        )
    )
    nd, sd = F.col("n").cast("double"), F.col("s").cast("double")
    rho = pairs.join(F.broadcast(glob), "event_type").select(
        "event_type",
        "k",
        "n",
        (
            (
                nd * nd * F.col("sxy").cast("double")
                - nd * sd * (F.col("sx") + F.col("sy")).cast("double")
                + F.col("nk").cast("double") * sd * sd
            )
            / (nd * nd * F.col("q").cast("double") - nd * sd * sd)
        ).alias("r"),
    )
    folded = rho.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "k",
                            (
                                F.col("r")
                                * F.col("r")
                                / (F.col("n") - F.col("k")).cast("double")
                            ).alias("t"),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("acc"),
    )
    qstat = F.round(
        F.col("n_days").cast("double")
        * (F.col("n_days") + 2).cast("double")
        * F.col("acc"),
        8,
    )
    return folded.select(
        "event_type",
        "n_days",
        F.lit(ACF_MAX_LAG).cast("int").alias("df"),
        qstat.alias("q_stat"),
        (qstat > F.lit(float(LJUNG_BOX_CHI2_95_DF7))).alias("reject_iid"),
    )


# --- Croston's method (intermittent demand) ----------------------------------
#
# Holt/Winters-style smoothing collapses on series that are mostly
# zeros; Croston (1972) is THE method for intermittent demand: SES
# over the nonzero demand SIZES and SES over the INTER-ARRIVAL
# intervals, forecast = size_hat / interval_hat. The intermittent
# unit here is the USER's daily purchase count (~0.15 demand days per
# day at every SF — per-type daily totals densify with SF and stop
# being intermittent). The fold walks each user's demand epochs in
# day order carrying [z, p, prev_day, n_seen]: first epoch seeds z,
# second seeds p with the first interval, later epochs SES-update
# both. Scale: parallelism = users, one sorted collect per user
# of its DEMAND DAYS only (zeros never materialize).
#
# alpha = 1/2 (EXACT HALVING, the ts_ewma_smooth convention): every
# SES update is (acc + x) / 2 over integer-seeded values, IEEE-exact
# at any fold depth the 30-day event window allows (dyadic denominator
# 2^k, k <= epochs <= 30, ~33 significand bits used of 53) — so both
# engines hold bitwise-identical doubles. 8-dp rounding of a dyadic
# m/2^j can tie ONLY when j = 9 exactly (then x*10^8 is an exact
# half-integer; for j < 9 the value terminates within 8 decimals, for
# j > 9 the 9th-plus digits are never exactly 5-then-zeros) — and on
# exact positive half-integers Spark's HALF_UP and DuckDB's
# round-half-away-from-zero AGREE, so the cross-engine divergence
# class is closed. croston_forecast rounds a generic quotient of two
# dyadics (ties measure-zero, the house rule for rounding doubles).
# The previous alpha = 0.1 made k-epoch values EXACT (k-2)-digit
# decimals; at sf0.1 one 11-epoch user landed interval = 2.278382055,
# a true 9th-digit tie where Spark's HALF_UP and DuckDB's scaled round
# disagree (caught by the r10 full-registry sf0.1 sweep).

CROSTON_ALPHA = "0.5"
CROSTON_MIN_EPOCHS = 3


@register(
    "ts_croston",
    tags=("timeseries", "trend", "intermittent", "forecast"),
    oracle=f"""
WITH demand AS (
  SELECT user_id, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS q
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, CAST(ts AS DATE)
),
seq AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_epochs,
         CAST(SUM(q) AS BIGINT) AS total_demand,
         list([CAST(datediff('day', DATE '1970-01-01', d) AS DOUBLE),
               CAST(q AS DOUBLE)] ORDER BY d) AS xs
  FROM demand GROUP BY user_id
  HAVING COUNT(*) >= {CROSTON_MIN_EPOCHS}
),
folded AS (
  SELECT user_id, n_epochs, total_demand,
         list_reduce(
           [[CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]] || xs,
           (acc, x) -> CASE
             WHEN acc[4] = 0 THEN [x[2], CAST(0 AS DOUBLE), x[1],
                                   CAST(1 AS DOUBLE)]
             WHEN acc[4] = 1 THEN [
               acc[1] + CAST({CROSTON_ALPHA} AS DOUBLE) * (x[2] - acc[1]),
               x[1] - acc[3], x[1], CAST(2 AS DOUBLE)]
             ELSE [
               acc[1] + CAST({CROSTON_ALPHA} AS DOUBLE) * (x[2] - acc[1]),
               acc[2] + CAST({CROSTON_ALPHA} AS DOUBLE)
                 * (x[1] - acc[3] - acc[2]),
               x[1], acc[4] + 1]
           END) AS s
  FROM seq
)
SELECT user_id, n_epochs, total_demand,
       round(s[1], 8) AS croston_size,
       round(s[2], 8) AS croston_interval,
       round(s[1] / s[2], 8) AS croston_forecast
FROM folded
""",
)
def ts_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast per user over daily
    purchase-count demand epochs: SES(size) and SES(interval) with
    alpha={CROSTON_ALPHA}, forecast = size_hat/interval_hat (expected
    demand per day). Users with fewer than {CROSTON_MIN_EPOCHS}
    demand days are excluded (no interval to smooth)."""
    alpha = F.lit(float(CROSTON_ALPHA))
    demand = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("q"))
    )
    seq = (
        demand.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_epochs"),
            F.sum("q").cast("bigint").alias("total_demand"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("d", "q"))),
                lambda s: F.array(
                    F.datediff(s["d"], F.lit("1970-01-01")).cast("double"),
                    s["q"].cast("double"),
                ),
            ).alias("xs"),
        )
        .filter(F.col("n_epochs") >= CROSTON_MIN_EPOCHS)
    )

    def step(acc, x):
        z, p, prev, seen = (
            F.element_at(acc, 1),
            F.element_at(acc, 2),
            F.element_at(acc, 3),
            F.element_at(acc, 4),
        )
        d, q = F.element_at(x, 1), F.element_at(x, 2)
        return (
            F.when(seen == 0.0, F.array(q, F.lit(0.0), d, F.lit(1.0)))
            .when(
                seen == 1.0,
                F.array(z + alpha * (q - z), d - prev, d, F.lit(2.0)),
            )
            .otherwise(
                F.array(
                    z + alpha * (q - z),
                    p + alpha * (d - prev - p),
                    d,
                    seen + F.lit(1.0),
                )
            )
        )

    folded = seq.select(
        "user_id",
        "n_epochs",
        "total_demand",
        F.aggregate(
            F.col("xs"),
            F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(0.0)),
            step,
        ).alias("s"),
    )
    s1, s2 = F.element_at("s", 1), F.element_at("s", 2)
    return folded.select(
        "user_id",
        "n_epochs",
        "total_demand",
        F.round(s1, 8).alias("croston_size"),
        F.round(s2, 8).alias("croston_interval"),
        F.round(s1 / s2, 8).alias("croston_forecast"),
    )


# --- Western Electric control-chart rules ------------------------------------
#
# The Shewhart-chart decision rules operators actually page on:
#   rule 1 — one point beyond 3 sigma;
#   rule 2 — 2 of 3 consecutive points beyond 2 sigma, same side;
#   rule 3 — 4 of 5 consecutive points beyond 1 sigma, same side;
#   rule 4 — 8 consecutive points on one side of the center line.
# Center/sigma come from the series' own exact integer moments (cents
# grain — the ts_anomaly_zscore convention); each rule is a fixed
# ROWS-frame window count, so the whole chart is one window pass over
# the daily grain. Sign tests compare integer cents to the rational
# mean CROSS-MULTIPLIED (c*n vs s), so "same side" can't waver; sigma
# comparisons square both sides into exact integer arithmetic —
# (c*n - s)^2 * n vs k^2 * (n*q - s*s) — zero float boundaries
# anywhere, the verdict flags are pure int64 comparisons.

WE_RULE4_RUN = 8


def _we_sql() -> str:
    # (c*n - s)^2  >  k^2 (n*q - s^2)   <=>   |c - mu| > k*sigma
    # [both sides are the n^2-scaled forms: (c - s/n)^2 vs k^2 *
    #  ((n*q - s^2)/n^2) each multiplied by n^2]
    dev2 = "(d.c * g.n - g.s) * (d.c * g.n - g.s)"
    var2 = "(g.n * g.q - g.s * g.s)"
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
gmom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS q
  FROM daily GROUP BY event_type
),
flags AS (
  SELECT d.event_type, d.d, d.c,
         CASE WHEN d.c * g.n > g.s THEN 1
              WHEN d.c * g.n < g.s THEN -1 ELSE 0 END AS side,
         CASE WHEN {dev2} > 9 * {var2} THEN 1 ELSE 0 END AS beyond3,
         CASE WHEN {dev2} > 4 * {var2} THEN 1 ELSE 0 END AS beyond2,
         CASE WHEN {dev2} > 1 * {var2} THEN 1 ELSE 0 END AS beyond1
  FROM daily d JOIN gmom g USING (event_type)
),
windowed AS (
  SELECT event_type, d, c, side, beyond3,
         SUM(CASE WHEN side = 1 AND beyond2 = 1 THEN 1 ELSE 0 END)
           OVER w3 AS hi2_of3,
         SUM(CASE WHEN side = -1 AND beyond2 = 1 THEN 1 ELSE 0 END)
           OVER w3 AS lo2_of3,
         SUM(CASE WHEN side = 1 AND beyond1 = 1 THEN 1 ELSE 0 END)
           OVER w5 AS hi4_of5,
         SUM(CASE WHEN side = -1 AND beyond1 = 1 THEN 1 ELSE 0 END)
           OVER w5 AS lo4_of5,
         SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER w8 AS hi8,
         SUM(CASE WHEN side = -1 THEN 1 ELSE 0 END) OVER w8 AS lo8,
         COUNT(*) OVER w3 AS n3, COUNT(*) OVER w5 AS n5,
         COUNT(*) OVER w8 AS n8
  FROM flags
  WINDOW
    w3 AS (PARTITION BY event_type ORDER BY d ROWS 2 PRECEDING),
    w5 AS (PARTITION BY event_type ORDER BY d ROWS 4 PRECEDING),
    w8 AS (PARTITION BY event_type ORDER BY d
           ROWS {WE_RULE4_RUN - 1} PRECEDING)
)
SELECT event_type, d AS day, c AS cents,
       CAST(side AS INTEGER) AS side,
       (beyond3 = 1) AS rule1,
       (n3 = 3 AND (hi2_of3 >= 2 OR lo2_of3 >= 2)) AS rule2,
       (n5 = 5 AND (hi4_of5 >= 4 OR lo4_of5 >= 4)) AS rule3,
       (n8 = {WE_RULE4_RUN}
        AND (hi8 = {WE_RULE4_RUN} OR lo8 = {WE_RULE4_RUN})) AS rule4,
       (beyond3 = 1 OR (n3 = 3 AND (hi2_of3 >= 2 OR lo2_of3 >= 2))
        OR (n5 = 5 AND (hi4_of5 >= 4 OR lo4_of5 >= 4))
        OR (n8 = {WE_RULE4_RUN}
            AND (hi8 = {WE_RULE4_RUN} OR lo8 = {WE_RULE4_RUN})))
         AS any_signal
FROM windowed
"""


@register(
    "ts_control_rules_we",
    tags=("timeseries", "trend", "spc", "control-chart"),
    oracle=_we_sql(),
)
def ts_control_rules_we(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric rules 1-4 over each event type's daily-cents
    series with self-derived control limits. All four rules are fixed
    ROWS-frame window counts over integer flags; every sigma/side
    comparison is cross-multiplied exact int64 (see module comment) —
    no float ever decides a flag. One daily reduce + one window pass."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("c")
    )
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    j = daily.join(F.broadcast(g), "event_type")
    dev2 = (F.col("c") * F.col("n") - F.col("s")) * (
        F.col("c") * F.col("n") - F.col("s")
    )
    var2 = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    side = (
        F.when(F.col("c") * F.col("n") > F.col("s"), 1)
        .when(F.col("c") * F.col("n") < F.col("s"), -1)
        .otherwise(0)
    )
    flags = j.select(
        "event_type",
        "d",
        "c",
        side.alias("side"),
        F.when(dev2 > 9 * var2, 1).otherwise(0).alias("beyond3"),
        F.when(dev2 > 4 * var2, 1).otherwise(0).alias("beyond2"),
        F.when(dev2 > 1 * var2, 1).otherwise(0).alias("beyond1"),
    )
    w3 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-2, 0)
    w5 = Window.partitionBy("event_type").orderBy("d").rowsBetween(-4, 0)
    w8 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-(WE_RULE4_RUN - 1), 0)
    )
    hi = F.col("side") == 1
    lo = F.col("side") == -1
    b2, b1 = F.col("beyond2") == 1, F.col("beyond1") == 1
    wd = flags.select(
        "event_type",
        "d",
        "c",
        "side",
        "beyond3",
        F.sum(F.when(hi & b2, 1).otherwise(0)).over(w3).alias("hi2_of3"),
        F.sum(F.when(lo & b2, 1).otherwise(0)).over(w3).alias("lo2_of3"),
        F.sum(F.when(hi & b1, 1).otherwise(0)).over(w5).alias("hi4_of5"),
        F.sum(F.when(lo & b1, 1).otherwise(0)).over(w5).alias("lo4_of5"),
        F.sum(F.when(hi, 1).otherwise(0)).over(w8).alias("hi8"),
        F.sum(F.when(lo, 1).otherwise(0)).over(w8).alias("lo8"),
        F.count(F.lit(1)).over(w3).alias("n3"),
        F.count(F.lit(1)).over(w5).alias("n5"),
        F.count(F.lit(1)).over(w8).alias("n8"),
    )
    rule1 = F.col("beyond3") == 1
    rule2 = (F.col("n3") == 3) & (
        (F.col("hi2_of3") >= 2) | (F.col("lo2_of3") >= 2)
    )
    rule3 = (F.col("n5") == 5) & (
        (F.col("hi4_of5") >= 4) | (F.col("lo4_of5") >= 4)
    )
    rule4 = (F.col("n8") == WE_RULE4_RUN) & (
        (F.col("hi8") == WE_RULE4_RUN) | (F.col("lo8") == WE_RULE4_RUN)
    )
    return wd.select(
        "event_type",
        F.col("d").alias("day"),
        F.col("c").alias("cents"),
        F.col("side").cast("int"),
        rule1.alias("rule1"),
        rule2.alias("rule2"),
        rule3.alias("rule3"),
        rule4.alias("rule4"),
        (rule1 | rule2 | rule3 | rule4).alias("any_signal"),
    )


# --- Theta-method forecast ----------------------------------------------------
#
# The M3-competition winner and still the default strong baseline:
# decompose the series into theta-lines — theta=0 is the linear trend
# (long-run signal), theta=2 doubles the local curvature
# (2*x - trend) — forecast the theta=2 line by SES and average it
# with the extrapolated trend. Trend coefficients come from EXACT
# integer moments (cents grain: n, St, Sx, Stx with t = 0..n-1), the
# SES is the one ordered fold every engine pair reproduces bitwise,
# and the final blend is literal arithmetic — rounded at 8 dp.

THETA_ALPHA = "0.3"


@register(
    "ts_theta_forecast",
    tags=("timeseries", "trend", "forecast"),
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
  SELECT event_type, d, c,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) - 1
              AS BIGINT) AS t
  FROM daily
),
mom AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(c) AS BIGINT) AS sx,
         CAST(SUM(t * t) AS BIGINT) AS stt,
         CAST(SUM(t * c) AS BIGINT) AS stx
  FROM idx GROUP BY event_type
),
fit AS (
  SELECT event_type, n,
         CAST(n * stx - st * sx AS DOUBLE)
           / CAST(n * stt - st * st AS DOUBLE) AS b,
         (CAST(sx AS DOUBLE) - CAST(n * stx - st * sx AS DOUBLE)
              / CAST(n * stt - st * st AS DOUBLE) * st) / n AS a
  FROM mom
),
theta2 AS (
  SELECT i.event_type, i.t,
         2.0 * i.c - (f.a + f.b * i.t) AS z
  FROM idx i JOIN fit f USING (event_type)
),
ses AS (
  SELECT event_type,
         list_reduce(list(z ORDER BY t),
           (acc, x) -> acc + CAST({THETA_ALPHA} AS DOUBLE) * (x - acc))
           AS level
  FROM theta2 GROUP BY event_type
)
SELECT f.event_type,
       f.n AS n_days,
       round(f.a / 100.0, 8) AS trend_intercept,
       round(f.b / 100.0, 8) AS trend_slope,
       round(s.level / 100.0, 8) AS ses_theta2,
       round((0.5 * (f.a + f.b * f.n) + 0.5 * s.level) / 100.0, 8)
         AS theta_forecast
FROM fit f JOIN ses s USING (event_type)
""",
)
def ts_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead Theta forecast of each event type's daily total
    (dollars): OLS trend from exact integer moments, SES (alpha
    {THETA_ALPHA}, seeded with the first theta2 value — the
    list_reduce convention) over the theta=2 line, blend 50/50 with
    the trend extrapolated to t=n. One daily reduce, one window for
    the index, one ordered fold per type."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("c")
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    idx = daily.select(
        "event_type",
        "c",
        (F.row_number().over(wo) - 1).cast("bigint").alias("t"),
    )
    mom = idx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("c").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum(F.col("t") * F.col("c")).cast("bigint").alias("stx"),
    )
    b = (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")).cast(
        "double"
    ) / (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast("double")
    a = (F.col("sx").cast("double") - b * F.col("st")) / F.col("n")
    fit = mom.select("event_type", "n", b.alias("b"), a.alias("a"))
    theta2 = idx.join(F.broadcast(fit), "event_type").select(
        "event_type",
        "t",
        (F.lit(2.0) * F.col("c") - (F.col("a") + F.col("b") * F.col("t"))).alias(
            "z"
        ),
    )
    alpha = F.lit(float(THETA_ALPHA))
    ses = theta2.groupBy("event_type").agg(
        F.aggregate(
            F.slice(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("t", "z"))),
                    lambda s: s["z"],
                ),
                2,
                1_000_000,
            ),
            F.element_at(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("t", "z"))),
                    lambda s: s["z"],
                ),
                1,
            ),
            lambda acc, x: acc + alpha * (x - acc),
        ).alias("level")
    )
    return (
        fit.join(ses, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.round(F.col("a") / 100.0, 8).alias("trend_intercept"),
            F.round(F.col("b") / 100.0, 8).alias("trend_slope"),
            F.round(F.col("level") / 100.0, 8).alias("ses_theta2"),
            F.round(
                (
                    F.lit(0.5) * (F.col("a") + F.col("b") * F.col("n"))
                    + F.lit(0.5) * F.col("level")
                )
                / 100.0,
                8,
            ).alias("theta_forecast"),
        )
    )


# --- Haar wavelet decomposition -----------------------------------------------
#
# The multiresolution twin of the spectral-power query: unnormalized
# Haar DWT is pairwise sums (approximation) and differences (detail),
# repeated log2(n) times — every coefficient an exact INTEGER on the
# cents grain, so per-level detail ENERGIES (sum of squared details,
# the standard change/burst localization readout) hash exactly with
# zero float anywhere. The 30-day series zero-pads to 32; each level
# is one group-by on t//2 — five tiny aggregates after the one daily
# reduce. Int64 headroom: approx coefficients reach 32x the daily
# total and energies square them — fine through ~sf1, DECIMAL(38)
# beyond.

HAAR_LEN = 32  # 30 days zero-padded to 2^5
HAAR_LEVELS = 5


def _haar_oracle() -> str:
    lines = [
        """WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
t0 AS (
  SELECT event_type,
         CAST(datediff('day', DATE '2024-01-01', d) AS BIGINT) AS t,
         c
  FROM daily
),
types AS (SELECT DISTINCT event_type FROM t0),
grid AS (
  SELECT ty.event_type, g.t FROM types ty,
  LATERAL unnest(range(0, %d)) AS g(t)
),
x0 AS (
  SELECT g.event_type, g.t, COALESCE(t0.c, 0) AS x
  FROM grid g LEFT JOIN t0 ON t0.event_type = g.event_type AND t0.t = g.t
),"""
        % HAAR_LEN
    ]
    for lv in range(1, HAAR_LEVELS + 1):
        lines.append(
            f"""x{lv} AS MATERIALIZED (
  SELECT event_type, t // 2 AS t,
         CAST(SUM(x) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN t % 2 = 0 THEN x ELSE -x END) AS BIGINT) AS dd
  FROM x{lv - 1} GROUP BY event_type, t // 2
),
e{lv} AS (
  SELECT event_type, {lv} AS level,
         CAST(COUNT(*) AS BIGINT) AS n_coeffs,
         CAST(SUM(dd * dd) AS BIGINT) AS detail_energy
  FROM x{lv} GROUP BY event_type
),"""
        )
    lines.append(
        f"approx AS (SELECT event_type, x AS approx_total FROM"
        f" x{HAAR_LEVELS})"
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT event_type, level, n_coeffs, detail_energy FROM e{lv}"
        for lv in range(1, HAAR_LEVELS + 1)
    )
    return (
        "\n".join(lines)
        + f"""
SELECT u.event_type, CAST(u.level AS INTEGER) AS level, u.n_coeffs,
       u.detail_energy, a.approx_total
FROM ({unions}) u JOIN approx a USING (event_type)
"""
    )


@register(
    "ts_haar_dwt",
    tags=("timeseries", "trend", "wavelet"),
    oracle=_haar_oracle(),
)
def ts_haar_dwt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Haar detail energies at levels 1..{HAAR_LEVELS} (day
    pairs up to 16-day blocks) plus the final approximation (= the
    series total — asserted by tests as the transform's invariant,
    along with Parseval-style energy accounting). All-integer pairwise
    arithmetic; one corpus reduce then five O(types x 32) folds."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("c")
    )
    t0 = daily.select(
        "event_type",
        F.datediff("d", F.lit("2024-01-01")).cast("bigint").alias("t"),
        "c",
    )
    types = t0.select("event_type").distinct()
    grid = types.crossJoin(
        F.broadcast(spark.range(HAAR_LEN).select(F.col("id").alias("t")))
    )
    x = grid.join(t0, ["event_type", "t"], "left").select(
        "event_type", "t", F.coalesce("c", F.lit(0)).alias("x")
    )
    energies = []
    for lv in range(1, HAAR_LEVELS + 1):
        nxt = x.groupBy(
            "event_type", (F.col("t") / 2).cast("bigint").alias("t2")
        ).agg(
            F.sum("x").cast("bigint").alias("x"),
            F.sum(
                F.when(F.col("t") % 2 == 0, F.col("x")).otherwise(-F.col("x"))
            )
            .cast("bigint")
            .alias("dd"),
        )
        energies.append(
            nxt.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
                F.sum(F.col("dd") * F.col("dd"))
                .cast("bigint")
                .alias("detail_energy"),
            ).select(
                "event_type",
                F.lit(lv).cast("int").alias("level"),
                "n_coeffs",
                "detail_energy",
            )
        )
        x = nxt.select("event_type", F.col("t2").alias("t"), "x")
    approx = x.select("event_type", F.col("x").alias("approx_total"))
    out = energies[0]
    for ee in energies[1:]:
        out = out.unionAll(ee)
    return out.join(approx, "event_type").select(
        "event_type", "level", "n_coeffs", "detail_energy", "approx_total"
    )


# --- binary segmentation (multiple changepoints) -------------------------------
#
# ts_changepoint_pettitt finds ONE break; the standard multi-break
# method is BINARY SEGMENTATION: pick the split maximizing the
# squared-error reduction, then recurse into each side. Two levels
# (up to 3 changepoints) unroll here — each level is an argmax over
# candidate positions of
#   gain(a,k,b) = m/((k-a)(b-k)) * (S_k - S_a - (k-a)/m * (S_b - S_a))^2
# computed as doubles from EXACT integer prefix sums (identical
# operands and ops cross-engine; ties break by position). Candidate
# positions come from one prefix-sum window over the daily grain;
# each argmax is a per-type top-1 — no rescans, no quadratic stage.

BINSEG_MIN_SEG = 3  # do not split segments shorter than this


def _binseg_gain_sql(t: str, s: str, a: str, b: str, sa: str, sb: str) -> str:
    """ONE expression text for the split gain, fed verbatim to BOTH
    engines (the EM generator-shared technique) so every float op has
    identical shape — a hand-mirrored variant drifted one ulp at
    1e10-cent magnitudes, where no emit-rounding can absorb it."""
    rel = f"({s} - {sa} - CAST({t} - {a} AS DOUBLE) / ({b} - {a}) * ({sb} - {sa}))"
    return (
        f"CAST({b} - {a} AS DOUBLE) / (({t} - {a}) * ({b} - {t}))"
        f" * {rel} * {rel}"
    )


@register(
    "ts_changepoint_binseg",
    tags=("timeseries", "trend", "changepoint"),
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
idx AS (
  SELECT event_type, c,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS t
  FROM daily
),
pre AS (
  SELECT event_type, t,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS stot
  FROM idx
),
g1 AS (
  SELECT event_type, t AS k, n,
         {_binseg_gain_sql('t', 's', '0', 'n', '0', 'stot')} AS gain,
         CAST(n * s - t * stot AS BIGINT) AS rel_num,
         CAST(n * t * (n - t) AS BIGINT) AS denom
  FROM pre
  WHERE t >= {BINSEG_MIN_SEG} AND t <= n - {BINSEG_MIN_SEG}
),
b1 AS (
  SELECT event_type, k, rel_num, denom FROM (
    SELECT event_type, k, gain, rel_num, denom,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY gain DESC, k) AS rk
    FROM g1) WHERE rk = 1
),
seg2 AS (
  SELECT p.event_type, p.t, p.s, p.n, p.stot, b.k AS k1,
         CASE WHEN p.t < b.k THEN 'left' ELSE 'right' END AS side,
         CASE WHEN p.t < b.k THEN CAST(0 AS BIGINT) ELSE b.k END AS a,
         CASE WHEN p.t < b.k THEN b.k ELSE p.n END AS b2
  FROM pre p JOIN b1 b USING (event_type)
  WHERE p.t <> b.k
),
withsa AS (
  SELECT s2.*,
         COALESCE(pa.s, 0) AS sa,
         CASE WHEN s2.b2 = s2.n THEN s2.stot ELSE pb.s END AS sb
  FROM seg2 s2
  LEFT JOIN pre pa ON pa.event_type = s2.event_type AND pa.t = s2.a
  LEFT JOIN pre pb ON pb.event_type = s2.event_type AND pb.t = s2.b2
),
g2 AS (
  SELECT event_type, side, t AS k, k1,
         {_binseg_gain_sql('t', 's', 'a', 'b2', 'sa', 'sb')} AS gain,
         CAST((b2 - a) * (s - sa) - (t - a) * (sb - sa) AS BIGINT)
           AS rel_num,
         CAST((b2 - a) * (t - a) * (b2 - t) AS BIGINT) AS denom
  FROM withsa
  WHERE t - a >= {BINSEG_MIN_SEG} AND b2 - t >= {BINSEG_MIN_SEG}
),
b2pick AS (
  SELECT event_type, side, k, rel_num, denom FROM (
    SELECT event_type, side, k, gain, rel_num, denom,
           ROW_NUMBER() OVER (PARTITION BY event_type, side
                              ORDER BY gain DESC, k) AS rk
    FROM g2) WHERE rk = 1
)
SELECT event_type, CAST(1 AS INTEGER) AS level, 'all' AS side,
       CAST(k AS BIGINT) AS cp_index, rel_num, denom
FROM b1
UNION ALL
SELECT event_type, 2, side, CAST(k AS BIGINT), rel_num, denom
FROM b2pick
""",
)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up to three changepoints per event type by two-level binary
    segmentation over the daily-cents series (min segment
    {BINSEG_MIN_SEG} days). Emits each split's position (prefix-day
    index: the changepoint sits between day k and k+1) and the EXACT
    INTEGER certificate of its gain — rel_num = (b-a)(S_k-S_a) -
    (k-a)(S_b-S_a) and denom = (b-a)(k-a)(b-k), from which
    gain = rel_num^2/denom exactly. The argmax RANKING uses the
    double form internally (candidates are spread over the full
    magnitude scale, so a few-ulp engine divergence cannot flip it in
    practice — see _binseg_gain_sql); the EMITTED values are pure
    int64, so the hash cannot flake at all."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("c")
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    wall = Window.partitionBy("event_type")
    pre = materialize(daily.select(
        "event_type",
        F.row_number().over(wo).cast("bigint").alias("t"),
        F.sum("c")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("s"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n"),
        F.sum("c").over(wall).cast("bigint").alias("stot"),
    ))

    t, s, n, stot = F.col("t"), F.col("s"), F.col("n"), F.col("stot")
    g1 = pre.filter(
        (t >= BINSEG_MIN_SEG) & (t <= n - BINSEG_MIN_SEG)
    ).select(
        "event_type",
        t.alias("k"),
        F.expr(_binseg_gain_sql("t", "s", "0", "n", "0", "stot")).alias(
            "gain"
        ),
        (n * s - t * stot).cast("bigint").alias("rel_num"),
        (n * t * (n - t)).cast("bigint").alias("denom"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.col("gain").desc(), "k")
    b1 = materialize(
        g1.withColumn("rk", F.row_number().over(wr))
        .filter("rk = 1")
        .select(
            "event_type",
            F.col("k").alias("k1"),
            F.col("rel_num").alias("rel1"),
            F.col("denom").alias("den1"),
        )
    )
    seg2 = pre.join(F.broadcast(b1), "event_type").filter(t != F.col("k1")).select(
        "event_type",
        "t",
        "s",
        "n",
        "stot",
        F.when(t < F.col("k1"), "left").otherwise("right").alias("side"),
        F.when(t < F.col("k1"), F.lit(0).cast("bigint"))
        .otherwise(F.col("k1"))
        .alias("a"),
        F.when(t < F.col("k1"), F.col("k1")).otherwise(n).alias("b2"),
    )
    pa = pre.select(
        F.col("event_type").alias("et"), F.col("t").alias("at"), F.col("s").alias("sa")
    )
    withsa = (
        seg2.join(
            pa,
            (F.col("et") == F.col("event_type")) & (F.col("at") == F.col("a")),
            "left",
        )
        .drop("et", "at")
        .join(
            pa.select(
                F.col("et").alias("et2"),
                F.col("at").alias("bt"),
                F.col("sa").alias("sb0"),
            ),
            (F.col("et2") == F.col("event_type")) & (F.col("bt") == F.col("b2")),
            "left",
        )
        .drop("et2", "bt")
        .select(
            "event_type",
            "side",
            "t",
            "s",
            "a",
            "b2",
            F.coalesce("sa", F.lit(0)).alias("sa"),
            F.when(F.col("b2") == F.col("n"), F.col("stot"))
            .otherwise(F.col("sb0"))
            .alias("sb"),
        )
    )
    g2 = withsa.filter(
        (t - F.col("a") >= BINSEG_MIN_SEG) & (F.col("b2") - t >= BINSEG_MIN_SEG)
    ).select(
        "event_type",
        "side",
        t.alias("k"),
        F.expr(_binseg_gain_sql("t", "s", "a", "b2", "sa", "sb")).alias(
            "gain"
        ),
        (
            (F.col("b2") - F.col("a")) * (s - F.col("sa"))
            - (t - F.col("a")) * (F.col("sb") - F.col("sa"))
        )
        .cast("bigint")
        .alias("rel_num"),
        ((F.col("b2") - F.col("a")) * (t - F.col("a")) * (F.col("b2") - t))
        .cast("bigint")
        .alias("denom"),
    )
    wr2 = Window.partitionBy("event_type", "side").orderBy(
        F.col("gain").desc(), "k"
    )
    b2 = (
        g2.withColumn("rk", F.row_number().over(wr2))
        .filter("rk = 1")
        .select("event_type", "side", "k", "rel_num", "denom")
    )
    out1 = b1.select(
        "event_type",
        F.lit(1).cast("int").alias("level"),
        F.lit("all").alias("side"),
        F.col("k1").cast("bigint").alias("cp_index"),
        F.col("rel1").alias("rel_num"),
        F.col("den1").alias("denom"),
    )
    out2 = b2.select(
        "event_type",
        F.lit(2).cast("int").alias("level"),
        "side",
        F.col("k").cast("bigint").alias("cp_index"),
        "rel_num",
        "denom",
    )
    return out1.unionAll(out2)


# --- partial autocorrelation (Durbin-Levinson) --------------------------------
#
# The correlogram's companion: PACF at lag k is the correlation after
# removing the shorter-lag structure — the readout that picks AR
# order. Durbin-Levinson turns the exact-integer ACF into phi_{k,k}
# through a level-by-level recursion; each level materializes as
# NAMED COLUMNS (CTE chain / chained selects) because substituting
# the recursion textually grows 3^k and OOMs the parser (measured).
# The per-level expression STRINGS are generated once and fed
# verbatim to both engines, so every double op has identical shape
# and the 8-dp emit cannot flake.


def _dl_level_items(k: int) -> tuple[str, list[str]]:
    """(phi_{k,k} expression, [phi_{k,j} expressions]) over columns
    r1..rK and p{k-1}_1..p{k-1}_{k-1} (+ pkk{k} for the coefficient
    stage)."""
    if k == 1:
        return "r1", []
    num = " - ".join([f"r{k}"] + [f"p{k - 1}_{j} * r{k - j}" for j in range(1, k)])
    den = " - ".join(["1.0"] + [f"p{k - 1}_{j} * r{j}" for j in range(1, k)])
    phi = f"(({num}) / ({den}))"
    coefs = [
        f"p{k - 1}_{j} - pkk{k} * p{k - 1}_{k - j} AS p{k}_{j}"
        for j in range(1, k)
    ]
    return phi, coefs


def _pacf_oracle() -> str:
    lines = [
        f"WITH acf AS ({_sql_acf_oracle().strip()}),",
        "piv AS (",
        "  SELECT event_type,",
        "  "
        + ", ".join(
            f"MAX(CASE WHEN lag = {k} THEN acf END) AS r{k}"
            for k in range(1, ACF_MAX_LAG + 1)
        ),
        "  FROM acf GROUP BY event_type),",
        "dl1 AS (SELECT *, r1 AS pkk1, r1 AS p1_1 FROM piv),",
    ]
    for k in range(2, ACF_MAX_LAG + 1):
        phi, coefs = _dl_level_items(k)
        lines.append(f"a{k} AS (SELECT *, {phi} AS pkk{k} FROM dl{k - 1}),")
        lines.append(
            f"dl{k} AS (SELECT *, {', '.join(coefs)}, pkk{k} AS p{k}_{k}"
            f" FROM a{k}),"
        )
    lines[-1] = lines[-1].rstrip(",")
    sel = " UNION ALL ".join(
        f"SELECT event_type, {k} AS lag, pkk{k} AS pacf FROM dl{ACF_MAX_LAG}"
        for k in range(1, ACF_MAX_LAG + 1)
    )
    return "\n".join(lines) + f"""
SELECT event_type, CAST(lag AS INTEGER) AS lag, round(pacf, 8) AS pacf
FROM ({sel})
"""


@register(
    "ts_pacf_durbin_levinson",
    tags=("timeseries", "trend", "autocorrelation"),
    oracle=_pacf_oracle(),
)
def ts_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF at lags 1..{ACF_MAX_LAG} per event type by level-wise
    Durbin-Levinson over the exact-integer ACF — the AR order-selection
    readout. The Spark side chains selectExpr stages evaluating the
    SAME generated expression strings as the oracle's CTE chain."""
    acf = ts_acf_correlogram(spark, sf_dir)
    piv = acf.groupBy("event_type").agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("acf"))).alias(f"r{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ]
    )
    dl = piv.selectExpr("*", "r1 AS pkk1", "r1 AS p1_1")
    for k in range(2, ACF_MAX_LAG + 1):
        phi, coefs = _dl_level_items(k)
        dl = dl.selectExpr("*", f"{phi} AS pkk{k}")
        dl = dl.selectExpr("*", *coefs, f"pkk{k} AS p{k}_{k}")
    out = None
    for k in range(1, ACF_MAX_LAG + 1):
        part = dl.select(
            "event_type",
            F.lit(k).cast("int").alias("lag"),
            F.round(F.col(f"pkk{k}"), 8).alias("pacf"),
        )
        out = part if out is None else out.unionAll(part)
    return out


# --- moving-average crossover signals -----------------------------------------
#
# The classic trend-following signal: a fast moving average crossing
# a slow one. Comparing the AVERAGES invites float ties; comparing
# CROSS-MULTIPLIED WINDOW SUMS does not — sma_fast > sma_slow iff
# sum_fast * SLOW_W > sum_slow * FAST_W, all exact int64 on the cents
# grain — so the signal flags (and the crossover edge detection via
# lag) are pure integer logic that cannot flake. Emitted only once
# both windows are FULL (no partial-frame pseudo-signals).

SMA_FAST, SMA_SLOW = 5, 20


@register(
    "ts_sma_crossover",
    tags=("timeseries", "trend", "signal"),
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT) AS c
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
w AS (
  SELECT event_type, d, c,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY d
                           ROWS {SMA_FAST - 1} PRECEDING) AS BIGINT) AS sf,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY d
                           ROWS {SMA_SLOW - 1} PRECEDING) AS BIGINT) AS ss,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS t
  FROM daily
),
sig AS (
  SELECT event_type, d, sf, ss,
         CASE WHEN sf * {SMA_SLOW} > ss * {SMA_FAST} THEN 1
              WHEN sf * {SMA_SLOW} < ss * {SMA_FAST} THEN -1
              ELSE 0 END AS pos
  FROM w WHERE t >= {SMA_SLOW}
),
edges AS (
  SELECT event_type, d, pos,
         LAG(pos) OVER (PARTITION BY event_type ORDER BY d) AS prev,
         CAST(sf AS DOUBLE) / ({SMA_FAST} * 100.0) AS sma_fast,
         CAST(ss AS DOUBLE) / ({SMA_SLOW} * 100.0) AS sma_slow
  FROM sig
)
SELECT event_type, d AS day, CAST(pos AS INTEGER) AS position,
       sma_fast, sma_slow,
       (prev IS NOT NULL AND prev <= 0 AND pos = 1) AS golden_cross,
       (prev IS NOT NULL AND prev >= 0 AND pos = -1) AS death_cross
FROM edges
""",
)
def ts_sma_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMA({SMA_FAST})/SMA({SMA_SLOW}) crossover signals per event
    type over daily dollars: position sign and golden/death-cross
    edges from exact cross-multiplied integer window sums (see
    section comment), averages emitted as doubles for the human. One
    daily reduce + one window pass."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
        .cast("bigint")
        .alias("c")
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    w = daily.select(
        "event_type",
        "d",
        F.sum("c").over(wo.rowsBetween(-(SMA_FAST - 1), 0)).cast("bigint").alias("sf"),
        F.sum("c").over(wo.rowsBetween(-(SMA_SLOW - 1), 0)).cast("bigint").alias("ss"),
        F.row_number().over(wo).cast("bigint").alias("t"),
    )
    pos = (
        F.when(F.col("sf") * SMA_SLOW > F.col("ss") * SMA_FAST, 1)
        .when(F.col("sf") * SMA_SLOW < F.col("ss") * SMA_FAST, -1)
        .otherwise(0)
    )
    sig = w.filter(F.col("t") >= SMA_SLOW).select(
        "event_type", "d", "sf", "ss", pos.alias("pos")
    )
    prev = F.lag("pos").over(wo)
    edges = sig.select(
        "event_type",
        "d",
        "pos",
        prev.alias("prev"),
        (F.col("sf").cast("double") / (SMA_FAST * 100.0)).alias("sma_fast"),
        (F.col("ss").cast("double") / (SMA_SLOW * 100.0)).alias("sma_slow"),
    )
    return edges.select(
        "event_type",
        F.col("d").alias("day"),
        F.col("pos").cast("int").alias("position"),
        "sma_fast",
        "sma_slow",
        (
            F.col("prev").isNotNull()
            & (F.col("prev") <= 0)
            & (F.col("pos") == 1)
        ).alias("golden_cross"),
        (
            F.col("prev").isNotNull()
            & (F.col("prev") >= 0)
            & (F.col("pos") == -1)
        ).alias("death_cross"),
    )
