"""Causal-inference operators: Simpson's-paradox audit and inverse-
propensity-weighted treatment effects.

Experiment readouts (`mlstats.py`'s ab_test family) assume the pooled
comparison tells the truth; these two operators guard and extend that:
the Simpson check detects when segment-level effects contradict the
pooled effect (aggregation reversal — the classic way a dashboard
lies), and IPTW estimates a treatment effect from OBSERVATIONAL data
by reweighting with a propensity model trained on the engine
(`ml_logreg_train_gd`'s gradient-descent machinery at user grain).

Determinism: the Simpson verdict never divides — effect signs come
from cross-multiplied exact integer sums (sign(S_a·n_b − S_b·n_a)),
so the flag cannot waver; means are single divisions of identical
integers. IPTW routes every data-dependent sum through the decimal
helpers and scores with literal-free identical expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.deterministic import dsum, sql_dsum
from ..iterate import materialize
from ..registry import register

_VARIANT_SQL = (
    "CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) <= '7' "
    "THEN 'A' ELSE 'B' END"
)


@register(
    "ab_test_simpsons_check",
    tags=("experiment", "causal", "audit"),
    oracle=f"""
WITH base AS (
  SELECT {_VARIANT_SQL} AS variant,
         CAST(EXTRACT(dow FROM ts) AS INTEGER) + 1 AS dow,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
),
seg AS (
  SELECT dow,
         CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN variant = 'A' THEN cents ELSE 0 END) AS BIGINT) AS s_a,
         CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN variant = 'B' THEN cents ELSE 0 END) AS BIGINT) AS s_b
  FROM base GROUP BY dow
),
tot AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS n_a, CAST(SUM(s_a) AS BIGINT) AS s_a,
         CAST(SUM(n_b) AS BIGINT) AS n_b, CAST(SUM(s_b) AS BIGINT) AS s_b
  FROM seg
),
signed AS (
  SELECT s.dow, s.n_a, s.n_b,
         CAST(s.s_a AS DOUBLE) / (100.0 * CAST(s.n_a AS DOUBLE)) AS mean_a,
         CAST(s.s_b AS DOUBLE) / (100.0 * CAST(s.n_b AS DOUBLE)) AS mean_b,
         CAST(sign(s.s_a * s.n_b - s.s_b * s.n_a) AS INTEGER) AS seg_sign,
         CAST(sign(t.s_a * t.n_b - t.s_b * t.n_a) AS INTEGER) AS pooled_sign
  FROM seg s CROSS JOIN tot t
)
SELECT dow, n_a, n_b, mean_a, mean_b, seg_sign, pooled_sign,
       CAST((SELECT SUM(CASE WHEN seg_sign <> pooled_sign THEN 1 ELSE 0 END)
             FROM signed) AS BIGINT) AS n_segments_opposing,
       (SELECT SUM(CASE WHEN seg_sign <> pooled_sign THEN 1 ELSE 0 END)
        FROM signed) = (SELECT COUNT(*) FROM signed) AS full_reversal
FROM signed
""",
)
def ab_test_simpsons_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit for the variant comparison: the pooled
    A-vs-B mean-value effect next to the per-weekday segment effects,
    with each effect's SIGN computed from cross-multiplied exact
    integer sums — sign(S_a·n_b − S_b·n_a) — so "which way does the
    effect point" never touches a float. A pooled verdict whose sign
    disagrees with the segments is the aggregation-reversal trap; the
    audit names the opposing segments and flags full reversal.

    ONE conditional-aggregate corpus pass to the 7-segment table;
    everything after is arithmetic on that table. Integer headroom:
    cents·n products need Σvalue·100·N < 2^63 — holds past 1e9 rows
    per segment; beyond, the sign moves to exact DECIMAL products
    with the same shape."""
    e = load(spark, sf_dir, "events")
    base = e.select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) <= "7", "A"
        )
        .otherwise("B")
        .alias("variant"),
        F.dayofweek("ts").alias("dow"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
    )
    seg = base.groupBy("dow").agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == "A", F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("s_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == "B", F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("s_b"),
    )
    tot = seg.agg(
        F.sum("n_a").cast("bigint").alias("t_n_a"),
        F.sum("s_a").cast("bigint").alias("t_s_a"),
        F.sum("n_b").cast("bigint").alias("t_n_b"),
        F.sum("s_b").cast("bigint").alias("t_s_b"),
    )
    signed = seg.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_a",
        "n_b",
        (
            F.col("s_a").cast("double") / (F.lit(100.0) * F.col("n_a").cast("double"))
        ).alias("mean_a"),
        (
            F.col("s_b").cast("double") / (F.lit(100.0) * F.col("n_b").cast("double"))
        ).alias("mean_b"),
        F.signum(
            (F.col("s_a") * F.col("n_b") - F.col("s_b") * F.col("n_a")).cast(
                "double"
            )
        )
        .cast("int")
        .alias("seg_sign"),
        F.signum(
            (
                F.col("t_s_a") * F.col("t_n_b") - F.col("t_s_b") * F.col("t_n_a")
            ).cast("double")
        )
        .cast("int")
        .alias("pooled_sign"),
    )
    opp = signed.agg(
        F.sum(F.when(F.col("seg_sign") != F.col("pooled_sign"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_segments_opposing"),
        F.count(F.lit(1)).alias("n_segments"),
    )
    return signed.crossJoin(F.broadcast(opp)).select(
        "dow",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "seg_sign",
        "pooled_sign",
        "n_segments_opposing",
        (F.col("n_segments_opposing") == F.col("n_segments")).alias(
            "full_reversal"
        ),
    )


# --- inverse-propensity-weighted ATE --------------------------------------

IPTW_ITERS = 3
IPTW_RATE = 0.5
IPTW_CLICKS = 14      # treatment: above-typical clicking (median ≈ 13
                      # clicks/user at every SF — splits ~half/half)
IPTW_XSCALE = 50.0    # activity feature scaling
IPTW_CLIP_LO, IPTW_CLIP_HI = 0.01, 0.99

_SQL_USERS = f"""
  SELECT user_id,
         CAST(COUNT(*) AS DOUBLE) / {IPTW_XSCALE} AS x,
         CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   >= {IPTW_CLICKS} THEN 1.0 ELSE 0.0 END AS t,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                       ELSE 0 END) AS DOUBLE) / 100.0 AS y
  FROM events GROUP BY user_id
"""


def _sql_iptw_oracle() -> str:
    parts = [f"users AS MATERIALIZED ({_SQL_USERS})"]
    parts.append(
        "it0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1)"
    )
    for i in range(1, IPTW_ITERS + 1):
        parts.append(f"""g{i} AS MATERIALIZED (
  SELECT {sql_dsum('(p - t) * 1.0')} AS G0,
         {sql_dsum('(p - t) * x')} AS G1,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM (
    SELECT u.t, u.x,
           1.0 / (1.0 + exp(-(w.w0 + w.w1 * u.x))) AS p
    FROM users u CROSS JOIN it{i - 1} w
  ) s
)""")
        parts.append(f"""it{i} AS (
  SELECT w.w0 - {IPTW_RATE} * (g.G0 / g.n) AS w0,
         w.w1 - {IPTW_RATE} * (g.G1 / g.n) AS w1
  FROM it{i - 1} w CROSS JOIN g{i} g
)""")
    parts.append(f"""scored AS MATERIALIZED (
  SELECT u.t, u.y,
         LEAST(GREATEST(1.0 / (1.0 + exp(-(w.w0 + w.w1 * u.x))),
                        CAST({IPTW_CLIP_LO} AS DOUBLE)),
               CAST({IPTW_CLIP_HI} AS DOUBLE)) AS e
  FROM users u CROSS JOIN it{IPTW_ITERS} w
)""")
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT CAST((SELECT COUNT(*) FROM users) AS BIGINT) AS n_users,
       CAST((SELECT SUM(CASE WHEN t = 1.0 THEN 1 ELSE 0 END) FROM scored)
            AS BIGINT) AS n_treated,
       (SELECT w0 FROM it{IPTW_ITERS}) AS w0,
       (SELECT w1 FROM it{IPTW_ITERS}) AS w1,
       ({sql_dsum('t * y / e')} / NULLIF({sql_dsum('t / e')}, 0.0)) AS mean_treated,
       ({sql_dsum('(1.0 - t) * y / (1.0 - e)')}
          / NULLIF({sql_dsum('(1.0 - t) / (1.0 - e)')}, 0.0)) AS mean_control,
       ({sql_dsum('t * y / e')} / NULLIF({sql_dsum('t / e')}, 0.0))
         - ({sql_dsum('(1.0 - t) * y / (1.0 - e)')}
            / NULLIF({sql_dsum('(1.0 - t) / (1.0 - e)')}, 0.0)) AS ate
FROM scored
"""


@register(
    "ab_test_iptw_ate",
    tags=("experiment", "causal", "ml", "iterative"),
    oracle=_sql_iptw_oracle(),
)
def ab_test_iptw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observational treatment-effect estimation by INVERSE PROPENSITY
    WEIGHTING: does being a frequent clicker (>= {IPTW_CLICKS} clicks)
    change a user's purchase spend, controlling for overall activity?
    Propensity e(x) = P(treated | activity) is a logistic model
    trained ON THE ENGINE ({IPTW_ITERS} full-batch GD iterations — the
    ml_logreg_train_gd machinery at user grain), probabilities are
    clipped to [{IPTW_CLIP_LO}, {IPTW_CLIP_HI}], and the ATE is the
    Hájek (self-normalized) estimator: the difference between
    propensity-reweighted treated and control means.

    Shape at 100 TB: the corpus reduces ONCE to the user grain; each
    GD iteration is one map-side-combined gradient aggregate over that
    grain (O(features) partials); the kilobyte weight vector comes
    back as literals for one scoring pass; the four IPTW sums ride a
    single reduce. Every sum routes through the decimal helper, so
    the estimate is bitwise reproducible on any partitioning."""
    e = load(spark, sf_dir, "events")
    users = materialize(
        e.groupBy("user_id")
        .agg(
            (F.count(F.lit(1)).cast("double") / IPTW_XSCALE).alias("x"),
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "click", 1).otherwise(0)
                )
                >= IPTW_CLICKS,
                1.0,
            )
            .otherwise(0.0)
            .alias("t"),
            (
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        (F.col("value").cast("decimal(12,2)") * 100).cast(
                            "bigint"
                        ),
                    ).otherwise(0)
                ).cast("double")
                / 100.0
            ).alias("y"),
        )
    )
    w = [0.0, 0.0]
    for _ in range(IPTW_ITERS):
        p = 1.0 / (1.0 + F.exp(-(F.lit(w[0]) + F.lit(w[1]) * F.col("x"))))
        g = users.select("t", "x", p.alias("p")).agg(
            dsum((F.col("p") - F.col("t")) * 1.0).alias("G0"),
            dsum((F.col("p") - F.col("t")) * F.col("x")).alias("G1"),
            F.count(F.lit(1)).cast("double").alias("n"),
        ).collect()[0]
        w[0] = w[0] - IPTW_RATE * (g["G0"] / g["n"])
        w[1] = w[1] - IPTW_RATE * (g["G1"] / g["n"])
    e_raw = 1.0 / (1.0 + F.exp(-(F.lit(w[0]) + F.lit(w[1]) * F.col("x"))))
    e_clip = F.least(
        F.greatest(e_raw, F.lit(IPTW_CLIP_LO)), F.lit(IPTW_CLIP_HI)
    )
    scored = users.select("t", "y", e_clip.alias("e"))
    t, y, ec = F.col("t"), F.col("y"), F.col("e")
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.when(t == 1.0, 1).otherwise(0)).cast("bigint").alias("n_treated"),
        F.lit(w[0]).alias("w0"),
        F.lit(w[1]).alias("w1"),
        (dsum(t * y / ec) / F.nullif(dsum(t / ec), F.lit(0.0))).alias(
            "mean_treated"
        ),
        (
            dsum((F.lit(1.0) - t) * y / (F.lit(1.0) - ec))
            / F.nullif(dsum((F.lit(1.0) - t) / (F.lit(1.0) - ec)), F.lit(0.0))
        ).alias("mean_control"),
        (
            (dsum(t * y / ec) / F.nullif(dsum(t / ec), F.lit(0.0)))
            - (
                dsum((F.lit(1.0) - t) * y / (F.lit(1.0) - ec))
                / F.nullif(
                    dsum((F.lit(1.0) - t) / (F.lit(1.0) - ec)), F.lit(0.0)
                )
            )
        ).alias("ate"),
    )


# --- uplift deciles + Qini ------------------------------------------------

QINI_DECILES = 10


@register(
    "ab_test_qini_uplift",
    tags=("experiment", "causal", "uplift", "ranking"),
    oracle=f"""
WITH users AS (
  SELECT user_id,
         {_VARIANT_SQL} AS variant,
         CAST(COUNT(*) AS BIGINT) AS activity,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT variant, converted,
         NTILE({QINI_DECILES}) OVER (ORDER BY activity DESC, user_id)
           AS decile
  FROM users
),
per AS (
  SELECT decile,
         CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN variant = 'B' THEN converted ELSE 0 END) AS BIGINT) AS conv_t,
         CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         CAST(SUM(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS BIGINT) AS conv_c
  FROM ranked GROUP BY decile
),
cum AS (
  SELECT decile, n_t, conv_t, n_c, conv_c,
         SUM(n_t) OVER w AS cn_t, SUM(conv_t) OVER w AS cconv_t,
         SUM(n_c) OVER w AS cn_c, SUM(conv_c) OVER w AS cconv_c
  FROM per
  WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
)
SELECT decile, n_t, conv_t, n_c, conv_c,
       CAST(conv_t AS DOUBLE) / CAST(NULLIF(n_t, 0) AS DOUBLE)
         - CAST(conv_c AS DOUBLE) / CAST(NULLIF(n_c, 0) AS DOUBLE)
         AS uplift,
       CAST(cconv_t AS DOUBLE)
         - CAST(cconv_c AS DOUBLE) * CAST(cn_t AS DOUBLE)
           / CAST(NULLIF(cn_c, 0) AS DOUBLE) AS qini
FROM cum
""",
)
def ab_test_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPLIFT-BY-DECILE and the Qini curve: rank users by a targeting
    score (activity), cut {QINI_DECILES} deciles with a deterministic
    tie-break, and report per-decile incremental conversion
    (treated − control rate) plus the cumulative Qini coefficient
    (incremental converters vs a scaled control) — the readout that
    decides WHO should receive a treatment, where the plain A/B
    readout only says whether it works on average
    (`mlstats_lift_gains` is the single-arm cousin).

    Integer counts throughout; two divisions per row of identical
    operands. Plan: one corpus reduce to user grain, then a
    DISTRIBUTED exact-rank decile cut (``distributed_ntile`` — range
    partitions + local row numbers + broadcast offsets, no
    single-partition sort of the user frame even at 100 TB), a
    {QINI_DECILES}-row aggregate, and cumsums over those rows. The
    cut is bitwise the global NTILE: (activity DESC, user_id) is a
    total order and the two-pass rank is exact."""
    e = load(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max(
            F.when(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) <= "7",
                "A",
            ).otherwise("B")
        ).alias("variant"),
        F.count(F.lit(1)).cast("bigint").alias("activity"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("converted"),
    )
    from pyspark.sql import Window as W

    from .evalmetrics import distributed_ntile

    ranked = distributed_ntile(
        users, QINI_DECILES, [F.desc("activity"), "user_id"]
    ).withColumnRenamed("tile", "decile")
    is_t = F.col("variant") == "B"
    per = ranked.groupBy("decile").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("bigint").alias("n_t"),
        F.sum(F.when(is_t, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_t"),
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("bigint").alias("n_c"),
        F.sum(F.when(~is_t, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_c"),
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = per.select(
        "decile",
        "n_t",
        "conv_t",
        "n_c",
        "conv_c",
        F.sum("n_t").over(w).alias("cn_t"),
        F.sum("conv_t").over(w).alias("cconv_t"),
        F.sum("n_c").over(w).alias("cn_c"),
        F.sum("conv_c").over(w).alias("cconv_c"),
    )
    return cum.select(
        "decile",
        "n_t",
        "conv_t",
        "n_c",
        "conv_c",
        (
            F.col("conv_t").cast("double")
            / F.nullif(F.col("n_t"), F.lit(0)).cast("double")
            - F.col("conv_c").cast("double")
            / F.nullif(F.col("n_c"), F.lit(0)).cast("double")
        ).alias("uplift"),
        (
            F.col("cconv_t").cast("double")
            - F.col("cconv_c").cast("double")
            * F.col("cn_t").cast("double")
            / F.nullif(F.col("cn_c"), F.lit(0)).cast("double")
        ).alias("qini"),
    )


# --- difference-in-differences --------------------------------------------

DID_POST_DOM = 15  # "post" period: day-of-month > this


@register(
    "ab_test_diff_in_diff",
    tags=("experiment", "causal"),
    oracle=f"""
WITH base AS (
  SELECT {_VARIANT_SQL} AS variant,
         CAST(EXTRACT(day FROM ts) AS INTEGER) > {DID_POST_DOM} AS post,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM events
),
cells AS (
  SELECT variant, post,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s
  FROM base GROUP BY variant, post
),
wide AS (
  SELECT
    MAX(CASE WHEN variant = 'B' AND post THEN CAST(s AS DOUBLE) / (100.0 * n) END) AS t_post,
    MAX(CASE WHEN variant = 'B' AND NOT post THEN CAST(s AS DOUBLE) / (100.0 * n) END) AS t_pre,
    MAX(CASE WHEN variant = 'A' AND post THEN CAST(s AS DOUBLE) / (100.0 * n) END) AS c_post,
    MAX(CASE WHEN variant = 'A' AND NOT post THEN CAST(s AS DOUBLE) / (100.0 * n) END) AS c_pre,
    CAST(SUM(n) AS BIGINT) AS n_total
  FROM cells
)
SELECT t_pre, t_post, c_pre, c_post, n_total,
       (t_post - t_pre) - (c_post - c_pre) AS did_estimate
FROM wide
""",
)
def ab_test_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES: the treated group's pre→post change
    minus the control group's — the parallel-trends estimator that
    nets out seasonality and shared shocks a naive post-period
    comparison absorbs (variant = hash split, post = day-of-month >
    {DID_POST_DOM}). Completes the causal family: randomized readouts
    (z/t/chi²), reweighting (IPTW), targeting (Qini), aggregation
    audit (Simpson) — and now the panel-data workhorse.

    ONE conditional-aggregate pass to a 4-cell table; every mean is a
    single division of exact integer cents by an exact count, and the
    estimate combines four identical doubles in fixed expression
    order. Nothing scales but the scan."""
    e = load(spark, sf_dir, "events")
    base = e.select(
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) <= "7", "A"
        )
        .otherwise("B")
        .alias("variant"),
        (F.dayofmonth("ts") > DID_POST_DOM).alias("post"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("cents"),
    )
    cells = base.groupBy("variant", "post").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
    )
    mean = F.col("s").cast("double") / (F.lit(100.0) * F.col("n"))
    wide = cells.agg(
        F.max(
            F.when((F.col("variant") == "B") & F.col("post"), mean)
        ).alias("t_post"),
        F.max(
            F.when((F.col("variant") == "B") & ~F.col("post"), mean)
        ).alias("t_pre"),
        F.max(
            F.when((F.col("variant") == "A") & F.col("post"), mean)
        ).alias("c_post"),
        F.max(
            F.when((F.col("variant") == "A") & ~F.col("post"), mean)
        ).alias("c_pre"),
        F.sum("n").cast("bigint").alias("n_total"),
    )
    return wide.select(
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        "n_total",
        (
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre"))
        ).alias("did_estimate"),
    )


# --- experiment power analysis --------------------------------------------

POWER_Z_ALPHA = 1.959963984540054  # two-sided 5%
POWER_Z_BETA = 0.8416212335729143  # 80% power
POWER_MDE_PCT = 5  # minimum detectable effect, % of the current mean


@register(
    "ab_test_power_analysis",
    tags=("experiment", "planning"),
    oracle=f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         {sql_dsum('value')} AS s,
         {sql_dsum('value * value')} AS q
  FROM events
),
stats AS (
  SELECT n, s / CAST(n AS DOUBLE) AS mean,
         q / CAST(n AS DOUBLE)
           - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)) AS var
  FROM m
)
SELECT n AS n_observed, mean, var,
       mean * CAST({POWER_MDE_PCT} AS DOUBLE) / 100.0 AS mde_abs,
       2.0 * (CAST({POWER_Z_ALPHA} AS DOUBLE) + CAST({POWER_Z_BETA} AS DOUBLE))
           * (CAST({POWER_Z_ALPHA} AS DOUBLE) + CAST({POWER_Z_BETA} AS DOUBLE))
           * var
         / ((mean * CAST({POWER_MDE_PCT} AS DOUBLE) / 100.0)
            * (mean * CAST({POWER_MDE_PCT} AS DOUBLE) / 100.0))
         AS n_required_per_arm
FROM stats
""",
)
def ab_test_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPERIMENT POWER ANALYSIS: from the metric's observed mean and
    variance, the per-arm sample size needed to detect a
    {POWER_MDE_PCT}% lift at two-sided α = 0.05 with 80% power —
    n = 2(z_α + z_β)²σ²/δ². The planning step that runs BEFORE
    ab_test_zscore ever should: an underpowered experiment's "no
    effect" is noise, and this query prices the detection up front
    from one moment pass.

    Moments are decimal-exact; z constants enter as DOUBLE-cast
    literals (the Wilson-CI rule — bare decimal literals fold exactly
    in DuckDB and would diverge); everything downstream is identical
    IEEE arithmetic."""
    e = load(spark, sf_dir, "events")
    m = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum("value").alias("s"),
        dsum(F.col("value") * F.col("value")).alias("q"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s") / nd
    var = F.col("q") / nd - mean * mean
    zsum = F.lit(POWER_Z_ALPHA) + F.lit(POWER_Z_BETA)
    mde = mean * F.lit(float(POWER_MDE_PCT)) / 100.0
    return m.select(
        F.col("n").alias("n_observed"),
        mean.alias("mean"),
        var.alias("var"),
        mde.alias("mde_abs"),
        (F.lit(2.0) * zsum * zsum * var / (mde * mde)).alias(
            "n_required_per_arm"
        ),
    )


# --- metric-tree growth decomposition -------------------------------------


@register(
    "events_metric_tree_decomposition",
    tags=("analytics", "decomposition"),
    oracle=f"""
WITH base AS (
  SELECT CAST(EXTRACT(day FROM ts) AS INTEGER) > {DID_POST_DOM} AS post,
         user_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
         CASE WHEN event_type = 'purchase'
              THEN CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
              ELSE 0 END AS cents
  FROM events
),
per AS (
  SELECT post,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users,
         CAST(SUM(is_p) AS BIGINT) AS purchases,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM base GROUP BY post
),
wide AS (
  SELECT MAX(CASE WHEN post THEN users END) AS u1,
         MAX(CASE WHEN NOT post THEN users END) AS u0,
         MAX(CASE WHEN post THEN purchases END) AS p1,
         MAX(CASE WHEN NOT post THEN purchases END) AS p0,
         MAX(CASE WHEN post THEN cents END) AS c1,
         MAX(CASE WHEN NOT post THEN cents END) AS c0
  FROM per
)
SELECT CAST(c1 AS DOUBLE) / 100.0 AS revenue_post,
       CAST(c0 AS DOUBLE) / 100.0 AS revenue_pre,
       ln(CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE)) AS dln_revenue,
       ln(CAST(u1 AS DOUBLE) / CAST(u0 AS DOUBLE)) AS dln_users,
       ln((CAST(p1 AS DOUBLE) / CAST(u1 AS DOUBLE))
          / (CAST(p0 AS DOUBLE) / CAST(u0 AS DOUBLE))) AS dln_freq,
       ln((CAST(c1 AS DOUBLE) / CAST(p1 AS DOUBLE))
          / (CAST(c0 AS DOUBLE) / CAST(p0 AS DOUBLE))) AS dln_aov
FROM wide
""",
)
def events_metric_tree_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METRIC-TREE decomposition of revenue growth: revenue ≡ users ×
    purchases/user × revenue/purchase, so Δln(revenue) = Δln(users) +
    Δln(frequency) + Δln(AOV) EXACTLY — the north-star-metric
    factorization that tells a growth team WHICH lever moved
    (acquisition, engagement, or basket size) instead of just that
    the top line did. Periods split at day-of-month {DID_POST_DOM}
    (the ab_test_diff_in_diff convention).

    One conditional-aggregate pass to two period rows pivoted onto
    one; counts and cents are exact integers, each ln sees a ratio of
    identical doubles, and the identity Δln_users + Δln_freq +
    Δln_aov = Δln_revenue holds to float addition (test-pinned)."""
    e = load(spark, sf_dir, "events")
    base = e.select(
        (F.dayofmonth("ts") > DID_POST_DOM).alias("post"),
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
        F.when(
            F.col("event_type") == "purchase",
            (F.col("value").cast("decimal(12,2)") * 100).cast("bigint"),
        )
        .otherwise(0)
        .alias("cents"),
    )
    per = base.groupBy("post").agg(
        F.countDistinct("user_id").cast("bigint").alias("users"),
        F.sum("is_p").cast("bigint").alias("purchases"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    w = per.agg(
        F.max(F.when(F.col("post"), F.col("users"))).alias("u1"),
        F.max(F.when(~F.col("post"), F.col("users"))).alias("u0"),
        F.max(F.when(F.col("post"), F.col("purchases"))).alias("p1"),
        F.max(F.when(~F.col("post"), F.col("purchases"))).alias("p0"),
        F.max(F.when(F.col("post"), F.col("cents"))).alias("c1"),
        F.max(F.when(~F.col("post"), F.col("cents"))).alias("c0"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    return w.select(
        (d("c1") / 100.0).alias("revenue_post"),
        (d("c0") / 100.0).alias("revenue_pre"),
        F.log(d("c1") / d("c0")).alias("dln_revenue"),
        F.log(d("u1") / d("u0")).alias("dln_users"),
        F.log((d("p1") / d("u1")) / (d("p0") / d("u0"))).alias("dln_freq"),
        F.log((d("c1") / d("p1")) / (d("c0") / d("p0"))).alias("dln_aov"),
    )


# --- instrumental variables (two-stage least squares) ------------------------
#
# When treatment is self-selected (confounded), a randomized
# INSTRUMENT that shifts treatment uptake but touches the outcome only
# through treatment identifies the causal effect: with one binary
# instrument and one endogenous binary treatment, 2SLS collapses to
# the Wald ratio Cov(Z,Y)/Cov(Z,T), and the OLS slope Cov(T,Y)/Var(T)
# rides along to EXHIBIT the confounding bias the IV removes. Derived
# here over user-grain events: Z is the md5 encouragement arm, T is an
# engagement rule whose threshold Z shifts (compliers exist by
# construction) but which also depends on activity (the confounder —
# active users both engage more AND spend more), Y is total spend.
#
# Determinism: every moment is an exact BIGINT sum of integer products
# (cents x {0,1}); covariances cross-multiply as integers (n*Sxy -
# Sx*Sy) and the ONLY floating ops are the final divisions of
# identical int64s — bitwise cross-engine, partition-independent. At
# true 100 TB scale the cross-products approach int64 range; the
# docstring'd posture is widening the sums to DECIMAL(38,0), same
# plan shape.

IV_BASE_THRESHOLD = 68  # median user has ~66 events at every SF
IV_SHIFT = 6  # encouragement lowers the engagement bar: compliers exist
_IV_Z_SQL = (
    "CASE WHEN substr(md5('iv:' || CAST(user_id AS VARCHAR)), 1, 1) <= '7' "
    "THEN 1 ELSE 0 END"
)


@register(
    "ab_test_iv_2sls",
    tags=("experiment", "causal", "iv"),
    oracle=f"""
WITH users AS (
  SELECT user_id,
         {_IV_Z_SQL} AS z,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) AS y
  FROM events GROUP BY user_id
),
ut AS (
  SELECT user_id, z, y,
         CASE WHEN n_events >= {IV_BASE_THRESHOLD} - {IV_SHIFT} * z
              THEN 1 ELSE 0 END AS t
  FROM users
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(t) AS BIGINT) AS st,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(z * t) AS BIGINT) AS szt,
         CAST(SUM(z * y) AS BIGINT) AS szy,
         CAST(SUM(t * y) AS BIGINT) AS sty
  FROM ut
)
SELECT n AS n_users,
       CAST(st AS DOUBLE) / n AS treated_share,
       CAST(n * szt - sz * st AS DOUBLE)
         / CAST(n * sz - sz * sz AS DOUBLE) AS first_stage,
       CAST(n * szy - sz * sy AS DOUBLE)
         / CAST(n * szt - sz * st AS DOUBLE) / 100.0 AS iv_beta,
       CAST(n * sty - st * sy AS DOUBLE)
         / CAST(n * st - st * st AS DOUBLE) / 100.0 AS ols_beta,
       CAST(n * sty - st * sy AS DOUBLE)
         / CAST(n * st - st * st AS DOUBLE) / 100.0
         - CAST(n * szy - sz * sy AS DOUBLE)
         / CAST(n * szt - sz * st AS DOUBLE) / 100.0 AS ols_bias
FROM m
""",
)
def ab_test_iv_2sls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variables effect of 'engagement' on spend via the
    md5 encouragement arm: first stage Cov(Z,T)/Var(Z) (complier
    share), Wald/2SLS slope Cov(Z,Y)/Cov(Z,T), naive OLS slope
    Cov(T,Y)/Var(T), and their gap (the confounding bias — activity
    drives both T and Y by construction, so OLS over-credits). One
    user-grain aggregate then one 1-row moment aggregate; every moment
    an exact BIGINT, divisions only in the final projection (bitwise
    cross-engine)."""
    ev = load(spark, sf_dir, "events")
    z = F.when(
        F.substring(
            F.md5(F.concat(F.lit("iv:"), F.col("user_id").cast("string"))),
            1,
            1,
        )
        <= "7",
        F.lit(1),
    ).otherwise(F.lit(0))
    cents = (F.col("value").cast("decimal(12,2)") * 100).cast("bigint")
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("y"),
    ).select(
        "user_id",
        z.alias("z"),
        "n_events",
        "y",
    )
    ut = users.select(
        "z",
        "y",
        F.when(
            F.col("n_events")
            >= F.lit(IV_BASE_THRESHOLD) - F.lit(IV_SHIFT) * F.col("z"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("t"),
    )
    m = ut.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("sz"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("z") * F.col("t")).alias("szt"),
        F.sum(F.col("z") * F.col("y")).alias("szy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
    )
    n, sz, st = F.col("n"), F.col("sz"), F.col("st")
    sy, szt, szy, sty = F.col("sy"), F.col("szt"), F.col("szy"), F.col("sty")
    iv = (n * szy - sz * sy).cast("double") / (n * szt - sz * st).cast(
        "double"
    ) / F.lit(100.0)
    ols = (n * sty - st * sy).cast("double") / (n * st - st * st).cast(
        "double"
    ) / F.lit(100.0)
    return m.select(
        n.cast("bigint").alias("n_users"),
        (st.cast("double") / n).alias("treated_share"),
        (
            (n * szt - sz * st).cast("double")
            / (n * sz - sz * sz).cast("double")
        ).alias("first_stage"),
        iv.alias("iv_beta"),
        ols.alias("ols_beta"),
        (ols - iv).alias("ols_bias"),
    )
