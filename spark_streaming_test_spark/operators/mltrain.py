"""Distributed model TRAINING on the engine — full-batch gradient
descent for logistic regression, the missing member of the ML family
(`mlstats.py` evaluates models; `llm/features.py` builds features; this
trains one).

Generalizes the reference's aggregate-then-decide loop (sum-by-key →
threshold routing, ``MainApp.java:38-49``) to the statistical version:
each iteration is ONE aggregation over the data (the gradient — a
sufficient statistic), followed by an O(1) driver-side update of a
kilobyte parameter vector. That is exactly the shape that scales:
at 100 TB an iteration is a map-side-combined scan producing
``n_features`` decimal partials per task, the shuffle carries only
partials, and the driver never sees data — only gradients (the same
scalar-collect pattern as the reference's limits lookup).

Determinism, cross-engine: gradients pass through the fixed-point
decimal sum (`functions/deterministic.py`), so partial order can't
perturb them; sigmoid/log inputs are bitwise-identical doubles on both
engines (literal weights, identical feature arithmetic), and every
weight update is the same IEEE expression ``w - lr*(G/n)``. The DuckDB
oracle unrolls the fixed iteration count into MATERIALIZED CTE pairs
(gradient, update) — the same technique as the Lloyd k-means oracle in
``llm/clustering.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..functions.deterministic import dsum, sql_dsum
from ..iterate import iterate, materialize
from ..registry import register

LR_ITERS = 3
LR_RATE = 0.5
LR_LABEL = "purchase"  # y = 1 for this event type

# Features: intercept, scaled value, scaled hour-of-day.
_SQL_FEAT = f"""
  SELECT CASE WHEN event_type = '{LR_LABEL}' THEN 1.0 ELSE 0.0 END AS y,
         value / 100.0 AS x1,
         CAST(EXTRACT(hour FROM ts) AS DOUBLE) / 24.0 AS x2
  FROM events
"""


def _sql_logreg_oracle() -> str:
    """Unrolled gradient-descent twin: g{i} aggregates the gradient and
    loss at the weights of it{i-1}; it{i} applies the update."""
    parts = [f"feat AS MATERIALIZED ({_SQL_FEAT})"]
    parts.append("it0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2)")
    for i in range(1, LR_ITERS + 1):
        parts.append(f"""g{i} AS MATERIALIZED (
  SELECT {sql_dsum('(p - y) * 1.0')} AS G0,
         {sql_dsum('(p - y) * x1')} AS G1,
         {sql_dsum('(p - y) * x2')} AS G2,
         {sql_dsum('-(y * ln(p) + (1.0 - y) * ln(1.0 - p))')} AS L,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM (
    SELECT f.y, f.x1, f.x2,
           1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2))) AS p
    FROM feat f CROSS JOIN it{i - 1} w
  ) s
)""")
        parts.append(f"""it{i} AS (
  SELECT w.w0 - {LR_RATE} * (g.G0 / g.n) AS w0,
         w.w1 - {LR_RATE} * (g.G1 / g.n) AS w1,
         w.w2 - {LR_RATE} * (g.G2 / g.n) AS w2,
         g.L / g.n AS loss
  FROM it{i - 1} w CROSS JOIN g{i} g
)""")
    body = ",\n".join(parts)
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS iter, loss, w0, w1, w2 FROM it{i}"
        for i in range(1, LR_ITERS + 1)
    )
    return f"WITH {body}\n{selects}"


@register(
    "ml_logreg_train_gd",
    tags=("ml", "training", "iterative"),
    oracle=_sql_logreg_oracle(),
)
def ml_logreg_train_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch gradient descent for logistic regression
    (y = [event is '{LR_LABEL}'], features = intercept, value/100,
    hour/24), {LR_ITERS} iterations at rate {LR_RATE}.

    Per iteration: ONE distributed aggregation produces the 3-component
    gradient and the mean log-loss (decimal-exact partial sums; the
    shuffle carries O(features x tasks) partials, never rows); the
    weight update runs driver-side on the kilobyte parameter vector.
    Output: (iter, loss_before_update, post-update weights) per
    iteration — the training curve itself, so convergence is part of
    the verified result."""
    # spread + one materialization (optimization r14, guide §2.5/§5 —
    # the single-task sweep): the single-file scan fused each
    # iteration's partial aggregate onto one core, and every iteration
    # re-read the parquet; now LR_ITERS iterations scan one
    # slot-parallel checkpointed frame.
    # The checkpoint is corpus-sized on purpose: full-batch gradient
    # descent reads every row in every iteration, so the iterative
    # state IS the projected events (3 doubles per row, ~2.4 MB raw
    # per 100k events), and a cap would change the gradient. Its
    # lifetime is this query: no cross-query cache holds the frame, so
    # a harness reset_query_state releases its blocks and the next
    # call checkpoints afresh. Executor-loss tradeoff (as in graph's
    # _edge_index): a block lost with its executor fails the query
    # instead of recomputing from the parquet; the retry rebuilds it.
    feat = materialize(
        spread(load(spark, sf_dir, "events"))
        .select(
            F.when(F.col("event_type") == LR_LABEL, 1.0)
            .otherwise(0.0)
            .alias("y"),
            (F.col("value") / 100.0).alias("x1"),
            (F.hour("ts").cast("double") / 24.0).alias("x2"),
        )
    )
    w = [0.0, 0.0, 0.0]
    out = []
    for it in range(1, LR_ITERS + 1):
        z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        p = 1.0 / (1.0 + F.exp(-z))
        stats = feat.select(
            "y", "x1", "x2", p.alias("p")
        ).agg(
            dsum((F.col("p") - F.col("y")) * 1.0).alias("G0"),
            dsum((F.col("p") - F.col("y")) * F.col("x1")).alias("G1"),
            dsum((F.col("p") - F.col("y")) * F.col("x2")).alias("G2"),
            dsum(
                -(
                    F.col("y") * F.log("p")
                    + (1.0 - F.col("y")) * F.log(1.0 - F.col("p"))
                )
            ).alias("L"),
            F.count(F.lit(1)).cast("double").alias("n"),
        ).collect()[0]
        n = stats["n"]
        loss = stats["L"] / n
        w = [
            w[0] - LR_RATE * (stats["G0"] / n),
            w[1] - LR_RATE * (stats["G1"] / n),
            w[2] - LR_RATE * (stats["G2"] / n),
        ]
        out.append((it, loss, w[0], w[1], w[2]))
    return spark.createDataFrame(
        out, "iter int, loss double, w0 double, w1 double, w2 double"
    )


# --- multinomial Naive Bayes text classifier -------------------------------

NB_TEST_CEIL = "2"  # md5(doc_id) first hex <= this => test split (~3/16)


def _sql_nb_oracle() -> str:
    return f"""
WITH split AS MATERIALIZED (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS toks,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
  FROM documents
),
train AS (SELECT * FROM split WHERE h > '{NB_TEST_CEIL}'),
test  AS (SELECT * FROM split WHERE h <= '{NB_TEST_CEIL}'),
train_tok AS MATERIALIZED (SELECT lang, unnest(toks) AS token FROM train),
class_tot AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS ct
              FROM train_tok GROUP BY lang),
vocab AS MATERIALIZED (SELECT DISTINCT token FROM train_tok),
vsize AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM vocab),
counts AS (SELECT lang, token, CAST(COUNT(*) AS DOUBLE) AS c
           FROM train_tok GROUP BY lang, token),
ntrain AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM train),
priors AS (
  SELECT lang, ln(CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM ntrain)) AS logprior
  FROM train GROUP BY lang
),
logp AS MATERIALIZED (
  SELECT ct.lang, vb.token,
         ln((COALESCE(c.c, 0.0) + 1.0) / (ct.ct + (SELECT v FROM vsize))) AS lp
  FROM vocab vb CROSS JOIN class_tot ct
  LEFT JOIN counts c ON c.lang = ct.lang AND c.token = vb.token
),
test_tok AS (SELECT doc_id, lang AS true_lang, unnest(toks) AS token FROM test),
doc_scores AS (
  SELECT tt.doc_id, tt.true_lang, lp.lang AS cand_lang,
         {sql_dsum('lp.lp')} AS token_ll
  FROM test_tok tt JOIN logp lp ON lp.token = tt.token
  GROUP BY tt.doc_id, tt.true_lang, lp.lang
),
pred AS (
  SELECT doc_id, true_lang, cand_lang AS pred_lang FROM (
    SELECT doc_id, true_lang, cand_lang,
           ROW_NUMBER() OVER (
             PARTITION BY doc_id
             ORDER BY token_ll + p.logprior DESC, cand_lang) AS rn
    FROM doc_scores ds JOIN priors p ON p.lang = ds.cand_lang
  ) r WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY true_lang, pred_lang
"""


@register(
    "ml_nb_train_score",
    tags=("ml", "training", "text", "classifier"),
    oracle=_sql_nb_oracle(),
)
def ml_nb_train_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and scored
    inside the engine: hash-deterministic train/test split (md5 prefix
    — replayable on any partitioning), Laplace-smoothed per-class token
    log-likelihoods from ONE training aggregation, arg-max scoring of
    the held-out split, confusion-matrix output.

    Scale shape: training is a (class, token) hash aggregate (shuffle =
    distinct postings); the smoothed log-prob GRID materializes as
    vocab x classes rows — classes are few, so the grid is a few times
    the vocab and joins to test tokens on the token equi-key; scoring
    shuffles one (doc, class) partial per pair. Nothing is ever
    per-pair-of-docs, and no state leaves the cluster. Per-doc
    log-likelihoods go through decimal sums so the arg-max compares
    identical doubles on both engines (ties break alphabetically)."""
    d = spread(load(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        F.split(F.lower("text"), " ").alias("toks"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("h"),
    )
    train = d.filter(F.col("h") > NB_TEST_CEIL)
    test = d.filter(F.col("h") <= NB_TEST_CEIL)
    train_tok = train.select(
        "lang", F.explode_outer("toks").alias("token")
    ).filter(F.col("token").isNotNull())
    class_tot = train_tok.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("ct")
    )
    vocab = train_tok.select("token").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("double").alias("v"))
    counts = train_tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    ntrain = train.agg(F.count(F.lit(1)).cast("double").alias("n"))
    priors = (
        train.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("double").alias("nc"))
        .crossJoin(F.broadcast(ntrain))
        .select("lang", F.log(F.col("nc") / F.col("n")).alias("logprior"))
    )
    logp = (
        vocab.crossJoin(F.broadcast(class_tot))
        .join(counts, ["lang", "token"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "lang",
            "token",
            F.log(
                (F.coalesce("c", F.lit(0.0)) + 1.0) / (F.col("ct") + F.col("v"))
            ).alias("lp"),
        )
    )
    test_tok = test.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode_outer("toks").alias("token"),
    ).filter(F.col("token").isNotNull())
    doc_scores = (
        test_tok.join(logp, "token")
        .groupBy("doc_id", "true_lang", F.col("lang").alias("cand_lang"))
        .agg(dsum("lp").alias("token_ll"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        (F.col("token_ll") + F.col("logprior")).desc(), "cand_lang"
    )
    pred = (
        doc_scores.join(
            F.broadcast(priors.withColumnRenamed("lang", "cand_lang")),
            "cand_lang",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return pred.groupBy("true_lang", F.col("cand_lang").alias("pred_lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --- decision stump (best single split by Gini gain) ------------------------


@register(
    "ml_decision_stump",
    tags=("ml", "training", "tree"),
    oracle=f"""
WITH feat AS MATERIALIZED (
  SELECT f.feature, f.x,
         CASE WHEN event_type = '{LR_LABEL}' THEN 1 ELSE 0 END AS y
  FROM events,
  LATERAL (SELECT * FROM (VALUES
     ('value', value),
     ('hour', CAST(EXTRACT(hour FROM ts) AS DOUBLE))) AS t(feature, x)) f
),
grp AS (
  SELECT feature, x, COUNT(*) AS cnt, SUM(y) AS pos
  FROM feat GROUP BY feature, x
),
cum AS (
  SELECT feature, x,
         SUM(cnt) OVER w AS nl, SUM(pos) OVER w AS pl,
         SUM(cnt) OVER t AS n,  SUM(pos) OVER t AS p
  FROM grp
  WINDOW w AS (PARTITION BY feature ORDER BY x ROWS UNBOUNDED PRECEDING),
         t AS (PARTITION BY feature)
),
scored AS (
  SELECT feature, x AS threshold,
         CAST(nl AS BIGINT) AS n_left, CAST(n - nl AS BIGINT) AS n_right,
         (1.0 - (CAST(p AS DOUBLE)/n)*(CAST(p AS DOUBLE)/n)
              - (CAST(n - p AS DOUBLE)/n)*(CAST(n - p AS DOUBLE)/n))
         - ((CAST(nl AS DOUBLE)/n) *
            (1.0 - (CAST(pl AS DOUBLE)/nl)*(CAST(pl AS DOUBLE)/nl)
                 - (CAST(nl - pl AS DOUBLE)/nl)*(CAST(nl - pl AS DOUBLE)/nl))
          + (CAST(n - nl AS DOUBLE)/n) *
            (1.0 - (CAST(p - pl AS DOUBLE)/(n - nl))*(CAST(p - pl AS DOUBLE)/(n - nl))
                 - (CAST((n - nl) - (p - pl) AS DOUBLE)/(n - nl))
                   *(CAST((n - nl) - (p - pl) AS DOUBLE)/(n - nl)))) AS gain
  FROM cum WHERE n - nl > 0
)
SELECT feature, threshold, gain, n_left, n_right FROM (
  SELECT feature, threshold, gain, n_left, n_right,
         ROW_NUMBER() OVER (PARTITION BY feature
                            ORDER BY gain DESC, threshold) AS rn
  FROM scored
) r WHERE rn = 1
""",
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump training: for each feature, the threshold
    maximizing Gini impurity gain for the '{LR_LABEL}' label — the
    split-finding primitive inside every tree/GBDT trainer, run as
    plain relational algebra: per-feature value histogram (one hash
    aggregate), CUMULATIVE class counts over the sorted distinct
    values (one window pass — every candidate threshold is scored
    from the same cumsum, not rescanned), arg-max per feature.

    Scale shape: the candidate set is DISTINCT feature values, so the
    sort is per-feature on the histogram, never on raw rows; real GBDT
    trainers quantize to ~256 bins first, which here would just be a
    width_bucket on x before the same plan. Gain arithmetic is pure
    ratios of exact int64 counts — bitwise identical cross-engine with
    ties broken toward the smaller threshold."""
    ev = load(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == LR_LABEL, 1).otherwise(0).alias("y"),
        F.col("value"),
        F.hour("ts").cast("double").alias("hour"),
    )
    feat = ev.select(
        "y",
        F.explode(
            F.create_map(
                F.lit("value"), F.col("value"), F.lit("hour"), F.col("hour")
            )
        ).alias("feature", "x"),
    )
    grp = feat.groupBy("feature", "x").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("feature")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = Window.partitionBy("feature")
    cum = grp.select(
        "feature",
        "x",
        F.sum("cnt").over(w).alias("nl"),
        F.sum("pos").over(w).alias("pl"),
        F.sum("cnt").over(t).alias("n"),
        F.sum("pos").over(t).alias("p"),
    ).filter((F.col("n") - F.col("nl")) > 0)
    d = lambda c: c.cast("double")  # noqa: E731
    n, p, nl, pl = F.col("n"), F.col("p"), F.col("nl"), F.col("pl")
    nr, pr_ = n - nl, p - pl
    parent = 1.0 - (d(p) / n) * (d(p) / n) - (d(n - p) / n) * (d(n - p) / n)
    gini_l = (
        1.0 - (d(pl) / nl) * (d(pl) / nl) - (d(nl - pl) / nl) * (d(nl - pl) / nl)
    )
    gini_r = (
        1.0 - (d(pr_) / nr) * (d(pr_) / nr) - (d(nr - pr_) / nr) * (d(nr - pr_) / nr)
    )
    gain = parent - ((d(nl) / n) * gini_l + (d(nr) / n) * gini_r)
    scored = cum.select(
        "feature",
        F.col("x").alias("threshold"),
        nl.cast("bigint").alias("n_left"),
        nr.cast("bigint").alias("n_right"),
        gain.alias("gain"),
    )
    wr = Window.partitionBy("feature").orderBy(F.desc("gain"), "threshold")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("feature", "threshold", "gain", "n_left", "n_right")
    )


# --- closed-form OLS (normal equations, 2 features + intercept) -------------

_OLS_MOMS = """
         CAST(COUNT(*) AS DOUBLE) AS n,
         {sx1} AS sx1, {sx2} AS sx2, {sy} AS sy,
         {sx1x1} AS sx1x1, {sx1x2} AS sx1x2, {sx2x2} AS sx2x2,
         {sx1y} AS sx1y, {sx2y} AS sx2y, {syy} AS syy
"""


def _sql_ols_oracle() -> str:
    m = _OLS_MOMS.format(
        sx1=sql_dsum("x1"), sx2=sql_dsum("x2"), sy=sql_dsum("y"),
        sx1x1=sql_dsum("x1*x1"), sx1x2=sql_dsum("x1*x2"),
        sx2x2=sql_dsum("x2*x2"), sx1y=sql_dsum("x1*y"),
        sx2y=sql_dsum("x2*y"), syy=sql_dsum("y*y"),
    )
    return f"""
WITH feat AS MATERIALIZED (
  SELECT value AS y,
         CAST(EXTRACT(hour FROM ts) AS DOUBLE) / 24.0 AS x1,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS x2
  FROM events
),
m AS MATERIALIZED (SELECT {m} FROM feat),
solved AS (
  SELECT n, sy, syy,
         -- Cramer's rule on the 3x3 normal matrix [[n,sx1,sx2],[sx1,sx1x1,sx1x2],[sx2,sx1x2,sx2x2]]
         (n*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1*sx2x2 - sx1x2*sx2)
            + sx2*(sx1*sx1x2 - sx1x1*sx2)) AS det,
         (sy*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1y*sx2x2 - sx1x2*sx2y)
            + sx2*(sx1y*sx1x2 - sx1x1*sx2y)) AS det0,
         (n*(sx1y*sx2x2 - sx1x2*sx2y) - sy*(sx1*sx2x2 - sx1x2*sx2)
            + sx2*(sx1*sx2y - sx1y*sx2)) AS det1,
         (n*(sx1x1*sx2y - sx1y*sx1x2) - sx1*(sx1*sx2y - sx1y*sx2)
            + sy*(sx1*sx1x2 - sx1x1*sx2)) AS det2
  FROM m
)
SELECT det0/det AS b0, det1/det AS b1, det2/det AS b2,
       CAST(n AS BIGINT) AS n_rows
FROM solved
"""


@register(
    "ml_linreg_normal_eq",
    tags=("ml", "training", "regression"),
    oracle=_sql_ols_oracle(),
)
def ml_linreg_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form multiple linear regression (value ~ hour/24 +
    is_purchase) via the NORMAL EQUATIONS: one aggregation computes the
    ten sufficient moments (decimal-exact sums — the shuffle carries
    O(moments x tasks) partials), then the 3x3 system solves by
    Cramer's rule as scalar arithmetic on the single moment row. The
    closed-form counterpart of ml_logreg_train_gd: no iterations, one
    pass, and the training cost at 100 TB is exactly one map-side-
    combined scan regardless of rows. Determinants expand in the SAME
    literal order on both engines, so every coefficient is an IEEE
    expression over identical doubles."""
    feat = spread(load(spark, sf_dir, "events")).select(
        F.col("value").alias("y"),
        (F.hour("ts").cast("double") / 24.0).alias("x1"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("x2"),
    )
    c = F.col
    m = feat.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x1").alias("sx1"), dsum("x2").alias("sx2"), dsum("y").alias("sy"),
        dsum(c("x1") * c("x1")).alias("sx1x1"),
        dsum(c("x1") * c("x2")).alias("sx1x2"),
        dsum(c("x2") * c("x2")).alias("sx2x2"),
        dsum(c("x1") * c("y")).alias("sx1y"),
        dsum(c("x2") * c("y")).alias("sx2y"),
        dsum(c("y") * c("y")).alias("syy"),
    )
    n, sx1, sx2, sy = c("n"), c("sx1"), c("sx2"), c("sy")
    sx1x1, sx1x2, sx2x2 = c("sx1x1"), c("sx1x2"), c("sx2x2")
    sx1y, sx2y = c("sx1y"), c("sx2y")
    det = (
        n * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
        - sx1 * (sx1 * sx2x2 - sx1x2 * sx2)
        + sx2 * (sx1 * sx1x2 - sx1x1 * sx2)
    )
    det0 = (
        sy * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
        - sx1 * (sx1y * sx2x2 - sx1x2 * sx2y)
        + sx2 * (sx1y * sx1x2 - sx1x1 * sx2y)
    )
    det1 = (
        n * (sx1y * sx2x2 - sx1x2 * sx2y)
        - sy * (sx1 * sx2x2 - sx1x2 * sx2)
        + sx2 * (sx1 * sx2y - sx1y * sx2)
    )
    det2 = (
        n * (sx1x1 * sx2y - sx1y * sx1x2)
        - sx1 * (sx1 * sx2y - sx1y * sx2)
        + sy * (sx1 * sx1x2 - sx1x1 * sx2)
    )
    return m.select(
        (det0 / det).alias("b0"),
        (det1 / det).alias("b1"),
        (det2 / det).alias("b2"),
        n.cast("bigint").alias("n_rows"),
    )


# --- ridge regularization path from ONE moment pass -------------------------

RIDGE_LAMBDAS = (0.0, 0.1, 1.0)  # relative strengths; scaled by n


def _sql_ridge_oracle() -> str:
    m = _OLS_MOMS.format(
        sx1=sql_dsum("x1"), sx2=sql_dsum("x2"), sy=sql_dsum("y"),
        sx1x1=sql_dsum("x1*x1"), sx1x2=sql_dsum("x1*x2"),
        sx2x2=sql_dsum("x2*x2"), sx1y=sql_dsum("x1*y"),
        sx2y=sql_dsum("x2*y"), syy=sql_dsum("y*y"),
    )
    lam_rows = " UNION ALL ".join(
        f"SELECT CAST({l} AS DOUBLE) AS lam" for l in RIDGE_LAMBDAS
    )
    return f"""
WITH feat AS MATERIALIZED (
  SELECT value AS y,
         CAST(EXTRACT(hour FROM ts) AS DOUBLE) / 24.0 AS x1,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS x2
  FROM events
),
m AS MATERIALIZED (SELECT {m} FROM feat),
lams AS ({lam_rows}),
aug AS (
  SELECT l.lam, m.n, m.sx1, m.sx2, m.sy, m.sx1y, m.sx2y, m.sx1x2,
         m.sx1x1 + l.lam * m.n AS a11,
         m.sx2x2 + l.lam * m.n AS a22
  FROM m CROSS JOIN lams l
)
SELECT lam AS lambda_rel,
       (sy*(a11*a22 - sx1x2*sx1x2) - sx1*(sx1y*a22 - sx1x2*sx2y)
          + sx2*(sx1y*sx1x2 - a11*sx2y))
       / (n*(a11*a22 - sx1x2*sx1x2) - sx1*(sx1*a22 - sx1x2*sx2)
          + sx2*(sx1*sx1x2 - a11*sx2)) AS b0,
       (n*(sx1y*a22 - sx1x2*sx2y) - sy*(sx1*a22 - sx1x2*sx2)
          + sx2*(sx1*sx2y - sx1y*sx2))
       / (n*(a11*a22 - sx1x2*sx1x2) - sx1*(sx1*a22 - sx1x2*sx2)
          + sx2*(sx1*sx1x2 - a11*sx2)) AS b1,
       (n*(a11*sx2y - sx1y*sx1x2) - sx1*(sx1*sx2y - sx1y*sx2)
          + sy*(sx1*sx1x2 - a11*sx2))
       / (n*(a11*a22 - sx1x2*sx1x2) - sx1*(sx1*a22 - sx1x2*sx2)
          + sx2*(sx1*sx1x2 - a11*sx2)) AS b2,
       CAST(n AS BIGINT) AS n_rows
FROM aug
"""


@register(
    "ml_ridge_path",
    tags=("ml", "training", "regression"),
    oracle=_sql_ridge_oracle(),
)
def ml_ridge_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RIDGE REGULARIZATION PATH (λ_rel ∈ {RIDGE_LAMBDAS}) from the
    SAME single moment pass as `ml_linreg_normal_eq`: (X'X + λnI')β =
    X'y with the intercept unpenalized (λ adds only to the x1/x2
    diagonal) and λ scaled by n so the path is invariant to corpus
    size. THE scale story of closed-form training: the data is scanned
    ONCE for ten moments; every additional λ costs one more row of
    O(1) scalar arithmetic — a 100-point path at 100 TB still costs
    one scan. Cramer determinants expand in the same literal order on
    both engines over identical doubles."""
    feat = spread(load(spark, sf_dir, "events")).select(
        F.col("value").alias("y"),
        (F.hour("ts").cast("double") / 24.0).alias("x1"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("x2"),
    )
    c = F.col
    m = feat.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x1").alias("sx1"), dsum("x2").alias("sx2"), dsum("y").alias("sy"),
        dsum(c("x1") * c("x1")).alias("sx1x1"),
        dsum(c("x1") * c("x2")).alias("sx1x2"),
        dsum(c("x2") * c("x2")).alias("sx2x2"),
        dsum(c("x1") * c("y")).alias("sx1y"),
        dsum(c("x2") * c("y")).alias("sx2y"),
    )
    lams = spark.createDataFrame(
        [(float(l),) for l in RIDGE_LAMBDAS], "lam double"
    )
    aug = m.crossJoin(F.broadcast(lams)).select(
        "lam", "n", "sx1", "sx2", "sy", "sx1y", "sx2y", "sx1x2",
        (c("sx1x1") + c("lam") * c("n")).alias("a11"),
        (c("sx2x2") + c("lam") * c("n")).alias("a22"),
    )
    n, sx1, sx2, sy = c("n"), c("sx1"), c("sx2"), c("sy")
    a11, a22, sx1x2 = c("a11"), c("a22"), c("sx1x2")
    sx1y, sx2y = c("sx1y"), c("sx2y")
    det = (
        n * (a11 * a22 - sx1x2 * sx1x2)
        - sx1 * (sx1 * a22 - sx1x2 * sx2)
        + sx2 * (sx1 * sx1x2 - a11 * sx2)
    )
    det0 = (
        sy * (a11 * a22 - sx1x2 * sx1x2)
        - sx1 * (sx1y * a22 - sx1x2 * sx2y)
        + sx2 * (sx1y * sx1x2 - a11 * sx2y)
    )
    det1 = (
        n * (sx1y * a22 - sx1x2 * sx2y)
        - sy * (sx1 * a22 - sx1x2 * sx2)
        + sx2 * (sx1 * sx2y - sx1y * sx2)
    )
    det2 = (
        n * (a11 * sx2y - sx1y * sx1x2)
        - sx1 * (sx1 * sx2y - sx1y * sx2)
        + sy * (sx1 * sx1x2 - a11 * sx2)
    )
    return aug.select(
        c("lam").alias("lambda_rel"),
        (det0 / det).alias("b0"),
        (det1 / det).alias("b1"),
        (det2 / det).alias("b2"),
        n.cast("bigint").alias("n_rows"),
    )


# --- two-round gradient-boosted regression stumps (fixed-point) -----------

GBRT_ROUNDS = 2


def _sql_gbrt_round(i: int, resid: str) -> str:
    """One unrolled boosting round: per-(feature, value) integer
    moments, threshold cumsums, gain argmax, and the residual update
    (integer-cent leaf values, learning rate 1/2 as integer halving)."""
    return f"""
m{i} AS MATERIALIZED (
  SELECT feat, x, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS s
  FROM (
    SELECT 'hour' AS feat, f1 AS x, {resid} AS r FROM ev{i - 1}
    UNION ALL
    SELECT 'dow' AS feat, f2 AS x, {resid} AS r FROM ev{i - 1}
  ) long
  GROUP BY feat, x
),
c{i} AS (
  SELECT feat, x,
         SUM(n) OVER w AS nl, SUM(s) OVER w AS sl,
         SUM(n) OVER p AS nt, SUM(s) OVER p AS st
  FROM m{i}
  WINDOW w AS (PARTITION BY feat ORDER BY x ROWS UNBOUNDED PRECEDING),
         p AS (PARTITION BY feat)
),
g{i} AS (
  SELECT feat, x AS threshold, nl, nt - nl AS nr, sl, st - sl AS sr,
         CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
           + CAST(st - sl AS DOUBLE) * CAST(st - sl AS DOUBLE)
             / CAST(nt - nl AS DOUBLE) AS gain
  FROM c{i} WHERE nt - nl > 0
),
b{i} AS (
  SELECT feat, threshold,
         CAST(nl AS BIGINT) AS nl, CAST(nr AS BIGINT) AS nr,
         CAST(sl // nl AS BIGINT) AS vl, CAST(sr // nr AS BIGINT) AS vr,
         gain
  FROM g{i}
  ORDER BY gain DESC, feat, threshold LIMIT 1
),
ev{i} AS MATERIALIZED (
  SELECT e.f1, e.f2,
         e.r - ((CASE WHEN (b.feat = 'hour' AND e.f1 <= b.threshold)
                        OR (b.feat = 'dow' AND e.f2 <= b.threshold)
                      THEN b.vl ELSE b.vr END) // 2) AS r
  FROM (SELECT f1, f2, {resid} AS r FROM ev{i - 1}) e CROSS JOIN b{i} b
)"""


def _sql_gbrt_oracle() -> str:
    base = """
ev_raw AS MATERIALIZED (
  SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS f1,
         CAST(EXTRACT(dow FROM ts) AS BIGINT) + 1 AS f2,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS y
  FROM events
),
f0 AS (SELECT CAST(SUM(y) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS f0 FROM ev_raw),
ev0 AS MATERIALIZED (
  SELECT e.f1, e.f2, e.y - f.f0 AS r FROM ev_raw e CROSS JOIN f0 f
)"""
    rounds = "".join(
        "," + _sql_gbrt_round(i, "r") for i in range(1, GBRT_ROUNDS + 1)
    )
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS round, feat AS feature, threshold, nl AS n_left, "
        f"nr AS n_right, vl AS leaf_left_cents, vr AS leaf_right_cents, gain "
        f"FROM b{i}"
        for i in range(1, GBRT_ROUNDS + 1)
    )
    return f"WITH {base}{rounds}\n{selects}"


@register(
    "ml_gbrt_boost2",
    tags=("ml", "training", "boosting", "iterative"),
    oracle=_sql_gbrt_oracle(),
)
def ml_gbrt_boost2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXED-POINT gradient-boosted regression stumps ({GBRT_ROUNDS}
    rounds, squared loss, learning rate 1/2): predict event value
    (cents) from hour-of-day and weekday. Round k fits the best
    threshold split on the current residuals — maximizing
    S_l²/n_l + S_r²/n_r, the SSE-reduction identity — then subtracts
    half the leaf mean. The residual stream stays INTEGER CENTS the
    whole way (base prediction and leaf values take TRUNCATING integer
    division — Spark `div` and DuckDB `//` both truncate toward zero,
    verified on negative residual sums; halving is the same truncating
    `div 2`), so both the model AND
    every intermediate residual are bitwise-deterministic on any
    partitioning — the boosting extension of `ml_decision_stump`, and
    the same "quantize the model, not the data" trade embedded
    inference systems make.

    Plan per round: the corpus reduces to per-(feature, value) integer
    moments (map-side combine; the value domains are 24 + 7 points, so
    the split-search frame is constant-size); gain cumsums and the
    argmax run on that tiny frame; the 1-row stump broadcasts back for
    the residual projection. {GBRT_ROUNDS} rounds = {GBRT_ROUNDS}
    corpus aggregates + {GBRT_ROUNDS} projections — no iteration ever
    shuffles rows."""
    e = load(spark, sf_dir, "events")
    ev = e.select(
        F.hour("ts").cast("bigint").alias("f1"),
        F.dayofweek("ts").cast("bigint").alias("f2"),
        (F.col("value").cast("decimal(12,2)") * 100).cast("bigint").alias("y"),
    )
    f0 = ev.agg(
        F.expr("sum(y) div count(*)").cast("bigint").alias("f0")
    )
    cur = ev.crossJoin(F.broadcast(f0)).select(
        "f1", "f2", (F.col("y") - F.col("f0")).alias("r")
    )
    out = []

    def _boost_step(cur: DataFrame, i0: int) -> DataFrame:
        i = i0 + 1
        long = cur.select(
            F.lit("hour").alias("feat"), F.col("f1").alias("x"), "r"
        ).unionAll(
            cur.select(F.lit("dow").alias("feat"), F.col("f2").alias("x"), "r")
        )
        m = long.groupBy("feat", "x").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("r").cast("bigint").alias("s"),
        )
        wc = Window.partitionBy("feat").orderBy("x").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        wp = Window.partitionBy("feat")
        c = m.select(
            "feat",
            "x",
            F.sum("n").over(wc).alias("nl"),
            F.sum("s").over(wc).alias("sl"),
            F.sum("n").over(wp).alias("nt"),
            F.sum("s").over(wp).alias("st"),
        )
        d = lambda col: F.col(col).cast("double")  # noqa: E731
        g = c.filter((F.col("nt") - F.col("nl")) > 0).select(
            "feat",
            F.col("x").alias("threshold"),
            "nl",
            (F.col("nt") - F.col("nl")).alias("nr"),
            "sl",
            (F.col("st") - F.col("sl")).alias("sr"),
            (
                d("sl") * d("sl") / d("nl")
                + (d("st") - d("sl")) * (d("st") - d("sl"))
                / (d("nt") - d("nl"))
            ).alias("gain"),
        )
        wr = Window.orderBy(F.desc("gain"), "feat", "threshold")
        b = materialize(
            g.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select(
                "feat",
                "threshold",
                "nl",
                "nr",
                F.expr("sl div nl").alias("vl"),
                F.expr("sr div nr").alias("vr"),
                "gain",
            )
        )
        out.append(
            b.select(
                F.lit(i).alias("round"),
                F.col("feat").alias("feature"),
                "threshold",
                F.col("nl").alias("n_left"),
                F.col("nr").alias("n_right"),
                F.col("vl").alias("leaf_left_cents"),
                F.col("vr").alias("leaf_right_cents"),
                "gain",
            )
        )
        contrib = F.expr(
            "(CASE WHEN (feat = 'hour' AND f1 <= threshold)"
            " OR (feat = 'dow' AND f2 <= threshold)"
            " THEN vl ELSE vr END) div 2"
        )
        return cur.crossJoin(F.broadcast(b)).select(
            "f1", "f2", (F.col("r") - contrib).alias("r")
        )

    iterate(cur, _boost_step, GBRT_ROUNDS, eager=False)
    res = out[0]
    for o in out[1:]:
        res = res.unionAll(o)
    return res


# --- Platt scaling (probability recalibration) ----------------------------

PLATT_ITERS = 3
PLATT_RATE = 0.5

# The raw scorer being recalibrated: the same logistic squash the eval
# family scores with (evalmetrics._P_SQL) — x is its logit, so Platt's
# slope is exactly an inverse temperature on the original scorer.
_SQL_PLATT_FEAT = """
  SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
         (value - 150.0) / 75.0 AS x
  FROM events
"""


def _sql_platt_oracle() -> str:
    parts = [f"feat AS MATERIALIZED ({_SQL_PLATT_FEAT})"]
    parts.append(
        "it0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(1.0 AS DOUBLE) AS w1)"
    )
    for i in range(1, PLATT_ITERS + 1):
        parts.append(f"""g{i} AS MATERIALIZED (
  SELECT {sql_dsum('(p - y) * 1.0')} AS G0,
         {sql_dsum('(p - y) * x')} AS G1,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM (
    SELECT f.y, f.x,
           1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x))) AS p
    FROM feat f CROSS JOIN it{i - 1} w
  ) s
)""")
        parts.append(f"""it{i} AS (
  SELECT w.w0 - {PLATT_RATE} * (g.G0 / g.n) AS w0,
         w.w1 - {PLATT_RATE} * (g.G1 / g.n) AS w1
  FROM it{i - 1} w CROSS JOIN g{i} g
)""")
    parts.append(f"""loss AS (
  SELECT {sql_dsum('-(y * ln(p0) + (1.0 - y) * ln(1.0 - p0))')} AS l_before,
         {sql_dsum('-(y * ln(p1) + (1.0 - y) * ln(1.0 - p1))')} AS l_after,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM (
    SELECT f.y,
           1.0 / (1.0 + exp(-f.x)) AS p0,
           1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x))) AS p1
    FROM feat f CROSS JOIN it{PLATT_ITERS} w
  ) s
)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT w.w0 AS platt_b, w.w1 AS platt_a,
       l.l_before / l.n AS logloss_before,
       l.l_after / l.n AS logloss_after,
       CAST(l.n AS BIGINT) AS n_rows
FROM it{PLATT_ITERS} w CROSS JOIN loss l
"""
    )


@register(
    "ml_platt_calibration",
    tags=("ml", "training", "calibration"),
    oracle=_sql_platt_oracle(),
)
def ml_platt_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLATT SCALING: refit sigmoid(a·logit + b) over the eval
    family's pseudo-probability scorer ({PLATT_ITERS} GD iterations
    from the identity calibration a=1, b=0) and report mean log-loss
    BEFORE vs AFTER — the recalibration step between
    `mlstats_calibration_bins` (which diagnoses miscalibration) and
    deployment. Because x is the scorer's logit, a is an inverse
    temperature and b a bias correction.

    Same scale shape as every trainer here: per iteration ONE
    decimal-combined gradient aggregate; the final pass scores both
    calibrations in one scan. Identical-expression IEEE arithmetic
    end to end."""
    feat = load(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("y"),
        ((F.col("value") - 150.0) / 75.0).alias("x"),
    )
    w = [0.0, 1.0]
    for _ in range(PLATT_ITERS):
        p = 1.0 / (1.0 + F.exp(-(F.lit(w[0]) + F.lit(w[1]) * F.col("x"))))
        g = feat.select("y", "x", p.alias("p")).agg(
            dsum((F.col("p") - F.col("y")) * 1.0).alias("G0"),
            dsum((F.col("p") - F.col("y")) * F.col("x")).alias("G1"),
            F.count(F.lit(1)).cast("double").alias("n"),
        ).collect()[0]
        w = [
            w[0] - PLATT_RATE * (g["G0"] / g["n"]),
            w[1] - PLATT_RATE * (g["G1"] / g["n"]),
        ]
    p0 = 1.0 / (1.0 + F.exp(-F.col("x")))
    p1 = 1.0 / (1.0 + F.exp(-(F.lit(w[0]) + F.lit(w[1]) * F.col("x"))))
    ll = lambda pr: dsum(  # noqa: E731
        -(
            F.col("y") * F.log(pr)
            + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - pr)
        )
    )
    return feat.agg(
        F.lit(w[0]).alias("platt_b"),
        F.lit(w[1]).alias("platt_a"),
        (ll(p0) / F.count(F.lit(1)).cast("double")).alias("logloss_before"),
        (ll(p1) / F.count(F.lit(1)).cast("double")).alias("logloss_after"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


# --- split-conformal prediction intervals ---------------------------------

CONF_ALPHA_NUM, CONF_ALPHA_DEN = 1, 10  # alpha = 0.1 -> 90% target

# md5(event_id) first hex digit: 0-3 calibration, 4-7 test, 8-f train.
_SPLIT_SQL = "substr(md5(CAST(event_id AS VARCHAR)), 1, 1)"


def _sql_conformal_oracle() -> str:
    m = _OLS_MOMS.format(
        sx1=sql_dsum("x1"), sx2=sql_dsum("x2"), sy=sql_dsum("y"),
        sx1x1=sql_dsum("x1*x1"), sx1x2=sql_dsum("x1*x2"),
        sx2x2=sql_dsum("x2*x2"), sx1y=sql_dsum("x1*y"),
        sx2y=sql_dsum("x2*y"), syy=sql_dsum("y*y"),
    )
    return f"""
WITH feat AS MATERIALIZED (
  SELECT event_id, {_SPLIT_SQL} AS h,
         value AS y,
         CAST(EXTRACT(hour FROM ts) AS DOUBLE) / 24.0 AS x1,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS x2
  FROM events
),
m AS MATERIALIZED (SELECT {m} FROM feat WHERE h >= '8'),
w AS MATERIALIZED (
  SELECT (sy*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1y*sx2x2 - sx1x2*sx2y)
            + sx2*(sx1y*sx1x2 - sx1x1*sx2y))
         / (n*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1*sx2x2 - sx1x2*sx2)
            + sx2*(sx1*sx1x2 - sx1x1*sx2)) AS b0,
         (n*(sx1y*sx2x2 - sx1x2*sx2y) - sy*(sx1*sx2x2 - sx1x2*sx2)
            + sx2*(sx1*sx2y - sx1y*sx2))
         / (n*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1*sx2x2 - sx1x2*sx2)
            + sx2*(sx1*sx1x2 - sx1x1*sx2)) AS b1,
         (n*(sx1x1*sx2y - sx1y*sx1x2) - sx1*(sx1*sx2y - sx1y*sx2)
            + sy*(sx1*sx1x2 - sx1x1*sx2))
         / (n*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1*sx2x2 - sx1x2*sx2)
            + sx2*(sx1*sx1x2 - sx1x1*sx2)) AS b2,
         CAST(n AS BIGINT) AS n_train
  FROM m
),
cal AS MATERIALIZED (
  SELECT f.event_id, abs(f.y - (w.b0 + w.b1 * f.x1 + w.b2 * f.x2)) AS r
  FROM feat f CROSS JOIN w WHERE f.h <= '3'
),
ranked AS (
  SELECT r, ROW_NUMBER() OVER (ORDER BY r, event_id) AS rn,
         COUNT(*) OVER () AS n_cal
  FROM cal
),
qhat AS (
  SELECT r AS q, CAST(n_cal AS BIGINT) AS n_cal FROM ranked
  WHERE rn = LEAST(
    CAST(ceil(CAST((n_cal + 1) * {CONF_ALPHA_DEN - CONF_ALPHA_NUM} AS DOUBLE)
              / {CONF_ALPHA_DEN}) AS BIGINT),
    n_cal)
),
test AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN abs(f.y - (w.b0 + w.b1 * f.x1 + w.b2 * f.x2))
                            <= q.q THEN 1 ELSE 0 END) AS BIGINT) AS covered
  FROM feat f CROSS JOIN w CROSS JOIN qhat q
  WHERE f.h >= '4' AND f.h <= '7'
)
SELECT w.n_train, q.n_cal, t.n_test,
       q.q AS qhat,
       CAST(t.covered AS DOUBLE) / CAST(t.n_test AS DOUBLE) AS coverage,
       CAST({CONF_ALPHA_DEN - CONF_ALPHA_NUM} AS DOUBLE) / {CONF_ALPHA_DEN}
         AS target
FROM w CROSS JOIN qhat q CROSS JOIN test t
"""


@register(
    "ml_conformal_interval",
    tags=("ml", "uncertainty", "conformal"),
    oracle=_sql_conformal_oracle(),
)
def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL prediction intervals around the OLS regressor:
    train on the 50% hash split, take the ⌈(n+1)(1−α)⌉-th smallest
    absolute calibration residual as q̂ (α = 0.1), and report realized
    coverage of ŷ ± q̂ on the held-out test split — the
    distribution-free uncertainty guarantee (coverage ≥ 1−α for
    exchangeable data, REGARDLESS of model quality) that turns any
    point predictor into a calibrated interval predictor.

    Determinism: weights come off the shared decimal moment pass, so
    residuals are identical doubles; q̂ is an exact-rank selection
    with an id tie-break; coverage compares identical doubles. Scale:
    the q̂ selection runs over the CALIBRATION split — bounded by
    design in production (coverage error shrinks as 1/n_cal; ~10³
    points suffice) — and is computed DISTRIBUTED anyway
    (``distributed_row_number``: range partitions + broadcast
    offsets), so even a corpus-sized calibration split never funnels
    through a single-task sort."""
    e = load(spark, sf_dir, "events")
    feat = materialize(e.select(
        "event_id",
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1).alias("h"),
        F.col("value").alias("y"),
        (F.hour("ts").cast("double") / 24.0).alias("x1"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("x2"),
    ))
    c = F.col
    m = feat.filter(c("h") >= "8").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x1").alias("sx1"), dsum("x2").alias("sx2"), dsum("y").alias("sy"),
        dsum(c("x1") * c("x1")).alias("sx1x1"),
        dsum(c("x1") * c("x2")).alias("sx1x2"),
        dsum(c("x2") * c("x2")).alias("sx2x2"),
        dsum(c("x1") * c("y")).alias("sx1y"),
        dsum(c("x2") * c("y")).alias("sx2y"),
        dsum(c("y") * c("y")).alias("syy"),
    )
    n, sx1, sx2, sy = c("n"), c("sx1"), c("sx2"), c("sy")
    sx1x1, sx1x2, sx2x2 = c("sx1x1"), c("sx1x2"), c("sx2x2")
    sx1y, sx2y = c("sx1y"), c("sx2y")
    det = (
        n * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
        - sx1 * (sx1 * sx2x2 - sx1x2 * sx2)
        + sx2 * (sx1 * sx1x2 - sx1x1 * sx2)
    )
    det0 = (
        sy * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
        - sx1 * (sx1y * sx2x2 - sx1x2 * sx2y)
        + sx2 * (sx1y * sx1x2 - sx1x1 * sx2y)
    )
    det1 = (
        n * (sx1y * sx2x2 - sx1x2 * sx2y)
        - sy * (sx1 * sx2x2 - sx1x2 * sx2)
        + sx2 * (sx1 * sx2y - sx1y * sx2)
    )
    det2 = (
        n * (sx1x1 * sx2y - sx1y * sx1x2)
        - sx1 * (sx1 * sx2y - sx1y * sx2)
        + sy * (sx1 * sx1x2 - sx1x1 * sx2)
    )
    w = m.select(
        (det0 / det).alias("b0"),
        (det1 / det).alias("b1"),
        (det2 / det).alias("b2"),
        n.cast("bigint").alias("n_train"),
    )
    pred = c("b0") + c("b1") * c("x1") + c("b2") * c("x2")
    cal = (
        feat.filter(c("h") <= "3")
        .crossJoin(F.broadcast(w))
        .select("event_id", F.abs(c("y") - pred).alias("r"))
    )
    from .evalmetrics import distributed_row_number

    ranked = distributed_row_number(cal, ["r", "event_id"]).select(
        "r",
        c("_rnk").alias("rn"),
        c("_nt").alias("n_cal"),
    )
    keep = (CONF_ALPHA_DEN - CONF_ALPHA_NUM, CONF_ALPHA_DEN)
    qhat = ranked.filter(
        c("rn")
        == F.least(
            F.ceil(
                ((c("n_cal") + 1) * keep[0]).cast("double") / keep[1]
            ).cast("bigint"),
            c("n_cal"),
        )
    ).select(c("r").alias("q"), c("n_cal").cast("bigint").alias("n_cal"))
    test = (
        feat.filter((c("h") >= "4") & (c("h") <= "7"))
        .crossJoin(F.broadcast(w))
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(F.abs(c("y") - pred) <= c("q"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("covered"),
        )
    )
    return (
        w.select("n_train")
        .crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(test))
        .select(
            "n_train",
            "n_cal",
            "n_test",
            c("q").alias("qhat"),
            (c("covered").cast("double") / c("n_test").cast("double")).alias(
                "coverage"
            ),
            F.lit(float(keep[0]) / keep[1]).alias("target"),
        )
    )


# --- permutation feature importance ---------------------------------------


def _sql_permimp_oracle() -> str:
    m = _OLS_MOMS.format(
        sx1=sql_dsum("x1"), sx2=sql_dsum("x2"), sy=sql_dsum("y"),
        sx1x1=sql_dsum("x1*x1"), sx1x2=sql_dsum("x1*x2"),
        sx2x2=sql_dsum("x2*x2"), sx1y=sql_dsum("x1*y"),
        sx2y=sql_dsum("x2*y"), syy=sql_dsum("y*y"),
    )

    def perm_cte(feat: str) -> str:
        return f"""
perm_{feat} AS MATERIALIZED (
  SELECT a.event_id, b.{feat} AS px
  FROM (SELECT event_id, day,
               ROW_NUMBER() OVER (PARTITION BY day ORDER BY event_id) AS rk
        FROM feat) a
  JOIN (SELECT day, {feat},
               ROW_NUMBER() OVER (PARTITION BY day
                 ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
        FROM feat) b
    ON a.day = b.day AND a.rk = b.rk
)"""

    return f"""
WITH feat AS MATERIALIZED (
  SELECT event_id, CAST(ts AS DATE) AS day,
         value AS y,
         CAST(EXTRACT(hour FROM ts) AS DOUBLE) / 24.0 AS x1,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS x2
  FROM events
),
m AS MATERIALIZED (SELECT {m} FROM feat),
w AS MATERIALIZED (
  SELECT (sy*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1y*sx2x2 - sx1x2*sx2y)
            + sx2*(sx1y*sx1x2 - sx1x1*sx2y))
         / (n*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1*sx2x2 - sx1x2*sx2)
            + sx2*(sx1*sx1x2 - sx1x1*sx2)) AS b0,
         (n*(sx1y*sx2x2 - sx1x2*sx2y) - sy*(sx1*sx2x2 - sx1x2*sx2)
            + sx2*(sx1*sx2y - sx1y*sx2))
         / (n*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1*sx2x2 - sx1x2*sx2)
            + sx2*(sx1*sx1x2 - sx1x1*sx2)) AS b1,
         (n*(sx1x1*sx2y - sx1y*sx1x2) - sx1*(sx1*sx2y - sx1y*sx2)
            + sy*(sx1*sx1x2 - sx1x1*sx2))
         / (n*(sx1x1*sx2x2 - sx1x2*sx1x2) - sx1*(sx1*sx2x2 - sx1x2*sx2)
            + sx2*(sx1*sx1x2 - sx1x1*sx2)) AS b2,
         n
  FROM m
),
base AS (
  SELECT {sql_dsum('(f.y - (w.b0 + w.b1*f.x1 + w.b2*f.x2))'
                   ' * (f.y - (w.b0 + w.b1*f.x1 + w.b2*f.x2))')}
           / MAX(w.n) AS mse
  FROM feat f CROSS JOIN w
),
{perm_cte('x1')},
{perm_cte('x2')},
mse1 AS (
  SELECT {sql_dsum('(f.y - (w.b0 + w.b1*p.px + w.b2*f.x2))'
                   ' * (f.y - (w.b0 + w.b1*p.px + w.b2*f.x2))')}
           / MAX(w.n) AS mse
  FROM feat f JOIN perm_x1 p ON f.event_id = p.event_id CROSS JOIN w
),
mse2 AS (
  SELECT {sql_dsum('(f.y - (w.b0 + w.b1*f.x1 + w.b2*p.px))'
                   ' * (f.y - (w.b0 + w.b1*f.x1 + w.b2*p.px))')}
           / MAX(w.n) AS mse
  FROM feat f JOIN perm_x2 p ON f.event_id = p.event_id CROSS JOIN w
)
SELECT 'x1_hour' AS feature, b.mse AS mse_base, m1.mse AS mse_permuted,
       m1.mse - b.mse AS importance
FROM base b CROSS JOIN mse1 m1
UNION ALL
SELECT 'x2_is_purchase', b.mse, m2.mse, m2.mse - b.mse
FROM base b CROSS JOIN mse2 m2
"""


@register(
    "ml_permutation_importance",
    tags=("ml", "interpretability"),
    oracle=_sql_permimp_oracle(),
)
def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMUTATION FEATURE IMPORTANCE for the OLS regressor: shuffle
    one feature column (breaking its relationship to y while keeping
    its marginal distribution) and report the MSE increase — the
    model-agnostic importance measure that, unlike coefficients,
    survives feature scaling and correlation. The permutation is
    DETERMINISTIC: within each day, the feature column is reassigned
    from id-rank order to md5-rank order — a fixed derangement-like
    bijection both engines reproduce exactly, so even this classically
    randomized diagnostic is bitwise-verifiable.

    Plan: one moment pass fits the model; per feature, two
    day-partitioned rank windows + an equi-join build the permuted
    column (per-day frames — never a global sort), and one decimal
    MSE reduce scores it. O(features) passes, all map-side-combined."""
    e = spread(load(spark, sf_dir, "events"))
    feat = materialize(e.select(
        "event_id",
        F.to_date("ts").alias("day"),
        F.col("value").alias("y"),
        (F.hour("ts").cast("double") / 24.0).alias("x1"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0).alias("x2"),
    ))
    c = F.col
    m = feat.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x1").alias("sx1"), dsum("x2").alias("sx2"), dsum("y").alias("sy"),
        dsum(c("x1") * c("x1")).alias("sx1x1"),
        dsum(c("x1") * c("x2")).alias("sx1x2"),
        dsum(c("x2") * c("x2")).alias("sx2x2"),
        dsum(c("x1") * c("y")).alias("sx1y"),
        dsum(c("x2") * c("y")).alias("sx2y"),
    )
    n, sx1, sx2, sy = c("n"), c("sx1"), c("sx2"), c("sy")
    sx1x1, sx1x2, sx2x2 = c("sx1x1"), c("sx1x2"), c("sx2x2")
    sx1y, sx2y = c("sx1y"), c("sx2y")
    det = (
        n * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
        - sx1 * (sx1 * sx2x2 - sx1x2 * sx2)
        + sx2 * (sx1 * sx1x2 - sx1x1 * sx2)
    )
    det0 = (
        sy * (sx1x1 * sx2x2 - sx1x2 * sx1x2)
        - sx1 * (sx1y * sx2x2 - sx1x2 * sx2y)
        + sx2 * (sx1y * sx1x2 - sx1x1 * sx2y)
    )
    det1 = (
        n * (sx1y * sx2x2 - sx1x2 * sx2y)
        - sy * (sx1 * sx2x2 - sx1x2 * sx2)
        + sx2 * (sx1 * sx2y - sx1y * sx2)
    )
    det2 = (
        n * (sx1x1 * sx2y - sx1y * sx1x2)
        - sx1 * (sx1 * sx2y - sx1y * sx2)
        + sy * (sx1 * sx1x2 - sx1x1 * sx2)
    )
    w = m.select(
        (det0 / det).alias("b0"),
        (det1 / det).alias("b1"),
        (det2 / det).alias("b2"),
        "n",
    )
    from pyspark.sql import Window as W

    def permuted(featname: str):
        a = feat.select(
            "event_id",
            "day",
            F.row_number()
            .over(W.partitionBy("day").orderBy("event_id"))
            .alias("rk"),
        )
        b = feat.select(
            "day",
            c(featname),
            F.row_number()
            .over(
                W.partitionBy("day").orderBy(
                    F.md5(c("event_id").cast("string")), "event_id"
                )
            )
            .alias("rk"),
        )
        return a.join(b, ["day", "rk"]).select(
            "event_id", c(featname).alias("px")
        )

    def mse(pred):
        return (dsum((c("y") - pred) * (c("y") - pred)) / F.max("n"))

    pred_base = c("b0") + c("b1") * c("x1") + c("b2") * c("x2")
    base = feat.crossJoin(F.broadcast(w)).agg(mse(pred_base).alias("mse"))
    pred1 = c("b0") + c("b1") * c("px") + c("b2") * c("x2")
    m1 = (
        feat.join(permuted("x1"), "event_id")
        .crossJoin(F.broadcast(w))
        .agg(mse(pred1).alias("mse"))
    )
    pred2 = c("b0") + c("b1") * c("x1") + c("b2") * c("px")
    m2 = (
        feat.join(permuted("x2"), "event_id")
        .crossJoin(F.broadcast(w))
        .agg(mse(pred2).alias("mse"))
    )
    r1 = base.crossJoin(F.broadcast(m1.select(c("mse").alias("mp")))).select(
        F.lit("x1_hour").alias("feature"),
        c("mse").alias("mse_base"),
        c("mp").alias("mse_permuted"),
        (c("mp") - c("mse")).alias("importance"),
    )
    r2 = base.crossJoin(F.broadcast(m2.select(c("mse").alias("mp")))).select(
        F.lit("x2_is_purchase").alias("feature"),
        c("mse").alias("mse_base"),
        c("mp").alias("mse_permuted"),
        (c("mp") - c("mse")).alias("importance"),
    )
    return r1.unionAll(r2)


# --- isotonic calibration (pool-adjacent-violators) -----------------------

ISO_BINS = 10


def _sql_pav_pass(prev: str, out: str) -> str:
    """One PAV pass: find the FIRST adjacent violation (block mean
    decreasing — tested by exact integer cross-multiplication) and
    merge that pair; everything else carries through with re-numbered
    indices. No violation -> identity pass."""
    return f"""
l_{out} AS (
  SELECT idx, lo, hi, n, pos,
         lead(n) OVER (ORDER BY idx) AS n_nx,
         lead(pos) OVER (ORDER BY idx) AS pos_nx,
         lead(hi) OVER (ORDER BY idx) AS hi_nx
  FROM {prev}
),
v_{out} AS (
  SELECT COALESCE(MIN(CASE WHEN pos * n_nx > pos_nx * n THEN idx END),
                  {ISO_BINS + 1}) AS v
  FROM l_{out}
),
{out} AS (
  SELECT CASE WHEN l.idx <= s.v THEN l.idx ELSE l.idx - 1 END AS idx,
         l.lo,
         CASE WHEN l.idx = s.v THEN l.hi_nx ELSE l.hi END AS hi,
         CASE WHEN l.idx = s.v THEN l.n + l.n_nx ELSE l.n END AS n,
         CASE WHEN l.idx = s.v THEN l.pos + l.pos_nx ELSE l.pos END AS pos
  FROM l_{out} l CROSS JOIN v_{out} s
  WHERE l.idx <> s.v + 1
)"""


def _sql_isotonic_oracle() -> str:
    passes = ",".join(
        _sql_pav_pass(f"b{i}", f"b{i + 1}") for i in range(ISO_BINS - 1)
    )
    return f"""
WITH scored AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         value AS score,
         event_id
  FROM events
),
binned AS (
  SELECT NTILE({ISO_BINS}) OVER (ORDER BY score, event_id) AS idx, y
  FROM scored
),
b0 AS (
  SELECT idx, idx AS lo, idx AS hi,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM binned GROUP BY idx
),
{passes}
SELECT idx AS block, CAST(lo AS INTEGER) AS lo_bin, CAST(hi AS INTEGER) AS hi_bin,
       CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
       CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS calibrated_p
FROM b{ISO_BINS - 1}
"""


@register(
    "ml_isotonic_calibration",
    tags=("ml", "calibration", "iterative"),
    oracle=_sql_isotonic_oracle(),
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC CALIBRATION by pool-adjacent-violators over
    {ISO_BINS} score deciles: merge adjacent blocks until empirical
    positive rates are nondecreasing in score — the nonparametric
    calibrator (sklearn's IsotonicRegression) that beats Platt when
    miscalibration isn't sigmoid-shaped. PAV's data-dependent merge
    loop is still ORACLE-EXPRESSIBLE because {ISO_BINS} bins bound it:
    each pass merges at most the first violating pair, so
    {ISO_BINS - 1} unrolled passes reach the fixpoint unconditionally
    (identity passes after convergence).

    Violations are tested by INTEGER cross-multiplication
    (pos_i·n_j > pos_j·n_i) — block means never materialize as floats
    until the final calibrated_p division, so both the merge sequence
    and the result are bitwise-deterministic. The corpus reduces to
    {ISO_BINS} rows in one NTILE + aggregate; the PAV merge loop then
    runs over that constant-size frame in a single executor task
    (driver-free — see the loop comment below)."""
    from .evalmetrics import distributed_ntile

    e = load(spark, sf_dir, "events")
    scored = e.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.col("value").alias("score"),
        "event_id",
    )
    # distributed_ntile replaces the former raw-corpus
    # F.ntile().over(Window.orderBy(...)) — the one remaining
    # single-partition sort of RAW rows in this module. NTILE remainder
    # semantics are reproduced exactly (same oracle), so the swap is
    # plan-only: two-pass distributed rank, no SinglePartition exchange
    # over the corpus (see evalmetrics.distributed_ntile).
    binned = distributed_ntile(
        scored, ISO_BINS, [F.col("score"), F.col("event_id")]
    ).select(F.col("tile").alias("idx"), "y")
    blocks = binned.groupBy("idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    ).select("idx", F.col("idx").alias("lo"), F.col("idx").alias("hi"), "n", "pos")
    # The PAV merge loop runs in ONE executor task (optimization r13,
    # guide §1.2 + §5 — the graph_spectral_bisection recipe): the
    # block frame is ISO_BINS rows BY CONSTRUCTION at any corpus size,
    # and the old nine window+broadcast-scalar+checkpoint passes over
    # it were pure scheduler latency (~2 s of the query's 2.5 s at
    # sf0.1). Every quantity in the loop is an int64 (violations are
    # tested by integer cross-multiplication — the docstring's
    # determinism argument), so the single-task replay is exactly the
    # distributed passes' arithmetic; calibrated_p stays a Spark-side
    # double division of the identical integers.
    import pandas as _pd

    def _pav(batches):
        parts = [b for b in batches]
        pdf = (
            _pd.concat(parts, ignore_index=True)
            if parts
            else _pd.DataFrame({"idx": [], "lo": [], "hi": [], "n": [], "pos": []})
        )
        rows = sorted(
            (int(r.idx), int(r.lo), int(r.hi), int(r.n), int(r.pos))
            for r in pdf.itertuples()
        )
        blocks = [list(r) for r in rows]
        for _ in range(ISO_BINS - 1):
            v = None
            for i in range(len(blocks) - 1):
                _, _, _, n_i, pos_i = blocks[i]
                _, _, _, n_j, pos_j = blocks[i + 1]
                if pos_i * n_j > pos_j * n_i:
                    v = i
                    break
            if v is None:
                continue  # identity pass (already isotonic)
            a, b = blocks[v], blocks[v + 1]
            merged = [a[0], a[1], b[2], a[3] + b[3], a[4] + b[4]]
            blocks = blocks[:v] + [merged] + blocks[v + 2 :]
            for i, blk in enumerate(blocks):
                blk[0] = i + 1  # re-number idx 1..len contiguously
        yield _pd.DataFrame(
            blocks, columns=["idx", "lo", "hi", "n", "pos"]
        ).astype("int64")

    blocks = blocks.coalesce(1).mapInPandas(
        _pav, "idx bigint, lo bigint, hi bigint, n bigint, pos bigint"
    )
    return blocks.select(
        F.col("idx").alias("block"),
        F.col("lo").cast("int").alias("lo_bin"),
        F.col("hi").cast("int").alias("hi_bin"),
        F.col("n").cast("bigint").alias("n"),
        F.col("pos").cast("bigint").alias("pos"),
        (F.col("pos").cast("double") / F.col("n").cast("double")).alias(
            "calibrated_p"
        ),
    )


# --- learning curve from ONE pass -----------------------------------------

# Nested hash subsets: md5 first hex <= '3' (25%), <= '7' (50%), all.
LC_FRACS = (("25pct", "3"), ("50pct", "7"), ("100pct", "f"))


def _sql_lc_oracle() -> str:
    def mom(ceil: str) -> str:
        cond = f"substr(md5(CAST(event_id AS VARCHAR)), 1, 1) <= '{ceil}'"
        g = lambda e: (  # noqa: E731
            f"CAST(SUM(CASE WHEN {cond} THEN CAST(({e}) AS DECIMAL(25,6)) END)"
            f" AS DOUBLE)"
        )
        return (
            f"CAST(count_if({cond}) AS DOUBLE) AS n, {g('x1')} AS sx1,"
            f" {g('y')} AS sy, {g('x1*x1')} AS sxx, {g('x1*y')} AS sxy,"
            f" {g('y*y')} AS syy"
        )

    parts = []
    for label, ceil in LC_FRACS:
        parts.append(f"""
SELECT '{label}' AS subset, CAST(n AS BIGINT) AS n_rows,
       (n * sxy - sx1 * sy) / (n * sxx - sx1 * sx1) AS slope,
       (sy - (n * sxy - sx1 * sy) / (n * sxx - sx1 * sx1) * sx1) / n
         AS intercept,
       (syy - 2.0 * ((sy - (n * sxy - sx1 * sy) / (n * sxx - sx1 * sx1) * sx1) / n) * sy
            - 2.0 * ((n * sxy - sx1 * sy) / (n * sxx - sx1 * sx1)) * sxy
            + n * ((sy - (n * sxy - sx1 * sy) / (n * sxx - sx1 * sx1) * sx1) / n)
                * ((sy - (n * sxy - sx1 * sy) / (n * sxx - sx1 * sx1) * sx1) / n)
            + 2.0 * ((n * sxy - sx1 * sy) / (n * sxx - sx1 * sx1))
                  * ((sy - (n * sxy - sx1 * sy) / (n * sxx - sx1 * sx1) * sx1) / n) * sx1
            + ((n * sxy - sx1 * sy) / (n * sxx - sx1 * sx1))
              * ((n * sxy - sx1 * sy) / (n * sxx - sx1 * sx1)) * sxx) / n
         AS mse_train
FROM (SELECT {mom(ceil)} FROM feat) m""")
    return f"""
WITH feat AS MATERIALIZED (
  SELECT event_id, value AS y,
         CAST(EXTRACT(hour FROM ts) AS DOUBLE) / 24.0 AS x1
  FROM events
)
{" UNION ALL ".join(parts)}
"""


@register(
    "ml_learning_curve",
    tags=("ml", "training", "diagnostics"),
    oracle=_sql_lc_oracle(),
)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE LEARNING CURVE from ONE pass: fit simple linear regression
    (value ~ hour/24) on NESTED hash subsets (25% ⊂ 50% ⊂ 100%) and
    report each fit's training MSE — "will more data help?" answered
    without re-scanning (the subsets share one conditional-moment
    aggregation, the sufficient-statistics trick stretched across
    sample sizes; hash nesting means the 25% rows are literally inside
    the 50%, a real growth curve rather than three random draws).

    MSE expands algebraically in the moments — syy − 2b·sy − 2m·sxy +
    n·b² + 2mb·sx + m²·sxx, all over n — in the SAME literal order on
    both engines. Decimal-combined sums; one corpus scan total."""
    e = spread(load(spark, sf_dir, "events"))
    feat = e.select(
        "event_id",
        F.col("value").alias("y"),
        (F.hour("ts").cast("double") / 24.0).alias("x1"),
    )
    h = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    out = None
    for label, ceil in LC_FRACS:
        cond = h <= ceil

        def g(col):
            return F.sum(
                F.when(cond, col.cast("decimal(25,6)"))
            ).cast("double")

        m = feat.agg(
            F.count_if(cond).cast("double").alias("n"),
            g(F.col("x1")).alias("sx1"),
            g(F.col("y")).alias("sy"),
            g(F.col("x1") * F.col("x1")).alias("sxx"),
            g(F.col("x1") * F.col("y")).alias("sxy"),
            g(F.col("y") * F.col("y")).alias("syy"),
        )
        c = F.col
        slope = (c("n") * c("sxy") - c("sx1") * c("sy")) / (
            c("n") * c("sxx") - c("sx1") * c("sx1")
        )
        intercept = (c("sy") - slope * c("sx1")) / c("n")
        mse = (
            c("syy")
            - 2.0 * intercept * c("sy")
            - 2.0 * slope * c("sxy")
            + c("n") * intercept * intercept
            + 2.0 * slope * intercept * c("sx1")
            + slope * slope * c("sxx")
        ) / c("n")
        row = m.select(
            F.lit(label).alias("subset"),
            c("n").cast("bigint").alias("n_rows"),
            slope.alias("slope"),
            intercept.alias("intercept"),
            mse.alias("mse_train"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# --- k-fold cross-validation from ONE moment pass ---------------------------

KFOLD_K = 5


@register(
    "ml_kfold_cv",
    tags=("ml", "training", "evaluation"),
    oracle=f"""
WITH feat AS MATERIALIZED (
  SELECT value AS y,
         CAST(EXTRACT(hour FROM ts) AS DOUBLE) / 24.0 AS x,
         CAST(CAST('0x' || substr(md5('kf:' || CAST(event_id AS VARCHAR)), 1, 15)
                   AS UBIGINT) % {KFOLD_K} AS INTEGER) AS fold
  FROM events
),
fm AS MATERIALIZED (
  SELECT fold,
         COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(25,6))) AS sx,
         SUM(CAST(y AS DECIMAL(25,6))) AS sy,
         SUM(CAST(x * x AS DECIMAL(25,6))) AS sxx,
         SUM(CAST(x * y AS DECIMAL(25,6))) AS sxy,
         SUM(CAST(y * y AS DECIMAL(25,6))) AS syy
  FROM feat GROUP BY fold
),
tot AS (
  SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
         SUM(sxx) AS sxx, SUM(sxy) AS sxy, SUM(syy) AS syy
  FROM fm
),
tr AS (
  SELECT f.fold,
         CAST(t.n - f.n AS DOUBLE) AS n,
         CAST(t.sx - f.sx AS DOUBLE) AS sx,
         CAST(t.sy - f.sy AS DOUBLE) AS sy,
         CAST(t.sxx - f.sxx AS DOUBLE) AS sxx,
         CAST(t.sxy - f.sxy AS DOUBLE) AS sxy,
         CAST(f.n AS DOUBLE) AS hn,
         CAST(f.sx AS DOUBLE) AS hsx,
         CAST(f.sy AS DOUBLE) AS hsy,
         CAST(f.sxx AS DOUBLE) AS hsxx,
         CAST(f.sxy AS DOUBLE) AS hsxy,
         CAST(f.syy AS DOUBLE) AS hsyy
  FROM fm f CROSS JOIN tot t
),
coef AS (
  SELECT *,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b
  FROM tr
),
coef2 AS (
  SELECT *, (sy - b * sx) / n AS a FROM coef
)
SELECT fold,
       CAST(n AS BIGINT) AS n_train,
       CAST(hn AS BIGINT) AS n_test,
       b AS slope,
       a AS intercept,
       sqrt((hsyy - 2 * a * hsy - 2 * b * hsxy
             + a * a * hn + 2 * a * b * hsx + b * b * hsxx) / hn)
         AS test_rmse
FROM coef2
""",
)
def ml_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KFOLD_K}-fold cross-validated simple regression (value ~
    hour/24) where BOTH training and evaluation come from ONE scan:
    per-fold sufficient moments are aggregated once (decimal-exact);
    each fold's training moments are the exact-decimal difference
    total - fold (never a re-scan of the other {KFOLD_K}-1 folds); and
    the held-out RMSE expands algebraically from the held-out fold's
    OWN moments — SSE = syy - 2a*sy - 2b*sxy + a^2 n + 2ab*sx + b^2
    sxx — so scoring needs no second pass either. K-fold CV at 100 TB
    for the price of one map-side-combined aggregate.

    Fold assignment is the md5-derived PRF of the row id (deterministic
    split, same device on both engines). All doubles derive from
    identical exact decimals through identical literal-order IEEE
    expressions, so coefficients and RMSEs match bitwise."""
    dec = "decimal(25,6)"
    c = F.col
    prf = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kf:"), c("event_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    feat = spread(load(spark, sf_dir, "events")).select(
        c("value").alias("y"),
        (F.hour("ts").cast("double") / 24.0).alias("x"),
        (prf % KFOLD_K).cast("int").alias("fold"),
    )
    fm = feat.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c("x").cast(dec)).alias("sx"),
        F.sum(c("y").cast(dec)).alias("sy"),
        F.sum((c("x") * c("x")).cast(dec)).alias("sxx"),
        F.sum((c("x") * c("y")).cast(dec)).alias("sxy"),
        F.sum((c("y") * c("y")).cast(dec)).alias("syy"),
    )
    tot = fm.agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
        F.sum("syy").alias("tsyy"),
    )
    tr = fm.crossJoin(F.broadcast(tot)).select(
        "fold",
        (c("tn") - c("n")).cast("double").alias("n"),
        (c("tsx") - c("sx")).cast("double").alias("sx"),
        (c("tsy") - c("sy")).cast("double").alias("sy"),
        (c("tsxx") - c("sxx")).cast("double").alias("sxx"),
        (c("tsxy") - c("sxy")).cast("double").alias("sxy"),
        c("n").cast("double").alias("hn"),
        c("sx").cast("double").alias("hsx"),
        c("sy").cast("double").alias("hsy"),
        c("sxx").cast("double").alias("hsxx"),
        c("sxy").cast("double").alias("hsxy"),
        c("syy").cast("double").alias("hsyy"),
    )
    b = (c("n") * c("sxy") - c("sx") * c("sy")) / (
        c("n") * c("sxx") - c("sx") * c("sx")
    )
    withb = tr.withColumn("b", b)
    witha = withb.withColumn("a", (c("sy") - c("b") * c("sx")) / c("n"))
    sse = (
        c("hsyy")
        - 2 * c("a") * c("hsy")
        - 2 * c("b") * c("hsxy")
        + c("a") * c("a") * c("hn")
        + 2 * c("a") * c("b") * c("hsx")
        + c("b") * c("b") * c("hsxx")
    )
    return witha.select(
        "fold",
        c("n").cast("bigint").alias("n_train"),
        c("hn").cast("bigint").alias("n_test"),
        c("b").alias("slope"),
        c("a").alias("intercept"),
        F.sqrt(sse / c("hn")).alias("test_rmse"),
    )


# --- histogram-based GBDT split finding ------------------------------------

HIST_BINS = 32      # fixed-width feature histogram (LightGBM-style binning)
GBDT_LAMBDA = 1.0   # L2 leaf regularization (XGBoost's lambda)
_DEC9 = "decimal(25,9)"  # gradients are O(1) values; 9 dp, exact-sum


@register(
    "ml_hist_gbdt_split",
    tags=("ml", "training", "tree", "scale-path"),
    oracle=f"""
WITH base AS MATERIALIZED (
  SELECT user_id,
         CASE WHEN event_type = '{LR_LABEL}' THEN 1.0 ELSE 0.0 END AS y,
         value AS f_value,
         CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS f_hour
  FROM events
),
ur AS (
  SELECT user_id, COUNT(*) AS n_u, SUM(CAST(y AS BIGINT)) AS pos_u
  FROM base GROUP BY user_id
),
gh AS (
  SELECT b.*,
         CAST((CAST(pos_u AS DOUBLE) / n_u - y) AS DECIMAL(25,9)) AS g,
         CAST(((CAST(pos_u AS DOUBLE) / n_u)
               * (CAST(1 AS DOUBLE) - CAST(pos_u AS DOUBLE) / n_u))
              AS DECIMAL(25,9)) AS h
  FROM base b JOIN ur USING (user_id)
),
feat AS (
  SELECT t.feature, t.x, g, h
  FROM gh, LATERAL (SELECT * FROM (VALUES
     ('value', f_value), ('hour', f_hour)) AS v(feature, x)) t
),
mm AS (
  SELECT feature, MIN(x) AS mn, MAX(x) AS mx FROM feat GROUP BY feature
),
binned AS (
  SELECT f.feature,
         CASE WHEN m.mx = m.mn THEN 0
              ELSE CAST(least(floor((f.x - m.mn) * CAST({HIST_BINS} AS DOUBLE)
                                    / (m.mx - m.mn)),
                              CAST({HIST_BINS - 1} AS DOUBLE)) AS BIGINT)
         END AS bin,
         g, h
  FROM feat f JOIN mm m USING (feature)
),
hist AS (
  SELECT feature, bin,
         CAST(SUM(g) AS DOUBLE) AS gb, CAST(SUM(h) AS DOUBLE) AS hb,
         COUNT(*) AS cnt
  FROM binned GROUP BY feature, bin
),
cum AS (
  SELECT feature, bin,
         CAST(SUM(CAST(gb AS DECIMAL(25,9))) OVER w AS DOUBLE) AS gl,
         CAST(SUM(CAST(hb AS DECIMAL(25,9))) OVER w AS DOUBLE) AS hl,
         CAST(SUM(cnt) OVER w AS BIGINT) AS nl,
         CAST(SUM(CAST(gb AS DECIMAL(25,9))) OVER t AS DOUBLE) AS gt,
         CAST(SUM(CAST(hb AS DECIMAL(25,9))) OVER t AS DOUBLE) AS ht,
         CAST(SUM(cnt) OVER t AS BIGINT) AS nt
  FROM hist
  WINDOW w AS (PARTITION BY feature ORDER BY bin ROWS UNBOUNDED PRECEDING),
         t AS (PARTITION BY feature)
),
scored AS (
  SELECT feature, bin, nl, nt - nl AS nr,
         CAST(0.5 AS DOUBLE)
           * (gl * gl / (hl + CAST({GBDT_LAMBDA} AS DOUBLE))
              + (gt - gl) * (gt - gl)
                / ((ht - hl) + CAST({GBDT_LAMBDA} AS DOUBLE))
              - gt * gt / (ht + CAST({GBDT_LAMBDA} AS DOUBLE))) AS gain,
         -(gl / (hl + CAST({GBDT_LAMBDA} AS DOUBLE))) AS w_left,
         -((gt - gl) / ((ht - hl) + CAST({GBDT_LAMBDA} AS DOUBLE))) AS w_right
  FROM cum WHERE nt - nl > 0
),
mm2 AS (SELECT feature, mn, mx FROM mm)
SELECT s.feature, CAST(s.bin AS BIGINT) AS split_bin,
       m.mn + (CAST(s.bin + 1 AS DOUBLE) * (m.mx - m.mn)
               / CAST({HIST_BINS} AS DOUBLE)) AS threshold,
       s.gain, s.w_left, s.w_right,
       CAST(s.nl AS BIGINT) AS n_left, CAST(s.nr AS BIGINT) AS n_right
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY feature
                               ORDER BY gain DESC, bin) AS rn
  FROM scored
) s JOIN mm2 m USING (feature)
WHERE s.rn = 1
""",
)
def ml_hist_gbdt_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based second-order split finding — the inner loop of
    XGBoost/LightGBM (Chen & Guestrin KDD'16 eq. 7): per feature,
    aggregate per-row gradient/hessian pairs into {HIST_BINS} fixed-
    width bins, prefix-scan the histogram, and take the split
    maximizing  gain = 1/2 [G_L^2/(H_L+l) + G_R^2/(H_R+l) - G^2/(H+l)].

    The HISTOGRAM is the scale trick: split search aggregates
    O(features x bins) sufficient statistics, not O(distinct values) —
    at 100 TB the shuffle after the map-side combine carries 32 decimal
    pairs per feature per task, and the argmax runs over 64 rows.
    (``ml_decision_stump`` is the exact-enumeration contrast: one
    cumulative window over every distinct value.)

    Gradients come from a logistic loss around a per-user prior
    p0 = user purchase rate (a realistic boosting-on-bias round 1, and
    what makes the hessian p0(1-p0) genuinely row-varying): g = p0 - y,
    h = p0(1-p0). Determinism: g/h quantize to DECIMAL(25,9) before
    ANY aggregation (exact, order-invariant sums; p0 is a ratio of
    counts <= a few hundred, whose 9-dp scaling can't land on a .5 tie
    — that needs a denominator with 2-adic valuation > 9), bin edges
    and gains are IEEE expressions mirrored op-for-op."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.when(F.col("event_type") == LR_LABEL, 1.0).otherwise(0.0).alias("y"),
        F.col("value").alias("f_value"),
        F.hour("ts").cast("double").alias("f_hour"),
    )
    ur = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_u"),
        F.sum(F.col("y").cast("bigint")).alias("pos_u"),
    )
    p0 = F.col("pos_u").cast("double") / F.col("n_u")
    gh = base.join(ur, "user_id").select(
        "f_value",
        "f_hour",
        (p0 - F.col("y")).cast(_DEC9).alias("g"),
        (p0 * (F.lit(1.0) - p0)).cast(_DEC9).alias("h"),
    )
    feat = gh.select(
        F.explode(
            F.array(
                F.struct(F.lit("value").alias("feature"), F.col("f_value").alias("x")),
                F.struct(F.lit("hour").alias("feature"), F.col("f_hour").alias("x")),
            )
        ).alias("fx"),
        "g",
        "h",
    ).select("fx.feature", "fx.x", "g", "h")
    mm = feat.groupBy("feature").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    bin_col = F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint")).otherwise(
        F.least(
            F.floor(
                (F.col("x") - F.col("mn"))
                * F.lit(float(HIST_BINS))
                / (F.col("mx") - F.col("mn"))
            ).cast("double"),
            F.lit(float(HIST_BINS - 1)),
        ).cast("bigint")
    )
    hist = (
        feat.join(F.broadcast(mm), "feature")
        .select("feature", bin_col.alias("bin"), "g", "h")
        .groupBy("feature", "bin")
        .agg(
            F.sum("g").cast("double").alias("gb"),
            F.sum("h").cast("double").alias("hb"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    w = (
        Window.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = Window.partitionBy("feature")
    cum = hist.select(
        "feature",
        "bin",
        F.sum(F.col("gb").cast(_DEC9)).over(w).cast("double").alias("gl"),
        F.sum(F.col("hb").cast(_DEC9)).over(w).cast("double").alias("hl"),
        F.sum("cnt").over(w).cast("bigint").alias("nl"),
        F.sum(F.col("gb").cast(_DEC9)).over(t).cast("double").alias("gt"),
        F.sum(F.col("hb").cast(_DEC9)).over(t).cast("double").alias("ht"),
        F.sum("cnt").over(t).cast("bigint").alias("nt"),
    )
    lam = F.lit(float(GBDT_LAMBDA))
    gr = F.col("gt") - F.col("gl")
    hr = F.col("ht") - F.col("hl")
    scored = cum.filter((F.col("nt") - F.col("nl")) > 0).select(
        "feature",
        "bin",
        "nl",
        (F.col("nt") - F.col("nl")).alias("nr"),
        (
            F.lit(0.5)
            * (
                F.col("gl") * F.col("gl") / (F.col("hl") + lam)
                + gr * gr / (hr + lam)
                - F.col("gt") * F.col("gt") / (F.col("ht") + lam)
            )
        ).alias("gain"),
        (-(F.col("gl") / (F.col("hl") + lam))).alias("w_left"),
        (-(gr / (hr + lam))).alias("w_right"),
    )
    rn = Window.partitionBy("feature").orderBy(F.col("gain").desc(), F.col("bin"))
    return (
        scored.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(mm), "feature")
        .select(
            "feature",
            F.col("bin").cast("bigint").alias("split_bin"),
            (
                F.col("mn")
                + (F.col("bin") + 1).cast("double")
                * (F.col("mx") - F.col("mn"))
                / F.lit(float(HIST_BINS))
            ).alias("threshold"),
            "gain",
            "w_left",
            "w_right",
            F.col("nl").cast("bigint").alias("n_left"),
            F.col("nr").cast("bigint").alias("n_right"),
        )
    )


# --- 1-D Gaussian mixture via EM ----------------------------------------------
#
# Two-component 1-D GMM, EM_GMM_ITERS synchronous EM iterations. The
# cross-engine determinism recipe is the hist-GBDT one: E-step
# responsibilities are generic doubles computed by IDENTICAL expression
# text (a shared generator feeds Spark selectExpr and the DuckDB
# oracle), then QUANTIZED to DECIMAL(18,7) so every M-step sum is
# exact integer arithmetic regardless of partitioning; the scaled sums
# stay far below 2^53, so the final decimal->double casts are exact
# too. exp() can differ by ONE ULP across engines on some arguments
# (measured while building ts_ewma_irregular); a 1-ulp responsibility
# difference flips the 7-dp quantization only within ~1e-16 of a tie,
# bounding the per-run divergence probability at ~1e-4 even at sf1 —
# and any flip would surface as a loud hash mismatch, not silent
# error. The 6-dp rounding of the EMITTED params absorbs everything
# short of a flipped quantization.

EM_GMM_ITERS = 3
_EM_INIT = "SELECT CAST(1.0 AS DOUBLE) AS mu1, CAST(3.5 AS DOUBLE) AS mu2, " \
           "CAST(1.0 AS DOUBLE) AS v1, CAST(1.0 AS DOUBLE) AS v2, " \
           "CAST(0.5 AS DOUBLE) AS w1, CAST(0.5 AS DOUBLE) AS w2"

_EM_X = ("CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) / CAST(100 AS DOUBLE)"
         " AS x")

_EM_ESTEP = [
    "w1 * exp(-((x - mu1) * (x - mu1)) / (CAST(2 AS DOUBLE) * v1)) / sqrt(v1)"
    " AS p1",
    "w2 * exp(-((x - mu2) * (x - mu2)) / (CAST(2 AS DOUBLE) * v2)) / sqrt(v2)"
    " AS p2",
]
# round(x, 7) BEFORE the decimal cast: both engines' round() uses the
# same half-up rule, and the rounded double then sits (within half an
# ulp) ON a 7-dp grid point, so the double->decimal cast that follows
# never lands on a tie — removing the one spot where Spark's and
# DuckDB's cast tie-breaking is known to disagree (advisor r6 catch).
# The residual risk is only the ~1-ulp exp() drift already documented
# above, now confined to round()'s own boundary instead of compounding
# with a divergent cast rule.
_EM_RESP = [
    "CAST(round(p1 / (p1 + p2), 7) AS DECIMAL(18,7)) AS r1q",
    "CAST(round(p2 / (p1 + p2), 7) AS DECIMAL(18,7)) AS r2q",
]
_EM_MSTEP = [
    "SUM(r1q) AS s1", "SUM(r2q) AS s2",
    "SUM(CAST(CAST(r1q AS DOUBLE) * x AS DECIMAL(20,7))) AS sx1",
    "SUM(CAST(CAST(r2q AS DOUBLE) * x AS DECIMAL(20,7))) AS sx2",
    "SUM(CAST(CAST(r1q AS DOUBLE) * x * x AS DECIMAL(20,7))) AS sxx1",
    "SUM(CAST(CAST(r2q AS DOUBLE) * x * x AS DECIMAL(20,7))) AS sxx2",
    "COUNT(*) AS n",
]
_EM_MU = [
    "CAST(sx1 AS DOUBLE) / CAST(s1 AS DOUBLE) AS mu1",
    "CAST(sx2 AS DOUBLE) / CAST(s2 AS DOUBLE) AS mu2",
]
_EM_REST = [
    "CAST(sxx1 AS DOUBLE) / CAST(s1 AS DOUBLE) - mu1 * mu1 AS v1",
    "CAST(sxx2 AS DOUBLE) / CAST(s2 AS DOUBLE) - mu2 * mu2 AS v2",
    "CAST(s1 AS DOUBLE) / n AS w1",
    "CAST(s2 AS DOUBLE) / n AS w2",
]


def _em_oracle() -> str:
    lines = [
        "WITH data AS (SELECT " + _EM_X + " FROM events),",
        "params0 AS (" + _EM_INIT + "),",
    ]
    for k in range(1, EM_GMM_ITERS + 1):
        lines += [
            f"e{k} AS (SELECT x, {', '.join(_EM_ESTEP)} "
            f"FROM data CROSS JOIN params{k - 1}),",
            f"r{k} AS (SELECT x, {', '.join(_EM_RESP)} FROM e{k}),",
            f"m{k} AS (SELECT {', '.join(_EM_MSTEP)} FROM r{k}),",
            f"mu{k} AS (SELECT *, {', '.join(_EM_MU)} FROM m{k}),",
            f"params{k} AS (SELECT {', '.join(_EM_REST)}, mu1, mu2 "
            f"FROM mu{k}),",
        ]
    lines[-1] = lines[-1].rstrip(",")
    last = f"params{EM_GMM_ITERS}"
    return "\n".join(lines) + f"""
SELECT 1 AS component, round(w1, 6) AS weight, round(mu1, 6) AS mu,
       round(v1, 6) AS variance FROM {last}
UNION ALL
SELECT 2, round(w2, 6), round(mu2, 6), round(v2, 6) FROM {last}
"""


@register(
    "ml_em_gmm_1d",
    tags=("mltrain", "em", "gmm"),
    oracle=_em_oracle(),
)
def ml_em_gmm_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture fit by {EM_GMM_ITERS} EM
    iterations over event values (scaled to [0, ~5]): E-step
    responsibilities from the current (w, mu, v) via a broadcast 1-row
    params frame, quantized to DECIMAL(18,7); M-step moments as exact
    decimal sums; new params by the standard closed forms. Every
    iteration is one crossJoin-broadcast + one aggregation — the plan
    a 100 TB EM actually runs (params are KBs, data never re-shuffles,
    map-side partial aggregation carries the moments). Emits each
    component's (weight, mu, variance) after the final iteration."""
    # spread + one materialization (optimization r14, guide §2.5/§5):
    # the single-file scan fused each EM iteration's M-step partial
    # aggregate onto one core and re-read the parquet per iteration.
    # Corpus-sized on purpose, like ml_logreg_train_gd's: every EM step
    # reads all of x (one double per event row, ~0.8 MB raw per 100k
    # events), so x is the iterative state; only the 1-row params frame
    # changes. The checkpoint lives for this query (no cross-query
    # cache holds it; reset_query_state releases it), and a block lost
    # with its executor fails the query instead of recomputing from
    # the parquet; the retry rebuilds it.
    data = materialize(
        spread(load(spark, sf_dir, "events"))
        .selectExpr(_EM_X)
    )
    params = spark.sql("SELECT * FROM (VALUES (1)) t(z)").selectExpr(
        *_EM_INIT.replace("SELECT ", "").split(", ")
    )
    for _ in range(EM_GMM_ITERS):
        e = data.crossJoin(F.broadcast(params)).selectExpr("x", *_EM_ESTEP)
        r = e.selectExpr("x", *_EM_RESP)
        m = r.agg(*[F.expr(s) for s in _EM_MSTEP])
        mu = m.selectExpr("*", *_EM_MU)
        params = mu.selectExpr(*_EM_REST, "mu1", "mu2")
    return params.selectExpr(
        "stack(2, 1, round(w1, 6), round(mu1, 6), round(v1, 6), "
        "2, round(w2, 6), round(mu2, 6), round(v2, 6)) "
        "AS (component, weight, mu, variance)"
    )


# --- Viterbi decoding (2-state HMM over event sequences) ---------------------
#
# The max-product twin of the forward algorithm: per user, the most
# probable hidden-state path under a fixed 2-state HMM
# (browse / buy-intent) over the event-type sequence. Runs as one
# row-local fold carrying the two path scores [s_browse, s_intent] —
# the Kalman/LTTB/DTW pattern. Determinism is TOTAL here: every
# log-probability is a PRECOMPUTED double literal (no runtime log() or
# exp(), so the measured one-ulp libm divergence cannot appear), and
# the recurrence is only + and greatest() over identical doubles. The
# SPARK side reproduces a pure-Python replay bitwise; DuckDB's
# list_reduce evaluation drifts one ulp on a few percent of sequences
# (measured), so the emitted score rounds to 8 dp.

# log parameters, precomputed (math.log of the model table)
_V_LPI = ("-0.2231435513142097", "-1.6094379124341003")
_V_LA = (
    ("-0.10536051565782628", "-2.3025850929940455"),
    ("-1.2039728043259361", "-0.35667494393873245"),
)
_V_LE = (
    ("-1.0498221244986778", "-2.995732273553991", "-2.995732273553991",
     "-1.8971199848858813", "-0.916290731874155"),
    ("-1.3862943611198906", "-2.995732273553991", "-0.916290731874155",
     "-2.3025850929940455", "-1.6094379124341003"),
)
_V_CATS = ("click", "error", "purchase", "signup", "view")


def _v_cat_sql(col: str) -> str:
    whens = " ".join(
        f"WHEN '{c}' THEN {i}" for i, c in enumerate(_V_CATS)
    )
    return f"CASE {col} {whens} END"


def _v_le_sql(state: int, cat_expr: str) -> str:
    arr = ", ".join(f"CAST({v} AS DOUBLE)" for v in _V_LE[state])
    return f"[{arr}][{cat_expr} + 1]"


@register(
    "ml_viterbi_decode",
    tags=("mltrain", "hmm", "viterbi"),
    oracle=f"""
WITH seq AS (
  SELECT user_id,
         list({_v_cat_sql('event_type')} ORDER BY ts, event_id) AS xs
  FROM events GROUP BY user_id
),
folded AS (
  SELECT user_id, len(xs) AS n_events,
         list_reduce(
           [[CAST({_V_LPI[0]} AS DOUBLE) + {_v_le_sql(0, 'xs[1]')},
             CAST({_V_LPI[1]} AS DOUBLE) + {_v_le_sql(1, 'xs[1]')}]]
             || list_transform(xs[2:len(xs)], x -> [CAST(x AS DOUBLE),
                                                    CAST(0 AS DOUBLE)]),
           (acc, pp) -> [
             greatest(acc[1] + CAST({_V_LA[0][0]} AS DOUBLE),
                      acc[2] + CAST({_V_LA[1][0]} AS DOUBLE))
               + {_v_le_sql(0, 'CAST(pp[1] AS INTEGER)')},
             greatest(acc[1] + CAST({_V_LA[0][1]} AS DOUBLE),
                      acc[2] + CAST({_V_LA[1][1]} AS DOUBLE))
               + {_v_le_sql(1, 'CAST(pp[1] AS INTEGER)')}
           ]
         ) AS s
  FROM seq
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CASE WHEN round(s[2], 8) > round(s[1], 8) THEN 1 ELSE 0
         END AS best_state,
       round(greatest(s[1], s[2]), 8) AS best_logprob
FROM folded
""",
)
def ml_viterbi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decoding of each user's event sequence under the fixed
    browse/buy-intent HMM: one sorted collect per user, then the
    max-product fold over [s_browse, s_intent]; emits the terminal
    best state and its path log-probability (ties resolve to state 0,
    both engines). Scale: parallelism = users; the fold is O(n) per
    sequence inside one task and two doubles leave it; model tables
    are literals compiled into the expression — nothing is broadcast,
    joined, or looked up."""
    cat = F.expr(_v_cat_sql("event_type"))
    seq = (
        load(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", cat.alias("cat"))
        .groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "cat"))),
                lambda s: s["cat"],
            ).alias("xs")
        )
    )

    def le(state: int, cat_col):
        arr = F.array(*[F.lit(float(v)) for v in _V_LE[state]])
        return F.element_at(arr, cat_col.cast("int") + F.lit(1))

    la = [[F.lit(float(v)) for v in row] for row in _V_LA]

    def step(acc, x):
        s0, s1 = F.element_at(acc, 1), F.element_at(acc, 2)
        return F.array(
            F.greatest(s0 + la[0][0], s1 + la[1][0]) + le(0, x),
            F.greatest(s0 + la[0][1], s1 + la[1][1]) + le(1, x),
        )

    first = F.element_at(F.col("xs"), 1)
    init = F.array(
        F.lit(float(_V_LPI[0])) + le(0, first),
        F.lit(float(_V_LPI[1])) + le(1, first),
    )
    folded = seq.select(
        "user_id",
        F.size("xs").cast("bigint").alias("n_events"),
        F.aggregate(
            F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
            init,
            step,
        ).alias("s"),
    )
    s0, s1 = F.element_at("s", 1), F.element_at("s", 2)
    return folded.select(
        "user_id",
        "n_events",
        # compare ROUNDED scores: the same 1-ulp list_reduce drift that
        # the 8-dp round absorbs for best_logprob could otherwise flip
        # a near-tied argmax cross-engine (advisor r6 catch)
        F.when(F.round(s1, 8) > F.round(s0, 8), F.lit(1))
        .otherwise(F.lit(0))
        .alias("best_state"),
        # Spark's fold reproduces a pure-Python replay BITWISE; DuckDB's
        # list_reduce drifts one ulp on ~3% of sequences (measured) —
        # the 8-dp round absorbs that engine-internal difference
        F.round(F.greatest(s0, s1), 8).alias("best_logprob"),
    )


# --- HMM forward algorithm (sum-product twin of Viterbi) ----------------------
#
# Viterbi answers "best single path"; the forward algorithm answers
# "how likely is this sequence AT ALL under the model" (the quantity
# behind HMM-based scoring/filtering) plus the filtered posterior of
# the final hidden state. Same fold shape as ml_viterbi_decode, but
# in PROBABILITY space with + instead of max — the parameters are the
# exact exp() of the Viterbi log tables, written as clean decimal
# literals so the fold is pure {*, +} over identical doubles (no
# runtime transcendental anywhere in the recurrence). Sequences here
# are ~70 steps so unscaled alphas sit around 1e-40 — comfortably
# inside double range; the production posture for unbounded sequences
# is per-step renormalization (same plan, one extra division per
# step). The single end-of-fold ln() and the posterior division round
# to 8 dp to absorb the measured one-ulp list_reduce / libm drift
# (same guard as ml_viterbi_decode).

_F_PI = ("0.8", "0.2")
_F_A = (("0.9", "0.1"), ("0.3", "0.7"))
_F_E = (
    ("0.35", "0.05", "0.05", "0.15", "0.4"),
    ("0.25", "0.05", "0.4", "0.1", "0.2"),
)


def _f_e_sql(state: int, cat_expr: str) -> str:
    arr = ", ".join(f"CAST({v} AS DOUBLE)" for v in _F_E[state])
    return f"[{arr}][{cat_expr} + 1]"


@register(
    "ml_hmm_forward",
    tags=("mltrain", "hmm", "forward"),
    oracle=f"""
WITH seq AS (
  SELECT user_id,
         list({_v_cat_sql('event_type')} ORDER BY ts, event_id) AS xs
  FROM events GROUP BY user_id
),
folded AS (
  SELECT user_id, len(xs) AS n_events,
         list_reduce(
           [[CAST({_F_PI[0]} AS DOUBLE) * {_f_e_sql(0, 'xs[1]')},
             CAST({_F_PI[1]} AS DOUBLE) * {_f_e_sql(1, 'xs[1]')}]]
             || list_transform(xs[2:len(xs)], x -> [CAST(x AS DOUBLE), 0.0]),
           (acc, pp) -> [
             (acc[1] * CAST({_F_A[0][0]} AS DOUBLE)
              + acc[2] * CAST({_F_A[1][0]} AS DOUBLE))
               * {_f_e_sql(0, 'CAST(pp[1] AS INTEGER)')},
             (acc[1] * CAST({_F_A[0][1]} AS DOUBLE)
              + acc[2] * CAST({_F_A[1][1]} AS DOUBLE))
               * {_f_e_sql(1, 'CAST(pp[1] AS INTEGER)')}
           ]
         ) AS a
  FROM seq
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       round(ln(a[1] + a[2]), 8) AS forward_loglik,
       round(a[2] / (a[1] + a[2]), 8) AS p_intent_final
FROM folded
""",
)
def ml_hmm_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-algorithm sequence likelihood per user under the fixed
    browse/buy-intent HMM: one sorted collect per user, then the
    sum-product fold over [a_browse, a_intent]; emits the sequence
    log-likelihood and the filtered posterior P(intent | full
    sequence) — the score an HMM-based session classifier thresholds.
    Scale: parallelism = users, O(n) per sequence inside one task, two
    doubles leave the fold; model tables are literals compiled into
    the expression."""
    cat = F.expr(_v_cat_sql("event_type"))
    seq = (
        load(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", cat.alias("cat"))
        .groupBy("user_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "cat"))),
                lambda s: s["cat"],
            ).alias("xs")
        )
    )

    def e(state: int, cat_col):
        arr = F.array(*[F.lit(float(v)) for v in _F_E[state]])
        return F.element_at(arr, cat_col.cast("int") + F.lit(1))

    a = [[F.lit(float(v)) for v in row] for row in _F_A]

    def step(acc, x):
        a0, a1 = F.element_at(acc, 1), F.element_at(acc, 2)
        return F.array(
            (a0 * a[0][0] + a1 * a[1][0]) * e(0, x),
            (a0 * a[0][1] + a1 * a[1][1]) * e(1, x),
        )

    first = F.element_at(F.col("xs"), 1)
    init = F.array(
        F.lit(float(_F_PI[0])) * e(0, first),
        F.lit(float(_F_PI[1])) * e(1, first),
    )
    folded = seq.select(
        "user_id",
        F.size("xs").cast("bigint").alias("n_events"),
        F.aggregate(
            F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
            init,
            step,
        ).alias("a"),
    )
    a0, a1 = F.element_at("a", 1), F.element_at("a", 2)
    return folded.select(
        "user_id",
        "n_events",
        F.round(F.log(a0 + a1), 8).alias("forward_loglik"),
        F.round(a1 / (a0 + a1), 8).alias("p_intent_final"),
    )


# --- bagged decision stumps (random-forest building block) --------------------
#
# ml_decision_stump fits ONE stump; the forest primitive is B bagged
# replicates — each trained on a Poisson(1)-bootstrap reweighting of
# the data (agg_bootstrap_ci's replay-safe resampling: one md5 per
# row, odd-multiplier scramble per replicate, inverse-CDF ladder of
# DECIMAL literals — no runtime exp()). Each replicate's best split
# over the bucketed-value grid maximizes weighted Gini gain computed
# from EXACT integer (weight, weight*label) sums via one cumulative
# window; the divisions happen on identical int64s in both engines.
# The spread of chosen thresholds across replicates is the bagging
# readout (split stability), which is what the forest actually buys.

_RF_POIS_CDF = [
    "0.36787944", "0.73575888", "0.91969860",
    "0.98101184", "0.99634015", "0.99940582",
]
_RF_W_CASE = (
    "CASE "
    + " ".join(f"WHEN u < {c} THEN {k}" for k, c in enumerate(_RF_POIS_CDF))
    + " ELSE 6 END"
)
RF_B = 16  # bagged replicates
RF_BINS = 10  # value buckets (grid thresholds at bucket edges)


@register(
    "ml_rf_stumps",
    tags=("mltrain", "forest", "bootstrap"),
    oracle=f"""
WITH hashed AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         LEAST(CAST(FLOOR(value / 50.0) AS INTEGER), {RF_BINS - 1}) AS g,
         ('0x' || substr(md5('rf:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
           AS h0
  FROM events
),
fan AS (
  SELECT h.y, h.g, bs.b,
         ((h.h0 * (2 * bs.b + 1)) % 4294967296) / 4294967296.0 AS u
  FROM hashed h CROSS JOIN (SELECT unnest(range(0, {RF_B})) AS b) bs
),
weighted AS (SELECT b, g, y, {_RF_W_CASE} AS w FROM fan),
cells AS (
  SELECT b, g, CAST(SUM(w) AS BIGINT) AS nw,
         CAST(SUM(w * y) AS BIGINT) AS yw
  FROM weighted GROUP BY b, g
),
cum AS (
  SELECT b, g,
         SUM(nw) OVER (PARTITION BY b ORDER BY g
                       ROWS UNBOUNDED PRECEDING) AS nl,
         SUM(yw) OVER (PARTITION BY b ORDER BY g
                       ROWS UNBOUNDED PRECEDING) AS yl,
         SUM(nw) OVER (PARTITION BY b) AS n,
         SUM(yw) OVER (PARTITION BY b) AS y1
  FROM cells
),
gains AS (
  SELECT b, g AS t, nl, n - nl AS nr, yl, y1 - yl AS yr, n, y1,
         (1.0 - (CAST(y1 AS DOUBLE)/n)*(CAST(y1 AS DOUBLE)/n)
              - (CAST(n - y1 AS DOUBLE)/n)*(CAST(n - y1 AS DOUBLE)/n))
         - (CAST(nl AS DOUBLE)/n) *
             (1.0 - (CAST(yl AS DOUBLE)/nl)*(CAST(yl AS DOUBLE)/nl)
                  - (CAST(nl - yl AS DOUBLE)/nl)*(CAST(nl - yl AS DOUBLE)/nl))
         - (CAST(n - nl AS DOUBLE)/n) *
             (1.0 - (CAST(y1 - yl AS DOUBLE)/(n - nl))
                      *(CAST(y1 - yl AS DOUBLE)/(n - nl))
                  - (CAST((n - nl) - (y1 - yl) AS DOUBLE)/(n - nl))
                      *(CAST((n - nl) - (y1 - yl) AS DOUBLE)/(n - nl)))
           AS gain
  FROM cum WHERE g < {RF_BINS - 1} AND nl > 0 AND n - nl > 0
),
best AS (
  SELECT b, t, gain, n, ROW_NUMBER() OVER (
    PARTITION BY b ORDER BY gain DESC, t) AS rk
  FROM gains
)
SELECT CAST(b AS INTEGER) AS replicate,
       CAST(t AS INTEGER) AS best_bucket,
       CAST((t + 1) * 50.0 AS DOUBLE) AS best_threshold,
       round(gain, 8) AS gini_gain,
       CAST(n AS BIGINT) AS n_weighted
FROM best WHERE rk = 1
""",
)
def ml_rf_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{RF_B} bagged decision stumps predicting 'purchase' from the
    bucketed event value: deterministic Poisson bootstrap per
    replicate, exact integer (weight, weight*label) cells, one
    cumulative window per replicate for every candidate split, argmax
    by (gain DESC, bucket). Emits each replicate's chosen split —
    the across-replicate threshold spread IS the forest's stability
    readout. Scale: the x{RF_B} fan-out collapses into a map-side
    combined (b, bucket) cell aggregate; the window runs over
    O(B x bins) rows."""
    ev = load(spark, sf_dir, "events")
    hashed = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.least(
            F.floor(F.col("value") / 50.0).cast("int"), F.lit(RF_BINS - 1)
        ).alias("g"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rf:"), F.col("event_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h0"),
    )
    fan = hashed.select(
        "y",
        "g",
        F.explode(F.sequence(F.lit(0), F.lit(RF_B - 1))).alias("b"),
        "h0",
    ).withColumn(
        "u",
        ((F.col("h0") * (2 * F.col("b") + 1)) % F.lit(4294967296))
        / F.lit(4294967296.0),
    )
    weighted = fan.withColumn("w", F.expr(_RF_W_CASE))
    cells = weighted.groupBy("b", "g").agg(
        F.sum("w").cast("bigint").alias("nw"),
        F.sum(F.col("w") * F.col("y")).cast("bigint").alias("yw"),
    )
    wc = Window.partitionBy("b").orderBy("g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wb = Window.partitionBy("b")
    cum = cells.select(
        "b",
        "g",
        F.sum("nw").over(wc).alias("nl"),
        F.sum("yw").over(wc).alias("yl"),
        F.sum("nw").over(wb).alias("n"),
        F.sum("yw").over(wb).alias("y1"),
    )

    def gini(y, n):
        py = y.cast("double") / n
        pn = (n - y).cast("double") / n
        return F.lit(1.0) - py * py - pn * pn

    nl, n, yl, y1 = F.col("nl"), F.col("n"), F.col("yl"), F.col("y1")
    nr, yr = n - nl, y1 - yl
    gain = (
        gini(y1, n)
        - (nl.cast("double") / n) * gini(yl, nl)
        - (nr.cast("double") / n) * gini(yr, nr)
    )
    gains = cum.filter(
        (F.col("g") < RF_BINS - 1) & (nl > 0) & (nr > 0)
    ).select("b", F.col("g").alias("t"), "n", gain.alias("gain"))
    wr = Window.partitionBy("b").orderBy(F.col("gain").desc(), "t")
    return (
        gains.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            F.col("b").cast("int").alias("replicate"),
            F.col("t").cast("int").alias("best_bucket"),
            ((F.col("t") + 1) * F.lit(50.0)).alias("best_threshold"),
            F.round("gain", 8).alias("gini_gain"),
            F.col("n").cast("bigint").alias("n_weighted"),
        )
    )


# --- Kleinberg burst detection (2-state automaton with path decode) -----------
#
# Kleinberg (KDD 2002): model a user's inter-arrival gaps with a
# 2-state automaton — base rate a0 = m/T, burst rate s*a0 — charge
# gamma*ln(m) to ENTER the burst state, Viterbi-decode the minimum-
# cost state path. Unlike ml_viterbi_decode (terminal state only),
# this carries the FULL DECISION TABLE through the forward fold (the
# accumulator grows by one (d0, d1, gap) triple per step) and
# BACKTRACES it in a second fold, so the output is the actual burst
# segmentation: #bursts, gaps inside bursts, burst wall-time.
# Determinism: the only runtime transcendentals are three ln() per
# user (rate logs, entry cost), each round(_, 8) before use; all
# subsequent ops are {+, *, <=} on identical doubles in identical
# order, so the integer decisions hash exactly and the cost emits at
# 8 dp. Scale: parallelism = users; the fold state is 2 costs +
# 3 doubles per gap, inside one task; O(1) features leave.

BURST_S = "3.0"  # burst rate multiplier
BURST_GAMMA = "1.0"  # entry-cost coefficient


def _burst_fold_sql() -> str:
    """Forward Viterbi fold: acc = [c0, c1, (d0, d1, g)*], one triple
    appended per gap; element = [g, 0, 0]."""
    e0 = "(a0 * it[1] - la0)"
    e1 = "(a1 * it[1] - la1)"
    return f"""list_reduce(
  [[CAST(0 AS DOUBLE), CAST(1e18 AS DOUBLE)]]
    || list_transform(gs, g -> [g, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]),
  (acc, it) -> [
    {e0} + LEAST(acc[1], acc[2]),
    {e1} + LEAST(acc[1] + centry, acc[2])
  ] || acc[3:]
    || [CASE WHEN acc[1] <= acc[2] THEN CAST(0 AS DOUBLE) ELSE 1 END,
        CASE WHEN acc[1] + centry <= acc[2] THEN CAST(0 AS DOUBLE)
             ELSE 1 END,
        it[1]])"""


def _burst_backtrace_sql() -> str:
    """Backward fold over i = m..1: acc = [cur_state, n_burst_gaps,
    burst_secs, n_bursts]; decisions for gap i sit at flat[3i + cur],
    its gap at flat[3i + 2]."""
    return """list_reduce(
  [[CASE WHEN flat[1] <= flat[2] THEN CAST(0 AS DOUBLE) ELSE 1 END,
    CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]]
    || list_transform(list_reverse(range(1, m + 1)),
                      i -> [CAST(i AS DOUBLE), 0, 0, 0]),
  (acc, it) -> [
    flat[CAST(3 * it[1] + acc[1] AS BIGINT)],
    acc[2] + CASE WHEN acc[1] = 1 THEN 1 ELSE 0 END,
    acc[3] + CASE WHEN acc[1] = 1
             THEN flat[CAST(3 * it[1] + 2 AS BIGINT)] ELSE 0 END,
    acc[4] + CASE WHEN acc[1] = 1
                  AND flat[CAST(3 * it[1] + acc[1] AS BIGINT)] = 0
             THEN 1 ELSE 0 END])"""


@register(
    "ml_burst_kleinberg",
    tags=("mltrain", "burst", "viterbi", "segmentation"),
    oracle=f"""
WITH seq AS (
  SELECT user_id,
         list(CAST(floor(epoch(ts)) AS BIGINT) ORDER BY ts, event_id) AS tss  -- floor: Spark's unix_timestamp truncates, DuckDB's cast rounds
  FROM events GROUP BY user_id
),
gaps AS (
  SELECT user_id,
         CAST(len(tss) AS BIGINT) AS n_events,
         CAST(tss[len(tss)] - tss[1] AS DOUBLE) AS span,
         list_transform(range(2, len(tss) + 1),
                        i -> CAST(tss[i] - tss[i - 1] AS DOUBLE)) AS gs
  FROM seq WHERE len(tss) >= 3 AND tss[len(tss)] > tss[1]
),
params AS (
  SELECT user_id, n_events, gs, CAST(len(gs) AS BIGINT) AS m,
         round(ln(len(gs) / span), 8) AS la0,
         round(ln(CAST({BURST_S} AS DOUBLE) * len(gs) / span), 8) AS la1,
         len(gs) / span AS a0,
         CAST({BURST_S} AS DOUBLE) * len(gs) / span AS a1,
         round(CAST({BURST_GAMMA} AS DOUBLE)
               * ln(CAST(len(gs) AS DOUBLE)), 8) AS centry
  FROM gaps
),
fwd AS (
  SELECT user_id, n_events, m, centry, {_burst_fold_sql()} AS flat
  FROM params
),
bt AS (
  SELECT user_id, n_events, m,
         round(LEAST(flat[1], flat[2]), 8) AS viterbi_cost,
         {_burst_backtrace_sql()} AS st
  FROM fwd
)
SELECT user_id, n_events, m AS n_gaps, viterbi_cost,
       CAST(st[2] AS BIGINT) AS n_burst_gaps,
       CAST(st[3] AS BIGINT) AS burst_seconds,
       CAST(st[4] AS BIGINT) AS n_bursts
FROM bt
""",
)
def ml_burst_kleinberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg burst segmentation of each user's event stream — see
    the section comment. Emits per user the minimum path cost and the
    decoded segmentation (burst count, gaps inside bursts, burst
    seconds)."""
    # Explicit keyed repartition (optimization r14, guide §2.5): the
    # user_id exchange is ~2 MB, so AQE byte-coalescing ran the whole
    # per-user Viterbi fold on one task (measured 0.9 s at sf0.1).
    ev = load(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "user_id"
    )
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct("ts", "event_id", F.unix_timestamp("ts").alias("ep"))
                )
            ),
            lambda s: s["ep"],
        ).alias("tss")
    )
    n = F.size("tss")
    gaps = seq.filter(
        (n >= 3) & (F.element_at("tss", -1) > F.element_at("tss", 1))
    ).select(
        "user_id",
        n.cast("bigint").alias("n_events"),
        (F.element_at("tss", -1) - F.element_at("tss", 1))
        .cast("double")
        .alias("span"),
        F.transform(
            F.sequence(F.lit(2), n),
            lambda i: (
                F.element_at("tss", i) - F.element_at("tss", i - 1)
            ).cast("double"),
        ).alias("gs"),
    )
    m = F.size("gs").cast("bigint")
    sd = float(BURST_S)
    params = gaps.select(
        "user_id",
        "n_events",
        "gs",
        m.alias("m"),
        F.round(F.log(m.cast("double") / F.col("span")), 8).alias("la0"),
        F.round(
            F.log(F.lit(sd) * m.cast("double") / F.col("span")), 8
        ).alias("la1"),
        (m.cast("double") / F.col("span")).alias("a0"),
        (F.lit(sd) * m.cast("double") / F.col("span")).alias("a1"),
        F.round(
            F.lit(float(BURST_GAMMA)) * F.log(m.cast("double")), 8
        ).alias("centry"),
    )

    def fwd_step(acc, it):
        c0, c1 = F.element_at(acc, 1), F.element_at(acc, 2)
        g = F.element_at(it, 1)
        e0 = F.col("a0") * g - F.col("la0")
        e1 = F.col("a1") * g - F.col("la1")
        d0 = F.when(c0 <= c1, F.lit(0.0)).otherwise(F.lit(1.0))
        d1 = F.when(c0 + F.col("centry") <= c1, F.lit(0.0)).otherwise(
            F.lit(1.0)
        )
        return F.concat(
            F.array(
                e0 + F.least(c0, c1),
                e1 + F.least(c0 + F.col("centry"), c1),
            ),
            F.slice(acc, 3, F.greatest(F.size(acc) - 2, F.lit(0))),
            F.array(d0, d1, g),
        )

    fwd = params.select(
        "user_id",
        "n_events",
        "m",
        F.aggregate(
            F.transform(
                F.col("gs"), lambda g: F.array(g, F.lit(0.0), F.lit(0.0))
            ),
            F.array(F.lit(0.0), F.lit(1e18)),
            fwd_step,
        ).alias("flat"),
    )

    def bt_step(acc, it):
        cur = F.element_at(acc, 1)
        i = F.element_at(it, 1)
        d_cur = F.element_at(
            F.col("flat"), (F.lit(3.0) * i + cur).cast("int")
        )
        g = F.element_at(F.col("flat"), (F.lit(3.0) * i + 2).cast("int"))
        in_b = F.when(cur == 1.0, F.lit(1.0)).otherwise(F.lit(0.0))
        enters = F.when((cur == 1.0) & (d_cur == 0.0), F.lit(1.0)).otherwise(
            F.lit(0.0)
        )
        return F.array(
            d_cur,
            F.element_at(acc, 2) + in_b,
            F.element_at(acc, 3) + in_b * g,
            F.element_at(acc, 4) + enters,
        )

    c0, c1 = F.element_at("flat", 1), F.element_at("flat", 2)
    init_state = F.when(c0 <= c1, F.lit(0.0)).otherwise(F.lit(1.0))
    bt = fwd.select(
        "user_id",
        "n_events",
        "m",
        F.round(F.least(c0, c1), 8).alias("viterbi_cost"),
        "flat",
        F.aggregate(
            F.transform(
                F.reverse(F.sequence(F.lit(1).cast("bigint"), F.col("m"))),
                lambda i: F.array(
                    i.cast("double"), F.lit(0.0), F.lit(0.0), F.lit(0.0)
                ),
            ),
            F.array(init_state, F.lit(0.0), F.lit(0.0), F.lit(0.0)),
            bt_step,
        ).alias("st"),
    )
    return bt.select(
        "user_id",
        "n_events",
        F.col("m").alias("n_gaps"),
        "viterbi_cost",
        F.element_at("st", 2).cast("bigint").alias("n_burst_gaps"),
        F.element_at("st", 3).cast("bigint").alias("burst_seconds"),
        F.element_at("st", 4).cast("bigint").alias("n_bursts"),
    )
