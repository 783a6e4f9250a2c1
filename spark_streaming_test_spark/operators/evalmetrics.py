"""Model-evaluation metrics computed in-engine: AUC, calibration,
log-loss/Brier, precision-recall sweeps.

A training-data pipeline does not stop at producing examples — the same
engine scores candidate filters and ranking models offline, over the
full corpus, before anything ships. These operators compute the
standard classifier diagnostics as ONE aggregation pipeline each, so a
1000-executor cluster can grade a model on 100 TB of scored events
without sampling. The running example derives a binary label
(``event_type = 'purchase'``) and a monotone score (``value`` /
its logistic squash) from the events table; in production the label
and score are just columns of the scored dataset.

The reference engine stops at per-key sums (``MainApp.java:40-44``);
this family generalizes the same shuffle shape (group → partials →
small frame) to rank statistics and proper scoring rules.

Determinism: AUC is exact INTEGER rank arithmetic until one final
division. Probabilities and per-row losses route transcendentals
(exp/ln) through ``round(_, 8)`` — libm builds may differ in the last
ulp — then aggregate as DECIMAL(25,8) (order-invariant, bitwise equal
across engines); see ``functions/deterministic`` for the rule.

Scale: every metric reduces to sufficient statistics with map-side
partial aggregation. AUC shuffles O(days × distinct scores) count
pairs (never rows); the cumulative window rides the same partitioning.
Calibration/loss shuffle O(groups) decimal partials. The threshold
sweep broadcasts a 9-row threshold frame — no per-threshold rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..iterate import materialize
from ..registry import register

_DP = 8  # transcendental rounding, matches LOGPROB_DP in text_analysis
_DEC8 = f"decimal(25,{_DP})"

# Logistic squash of the raw event value into a pseudo-probability.
# Centered/scaled so the sf0.01 value range (0..490) maps well inside
# (0, 1) with mass on both sides of 0.5.
_P_SQL = f"round(1.0 / (1.0 + exp(-(value - 150.0) / 75.0)), {_DP})"
_Y_SQL = "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → (day, y ∈ {0,1}, score, p ∈ (0,1) at 8 dp)."""
    e = load(spark, sf_dir, "events")
    return e.select(
        F.to_date("ts").alias("day"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.col("value").alias("score"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("value") - 150.0) / 75.0)),
            _DP,
        ).alias("p"),
    )


@register(
    "mlstats_auc_roc",
    tags=("mlstats", "evaluation", "rank"),
    oracle=f"""
WITH scored AS (
  SELECT CAST(ts AS DATE) AS day, {_Y_SQL} AS y, value AS score FROM events
),
by_score AS (
  SELECT day, score,
         SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
  FROM scored GROUP BY day, score
),
cum AS (
  SELECT day, pos, neg,
         SUM(neg) OVER (PARTITION BY day ORDER BY score
                        ROWS UNBOUNDED PRECEDING) - neg AS neg_below
  FROM by_score
)
SELECT day,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(neg) AS BIGINT) AS n_neg,
       CAST(SUM(pos * (2 * neg_below + neg)) AS DOUBLE)
         / (2.0 * SUM(pos) * SUM(neg)) AS auc
FROM cum GROUP BY day
""",
)
def mlstats_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC per day via the Mann-Whitney U statistic with the
    standard tie correction (each tied pos/neg pair contributes 1/2).

    The textbook trapezoid-over-sorted-scores needs a global sort of
    every scored row; this form needs only the per-(day, score) POSITIVE
    and NEGATIVE COUNTS — U = Σ_s pos_s · (neg_below_s + neg_s / 2) —
    so the shuffle carries one count pair per distinct score, and the
    cumulative window runs over that already-small frame on the same
    day-partitioning. Doubling U keeps the arithmetic in exact int64
    until the single final division (deterministic cross-engine)."""
    s = _scored(spark, sf_dir)
    by_score = s.groupBy("day", "score").agg(
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    w = Window.partitionBy("day").orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = by_score.withColumn(
        "neg_below", F.sum("neg").over(w) - F.col("neg")
    )
    return cum.groupBy("day").agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        (
            F.sum(
                F.col("pos") * (F.lit(2) * F.col("neg_below") + F.col("neg"))
            ).cast("double")
            / (F.lit(2.0) * F.sum("pos") * F.sum("neg"))
        ).alias("auc"),
    )


@register(
    "mlstats_calibration_bins",
    tags=("mlstats", "evaluation", "calibration"),
    oracle=f"""
WITH scored AS (
  SELECT {_Y_SQL} AS y, {_P_SQL} AS p FROM events
),
binned AS (
  SELECT LEAST(CAST(FLOOR(p * 10) AS INTEGER), 9) AS bin, y, p FROM scored
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(p AS DECIMAL(25,{_DP}))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_pred,
       CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac_pos,
       (CAST(SUM(CAST(p AS DECIMAL(25,{_DP}))) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE))
         - (CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS gap
FROM binned GROUP BY bin
""",
)
def mlstats_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram: decile-bin the predicted probability and
    compare mean prediction vs observed positive rate per bin (the gap
    column is the per-bin calibration error; its weighted sum is ECE).

    One hash shuffle on a 10-value key with map-side combine — the
    partials are (count, decimal Σp, Σy) triples, so the exchange is
    O(bins), corpus-size-independent. Mean predictions aggregate the
    8-dp-rounded probability as DECIMAL(25,8): partition-order
    invariant, bitwise equal to the oracle."""
    s = _scored(spark, sf_dir)
    binned = s.select(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bin"),
        "y",
        "p",
    )
    n = F.count(F.lit(1))
    mean_pred = F.sum(F.col("p").cast(_DEC8)).cast("double") / n.cast("double")
    frac_pos = F.sum("y").cast("double") / n.cast("double")
    return binned.groupBy("bin").agg(
        n.cast("bigint").alias("n"),
        mean_pred.alias("mean_pred"),
        frac_pos.alias("frac_pos"),
        (mean_pred - frac_pos).alias("gap"),
    )


@register(
    "mlstats_logloss_brier",
    tags=("mlstats", "evaluation", "scoring-rule"),
    oracle=f"""
WITH scored AS (
  SELECT CAST(ts AS DATE) AS day, {_Y_SQL} AS y, {_P_SQL} AS p FROM events
),
rowloss AS (
  SELECT day,
         round(-(y * ln(p) + (1 - y) * ln(1.0 - p)), {_DP}) AS ll,
         round((p - y) * (p - y), {_DP}) AS br
  FROM scored
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ll AS DECIMAL(25,{_DP}))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS logloss,
       CAST(SUM(CAST(br AS DECIMAL(25,{_DP}))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS brier
FROM rowloss GROUP BY day
""",
)
def mlstats_logloss_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proper scoring rules per day: mean negative log-likelihood
    (log-loss / cross-entropy) and mean squared error on probabilities
    (Brier score) — the two standard "is the model's confidence worth
    anything" numbers, computed exactly over every scored row.

    The logistic squash keeps p strictly inside (0,1) so ln never sees
    0; per-row losses are rounded at 8 dp (ln is libm-dependent in the
    last ulp) then decimal-summed — ONE map-side-combined shuffle
    carrying O(days) partials."""
    s = _scored(spark, sf_dir)
    p, y = F.col("p"), F.col("y")
    rowloss = s.select(
        "day",
        F.round(
            -(y * F.log(p) + (F.lit(1) - y) * F.log(F.lit(1.0) - p)), _DP
        ).alias("ll"),
        F.round((p - y) * (p - y), _DP).alias("br"),
    )
    n = F.count(F.lit(1))
    return rowloss.groupBy("day").agg(
        n.cast("bigint").alias("n"),
        (F.sum(F.col("ll").cast(_DEC8)).cast("double") / n.cast("double")).alias(
            "logloss"
        ),
        (F.sum(F.col("br").cast(_DEC8)).cast("double") / n.cast("double")).alias(
            "brier"
        ),
    )


@register(
    "mlstats_threshold_sweep",
    tags=("mlstats", "evaluation", "precision-recall"),
    oracle=f"""
WITH scored AS (
  SELECT {_Y_SQL} AS y, {_P_SQL} AS p FROM events
),
thresholds AS (
  SELECT CAST(i AS DOUBLE) / 10.0 AS thr FROM range(1, 10) AS t(i)
),
conf AS (
  SELECT thr,
         SUM(CASE WHEN p >= thr AND y = 1 THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN p >= thr AND y = 0 THEN 1 ELSE 0 END) AS fp,
         SUM(CASE WHEN p <  thr AND y = 1 THEN 1 ELSE 0 END) AS fn
  FROM scored CROSS JOIN thresholds
  GROUP BY thr
)
SELECT thr,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       CASE WHEN tp + fp = 0 THEN 0.0
            ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
       CASE WHEN tp + fn = 0 THEN 0.0
            ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
       CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
            ELSE 2.0 * tp / (2 * tp + fp + fn) END AS f1
FROM conf
""",
)
def mlstats_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 at nine operating thresholds (0.1–0.9)
    in one pass: broadcast the 9-row threshold frame across the scored
    events, then count the confusion cells per threshold.

    The naive loop re-scans the corpus per threshold; this form scans
    ONCE, multiplies each row into 9 (a broadcast nested-loop join
    against a literal frame — no shuffle on the big side), and reduces
    to 9 integer triples with map-side combine. Exact integer counts
    until the final ratios — deterministic cross-engine."""
    s = spread(_scored(spark, sf_dir))
    thresholds = spark.range(1, 10).select(
        (F.col("id").cast("double") / 10.0).alias("thr")
    )
    joined = s.crossJoin(F.broadcast(thresholds))
    hit = F.col("p") >= F.col("thr")
    conf = joined.groupBy("thr").agg(
        F.sum(F.when(hit & (F.col("y") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(hit & (F.col("y") == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~hit & (F.col("y") == 1), 1).otherwise(0)).alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return conf.select(
        "thr",
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        F.when(tp + fp == 0, F.lit(0.0))
        .otherwise(tp.cast("double") / (tp + fp))
        .alias("precision"),
        F.when(tp + fn == 0, F.lit(0.0))
        .otherwise(tp.cast("double") / (tp + fn))
        .alias("recall"),
        F.when(F.lit(2) * tp + fp + fn == 0, F.lit(0.0))
        .otherwise(F.lit(2.0) * tp / (F.lit(2) * tp + fp + fn))
        .alias("f1"),
    )


# --- ranking metrics: NDCG@k and MAP@k over the retrieval path ------------

# Literal 10-dp discount weights 1/log2(rank+1) and their exact cumulative
# sums (the ideal DCG for n relevant items in the top 10). Identical
# literal strings are inlined in BOTH engines, so the transcendental
# log2 never executes at query time and cannot diverge between libms.
_DCG_W = [
    "1.0000000000", "0.6309297536", "0.5000000000", "0.4306765581",
    "0.3868528072", "0.3562071871", "0.3333333333", "0.3154648768",
    "0.3010299957", "0.2890648263",
]
_IDCG = [
    "1.0000000000", "1.6309297536", "2.1309297536", "2.5616063117",
    "2.9484591189", "3.3046663060", "3.6379996393", "3.9534645161",
    "4.2544945118", "4.5435593381",
]
# LCM(1..10): every precision@i term cum_rel/i becomes the integer
# cum_rel * (2520 div i), so AP is pure int64 until ONE final division.
_AP_LCM = 2520

_DCG_CASE = (
    "CASE rank "
    + " ".join(
        f"WHEN {i + 1} THEN CAST({w} AS DECIMAL(15,10))"
        for i, w in enumerate(_DCG_W)
    )
    + " END"
)
_IDCG_CASE = (
    "CASE n_rel "
    + " ".join(
        f"WHEN {i + 1} THEN CAST({c} AS DOUBLE)" for i, c in enumerate(_IDCG)
    )
    + " END"
)


@register(
    "mlstats_ndcg_map",
    tags=("mlstats", "ranking", "eval", "llm"),
    oracle=f"""
WITH q AS (
  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS q_label,
         e.vec_id AS neighbor_id, e.label AS n_label,
         list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
           / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, q_label, n_label,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
),
topk AS (
  SELECT query_id,
         CASE WHEN q_label = n_label THEN 1 ELSE 0 END AS rel,
         rank
  FROM ranked WHERE rank <= 10
),
cum AS (
  SELECT query_id, rel, rank,
         SUM(rel) OVER (PARTITION BY query_id ORDER BY rank
                        ROWS UNBOUNDED PRECEDING) AS cum_rel
  FROM topk
),
agg AS (
  SELECT query_id,
         CAST(SUM(rel) AS BIGINT) AS n_rel,
         SUM(CASE WHEN rel = 1 THEN {_DCG_CASE}
                  ELSE CAST(0 AS DECIMAL(15,10)) END) AS dcg_dec,
         SUM(CASE WHEN rel = 1 THEN cum_rel * ({_AP_LCM} // rank)
                  ELSE 0 END) AS ap_num
  FROM cum GROUP BY query_id
)
SELECT query_id, n_rel,
       CAST(dcg_dec AS DOUBLE) AS dcg,
       CASE WHEN n_rel > 0
            THEN CAST(dcg_dec AS DOUBLE) / ({_IDCG_CASE})
       END AS ndcg_10,
       CASE WHEN n_rel > 0
            THEN CAST(ap_num AS DOUBLE) / ({_AP_LCM}.0 * n_rel)
       END AS ap_10
FROM agg
""",
)
def mlstats_ndcg_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 and average precision@10 for the engine's own exact
    retrieval path, graded by label agreement — the offline ranking
    scorecard run before an embedding model or index change ships.

    Everything after the top-k window runs on O(queries × k) rows.
    The log2 discount weights and ideal-DCG ladder are shared literal
    tables (no runtime transcendentals); DCG accumulates as exact
    DECIMAL(15,10); AP is integer via the LCM(1..10) trick — so every
    reported metric is bitwise identical across engines and partition
    counts. At corpus scale the brute-force scorer swaps for the IVF
    index with the metric stage unchanged."""
    from ..catalog import spread
    from ..llm.similarity import cosine

    e = spread(load(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "q_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        cosine(
            F.col("q_emb").cast("array<double>"),
            F.col("embedding").cast("array<double>"),
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .withColumn(
            "rel",
            F.when(F.col("q_label") == F.col("n_label"), 1).otherwise(0),
        )
    )
    wc = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = topk.withColumn("cum_rel", F.sum("rel").over(wc))
    agg = cum.groupBy("query_id").agg(
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.sum(
            F.when(F.col("rel") == 1, F.expr(_DCG_CASE)).otherwise(
                F.lit(0).cast("decimal(15,10)")
            )
        ).alias("dcg_dec"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                F.col("cum_rel") * F.expr(f"{_AP_LCM} div rank"),
            ).otherwise(F.lit(0))
        ).alias("ap_num"),
    )
    n_rel = F.col("n_rel")
    return agg.select(
        "query_id",
        "n_rel",
        F.col("dcg_dec").cast("double").alias("dcg"),
        F.when(
            n_rel > 0,
            F.col("dcg_dec").cast("double") / F.expr(_IDCG_CASE),
        ).alias("ndcg_10"),
        F.when(
            n_rel > 0,
            F.col("ap_num").cast("double") / (float(_AP_LCM) * n_rel),
        ).alias("ap_10"),
    )


# --- exact fixed-point PR-AUC (average precision) -------------------------

_AP_SCALE = 10_000_000_000  # precision terms in fixed-point 1e-10


@register(
    "mlstats_pr_auc",
    tags=("mlstats", "evaluation", "rank"),
    oracle=f"""
WITH scored AS (
  SELECT CAST(ts AS DATE) AS day, event_id,
         {_Y_SQL} AS y, value AS score
  FROM events
),
ranked AS (
  SELECT day, y,
         ROW_NUMBER() OVER (PARTITION BY day
                            ORDER BY score DESC, event_id) AS k,
         SUM(y) OVER (PARTITION BY day
                      ORDER BY score DESC, event_id
                      ROWS UNBOUNDED PRECEDING) AS cum_pos
  FROM scored
),
agg AS (
  SELECT day,
         SUM(CASE WHEN y = 1
                  THEN (cum_pos * {_AP_SCALE}) // k ELSE 0 END) AS ap_fp,
         SUM(y) AS pos,
         COUNT(*) - SUM(y) AS neg
  FROM ranked GROUP BY day
)
SELECT day, CAST(pos AS BIGINT) AS pos, CAST(neg AS BIGINT) AS neg,
       CASE WHEN pos > 0
            THEN CAST(ap_fp AS DOUBLE) / (CAST(pos AS DOUBLE) * {_AP_SCALE})
       END AS pr_auc
FROM agg
""",
)
def mlstats_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (area under the precision-recall curve,
    step interpolation) per day — the imbalanced-classes companion to
    ROC-AUC: AP = mean over positives of precision@their-rank under
    the score ordering.

    Determinism: each precision term is the FIXED-POINT integer
    floor(cum_pos·10¹⁰ / k) — a 10-dp rounded rational can land
    exactly on a .5 tie (cum/k = 1/2048 does), where engines round
    apart; integer floor division cannot. One ordered window + one
    aggregate; the shuffle carries day-partitioned rows once, bias is
    < 10⁻¹⁰ per positive."""
    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.col("event_id"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.col("value").alias("score"),
    )
    wo = Window.partitionBy("day").orderBy(F.col("score").desc(), "event_id")
    ranked = ev.withColumn("k", F.row_number().over(wo)).withColumn(
        "cum_pos",
        F.sum("y").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    agg = ranked.groupBy("day").agg(
        F.sum(
            F.when(
                F.col("y") == 1,
                F.expr(f"(cum_pos * {_AP_SCALE}) div k"),
            ).otherwise(F.lit(0))
        ).alias("ap_fp"),
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    return agg.select(
        "day",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("neg").cast("bigint").alias("neg"),
        F.when(
            F.col("pos") > 0,
            F.col("ap_fp").cast("double")
            / (F.col("pos").cast("double") * F.lit(float(_AP_SCALE))),
        ).alias("pr_auc"),
    )


# --- cumulative gains / lift table ----------------------------------------

LIFT_DECILES = 10

# Shared by mlstats_lift_gains and its distributed-rank twin: both
# compute the identical decile table, so one oracle serves both.
_LIFT_ORACLE = f"""
WITH scored AS (
  SELECT event_id, {_Y_SQL} AS y, value AS score FROM events
),
ranked AS (
  SELECT y,
         NTILE({LIFT_DECILES}) OVER (ORDER BY score DESC, event_id)
           AS decile
  FROM scored
),
per AS (
  SELECT decile, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM ranked GROUP BY decile
),
tot AS (SELECT SUM(n) AS nt, SUM(pos) AS pt FROM per)
SELECT p.decile,
       CAST(p.n AS BIGINT) AS n,
       p.pos,
       CAST(SUM(p.pos) OVER (ORDER BY p.decile ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_pos,
       CAST(SUM(p.pos) OVER (ORDER BY p.decile ROWS UNBOUNDED PRECEDING)
            AS DOUBLE) / t.pt AS cum_capture,
       (CAST(p.pos AS DOUBLE) / p.n) / (CAST(t.pt AS DOUBLE) / t.nt) AS lift
FROM per p CROSS JOIN tot t
"""


@register(
    "mlstats_lift_gains",
    tags=("mlstats", "evaluation", "ranking"),
    oracle=_LIFT_ORACLE,
)
def mlstats_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift table: rank the population by model
    score, cut into {LIFT_DECILES} deciles, and report each decile's
    positive capture and lift over base rate — the campaign-targeting
    readout ("the top 20% of scores captures X% of converters") that
    decides how deep to act on a model.

    Total-ordered NTILE (score, id tie-break) makes decile membership
    deterministic; everything after is integer counts over
    {LIFT_DECILES} rows, cumulative as an integer window, with final
    IEEE ratios. One global rank pass — at fleet scale the NTILE swaps
    for pre-computed exact-rank decile edges (the dq_psi_drift
    pattern) to avoid the single-ordering bottleneck."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.col("value").alias("score"),
    )
    wr = Window.orderBy(F.col("score").desc(), "event_id")
    ranked = ev.withColumn("decile", F.ntile(LIFT_DECILES).over(wr))
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    tot = per.agg(
        F.sum("n").alias("nt"), F.sum("pos").alias("pt")
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cum_pos", F.sum("pos").over(wc))
        .select(
            "decile",
            F.col("n").cast("bigint").alias("n"),
            "pos",
            F.col("cum_pos").cast("bigint").alias("cum_pos"),
            (F.col("cum_pos").cast("double") / F.col("pt")).alias(
                "cum_capture"
            ),
            (
                (F.col("pos").cast("double") / F.col("n"))
                / (F.col("pt").cast("double") / F.col("nt"))
            ).alias("lift"),
        )
    )


LIFT_RANGE_PARTS = 32  # range-partition fan for the distributed rank


def _range_local_ranked(df: DataFrame, order_cols: list) -> DataFrame:
    """Stage 1 of the distributed rank: range-partition the corpus on
    the given total order and compute partition-LOCAL row numbers
    (columns ``_pid``, ``_lrank``). No single-partition exchange
    anywhere (plan-pinned by tests/test_plans.py); callers must bind
    every consumer to ONE materialized instance (localCheckpoint) —
    RangePartitioner's sample seed includes the RDD id, so two plan
    instances can draw different boundaries."""
    parts = df.repartitionByRange(LIFT_RANGE_PARTS, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    wloc = Window.partitionBy("_pid").orderBy(*order_cols)
    return parts.withColumn("_lrank", F.row_number().over(wloc))


def distributed_row_number(df: DataFrame, order_cols: list) -> DataFrame:
    """Exact ``ROW_NUMBER() OVER (ORDER BY order_cols)`` as a ``_rnk``
    column (plus the total count as ``_nt``), computed WITHOUT a
    single-partition sort — the shared primitive under
    ``distributed_ntile`` and every raw-grain global-rank migration
    (VERDICT r11 #3).

    Two-pass exact rank: range partitions give partition-local row
    numbers; per-range counts (one row per range) become rank offsets
    via a broadcast triangular self-join (O(P²) pairs of a P-row
    frame). order_cols must be a total order, which makes the output
    independent of where the sampled range boundaries land."""
    local = materialize(_range_local_ranked(df, order_cols), eager=False)
    sizes = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    a, b = sizes.alias("a"), sizes.alias("b")
    offs = (
        a.join(F.broadcast(b), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_off"))
    )
    tot = sizes.agg(F.sum("_cnt").alias("_nt"))
    return (
        local.join(F.broadcast(offs), "_pid")
        .crossJoin(F.broadcast(tot))
        .withColumn("_rnk", F.col("_lrank") + F.col("_off"))
        .drop("_pid", "_lrank", "_off")
    )


def distributed_prefix_sum(
    df: DataFrame, order_cols: list, col: str
) -> DataFrame:
    """Exact global rank AND running sum — ``_rnk``, ``_nt``,
    ``_cum`` (= SUM(col) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)) and ``_tot`` — without a single-partition sort: the
    cumulative-window counterpart of ``distributed_row_number``
    (Lorenz/Pareto curves, CDF sweeps, drawdown-style prefix scans).

    Same two-pass shape: range partitions compute partition-LOCAL rank
    and running sum; per-range (count, sum) rows — one per range —
    become rank/sum offsets via the broadcast triangular self-join.
    ``col`` must be an exact associative type (integer/decimal): the
    offset addition then reproduces the single-partition running sum
    bitwise regardless of where the sampled range boundaries land.
    (The cum/tot decimal may widen a digit vs the one-window form —
    cast at the consumer.)"""
    wloc = Window.partitionBy("_pid").orderBy(*order_cols)
    local = materialize(
        _range_local_ranked(df, order_cols).withColumn(
            "_lcum", F.sum(col).over(wloc)
        ),
        eager=False,
    )
    sizes = local.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_cnt"), F.sum(col).alias("_s")
    )
    a, b = sizes.alias("a"), sizes.alias("b")
    zero = F.lit(0)
    offs = (
        a.join(F.broadcast(b), F.col("b._pid") < F.col("a._pid"), "left")
        .groupBy(F.col("a._pid").alias("_pid"))
        .agg(
            F.coalesce(F.sum("b._cnt"), zero).alias("_off"),
            F.coalesce(F.sum("b._s"), zero).alias("_soff"),
        )
    )
    tot = sizes.agg(
        F.sum("_cnt").alias("_nt"), F.sum("_s").alias("_tot")
    )
    return (
        local.join(F.broadcast(offs), "_pid")
        .crossJoin(F.broadcast(tot))
        .withColumn("_rnk", F.col("_lrank") + F.col("_off"))
        .withColumn("_cum", F.col("_lcum") + F.col("_soff"))
        .drop("_pid", "_lrank", "_off", "_soff", "_lcum")
    )


def distributed_ntile(df: DataFrame, tiles: int, order_cols: list) -> DataFrame:
    """Exact ``NTILE(tiles) OVER (ORDER BY order_cols)`` as a ``tile``
    column, computed WITHOUT a single-partition sort — the scale form
    of the global-rank shape (VERDICT r10 #4), shared by
    ``mlstats_lift_gains_distributed``, ``ml_isotonic_calibration``,
    ``rfm_segmentation``, ``ab_test_qini_uplift`` and
    ``corpus_curriculum_order``.

    Tile membership is closed-form arithmetic on the exact rank from
    ``distributed_row_number`` (NTILE remainder semantics: the first
    N mod T tiles hold ceil(N/T) rows). All divisions operate on
    counts < 2^53, so the floor-of-double forms are exact."""
    ranked = distributed_row_number(df, order_cols)
    qq = F.floor(F.col("_nt") / F.lit(tiles)).cast("bigint")
    rr = (F.col("_nt") % F.lit(tiles)).cast("bigint")
    thr = rr * (qq + F.lit(1))
    safe_q = F.greatest(qq, F.lit(1))
    tile = (
        F.when(
            F.col("_rnk") <= thr,
            F.floor((F.col("_rnk") + qq) / (qq + F.lit(1))),
        )
        .otherwise(
            rr + F.floor((F.col("_rnk") - thr + safe_q - F.lit(1)) / safe_q)
        )
        .cast("int")
    )
    return ranked.withColumn("tile", tile).drop("_nt", "_rnk")


@register(
    "mlstats_lift_gains_distributed",
    tags=("mlstats", "evaluation", "ranking", "scale"),
    oracle=_LIFT_ORACLE,
)
def mlstats_lift_gains_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``mlstats_lift_gains`` re-expressed without a single-partition
    ordering of the corpus — the scale form of the global-rank shape
    (VERDICT r10 #4), twinning it the way ``traffic_alerts_broadcast``
    twins the collect-once flagship.

    The global NTILE becomes a distributed two-pass exact rank:

      1. ``repartitionByRange`` on (score DESC, event_id) splits the
         total order into {LIFT_RANGE_PARTS} contiguous ranges;
         ``row_number`` runs PARTITIONED by the range id, so every
         sort is partition-local.
      2. Per-range counts (one row per range) turn into rank offsets
         via a broadcast triangular self-join — O(P^2) pairs of a
         P-row frame — and each row's exact global rank is
         local rank + its range's offset, attached by broadcast join.

    Decile membership is then pure arithmetic on the rank (NTILE
    semantics: the first N mod T tiles hold ceil(N/T) rows), and the
    10-row cumulative table folds through the same triangular-join
    trick — so the WHOLE plan contains no Exchange SinglePartition
    (pinned by tests/test_plans.py). Rank, decile, and output are
    exact and independent of where the sampled range boundaries land,
    because (score, event_id) is a total order. All divisions happen
    on counts < 2^53, so the floor-of-double forms are exact."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.col("value").alias("score"),
    )
    ranked = distributed_ntile(
        ev, LIFT_DECILES, [F.col("score").desc(), F.col("event_id")]
    )
    per = (
        ranked.withColumnRenamed("tile", "decile")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("bigint").alias("pos"),
        )
    )
    totals = per.agg(
        F.sum("n").alias("nt"), F.sum("pos").alias("pt")
    )
    pa, pb = per.alias("pa"), per.alias("pb")
    cum = (
        pa.join(F.broadcast(pb), F.col("pb.decile") <= F.col("pa.decile"))
        .groupBy(
            F.col("pa.decile").alias("decile"),
            F.col("pa.n").alias("n_raw"),
            F.col("pa.pos").alias("pos"),
        )
        .agg(F.sum("pb.pos").alias("cum_pos"))
    )
    return cum.crossJoin(F.broadcast(totals)).select(
        "decile",
        F.col("n_raw").cast("bigint").alias("n"),
        "pos",
        F.col("cum_pos").cast("bigint").alias("cum_pos"),
        (F.col("cum_pos").cast("double") / F.col("pt")).alias("cum_capture"),
        (
            (F.col("pos").cast("double") / F.col("n_raw"))
            / (F.col("pt").cast("double") / F.col("nt"))
        ).alias("lift"),
    )


@register(
    "events_value_lorenz_distributed",
    tags=("scale", "window", "distributed-rank", "events"),
    oracle="""
WITH vals AS (
  SELECT event_id,
         CAST(CAST(value AS DECIMAL(12,2)) AS DECIMAL(18,2)) AS x
  FROM events
),
ranked AS (
  SELECT x,
         ROW_NUMBER() OVER (ORDER BY x DESC, event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM vals
),
cum AS (
  SELECT rn, n,
         SUM(x) OVER (ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_x,
         SUM(x) OVER () AS tot
  FROM ranked
)
SELECT CAST(decile AS INTEGER) AS top_pct_decile,
       CAST(MAX(rn) AS BIGINT) AS n_events,
       CAST(MAX(cum_x) AS DOUBLE) / CAST(MAX(tot) AS DOUBLE)
         AS value_share
FROM (
  SELECT *, CAST(ceil(10.0 * rn / n) AS BIGINT) AS decile
  FROM cum
)
GROUP BY decile
""",
)
def events_value_lorenz_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lorenz curve of event VALUE at RAW EVENT GRAIN — the corpus-
    grain demonstration of ``distributed_prefix_sum``: unlike
    ``agg_concentration_curve`` (which pre-reduces to customers), this
    ranks and prefix-sums the fact table itself, the shape that a
    single-partition cumulative window could never survive at 100 TB.
    Per top-N%-of-events decile: event count and cumulative share of
    total value.

    Exact by construction: decimal value through both cumulative sums
    (associative — the per-range offsets reproduce the one-window sum
    bitwise), exact two-pass rank, and the decile boundary
    ceil(10·rn/n) is safe in double out to ~1e14 rows (the rational's
    distance from an integer is ≥ 1/n, astronomically above ulp(10))."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").cast("decimal(12,2)").cast("decimal(18,2)").alias("x"),
    )
    cum = distributed_prefix_sum(
        ev, [F.col("x").desc(), "event_id"], "x"
    ).select(
        F.col("_rnk").alias("rn"),
        F.col("_nt").alias("n"),
        F.col("_cum").alias("cum_x"),
        F.col("_tot").alias("tot"),
    )
    decile = F.ceil(F.lit(10.0) * F.col("rn") / F.col("n")).cast("bigint")
    return (
        cum.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.max("rn").cast("bigint").alias("n_events"),
            (
                F.max("cum_x").cast("double") / F.max("tot").cast("double")
            ).alias("value_share"),
        )
        .select(
            F.col("decile").cast("int").alias("top_pct_decile"),
            "n_events",
            "value_share",
        )
    )


@register(
    "mlstats_ece",
    tags=("mlstats", "evaluation", "calibration"),
    oracle=f"""
WITH scored AS (
  SELECT {_Y_SQL} AS y, {_P_SQL} AS p FROM events
),
binned AS (
  SELECT LEAST(CAST(FLOOR(p * 10) AS INTEGER), 9) AS bin, y, p FROM scored
),
per_bin AS (
  SELECT bin, COUNT(*) AS n,
         CAST(SUM(CAST(p AS DECIMAL(25,8))) AS DOUBLE) / COUNT(*) AS p_mean,
         CAST(SUM(y) AS DOUBLE) / COUNT(*) AS y_rate
  FROM binned GROUP BY bin
),
tot AS (SELECT SUM(n) AS nt FROM per_bin)
SELECT CAST(t.nt AS BIGINT) AS n_total,
       CAST(COUNT(*) AS INTEGER) AS n_bins,
       round(CAST(SUM(CAST(round(p.n * abs(p.p_mean - p.y_rate), 8)
                           AS DECIMAL(30,8))) AS DOUBLE) / t.nt, 8) AS ece,
       round(MAX(abs(p.p_mean - p.y_rate)), 8) AS mce
FROM per_bin p CROSS JOIN tot t
GROUP BY t.nt
""",
)
def mlstats_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected and maximum calibration error — the single-number
    summary of the reliability diagram (`mlstats_calibration_bins`):
    ECE = Σ (n_b/N)·|p̄_b − ȳ_b|, MCE = the worst bin. The headline
    metric a model-card reports and a recalibration (Platt/isotonic)
    job optimizes.

    Same one-shuffle decile reduce as the diagram; per-bin terms are
    generically rounded (the gap is a difference of rational means —
    tie-free at 8 dp) and decimal-summed, so the weighted average is
    order-invariant cross-engine."""
    s = _scored(spark, sf_dir)
    binned = s.select(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bin"),
        "y",
        "p",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("p").cast("decimal(25,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("p_mean"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("y_rate"),
    )
    tot = per_bin.agg(F.sum("n").alias("nt"))
    gap = F.abs(F.col("p_mean") - F.col("y_rate"))
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .groupBy("nt")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_bins"),
            F.round(
                F.sum(
                    F.round(F.col("n") * gap, 8).cast("decimal(30,8)")
                ).cast("double")
                / F.col("nt"),
                8,
            ).alias("ece"),
            F.round(F.max(gap), 8).alias("mce"),
        )
        .select(
            F.col("nt").cast("bigint").alias("n_total"),
            "n_bins",
            "ece",
            "mce",
        )
    )


# --- DeLong variance / CI for AUC --------------------------------------------
#
# A point AUC without an interval can't gate a model rollout. DeLong's
# nonparametric variance uses PLACEMENT VALUES: each positive's V10 =
# fraction of negatives it outranks (ties half), each negative's V01
# symmetric; Var(AUC) = S10/n_pos + S01/n_neg with S the sample
# variances (Sun & Xu's midrank formulation). The placements reduce to
# the SAME per-(day, score) count frame as mlstats_auc_roc — each
# positive at score s has doubled placement 2*neg_below + neg_at, each
# negative 2*pos_above + pos_at — so the whole estimator is two
# cumulative windows over O(distinct scores) counts, never a row-level
# pairwise pass. Doubled placements are exact int64; S1/S2 moment sums
# stay integer until the final double divisions (identical operands
# cross-engine; int64 headroom holds through ~sf1, the 100 TB posture
# is widening the moment sums to DECIMAL(38,0)).

@register(
    "mlstats_auc_delong_ci",
    tags=("mlstats", "evaluation", "rank", "ci"),
    oracle=f"""
WITH scored AS (
  SELECT CAST(ts AS DATE) AS day, {_Y_SQL} AS y, value AS score FROM events
),
by_score AS (
  SELECT day, score,
         SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
  FROM scored GROUP BY day, score
),
cum AS (
  SELECT day, score, pos, neg,
         SUM(neg) OVER (PARTITION BY day ORDER BY score
                        ROWS UNBOUNDED PRECEDING) - neg AS neg_below,
         SUM(pos) OVER (PARTITION BY day ORDER BY score DESC
                        ROWS UNBOUNDED PRECEDING) - pos AS pos_above
  FROM by_score
),
m AS (
  SELECT day,
         CAST(SUM(pos) AS BIGINT) AS np,
         CAST(SUM(neg) AS BIGINT) AS nn,
         CAST(SUM(pos * (2 * neg_below + neg)) AS BIGINT) AS s1p,
         CAST(SUM(pos * (2 * neg_below + neg) * (2 * neg_below + neg))
              AS BIGINT) AS s2p,
         CAST(SUM(neg * (2 * pos_above + pos)) AS BIGINT) AS s1n,
         CAST(SUM(neg * (2 * pos_above + pos) * (2 * pos_above + pos))
              AS BIGINT) AS s2n
  FROM cum GROUP BY day
),
v AS (
  SELECT day, np, nn,
         CAST(s1p AS DOUBLE) / (2.0 * np * nn) AS auc,
         ((CAST(s2p AS DOUBLE)
            - CAST(s1p AS DOUBLE) * CAST(s1p AS DOUBLE) / np)
           / (np - 1) / (4.0 * nn * nn)) / np
         + ((CAST(s2n AS DOUBLE)
            - CAST(s1n AS DOUBLE) * CAST(s1n AS DOUBLE) / nn)
           / (nn - 1) / (4.0 * np * np)) / nn AS var_auc
  FROM m
)
SELECT day, np AS n_pos, nn AS n_neg, auc,
       sqrt(var_auc) AS auc_se,
       auc - 1.959963985 * sqrt(var_auc) AS ci_lo,
       auc + 1.959963985 * sqrt(var_auc) AS ci_hi
FROM v
""",
)
def mlstats_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day AUC with DeLong 95% CI from doubled placement values:
    one count frame per (day, score), an ascending window for each
    positive's negatives-below and a descending one for each
    negative's positives-above, then exact int64 moment sums (S1, S2
    per class) feed the two placement variances and
    Var(AUC) = S10/n_pos + S01/n_neg. Bitwise deterministic: all
    moments integer, the variance/sqrt are identical double ops on
    identical operands in both engines."""
    s = _scored(spark, sf_dir)
    by_score = s.groupBy("day", "score").agg(
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    wu = Window.partitionBy("day").orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wd = Window.partitionBy("day").orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = by_score.select(
        "day",
        "pos",
        "neg",
        (F.sum("neg").over(wu) - F.col("neg")).alias("neg_below"),
        (F.sum("pos").over(wd) - F.col("pos")).alias("pos_above"),
    )
    dp = F.lit(2) * F.col("neg_below") + F.col("neg")
    dn = F.lit(2) * F.col("pos_above") + F.col("pos")
    m = cum.groupBy("day").agg(
        F.sum("pos").cast("bigint").alias("np"),
        F.sum("neg").cast("bigint").alias("nn"),
        F.sum(F.col("pos") * dp).cast("bigint").alias("s1p"),
        F.sum(F.col("pos") * dp * dp).cast("bigint").alias("s2p"),
        F.sum(F.col("neg") * dn).cast("bigint").alias("s1n"),
        F.sum(F.col("neg") * dn * dn).cast("bigint").alias("s2n"),
    )
    np_, nn_ = F.col("np"), F.col("nn")
    auc = F.col("s1p").cast("double") / (F.lit(2.0) * np_ * nn_)
    var10 = (
        (
            F.col("s2p").cast("double")
            - F.col("s1p").cast("double") * F.col("s1p").cast("double") / np_
        )
        / (np_ - F.lit(1))
        / (F.lit(4.0) * nn_ * nn_)
    )
    var01 = (
        (
            F.col("s2n").cast("double")
            - F.col("s1n").cast("double") * F.col("s1n").cast("double") / nn_
        )
        / (nn_ - F.lit(1))
        / (F.lit(4.0) * np_ * np_)
    )
    var_auc = var10 / np_ + var01 / nn_
    z = F.lit(1.959963985)
    return m.select(
        "day",
        np_.alias("n_pos"),
        nn_.alias("n_neg"),
        auc.alias("auc"),
        F.sqrt(var_auc).alias("auc_se"),
        (auc - z * F.sqrt(var_auc)).alias("ci_lo"),
        (auc + z * F.sqrt(var_auc)).alias("ci_hi"),
    )
