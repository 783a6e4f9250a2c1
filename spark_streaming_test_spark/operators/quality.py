"""Data-quality constraint checking (the Deequ/Great-Expectations shape).

Production ingest gates every batch behind declarative constraints —
completeness, uniqueness, referential integrity, range and set
membership — and fails the pipeline (or quarantines the batch) when a
metric crosses its threshold. The reference's config-driven threshold
check (SURVEY.md §3.2; `MainApp.java:32-43` reads `traffic_limits` and
routes on min/max) is the 2-row special case of exactly this pattern:
compute a metric, compare against a declared bound, emit a verdict.

Scale design: ALL metrics for a table come out of ONE full scan — each
constraint is a conditional aggregate inside a single wide
`agg`, so adding constraints adds columns, not passes. The per-table
scalar frames are then unpivoted (stack) and unioned: the unioned
frame is O(#constraints) rows, so everything after the scans is free.
Referential integrity is the one join — the dimension side's keys are
broadcast (customer keys ≪ orders at any scale where RI checking makes
sense; for same-magnitude tables a shuffle join with the same
LeftAnti semantics drops in)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..iterate import materialize
from ..registry import register

METRIC_DP = 8  # ratios rounded to 8 dp: exact count ratios, stable in binary

# All metrics are fractions in [0, 1]; a check passes when
# metric >= THRESHOLD (per-constraint thresholds drop in by turning
# this into a dict keyed by constraint name).
THRESHOLD = 1.0


def _ratio(num, den):
    return F.round(num.cast("double") / den.cast("double"), METRIC_DP)


@register(
    "dq_constraint_suite",
    tags=("quality", "aggregation", "constraints"),
    oracle=f"""
WITH cust AS (
  SELECT
    round(CAST(COUNT(c_acctbal) AS DOUBLE) / COUNT(*), {METRIC_DP}) AS completeness_acctbal,
    round(CAST(COUNT(DISTINCT c_custkey) AS DOUBLE) / COUNT(*), {METRIC_DP}) AS uniq_custkey
  FROM customer
),
ord AS (
  SELECT
    round(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*), {METRIC_DP}) AS uniq_orderkey,
    round(CAST(COUNT(o_orderdate) AS DOUBLE) / COUNT(*), {METRIC_DP}) AS completeness_orderdate
  FROM orders
),
ri AS (
  SELECT round(CAST(COUNT(CASE WHEN c.c_custkey IS NOT NULL THEN 1 END) AS DOUBLE)
               / COUNT(*), {METRIC_DP}) AS ri_custkey
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
),
li AS (
  SELECT
    round(CAST(COUNT(CASE WHEN l_discount BETWEEN 0 AND 1 THEN 1 END) AS DOUBLE)
          / COUNT(*), {METRIC_DP}) AS range_discount,
    round(CAST(COUNT(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 END) AS DOUBLE)
          / COUNT(*), {METRIC_DP}) AS set_returnflag,
    round(CAST(COUNT(CASE WHEN l_quantity >= 0 THEN 1 END) AS DOUBLE)
          / COUNT(*), {METRIC_DP}) AS nonneg_quantity
  FROM lineitem
),
metrics(check_name, metric) AS (
  SELECT 'customer.c_acctbal.completeness', completeness_acctbal FROM cust
  UNION ALL SELECT 'customer.c_custkey.uniqueness', uniq_custkey FROM cust
  UNION ALL SELECT 'orders.o_orderkey.uniqueness', uniq_orderkey FROM ord
  UNION ALL SELECT 'orders.o_orderdate.completeness', completeness_orderdate FROM ord
  UNION ALL SELECT 'orders.o_custkey.referential_integrity', ri_custkey FROM ri
  UNION ALL SELECT 'lineitem.l_discount.in_range_0_1', range_discount FROM li
  UNION ALL SELECT 'lineitem.l_returnflag.in_set_ANR', set_returnflag FROM li
  UNION ALL SELECT 'lineitem.l_quantity.non_negative', nonneg_quantity FROM li
)
SELECT check_name, metric, metric >= 1.0 AS passed
FROM metrics
ORDER BY check_name
""",
)
def dq_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the declared constraint suite; one row per constraint with
    its measured metric and pass/fail verdict. Single pass per table:
    every constraint on a table is a conditional aggregate in the same
    `agg`, so the plan holds three fact scans + one broadcast anti
    probe no matter how many constraints are declared."""
    n = F.count(F.lit(1))

    cust = (
        load(spark, sf_dir, "customer")
        .agg(
            _ratio(F.count("c_acctbal"), n).alias(
                "customer.c_acctbal.completeness"
            ),
            _ratio(F.count_distinct(F.col("c_custkey")), n).alias(
                "customer.c_custkey.uniqueness"
            ),
        )
    )
    ord_ = (
        load(spark, sf_dir, "orders")
        .agg(
            _ratio(F.count_distinct(F.col("o_orderkey")), n).alias(
                "orders.o_orderkey.uniqueness"
            ),
            _ratio(F.count("o_orderdate"), n).alias(
                "orders.o_orderdate.completeness"
            ),
        )
    )
    # RI: fraction of orders whose customer key resolves. Broadcast the
    # key set (dimension-sized); LEFT join + conditional count keeps it
    # a single probe pass over the fact side.
    cust_keys = load(spark, sf_dir, "customer").select("c_custkey")
    ri = (
        load(spark, sf_dir, "orders")
        .join(
            F.broadcast(cust_keys),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .agg(
            _ratio(F.count("c_custkey"), n).alias(
                "orders.o_custkey.referential_integrity"
            )
        )
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .agg(
            _ratio(
                F.count(F.when(F.col("l_discount").between(0, 1), 1)), n
            ).alias("lineitem.l_discount.in_range_0_1"),
            _ratio(
                F.count(F.when(F.col("l_returnflag").isin("A", "N", "R"), 1)),
                n,
            ).alias("lineitem.l_returnflag.in_set_ANR"),
            _ratio(F.count(F.when(F.col("l_quantity") >= 0, 1)), n).alias(
                "lineitem.l_quantity.non_negative"
            ),
        )
    )

    def unpivot(df: DataFrame) -> DataFrame:
        cols = df.columns
        pairs = ", ".join(f"'{c}', `{c}`" for c in cols)
        return df.selectExpr(
            f"stack({len(cols)}, {pairs}) AS (check_name, metric)"
        )

    metrics = (
        unpivot(cust)
        .unionAll(unpivot(ord_))
        .unionAll(unpivot(ri))
        .unionAll(unpivot(li))
    )
    threshold = F.lit(THRESHOLD)
    return (
        metrics.select(
            "check_name",
            "metric",
            (F.col("metric") >= threshold).alias("passed"),
        )
        .orderBy("check_name")
    )


K_ANON = 5  # minimum acceptable equivalence-class size


@register(
    "dq_k_anonymity",
    tags=("quality", "privacy", "aggregation"),
    oracle=f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
)
SELECT c_nationkey, c_mktsegment, class_size,
       class_size < {K_ANON} AS violates_k
FROM classes
ORDER BY c_nationkey, c_mktsegment
""",
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (nation, market segment): every equivalence class smaller than
    k=K_ANON re-identifies its members and must be generalized or
    suppressed before the table ships to training. One partial-agg
    shuffle on the quasi-identifier; output is class-count-sized.
    The release gate of privacy-preserving data prep — same
    verdict-per-group shape as the constraint suite."""
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_size",
            (F.col("class_size") < K_ANON).alias("violates_k"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


BENFORD_P = {  # log10(1 + 1/d), inlined identically into both engines
    '1': 0.3010299956639812,
    '2': 0.17609125905568124,
    '3': 0.12493873660829992,
    '4': 0.09691001300805642,
    '5': 0.07918124604762482,
    '6': 0.06694678963061322,
    '7': 0.05799194697768673,
    '8': 0.05115252244738129,
    '9': 0.04575749056067514,
}
BENFORD_DP = 8  # per-digit chi-square term quantization


@register(
    "dq_benford_digits",
    tags=("quality", "statistics", "forensics"),
    oracle=f"""
WITH digits AS (
  SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
           AS d,
         COUNT(*) AS o
  FROM orders WHERE o_totalprice >= 1
  GROUP BY 1
),
tot AS (SELECT CAST(SUM(o) AS DOUBLE) AS n FROM digits),
expected AS (
  SELECT d, CAST(o AS DOUBLE) AS o, t.n,
         CAST(CASE d WHEN '1' THEN 0.3010299956639812 WHEN '2' THEN 0.17609125905568124 WHEN '3' THEN 0.12493873660829992 WHEN '4' THEN 0.09691001300805642 WHEN '5' THEN 0.07918124604762482 WHEN '6' THEN 0.06694678963061322 WHEN '7' THEN 0.05799194697768673 WHEN '8' THEN 0.05115252244738129 WHEN '9' THEN 0.04575749056067514 END AS DOUBLE) AS p
  FROM digits, tot t
)
SELECT d AS first_digit,
       CAST(o AS BIGINT) AS observed,
       o / n AS observed_share,
       p AS benford_share,
       round((o - n * p) * (o - n * p) / (n * p), {BENFORD_DP})
         AS chi2_term
FROM expected
""",
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law forensics on order totals: observed first-digit
    shares against log10(1 + 1/d), with per-digit chi-square terms —
    the fraud/synthetic-data smell test auditors run on financial
    columns (fabricated numbers rarely follow Benford).

    The nine expected probabilities are Python-repr double literals
    inlined into BOTH engines, so every term is an IEEE expression
    over identical inputs; the 9-row result needs no decimal plumbing
    beyond the final term rounding. One map-side-combined digit
    reduce; everything after runs on nine rows."""
    o = load(spark, sf_dir, "orders")
    digits = (
        o.filter(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
            ).alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    tot = digits.agg(F.sum("o").cast("double").alias("n"))
    p = None
    for dig, prob in BENFORD_P.items():
        p = (
            F.when(F.col("d") == dig, F.lit(prob))
            if p is None
            else p.when(F.col("d") == dig, F.lit(prob))
        )
    expected = digits.crossJoin(F.broadcast(tot)).select(
        "d", F.col("o").cast("double").alias("o"), "n", p.alias("p")
    )
    on, nn, pp = F.col("o"), F.col("n"), F.col("p")
    return expected.select(
        F.col("d").alias("first_digit"),
        on.cast("bigint").alias("observed"),
        (on / nn).alias("observed_share"),
        pp.alias("benford_share"),
        F.round((on - nn * pp) * (on - nn * pp) / (nn * pp), BENFORD_DP).alias(
            "chi2_term"
        ),
    )


# --- duplication-rate dashboard per source --------------------------------


@register(
    "dq_dup_rate_by_source",
    tags=("quality", "dedup", "diagnostics"),
    oracle="""
WITH hashed AS (
  SELECT doc_id, source, sha256(text) AS h FROM documents
),
hstats AS (
  SELECT h, COUNT(*) AS n_copies, COUNT(DISTINCT source) AS n_sources
  FROM hashed GROUP BY h
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs,
       CAST(SUM(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_source,
       CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_rate
FROM hashed JOIN hstats USING (h)
GROUP BY source
""",
)
def dq_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DASHBOARD number: per source, how many of its docs are
    exact duplicates of anything in the corpus, and how many duplicate
    ACROSS sources (mirror/scrape contamination — the signal that two
    feeds crawl the same site). This is the rollup a curation team
    watches per ingest run; blocklist decisions come from
    `corpus_domain_quality_rollup`, duplication decisions from here.

    Scale: hash-first (the `dedup_exact` contract — 32-byte keys, not
    bodies), one groupBy for per-hash stats, one hash-partitioned join
    back (both sides already keyed by h, AQE-coalesced), one per-source
    reduce. Integer counts to one final division."""
    hashed = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.sha2("text", 256).alias("h")
    )
    hstats = hashed.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct("source").alias("n_sources"),
    )
    dup = F.when(F.col("n_copies") > 1, 1).otherwise(0)
    xsrc = F.when(F.col("n_sources") > 1, 1).otherwise(0)
    return (
        hashed.join(hstats, "h")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(dup).cast("bigint").alias("n_dup_docs"),
            F.sum(xsrc).cast("bigint").alias("n_cross_source"),
            (F.sum(dup).cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        )
    )


L_DIV = 3  # minimum distinct sensitive values per equivalence class


@register(
    "dq_l_diversity",
    tags=("quality", "privacy", "aggregation"),
    oracle=f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         COUNT(*) AS class_size,
         COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
           AS l_distinct
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
)
SELECT c_nationkey, c_mktsegment,
       CAST(class_size AS BIGINT) AS class_size,
       CAST(l_distinct AS BIGINT) AS l_distinct,
       l_distinct < {L_DIV} AS violates_l
FROM classes
""",
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attack k-anonymity misses: a class can
    be large yet have ONE sensitive value (here the account-balance
    band), so membership alone discloses it. Every quasi-identifier
    class must see >= {L_DIV} distinct sensitive bands or the release
    needs generalization.

    Pairs with ``dq_k_anonymity`` as the privacy release gate; same
    single partial-agg shuffle on the quasi-identifier (the distinct
    count adds a band-level pre-aggregate, still map-side combined,
    never a row-level re-shuffle). Banding uses floor division of
    2-decimal balances — integer-exact in both engines."""
    banded = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
    )
    return (
        banded.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("class_size"),
            F.countDistinct("band").cast("bigint").alias("l_distinct"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_size",
            "l_distinct",
            (F.col("l_distinct") < L_DIV).alias("violates_l"),
        )
    )


# --- population-stability drift (PSI) -------------------------------------

PSI_BINS = 10
PSI_SPLIT = "2024-01-16"  # first half of the month trains the bin edges
PSI_DP = 8


@register(
    "dq_psi_drift",
    tags=("quality", "drift", "mlops"),
    oracle=f"""
WITH a AS (
  SELECT value, event_id FROM events WHERE ts < TIMESTAMP '{PSI_SPLIT}'
),
b AS (
  SELECT value FROM events WHERE ts >= TIMESTAMP '{PSI_SPLIT}'
),
ranked AS (
  SELECT value, ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn,
         COUNT(*) OVER () AS n
  FROM a
),
edges AS (
  SELECT value AS edge FROM ranked
  WHERE rn IN (SELECT CAST(ceil(t.i * r.n / {PSI_BINS}.0) AS BIGINT)
               FROM (SELECT DISTINCT n FROM ranked) r,
                    LATERAL unnest(range(1, {PSI_BINS})) AS t(i))
),
bin_a AS (
  SELECT 1 + (SELECT COUNT(*) FROM edges e WHERE a.value > e.edge) AS bin
  FROM a
),
bin_b AS (
  SELECT 1 + (SELECT COUNT(*) FROM edges e WHERE b.value > e.edge) AS bin
  FROM b
),
ca AS (SELECT bin, COUNT(*) AS n_a FROM bin_a GROUP BY bin),
cb AS (SELECT bin, COUNT(*) AS n_b FROM bin_b GROUP BY bin),
tot AS (SELECT (SELECT COUNT(*) FROM a) AS ta, (SELECT COUNT(*) FROM b) AS tb),
p AS (
  SELECT COALESCE(ca.bin, cb.bin) AS bin,
         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
         (COALESCE(n_a, 0) + 1.0) / (ta + {PSI_BINS}.0) AS p_a,
         (COALESCE(n_b, 0) + 1.0) / (tb + {PSI_BINS}.0) AS p_b
  FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin CROSS JOIN tot
)
SELECT CAST(bin AS INTEGER) AS bin,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       p_a, p_b,
       round((p_b - p_a) * ln(p_b / p_a), {PSI_DP}) AS psi_term
FROM p
""",
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the model-monitoring staple: decile
    the reference window's score distribution by EXACT rank, count both
    windows into those bins, and report per-bin (p_b - p_a)*ln(p_b/p_a)
    terms (their sum is the PSI; > 0.25 conventionally pages someone).
    Laplace smoothing (+1 per bin) keeps empty bins finite.

    Scale: the bin edges are exact-rank picks over the reference
    window — at production size that rank window partitions by
    monitored feature (the winsorize machinery); the edges themselves
    are O(bins) and collect to the driver like every broadcast
    dimension here (a fixed 9 values regardless of corpus size).
    Binning is then a PURE PROJECTION — a 9-literal comparison ladder,
    no join — and each population reduces to O(bins) counts map-side.
    The only rounding is the ln() product at {PSI_DP} dp (measure-zero
    ties); everything else is exact integer ratios."""
    import math

    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("ts") < PSI_SPLIT).select("value", "event_id")
    b = ev.filter(F.col("ts") >= PSI_SPLIT).select("value")
    wr = Window.orderBy("value", "event_id")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = a.select(
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    n_val = ranked.select("n").first()["n"]
    edge_ranks = sorted(
        {int(math.ceil(i * n_val / PSI_BINS)) for i in range(1, PSI_BINS)}
    )
    edge_vals = [
        r["value"]
        for r in ranked.filter(F.col("rn").isin(edge_ranks))
        .orderBy("rn")
        .select("value")
        .collect()
    ]

    def bin_expr():
        e = F.lit(1)
        for v in edge_vals:
            e = e + F.when(F.col("value") > F.lit(v), 1).otherwise(0)
        return e.alias("bin")

    ca = a.select(bin_expr()).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_a")
    )
    cb = b.select(bin_expr()).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    ta = a.count()
    tb = b.count()
    j = ca.join(cb, "bin", "full_outer").select(
        F.col("bin").cast("int").alias("bin"),
        F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
    )
    p_a = (F.col("n_a") + 1.0) / (ta + float(PSI_BINS))
    p_b = (F.col("n_b") + 1.0) / (tb + float(PSI_BINS))
    return j.select(
        "bin",
        "n_a",
        "n_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        F.round((p_b - p_a) * F.log(p_b / p_a), PSI_DP).alias("psi_term"),
    )


CAT_DRIFT_DP = 8


@register(
    "dq_categorical_drift",
    tags=("quality", "drift", "mlops"),
    oracle=f"""
WITH tagged AS (
  SELECT event_type,
         CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}' THEN 0 ELSE 1 END AS half
  FROM events
),
cells AS (
  SELECT event_type, half, COUNT(*) AS n FROM tagged GROUP BY event_type, half
),
margins AS (
  SELECT c.event_type, c.half, c.n,
         SUM(c.n) OVER (PARTITION BY c.event_type) AS row_tot,
         SUM(c.n) OVER (PARTITION BY c.half) AS col_tot,
         SUM(c.n) OVER () AS grand
  FROM cells c
)
SELECT event_type,
       CAST(SUM(CASE WHEN half = 0 THEN n ELSE 0 END) AS BIGINT) AS n_before,
       CAST(SUM(CASE WHEN half = 1 THEN n ELSE 0 END) AS BIGINT) AS n_after,
       CAST(SUM(round(
         (n - CAST(row_tot AS DOUBLE) * col_tot / grand)
         * (n - CAST(row_tot AS DOUBLE) * col_tot / grand)
         / (CAST(row_tot AS DOUBLE) * col_tot / grand), {CAT_DRIFT_DP}))
         AS DECIMAL(25,{CAT_DRIFT_DP}))::DOUBLE AS chi2_contrib
FROM margins GROUP BY event_type
""",
)
def dq_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift monitor — the nominal-feature twin of
    `dq_psi_drift`: a before/after chi-square decomposition per
    category (summing `chi2_contrib` gives the full independence
    statistic; a category whose contribution spikes is WHAT drifted,
    which the omnibus number alone can't say).

    One (category, half) count reduce, margin windows over the
    category-cardinality frame, and per-cell contributions rounded at
    {CAT_DRIFT_DP} dp (ratio-of-counts doubles — generic) then summed
    as decimals. Everything shuffles O(categories), never events."""
    ev = load(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type",
        F.when(F.col("ts") < PSI_SPLIT, 0).otherwise(1).alias("half"),
    )
    cells = tagged.groupBy("event_type", "half").agg(
        F.count(F.lit(1)).alias("n")
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("half")
    wg = Window.partitionBy()
    m = cells.select(
        "event_type",
        "half",
        "n",
        F.sum("n").over(wr).alias("row_tot"),
        F.sum("n").over(wc).alias("col_tot"),
        F.sum("n").over(wg).alias("grand"),
    )
    exp = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("grand")
    contrib = F.round((F.col("n") - exp) * (F.col("n") - exp) / exp, CAT_DRIFT_DP)
    return m.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 0, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_before"),
        F.sum(F.when(F.col("half") == 1, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_after"),
        F.sum(contrib.cast(f"decimal(25,{CAT_DRIFT_DP})"))
        .cast("double")
        .alias("chi2_contrib"),
    )


RECON_TOL = 0.01  # cents-level tolerance for the money reconciliation


@register(
    "dq_reconcile_orders",
    tags=("quality", "reconciliation", "join"),
    oracle=f"""
WITH li AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DECIMAL(18,2))
           AS item_total
  FROM lineitem GROUP BY l_orderkey
),
recon AS (
  SELECT o.o_orderpriority,
         o.o_orderkey,
         CAST(o.o_totalprice AS DECIMAL(14,2)) AS header_total,
         li.item_total,
         li.item_total IS NULL AS no_items,
         CASE WHEN li.item_total IS NOT NULL
              THEN abs(CAST(o.o_totalprice AS DECIMAL(14,2)) - li.item_total)
         END AS abs_diff
  FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN no_items THEN 1 ELSE 0 END) AS BIGINT)
         AS n_without_items,
       CAST(SUM(CASE WHEN abs_diff > {RECON_TOL} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatched,
       CAST(SUM(COALESCE(abs_diff, 0)) AS DOUBLE) AS total_abs_diff,
       CAST(MAX(abs_diff) AS DOUBLE) AS worst_abs_diff
FROM recon GROUP BY o_orderpriority
""",
)
def dq_reconcile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table RECONCILIATION — the financial-close query: does
    every order header's total equal the sum of its line items (within
    {RECON_TOL})? Reports, per priority class, orphan headers, the
    mismatch count, and the total/worst absolute discrepancy — the
    numbers an audit wants BEFORE anyone aggregates revenue. (On this
    synthetic data headers deliberately don't tie out — the operator's
    job is to MEASURE that, and the oracle agrees to the cent.)

    Scale: line items pre-aggregate to O(orders) BEFORE the join (the
    reduce-then-join rule — joining raw line items first would shuffle
    the fact table twice); header-vs-items arithmetic stays in exact
    DECIMAL end-to-end, so tolerance comparisons cannot waver."""
    li = (
        spread(load(spark, sf_dir, "lineitem"))
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
            .cast("decimal(18,2)")
            .alias("item_total")
        )
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(14,2)").alias("header_total"),
    )
    recon = o.join(
        li, o.o_orderkey == li.l_orderkey, "left"
    ).select(
        "o_orderpriority",
        F.col("item_total").isNull().alias("no_items"),
        F.when(
            F.col("item_total").isNotNull(),
            F.abs(F.col("header_total") - F.col("item_total")),
        ).alias("abs_diff"),
    )
    return recon.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("no_items"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_without_items"),
        F.sum(F.when(F.col("abs_diff") > RECON_TOL, 1).otherwise(0))
        .cast("bigint")
        .alias("n_mismatched"),
        F.sum(F.coalesce("abs_diff", F.lit(0)))
        .cast("double")
        .alias("total_abs_diff"),
        F.max("abs_diff").cast("double").alias("worst_abs_diff"),
    )


# --- t-closeness ----------------------------------------------------------

T_CLOSE = 0.2          # release threshold on the per-class EMD
T_BAND = 1000.0        # sensitive attribute banded like dq_l_diversity


@register(
    "dq_t_closeness",
    tags=("quality", "privacy", "aggregation"),
    oracle=f"""
WITH banded AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / {T_BAND}) AS BIGINT) AS band
  FROM customer
),
grp AS (
  SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_g
  FROM banded GROUP BY 1, 2
),
gband AS (
  SELECT band, COUNT(*) AS c_j FROM banded GROUP BY band
),
tot AS (SELECT COUNT(*) AS n FROM banded),
cell AS (
  SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS c_gj
  FROM banded GROUP BY 1, 2, 3
),
lattice AS (
  SELECT g.c_nationkey, g.c_mktsegment, g.n_g, b.band, b.c_j,
         COALESCE(c.c_gj, 0) AS c_gj
  FROM grp g CROSS JOIN gband b
  LEFT JOIN cell c ON c.c_nationkey = g.c_nationkey
   AND c.c_mktsegment = g.c_mktsegment AND c.band = b.band
),
cum AS (
  SELECT c_nationkey, c_mktsegment, n_g, band,
         SUM(c_gj * (SELECT n FROM tot) - c_j * n_g)
           OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY band
                 ROWS UNBOUNDED PRECEDING) AS cumnum,
         COUNT(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS m
  FROM lattice
),
emd AS (
  SELECT c_nationkey, c_mktsegment, MAX(n_g) AS class_size,
         SUM(abs(cumnum)) AS absnum, MAX(m) AS m
  FROM cum GROUP BY 1, 2
)
SELECT c_nationkey, c_mktsegment,
       CAST(class_size AS BIGINT) AS class_size,
       CAST(absnum AS DOUBLE)
         / (CAST(class_size AS DOUBLE) * (SELECT n FROM tot) * (m - 1))
         AS t_emd,
       CAST(absnum AS DOUBLE)
         / (CAST(class_size AS DOUBLE) * (SELECT n FROM tot) * (m - 1))
         > {T_CLOSE} AS violates_t
FROM emd
""",
)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the disclosure check k-anonymity AND
    l-diversity both miss: a class can be large and diverse yet still
    leak if its sensitive-value DISTRIBUTION differs from the table's
    (skewness attack). Per equivalence class, the ordered-bin earth
    mover's distance between the class and global band distributions,
    flagged against t={T_CLOSE}.

    Determinism: the EMD cumulative is kept as the INTEGER
    cross-multiplied numerator Σ(c_gj·N − C_j·n_g) — window sums of
    integers are order-free (a float cumsum through a segment-tree
    window could re-associate differently per engine) — with ONE
    double division at the end. Scale: one shuffle on the
    quasi-identifier; the lattice is O(classes × bands), both
    dimension-sized; the global band frame broadcasts."""
    banded = load(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / T_BAND).cast("bigint").alias("band"),
    )
    grp = banded.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_g")
    )
    glob = banded.groupBy("band").agg(F.count(F.lit(1)).alias("c_j"))
    n_total = banded.count()  # one scalar; the audit is a diagnostic job
    cell = banded.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).alias("c_gj")
    )
    lattice = (
        grp.crossJoin(F.broadcast(glob))
        .join(cell, ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "n_g",
            "band",
            "c_j",
            F.coalesce("c_gj", F.lit(0)).alias("c_gj"),
        )
    )
    wc = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("c_nationkey", "c_mktsegment")
    cum = lattice.withColumn(
        "cumnum",
        F.sum(F.col("c_gj") * F.lit(n_total) - F.col("c_j") * F.col("n_g")).over(
            wc
        ),
    ).withColumn("m", F.count(F.lit(1)).over(wn))
    emd = cum.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("n_g").alias("class_size"),
        F.sum(F.abs("cumnum")).alias("absnum"),
        F.max("m").alias("m"),
    )
    t_emd = F.col("absnum").cast("double") / (
        F.col("class_size").cast("double") * F.lit(float(n_total)) * (F.col("m") - 1)
    )
    return emd.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("class_size").cast("bigint").alias("class_size"),
        t_emd.alias("t_emd"),
        (t_emd > T_CLOSE).alias("violates_t"),
    )


# --- freshness / ingest-lag audit -----------------------------------------

FRESH_SLA_S = 3600  # stale when a stream trails the lake head by > 1 h


@register(
    "dq_freshness_lag",
    tags=("quality", "freshness", "operations"),
    oracle=f"""
WITH per AS (
  SELECT event_type, MAX(ts) AS latest_ts, COUNT(*) AS n_events
  FROM events GROUP BY event_type
),
head AS (SELECT MAX(latest_ts) AS head_ts FROM per)
SELECT p.event_type, p.latest_ts,
       CAST(p.n_events AS BIGINT) AS n_events,
       CAST(date_diff('second', p.latest_ts, h.head_ts) AS BIGINT)
         AS lag_seconds,
       date_diff('second', p.latest_ts, h.head_ts) > {FRESH_SLA_S}
         AS stale
FROM per p CROSS JOIN head h
""",
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest freshness audit: each stream's newest event time against
    the lake head, flagged when the lag exceeds the {FRESH_SLA_S}s SLA
    — the "is a feed silently down?" pager check every ingest runs.
    One partial-agg pass to O(streams) rows; the head is a 1-row
    broadcast; lag is exact integer seconds (no float surface)."""
    per = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.max("ts").alias("latest_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    head = per.agg(F.max("latest_ts").alias("head_ts"))
    lag = F.unix_timestamp("head_ts") - F.unix_timestamp("latest_ts")
    return per.crossJoin(F.broadcast(head)).select(
        "event_type",
        "latest_ts",
        F.col("n_events").cast("bigint").alias("n_events"),
        lag.cast("bigint").alias("lag_seconds"),
        (lag > FRESH_SLA_S).alias("stale"),
    )


@register(
    "dq_observe_metrics",
    tags=("quality", "observability", "metrics"),
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(value) AS BIGINT) AS n_value_nonnull,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(count_if(value < 0) AS BIGINT) AS n_negative
FROM events
""",
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via the `Observation` API — metrics ride
    the SAME pass as the production query instead of a second audit
    scan: `df.observe(obs, aggs...)` attaches named aggregates to the
    plan, the action executes once, and the driver reads the metric
    row from the listener (O(1) driver data — the same scalar-collect
    shape as the reference's limits lookup, MainApp.java:44-49).

    At 100 TB this halves audit cost versus a separate DQ query per
    table, and it is the only way to meter a STREAMING pipeline without
    a second subscription. Metrics here are the standard completeness/
    domain checks (row count, null count, deterministic decimal sum,
    min/max, negative-value count); observe() forbids distinct
    aggregates, which is exactly the restriction that keeps the metric
    pass mergeable at any parallelism."""
    from pyspark.sql import Observation

    from ..functions.deterministic import dsum

    obs = Observation("dq_metrics")
    ev = load(spark, sf_dir, "events")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_value_nonnull"),
        dsum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count_if(F.col("value") < 0).alias("n_negative"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one real pass
    m = obs.get
    return spark.createDataFrame(
        [(
            m["n_rows"], m["n_value_nonnull"], m["sum_value"],
            m["min_value"], m["max_value"], m["n_negative"],
        )],
        "n_rows bigint, n_value_nonnull bigint, sum_value double, "
        "min_value double, max_value double, n_negative bigint",
    )


# --- order-insensitive table checksums -------------------------------------


@register(
    "dq_table_checksum",
    tags=("dq", "checksum", "reconciliation"),
    oracle="""
WITH rows_h AS (
  SELECT o_orderpriority,
         ('0x' || substr(md5(concat_ws('|',
             CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
             o_orderstatus, CAST(o_orderdate AS VARCHAR))), 1, 15))::BIGINT
           AS rh
  FROM orders
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(rh) AS BIGINT) AS checksum
FROM rows_h GROUP BY o_orderpriority
""",
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive partition checksums — the cross-system
    reconciliation primitive: hash each row's canonical string form,
    XOR-aggregate per partition key. XOR is commutative/associative
    and overflow-free, so the checksum is identical regardless of row
    order, partitioning, engine, or retry — two systems holding the
    same data produce the same (n_rows, checksum) pairs, and a
    migration/replication diff localizes to the partitions whose pair
    mismatches WITHOUT moving any row data (this is how you reconcile
    a 100 TB copy over a WAN: ship checksums, not rows).

    Row canonicalization sticks to integer/string/date columns whose
    string rendering is engine-stable; the 15-hex-char md5 prefix
    keeps the value positive in an int64. One hash aggregate with
    map-side XOR partials — shuffle is O(partition keys)."""
    o = load(spark, sf_dir, "orders")
    rh = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderstatus"),
                    F.col("o_orderdate").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        o.select("o_orderpriority", rh.alias("rh"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr("bit_xor(rh)").cast("bigint").alias("checksum"),
        )
    )


# --- local differential privacy: randomized response ----------------------

RR_FLIP_MOD = 4          # flip with probability 1/4 => keep prob 3/4
RR_SENSITIVE_VALUE = 100  # "sensitive" bit: event value above this
# epsilon = ln(keep/flip) = ln(3) for a 1/4 flip probability — emitted as
# the same literal on both engines (never computed via ln(), whose last
# ulp is libm-dependent).
RR_EPSILON = "1.0986122886681098"


@register(
    "dq_randomized_response",
    tags=("privacy", "dq", "sketch"),
    oracle=f"""
WITH r AS (
  SELECT event_type,
         value > {RR_SENSITIVE_VALUE} AS s,
         CAST('0x' || substr(md5('rr:' || CAST(event_id AS VARCHAR)), 1, 15)
              AS UBIGINT) % {RR_FLIP_MOD} = 0 AS flip
  FROM events
),
g AS (
  SELECT event_type,
         COUNT(*) AS n,
         COUNT(*) FILTER (WHERE s <> flip) AS nr,
         COUNT(*) FILTER (WHERE s) AS t
  FROM r GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       CAST(nr AS BIGINT) AS n_reported_sensitive,
       CAST(4 * nr - n AS DOUBLE) / 2 AS est_sensitive,
       CAST(t AS BIGINT) AS true_sensitive,
       CAST(abs(4 * nr - n - 2 * t) AS DOUBLE) / 2 AS est_abs_error,
       CAST({RR_EPSILON} AS DOUBLE) AS epsilon
FROM g
""",
)
def dq_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local differential privacy via randomized response (Warner 1965;
    the RAPPOR building block): each record reports its sensitive bit
    (value > {RR_SENSITIVE_VALUE}) truthfully with probability 3/4 and
    flipped with probability 1/4 — epsilon = ln(3) local DP — and the
    per-group sensitive-count is recovered with the unbiased estimator
    (4*reported - n)/2. The true count rides along as the harness's
    ground truth so the estimator's error is auditable.

    The flip decision is a keyed PRF (the md5-derived 60-bit hash of
    the record id — exactly how production DP pipelines make noise
    reproducible for replay/debugging), so both engines randomize
    identically and the whole query is integer-exact: the estimate and
    its error are dyadic rationals (integer / 2), which IEEE doubles
    represent exactly. One map-side-combined count aggregate — the
    mechanism itself is a pure scan-level projection, the natural shape
    for privatizing 100 TB at ingest."""
    ev = load(spark, sf_dir, "events")
    prf = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("rr:"), F.col("event_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    r = ev.select(
        "event_type",
        (F.col("value") > RR_SENSITIVE_VALUE).alias("s"),
        ((prf % RR_FLIP_MOD) == 0).alias("flip"),
    )
    g = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("s") != F.col("flip"), 1)).alias("nr"),
        F.count(F.when(F.col("s"), 1)).alias("t"),
    )
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.col("nr").cast("bigint").alias("n_reported_sensitive"),
        ((4 * F.col("nr") - F.col("n")).cast("double") / 2).alias(
            "est_sensitive"
        ),
        F.col("t").cast("bigint").alias("true_sensitive"),
        (
            F.abs(4 * F.col("nr") - F.col("n") - 2 * F.col("t")).cast("double")
            / 2
        ).alias("est_abs_error"),
        F.lit(float(RR_EPSILON)).alias("epsilon"),
    )


# --- Merkle tree reconciliation ------------------------------------------------
#
# dq_table_checksum localizes a diff to a PARTITION in one round;
# the Merkle form localizes it in O(log P) COMPARISONS: leaf hashes
# roll up pairwise-grouped levels to a single root, so two replicas
# first compare roots (one hash over the WAN), then walk down only
# the mismatching subtree. This is the Cassandra/Dynamo anti-entropy
# structure expressed as log2(P) tiny self-aggregations above one
# full-table hash pass.

MERKLE_LEAVES = 16  # power of two; tree has 5 levels (16-8-4-2-1)
MERKLE_FANOUT = 2


@register(
    "dq_merkle_tree",
    tags=("quality", "reconciliation", "merkle"),
    oracle=f"""
WITH rows_h AS (
  SELECT CAST(o_orderkey % {MERKLE_LEAVES} AS INTEGER) AS leaf,
         md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|'
             || CAST(o_custkey AS VARCHAR) || '|'
             || CAST(o_orderdate AS VARCHAR)) AS rh
  FROM orders
),
l0 AS (
  SELECT leaf AS idx, md5(string_agg(rh, '' ORDER BY rh)) AS h,
         COUNT(*) AS n_rows
  FROM rows_h GROUP BY leaf
),
l1 AS (
  SELECT CAST(idx // {MERKLE_FANOUT} AS INTEGER) AS idx,
         md5(string_agg(h, '' ORDER BY idx)) AS h,
         CAST(SUM(n_rows) AS BIGINT) AS n_rows
  FROM l0 GROUP BY CAST(idx // {MERKLE_FANOUT} AS INTEGER)
),
l2 AS (
  SELECT CAST(idx // {MERKLE_FANOUT} AS INTEGER) AS idx,
         md5(string_agg(h, '' ORDER BY idx)) AS h,
         CAST(SUM(n_rows) AS BIGINT) AS n_rows
  FROM l1 GROUP BY CAST(idx // {MERKLE_FANOUT} AS INTEGER)
),
l3 AS (
  SELECT CAST(idx // {MERKLE_FANOUT} AS INTEGER) AS idx,
         md5(string_agg(h, '' ORDER BY idx)) AS h,
         CAST(SUM(n_rows) AS BIGINT) AS n_rows
  FROM l2 GROUP BY CAST(idx // {MERKLE_FANOUT} AS INTEGER)
),
l4 AS (
  SELECT CAST(idx // {MERKLE_FANOUT} AS INTEGER) AS idx,
         md5(string_agg(h, '' ORDER BY idx)) AS h,
         CAST(SUM(n_rows) AS BIGINT) AS n_rows
  FROM l3 GROUP BY CAST(idx // {MERKLE_FANOUT} AS INTEGER)
)
SELECT 0 AS level, idx, h AS node_hash, CAST(n_rows AS BIGINT) AS n_rows FROM l0
UNION ALL SELECT 1, idx, h, n_rows FROM l1
UNION ALL SELECT 2, idx, h, n_rows FROM l2
UNION ALL SELECT 3, idx, h, n_rows FROM l3
UNION ALL SELECT 4, idx, h, n_rows FROM l4
""",
)
def dq_merkle_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle tree over the orders table: {MERKLE_LEAVES} key-hashed
    leaves (md5 of the ORDER-canonicalized row-hash concatenation, so
    the leaf hash is partitioning-independent), rolled up pairwise to
    the root; emits every (level, idx, node_hash, n_rows) node. Only
    the leaf level touches table rows — the 4 upper levels aggregate
    16 -> 1 rows, so reconciliation cost above the scan is nil, and
    two replicas diff by comparing roots then walking mismatched
    subtrees. Within-leaf ordering is BY HASH (not by key), making the
    structure stable under resharding. ``spread`` (optimization r14,
    guide §2.5 — the single-task sweep): the single-file test scan
    fused the per-row md5 leaf hashing onto one core."""
    rows_h = spread(load(spark, sf_dir, "orders")).select(
        (F.col("o_orderkey") % MERKLE_LEAVES).cast("int").alias("leaf"),
        F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                "o_orderstatus",
                F.col("o_custkey").cast("string"),
                F.col("o_orderdate").cast("string"),
            )
        ).alias("rh"),
    )
    # localCheckpoint per level: each Union branch below reuses the
    # PREVIOUS level's frame — without lineage truncation every branch
    # re-derives from the table scan (5 full scans at 100 TB; caught by
    # test_merkle_single_table_scan).
    level = materialize(rows_h.groupBy(F.col("leaf").alias("idx")).agg(
        F.md5(F.concat_ws("", F.array_join(F.sort_array(F.collect_list("rh")), ""))).alias("h"),
        F.count(F.lit(1)).alias("n_rows"),
    ))
    out = level.select(F.lit(0).alias("level"), "idx", F.col("h").alias("node_hash"), F.col("n_rows").cast("bigint"))
    lvl = 0
    n = MERKLE_LEAVES
    while n > 1:
        lvl += 1
        n //= MERKLE_FANOUT
        level = materialize(
            level.groupBy(
                (F.col("idx") / MERKLE_FANOUT).cast("int").alias("idx")
            )
            .agg(
                F.md5(
                    F.concat_ws(
                        "",
                        F.array_join(
                            F.transform(
                                F.sort_array(F.collect_list(F.struct("idx", "h"))),
                                lambda s: s["h"],
                            ),
                            "",
                        ),
                    )
                ).alias("h"),
                F.sum("n_rows").alias("n_rows"),
            )
        )
        out = out.unionAll(
            level.select(
                F.lit(lvl).alias("level"), "idx",
                F.col("h").alias("node_hash"),
                F.col("n_rows").cast("bigint"),
            )
        )
    return out


# --- per-column Merkle trees (schema-evolution diff localization) -------------
#
# dq_merkle_tree localizes WHICH SHARD diverged; replicated per
# column, the same structure localizes WHICH COLUMN — the
# reconciliation shape for schema evolution: an ADDED column
# mismatches at EVERY leaf (the pre-evolution replica has no values
# at all), while value drift in an existing column mismatches only at
# the leaves holding drifted keys. Comparing per-column roots costs
# O(#columns) hashes over the WAN; only mismatching columns walk
# down. The "evolved" replica is derived deterministically in-query
# (md5-keyed drift + one synthetic added column) so both engines
# build both replicas from the same scan.

MERKLE_COL_DRIFT_MOD = 97  # ~1% of orderkeys drift in o_custkey


def _merkle_cols_duck() -> str:
    melt = " UNION ALL ".join(
        f"SELECT o_orderkey AS k, CAST(o_orderkey % {MERKLE_LEAVES} AS"
        f" INTEGER) AS leaf, '{name}' AS col, {base} AS bv, {evo} AS ev"
        " FROM orders"
        for name, base, evo in [
            ("o_orderstatus", "o_orderstatus", "o_orderstatus"),
            (
                "o_custkey",
                "CAST(o_custkey AS VARCHAR)",
                f"CAST(o_custkey + CASE WHEN ('0x' ||"
                f" substr(md5('mc:' || CAST(o_orderkey AS VARCHAR)), 1,"
                f" 15))::BIGINT % {MERKLE_COL_DRIFT_MOD} = 0 THEN 1 ELSE 0"
                f" END AS VARCHAR)",
            ),
            (
                "o_orderdate",
                "CAST(o_orderdate AS VARCHAR)",
                "CAST(o_orderdate AS VARCHAR)",
            ),
            ("o_orderpriority", "'<absent>'", "o_orderpriority"),
        ]
    )
    lines = [
        f"WITH melt AS ({melt}),",
        "rows_h AS (",
        "  SELECT col, leaf,",
        "         md5(CAST(k AS VARCHAR) || '|' || col || '|' || bv) AS bh,",
        "         md5(CAST(k AS VARCHAR) || '|' || col || '|' || ev) AS eh,",
        "         CASE WHEN bv <> ev THEN 1 ELSE 0 END AS drift",
        "  FROM melt),",
        "l0 AS (SELECT col, leaf AS idx,",
        "  md5(string_agg(bh, '' ORDER BY bh)) AS hb,",
        "  md5(string_agg(eh, '' ORDER BY eh)) AS he,",
        "  COUNT(*) AS n_rows, SUM(drift) AS n_diverged",
        "  FROM rows_h GROUP BY col, leaf),",
    ]
    lvl, n = 0, MERKLE_LEAVES
    while n > 1:
        lvl += 1
        n //= MERKLE_FANOUT
        lines.append(
            f"l{lvl} AS (SELECT col,"
            f" CAST(idx // {MERKLE_FANOUT} AS INTEGER) AS idx,"
            f" md5(string_agg(hb, '' ORDER BY idx)) AS hb,"
            f" md5(string_agg(he, '' ORDER BY idx)) AS he,"
            f" CAST(SUM(n_rows) AS BIGINT) AS n_rows,"
            f" CAST(SUM(n_diverged) AS BIGINT) AS n_diverged"
            f" FROM l{lvl - 1}"
            f" GROUP BY col, CAST(idx // {MERKLE_FANOUT} AS INTEGER)),"
        )
    lines[-1] = lines[-1].rstrip(",")
    sel = "\nUNION ALL\n".join(
        f"SELECT col AS col_name, {i} AS level, idx, hb AS base_hash,"
        f" he AS evolved_hash, (hb = he) AS is_match,"
        f" CAST(n_rows AS BIGINT) AS n_rows,"
        f" CAST(n_diverged AS BIGINT) AS n_diverged FROM l{i}"
        for i in range(lvl + 1)
    )
    return "\n".join(lines) + "\n" + sel


@register(
    "dq_merkle_columns",
    tags=("quality", "reconciliation", "merkle", "schema-evolution"),
    oracle=_merkle_cols_duck(),
)
def dq_merkle_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-COLUMN Merkle trees diffing a base snapshot against a
    deterministically 'evolved' replica of orders: o_custkey drifts
    on ~1% of md5-selected keys (mismatch localizes to a few leaves),
    o_orderpriority is schema-ADDED (base hashes '<absent>' — every
    leaf mismatches, the added-column signature), o_orderstatus and
    o_orderdate are clean (roots match, no walk-down). One table scan
    melts all tracked columns into (col, leaf, base-hash, evo-hash)
    rows; each level above is an O(#cols x leaves) self-aggregate.
    Emits every (col_name, level, idx) node with both hashes,
    is_match, and the diverged-row count the walk-down would find.
    ``spread`` (optimization r14, guide §2.5): the single-file scan
    fused the 4-way melt + per-row double-md5 onto one core (measured
    1.5 s single-task stage at sf0.1)."""
    o = spread(load(spark, sf_dir, "orders"))
    prf = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mc:"), F.col("o_orderkey").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    evo_ck = (
        F.col("o_custkey")
        + F.when(prf % MERKLE_COL_DRIFT_MOD == 0, F.lit(1)).otherwise(F.lit(0))
    ).cast("string")
    melt = o.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % MERKLE_LEAVES).cast("int").alias("leaf"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderstatus").alias("col"),
                    F.col("o_orderstatus").alias("bv"),
                    F.col("o_orderstatus").alias("ev"),
                ),
                F.struct(
                    F.lit("o_custkey").alias("col"),
                    F.col("o_custkey").cast("string").alias("bv"),
                    evo_ck.alias("ev"),
                ),
                F.struct(
                    F.lit("o_orderdate").alias("col"),
                    F.col("o_orderdate").cast("string").alias("bv"),
                    F.col("o_orderdate").cast("string").alias("ev"),
                ),
                F.struct(
                    F.lit("o_orderpriority").alias("col"),
                    F.lit("<absent>").alias("bv"),
                    F.col("o_orderpriority").alias("ev"),
                ),
            )
        ).alias("c"),
    )
    rows_h = melt.select(
        F.col("c.col").alias("col"),
        "leaf",
        F.md5(
            F.concat_ws("|", F.col("k").cast("string"), "c.col", "c.bv")
        ).alias("bh"),
        F.md5(
            F.concat_ws("|", F.col("k").cast("string"), "c.col", "c.ev")
        ).alias("eh"),
        F.when(F.col("c.bv") != F.col("c.ev"), 1).otherwise(0).alias("drift"),
    )
    level = materialize(
        rows_h.groupBy("col", F.col("leaf").alias("idx"))
        .agg(
            F.md5(
                F.array_join(F.sort_array(F.collect_list("bh")), "")
            ).alias("hb"),
            F.md5(
                F.array_join(F.sort_array(F.collect_list("eh")), "")
            ).alias("he"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("drift").alias("n_diverged"),
        )
    )

    def emit(lv: int, frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col("col").alias("col_name"),
            F.lit(lv).alias("level"),
            "idx",
            F.col("hb").alias("base_hash"),
            F.col("he").alias("evolved_hash"),
            (F.col("hb") == F.col("he")).alias("is_match"),
            F.col("n_rows").cast("bigint"),
            F.col("n_diverged").cast("bigint"),
        )

    out = emit(0, level)
    lvl, n = 0, MERKLE_LEAVES
    while n > 1:
        lvl += 1
        n //= MERKLE_FANOUT
        level = materialize(
            level.groupBy(
                "col", (F.col("idx") / MERKLE_FANOUT).cast("int").alias("idx")
            )
            .agg(
                F.md5(
                    F.array_join(
                        F.transform(
                            F.sort_array(F.collect_list(F.struct("idx", "hb"))),
                            lambda s: s["hb"],
                        ),
                        "",
                    )
                ).alias("hb"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.sort_array(F.collect_list(F.struct("idx", "he"))),
                            lambda s: s["he"],
                        ),
                        "",
                    )
                ).alias("he"),
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_diverged").alias("n_diverged"),
            )
        )
        out = out.unionAll(emit(lvl, level))
    return out


# --- differentially-private histogram ----------------------------------------
#
# The release shape privacy teams actually ship: per-cell counts plus
# two-sided geometric (discrete Laplace) noise — the integer-valued
# epsilon-DP mechanism for counting queries. Reproducibility recipe
# matches dq_randomized_response: the noise draw is a KEYED PRF
# (md5-derived 60-bit uniform per released CELL), mapped through the
# inverse CDF of the +-DP_NOISE_B-truncated geometric as PRECOMPUTED
# DECIMAL LITERALS — noise = #(cdf entries <= u) - B is pure integer
# comparison arithmetic, zero runtime transcendentals, bitwise equal
# in both engines. Truncation at +-8 (> 4 sigma for eps=0.5) is the
# standard bounded-noise variant; the true count rides along as the
# harness's ground truth so the mechanism's error is auditable (in a
# real release you would drop it).
#
# NOT A PRIVACY GUARANTEE (ADVICE r7): because the noise is a
# deterministic PUBLIC keyed PRF of the released cell name, anyone
# can recompute the noise term and recover the exact count. These
# queries are a mechanism *replay* — they reproduce the exact
# arithmetic an epsilon-DP release would perform, cross-engine
# hash-checkable — not a privacy-preserving release. A real
# deployment replaces the PRF draw with a secret, non-reproducible
# RNG; everything downstream of the draw is unchanged.

DP_HIST_EPSILON = 0.5
DP_NOISE_B = 8
# CDF of truncated discrete Laplace, p = exp(-eps), support -8..8
_DP_CDF = (
    "0.004548750068", "0.012048371061", "0.024413155714", "0.044799239178",
    "0.078410208613", "0.133825328848", "0.225189416298", "0.375823330655",
    "0.624176669345", "0.774810583702", "0.866174671152", "0.921589791387",
    "0.955200760822", "0.975586844286", "0.987951628939", "0.995451249932",
)  # 16 boundaries; noise = #(boundaries <= u) - 8 in [-8, 8]

_DP_U_SQL = (
    "(CAST(('0x' || substr(md5('dp:' || event_type || ':' ||"
    " CAST(vb AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE)"
    " / 1152921504606846976.0)"
)


@register(
    "dq_dp_histogram",
    tags=("quality", "privacy", "dp", "histogram"),
    oracle=f"""
WITH b AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value / 50.0) AS INTEGER), 9) AS vb
  FROM events
),
cells AS (
  SELECT event_type, vb, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM b GROUP BY event_type, vb
),
noised AS (
  SELECT event_type, vb, true_count,
         CAST({" + ".join(f"CASE WHEN {_DP_U_SQL} >= {c} THEN 1 ELSE 0 END"
                          for c in _DP_CDF)}
              - {DP_NOISE_B} AS BIGINT) AS noise
  FROM cells
)
SELECT event_type, CAST(vb AS INTEGER) AS value_bucket, true_count,
       noise, true_count + noise AS dp_count,
       CAST({DP_HIST_EPSILON} AS DOUBLE) AS epsilon
FROM noised
""",
)
def dq_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """epsilon={DP_HIST_EPSILON} DP histogram of events per
    (event_type, value bucket): keyed-PRF uniform per cell, inverse-CDF
    lookup through {2 * DP_NOISE_B} decimal literals, integer noise in
    [-{DP_NOISE_B}, {DP_NOISE_B}] added to the exact count. One count
    aggregate + a pure projection — the mechanism adds nothing to the
    shuffle, which is what makes it deployable at ingest scale.
    Mechanism REPLAY, not a private release: the PRF noise is
    recomputable from the cell name (see section comment)."""
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / 50.0).cast("int"), F.lit(9)
        ).alias("vb"),
    )
    cells = b.groupBy("event_type", "vb").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp:"),
                        F.col("event_type"),
                        F.lit(":"),
                        F.col("vb").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        .cast("double")
        / F.lit(1152921504606846976.0)
    )
    noise = (
        sum(
            F.when(u >= F.lit(float(c)), 1).otherwise(0) for c in _DP_CDF
        )
        - F.lit(DP_NOISE_B)
    ).cast("bigint")
    return cells.select(
        "event_type",
        F.col("vb").cast("int").alias("value_bucket"),
        "true_count",
        noise.alias("noise"),
        (F.col("true_count") + noise).alias("dp_count"),
        F.lit(float(DP_HIST_EPSILON)).alias("epsilon"),
    )


# --- differentially-private quantiles (from the DP histogram) -----------------
#
# The post-processing theorem in action: any function of an
# epsilon-DP release is still epsilon-DP at no extra budget, so
# quantiles come FREE from dq_dp_histogram's noisy counts — walk the
# noisy CDF and report the first bucket covering q*N_noisy. Exact
# integer arithmetic end-to-end (noisy counts clamp at 0 for the CDF
# so a negative noise draw cannot run the walk backwards); the true
# quantile bucket rides along as the auditable ground truth. One
# window pass over the O(types x buckets) histogram — post-processing
# adds nothing to the corpus-sized plan.

DP_QUANTILES = ("0.25", "0.5", "0.9")


@register(
    "dq_dp_quantile",
    tags=("quality", "privacy", "dp", "quantile"),
    oracle=f"""
WITH b AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value / 50.0) AS INTEGER), 9) AS vb
  FROM events
),
cells AS (
  SELECT event_type, vb, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM b GROUP BY event_type, vb
),
noised AS (
  SELECT event_type, vb, true_count,
         GREATEST(true_count +
           CAST({" + ".join(f"CASE WHEN {_DP_U_SQL} >= {c} THEN 1 ELSE 0 END"
                            for c in _DP_CDF)}
                - {DP_NOISE_B} AS BIGINT), 0) AS dp_count
  FROM cells
),
cum AS (
  SELECT event_type, vb, true_count, dp_count,
         SUM(dp_count) OVER (PARTITION BY event_type ORDER BY vb
                             ROWS UNBOUNDED PRECEDING) AS dp_cdf,
         SUM(dp_count) OVER (PARTITION BY event_type) AS dp_n,
         SUM(true_count) OVER (PARTITION BY event_type ORDER BY vb
                               ROWS UNBOUNDED PRECEDING) AS true_cdf,
         SUM(true_count) OVER (PARTITION BY event_type) AS true_n
  FROM noised
),
qs AS (SELECT CAST(t.q AS DOUBLE) AS q
       FROM unnest([{", ".join(DP_QUANTILES)}]) AS t(q))
SELECT c.event_type, qs.q,
       CAST(MIN(CASE WHEN c.dp_cdf * 1.0 >= qs.q * c.dp_n
                THEN c.vb END) AS INTEGER) AS dp_bucket,
       CAST(MIN(CASE WHEN c.true_cdf * 1.0 >= qs.q * c.true_n
                THEN c.vb END) AS INTEGER) AS true_bucket,
       CAST({DP_HIST_EPSILON} AS DOUBLE) AS epsilon
FROM cum c CROSS JOIN qs
GROUP BY c.event_type, qs.q
""",
)
def dq_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{len(DP_QUANTILES)} DP quantile buckets per event type by
    post-processing dq_dp_histogram's noisy counts (clamped at 0):
    the first bucket whose noisy CDF reaches q * N_noisy, with the
    true-count quantile bucket as the audit column. The comparison
    dp_cdf >= q * dp_n multiplies integers by literal q — exact on
    both engines (q has one or two decimal digits; dp_n bounded).
    Mechanism REPLAY, not a private release: the PRF noise is
    recomputable from the cell name (see section comment)."""
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / 50.0).cast("int"), F.lit(9)
        ).alias("vb"),
    )
    cells = b.groupBy("event_type", "vb").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_count")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp:"),
                        F.col("event_type"),
                        F.lit(":"),
                        F.col("vb").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        .cast("double")
        / F.lit(1152921504606846976.0)
    )
    noise = (
        sum(F.when(u >= F.lit(float(c)), 1).otherwise(0) for c in _DP_CDF)
        - F.lit(DP_NOISE_B)
    ).cast("bigint")
    noised = cells.select(
        "event_type",
        "vb",
        "true_count",
        F.greatest(F.col("true_count") + noise, F.lit(0).cast("bigint")).alias(
            "dp_count"
        ),
    )
    wo = Window.partitionBy("event_type").orderBy("vb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("event_type")
    cum = noised.select(
        "event_type",
        "vb",
        F.sum("dp_count").over(wo).alias("dp_cdf"),
        F.sum("dp_count").over(wall).alias("dp_n"),
        F.sum("true_count").over(wo).alias("true_cdf"),
        F.sum("true_count").over(wall).alias("true_n"),
    )
    qs = spark.createDataFrame(
        [(float(q),) for q in DP_QUANTILES], "q double"
    )
    j = cum.crossJoin(F.broadcast(qs))
    return j.groupBy("event_type", "q").agg(
        F.min(
            F.when(
                F.col("dp_cdf") * 1.0 >= F.col("q") * F.col("dp_n"),
                F.col("vb"),
            )
        )
        .cast("int")
        .alias("dp_bucket"),
        F.min(
            F.when(
                F.col("true_cdf") * 1.0 >= F.col("q") * F.col("true_n"),
                F.col("vb"),
            )
        )
        .cast("int")
        .alias("true_bucket"),
        F.first(F.lit(float(DP_HIST_EPSILON))).alias("epsilon"),
    )
