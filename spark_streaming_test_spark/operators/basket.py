"""Market-basket co-occurrence mining over ``orders`` x ``lineitem``.

The association-rule primitive (support / confidence / lift) behind
recommenders and cross-sell analytics — and the same
pair-generation-within-a-bounded-group shape as the LSH band join
(``llm/dedup.py``): pairs are generated ONLY within an order, so the
quadratic step is bounded by basket size (TPC-H orders hold <= 7
items), never by the catalog.

Plan: distinct (order, part), checkpointed once per SF
(``catalog.distinct_order_parts``) -> self-join on l_orderkey (both
sides read the checkpoint, shuffle-hash hinted) -> pair counts with map-side partials -> two broadcast
joins against the item-marginal frame (catalog-sized, tiny vs the fact
table). Lift arithmetic is integer-valued doubles (< 2^53 — exact),
rounded at output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import distinct_order_parts, load
from ..functions.deterministic import dsum, sql_dsum
from ..iterate import materialize
from ..registry import register

MIN_PAIR_SUPPORT = 2  # emit pairs seen in >= this many orders
LIFT_DP = 8


@register(
    "basket_pair_lift",
    tags=("behavior", "joins", "association"),
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
item_count AS (SELECT pk, COUNT(*) AS n_item FROM items GROUP BY pk),
pairs AS (
  SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS n_pair
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING COUNT(*) >= {MIN_PAIR_SUPPORT}
)
SELECT p.part_a, p.part_b, CAST(p.n_pair AS BIGINT) AS n_pair,
       CAST(ia.n_item AS BIGINT) AS n_a,
       CAST(ib.n_item AS BIGINT) AS n_b,
       round((CAST(p.n_pair AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
             / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)),
             {LIFT_DP}) AS lift
FROM pairs p
JOIN item_count ia ON p.part_a = ia.pk
JOIN item_count ib ON p.part_b = ib.pk
CROSS JOIN n
""",
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs co-occurring in >= {MIN_PAIR_SUPPORT} orders with
    their lift: P(a,b) / (P(a)·P(b)) over the order universe. Lift > 1
    means the pair attracts; < 1 repels."""
    items = distinct_order_parts(spark, sf_dir)
    a = items.select(F.col("ok"), F.col("pk").alias("part_a")).hint(
        "shuffle_hash"
    )
    b = items.select(F.col("ok"), F.col("pk").alias("part_b")).hint(
        "shuffle_hash"
    )
    pairs = (
        a.join(b, ["ok"])
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= MIN_PAIR_SUPPORT)
    )
    item_count = items.groupBy("pk").agg(F.count(F.lit(1)).alias("n_item"))
    n_orders = items.agg(
        F.countDistinct("ok").cast("double").alias("n_orders")
    )
    return (
        pairs.join(
            F.broadcast(item_count.select(F.col("pk").alias("part_a"),
                                          F.col("n_item").alias("n_a"))),
            "part_a",
        )
        .join(
            F.broadcast(item_count.select(F.col("pk").alias("part_b"),
                                          F.col("n_item").alias("n_b"))),
            "part_b",
        )
        .join(F.broadcast(n_orders), F.lit(True))
        .select(
            "part_a",
            "part_b",
            "n_pair",
            "n_a",
            "n_b",
            F.round(
                (F.col("n_pair").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                LIFT_DP,
            ).alias("lift"),
        )
    )


# --- item-item collaborative filtering ------------------------------------

REC_TOP_N = 5
REC_MIN_PAIR = 2


@register(
    "rec_item_item_topn",
    tags=("behavior", "recommendation", "topk"),
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
marg AS (
  SELECT pk, COUNT(*) AS n_item FROM items GROUP BY pk
),
pairs AS (
  SELECT a.pk AS u, b.pk AS v, COUNT(*) AS n_both
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING COUNT(*) >= {REC_MIN_PAIR}
),
sym AS (
  SELECT u AS item, v AS rec, n_both FROM pairs
  UNION ALL
  SELECT v AS item, u AS rec, n_both FROM pairs
),
scored AS (
  SELECT s.item, s.rec, s.n_both,
         CAST(s.n_both AS DOUBLE)
           / sqrt(CAST(mu.n_item AS DOUBLE) * CAST(mv.n_item AS DOUBLE))
           AS cosine
  FROM sym s
  JOIN marg mu ON s.item = mu.pk
  JOIN marg mv ON s.rec = mv.pk
),
ranked AS (
  SELECT item, rec, n_both, cosine,
         ROW_NUMBER() OVER (PARTITION BY item
                            ORDER BY cosine DESC, rec) AS rank
  FROM scored
)
SELECT item, rec, CAST(n_both AS BIGINT) AS n_both, cosine,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {REC_TOP_N}
""",
)
def rec_item_item_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-{REC_TOP_N} "customers who
    bought X also bought" recommendations per part, scored by
    co-occurrence cosine n_uv / sqrt(n_u · n_v).

    Same bounded pair generation as ``basket_pair_lift`` (pairs only
    within an order — quadratic in basket size, never catalog size;
    ReusedExchange computes the item scan once), marginals are a
    catalog-sized broadcast, and the per-item top-N is one
    WindowGroupLimit. Cosine needs NO rounding: integer counts,
    a correctly-rounded sqrt, one division — bitwise identical in any
    engine. At 100 TB the pair table is the only large intermediate
    and it shrinks with the support floor."""
    items = distinct_order_parts(spark, sf_dir)
    # The materialized item set feeds three consumers (both self-join
    # sides and the marginals) — one scan+distinct, not three; the
    # graph module's checkpointed-edges pattern.
    a = items.alias("a").hint("shuffle_hash")
    b = items.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")),
        )
        .groupBy(F.col("a.pk").alias("u"), F.col("b.pk").alias("v"))
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= REC_MIN_PAIR)
    )
    sym = pairs.select(
        F.col("u").alias("item"), F.col("v").alias("rec"), "n_both"
    ).unionAll(
        pairs.select(F.col("v").alias("item"), F.col("u").alias("rec"), "n_both")
    )
    marg = items.groupBy("pk").agg(F.count(F.lit(1)).alias("n_item"))
    mu = marg.select(F.col("pk").alias("item"), F.col("n_item").alias("n_u"))
    mv = marg.select(F.col("pk").alias("rec"), F.col("n_item").alias("n_v"))
    scored = (
        sym.join(F.broadcast(mu), "item")
        .join(F.broadcast(mv), "rec")
        .select(
            "item",
            "rec",
            "n_both",
            (
                F.col("n_both").cast("double")
                / F.sqrt(F.col("n_u").cast("double") * F.col("n_v").cast("double"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("cosine").desc(), F.col("rec"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= REC_TOP_N)
        .select(
            "item",
            "rec",
            F.col("n_both").cast("bigint").alias("n_both"),
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --- rank-1 ALS collaborative filtering -----------------------------------


@register(
    "rec_als_rank1",
    tags=("recsys", "ml", "training", "iterative"),
    oracle=f"""
WITH ratings AS MATERIALIZED (
  SELECT o_custkey AS c, l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS r
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_custkey, l_partkey
),
u1 AS MATERIALIZED (
  -- v0 = 1 for every item: u_c = sum(r*v)/sum(v^2) = sum(r)/n_obs
  SELECT c, CAST(SUM(r) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS u
  FROM ratings GROUP BY c
),
v1 AS MATERIALIZED (
  SELECT p,
         {sql_dsum('rt.r * u1.u')} / {sql_dsum('u1.u * u1.u')} AS v,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM ratings rt JOIN u1 ON rt.c = u1.c
  GROUP BY p
),
u2 AS (
  SELECT rt.c,
         {sql_dsum('rt.r * v1.v')} / {sql_dsum('v1.v * v1.v')} AS u,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM ratings rt JOIN v1 ON rt.p = v1.p
  GROUP BY rt.c
)
SELECT 'item' AS kind, p AS id, v AS factor, n_obs FROM v1
UNION ALL
SELECT 'user' AS kind, c AS id, u AS factor, n_obs FROM u2
""",
)
def rec_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANK-1 ALTERNATING LEAST SQUARES on the customer × part
    purchase-count matrix — one full alternation (v₀=1 → u₁ closed
    form → v₁ → u₂), the minimal real matrix-factorization trainer:
    u_c·v_p approximates r_cp, item factors rank catalog pull, user
    factors rank intensity (the direction recommenders and
    embedding-free retrieval baselines start from; rank-k stacks k of
    these passes on residuals).

    Each half-step is EXACTLY the per-key least-squares closed form
    Σr·v/Σv², computed as ONE join + map-side-combined aggregate over
    the observed ratings — never the dense matrix. First step is an
    integer ratio; later steps route their float sums through the
    decimal helper so factor vectors are bitwise reproducible on any
    partitioning. Shuffles: ratings once per half-step on its join
    key — the standard ALS data layout (at scale, ratings pre-bucket
    by c and p and each half-step reads its layout)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ratings = materialize(
        F.broadcast(o)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    )
    u1 = ratings.groupBy("c").agg(
        (F.sum("r").cast("double") / F.count(F.lit(1)).cast("double")).alias("u")
    )
    v1 = materialize(
        ratings.join(u1, "c")
        .groupBy("p")
        .agg(
            (
                dsum(F.col("r") * F.col("u")) / dsum(F.col("u") * F.col("u"))
            ).alias("v"),
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        )
    )
    u2 = (
        ratings.join(v1.select("p", "v"), "p")
        .groupBy("c")
        .agg(
            (
                dsum(F.col("r") * F.col("v")) / dsum(F.col("v") * F.col("v"))
            ).alias("u"),
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        )
    )
    items = v1.select(
        F.lit("item").alias("kind"),
        F.col("p").alias("id"),
        F.col("v").alias("factor"),
        "n_obs",
    )
    users = u2.select(
        F.lit("user").alias("kind"),
        F.col("c").alias("id"),
        F.col("u").alias("factor"),
        "n_obs",
    )
    return items.unionAll(users)
