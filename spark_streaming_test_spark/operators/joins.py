"""Join family — the reference's limits-vs-aggregate comparison is a
degenerate broadcast join (collect + closure capture, MainApp.java:47-49,
56-63); here it generalizes to the full family per SURVEY.md §2.1:
broadcast hash, sort-merge, shuffle-hash, semi/anti, outer, non-equi
range, and a scalable merge as-of join.

Scale notes per strategy:
  * broadcast: dimensions (region/nation/customer at TPC-H ratios) ship
    to every executor — zero shuffle of the fact side.
  * sort-merge: the fact-fact join (lineitem x orders) shuffles both
    sides on the key once; AQE converts to broadcast at runtime if a
    side turns out small, and splits skewed partitions.
  * shuffle-hash: avoids the sort for medium build sides.
  * as-of: expressed as union + window (one shuffle + one sort) instead
    of the naive range cross-join — the only formulation that survives
    100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..functions.deterministic import dsum, sql_dsum
from ..iterate import materialize
from ..registry import register


@register(
    "join_broadcast_dim",
    bench=True,
    tags=("join", "broadcast"),
    oracle=f"""
SELECT n.n_name, {sql_dsum('o.o_totalprice')} AS sum_price,
       COUNT(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact -> dim broadcast chain: orders joins broadcast(customer) joins
    broadcast(nation); the fact table never shuffles for the joins (only
    the final agg shuffles on n_name)."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            dsum("o_totalprice").alias("sum_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "join_sort_merge",
    bench=True,
    tags=("join", "smj"),
    oracle=f"""
SELECT o.o_orderpriority, {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F'
GROUP BY o.o_orderpriority
""",
)
def join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join (lineitem x orders) with an explicit merge
    hint: both sides shuffle-partition on the key, sort, and stream —
    bounded memory at any scale. The status filter is pushed below the
    join into the orders scan."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "join_shuffle_hash",
    tags=("join", "shj"),
    oracle=f"""
SELECT p.p_brand, {sql_dsum('l.l_quantity')} AS sum_qty
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
)
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-hash join hint: hash-build the (smaller) part side per
    partition, no sort phase — wins over SMJ when the build side fits
    executor memory per partition."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(p.hint("shuffle_hash"), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(dsum("l_quantity").alias("sum_qty"))
    )


@register(
    "join_left_semi",
    tags=("join", "semi"),
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left-semi join — probe side streams, no row duplication."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_left_anti",
    tags=("join", "anti"),
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as left-anti join — customers with no orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_left_outer_agg",
    tags=("join", "outer"),
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       COALESCE(t.n_orders, 0) AS n_orders,
       COALESCE(t.sum_price, 0.0) AS sum_price
FROM customer c
LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_price
  FROM orders GROUP BY o_custkey
) t ON c.c_custkey = t.o_custkey
""",
)
def join_left_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer against a pre-aggregated fact: aggregate BEFORE the
    join (shrinks the shuffle to one row per key), then preserve
    customers with no orders via COALESCE defaults."""
    c = load(spark, sf_dir, "customer")
    t = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )
    return (
        c.join(t, c.c_custkey == t.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("sum_price", F.lit(0.0)).alias("sum_price"),
        )
    )


@register(
    "join_full_outer",
    tags=("join", "outer"),
    oracle="""
SELECT COALESCE(cn.nationkey, sn.nationkey) AS nationkey,
       COALESCE(cn.n_customers, 0) AS n_customers,
       COALESCE(sn.n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
      FROM customer GROUP BY c_nationkey) cn
FULL OUTER JOIN
     (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
      FROM supplier GROUP BY s_nationkey) sn
USING (nationkey)
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (customer vs supplier presence
    per nation)."""
    cn = (
        load(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    sn = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        cn.join(sn, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


@register(
    "join_range_nonequi",
    tags=("join", "range"),
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, p.p_partkey, p.p_retailprice
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
           AND l.l_extendedprice BETWEEN p.p_retailprice * 10 AND p.p_retailprice * 20
""",
)
def join_range_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range predicate: Catalyst keys the hash join on the equi
    part and applies the range as a post-join filter — never a cartesian.
    (A pure theta join without any equi key would need a broadcast
    nested-loop + banding; see llm/similarity.py for that pattern.)"""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return li.join(
        p,
        (li.l_partkey == p.p_partkey)
        & li.l_extendedprice.between(p.p_retailprice * 10, p.p_retailprice * 20),
    ).select("l_orderkey", "l_linenumber", "p_partkey", "p_retailprice")


@register(
    "join_asof",
    tags=("join", "asof"),
    oracle="""
WITH od AS (
  SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS last_order_price
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, e.ts,
       o.o_orderdate AS last_order_date, o.last_order_price
FROM events e
ASOF LEFT JOIN od o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each event matched to the latest order at-or-before
    its timestamp, per user) as union + window — the merge formulation:

      tag both sides -> union on (key, time) -> last(order cols,
      ignorenulls) over (key ORDER BY time, side) -> keep event rows

    One shuffle on the key + one sort, streaming over arbitrarily large
    sides — vs. DuckDB's native ASOF JOIN as the oracle. Orders are
    pre-aggregated to one row per (custkey, orderdate) so the as-of
    match is deterministic under ties."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
    )
    od = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("t"),
        )
        .agg(F.max("o_totalprice").alias("last_order_price"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "k",
            "t",
            F.lit(0).alias("is_event"),
            F.col("t").alias("o_date"),
            "last_order_price",
        )
    )
    unioned = ev.select(
        "event_id", "k", "t", "is_event",
        F.lit(None).cast("timestamp").alias("o_date"),
        F.lit(None).cast("double").alias("last_order_price"),
    ).unionByName(od)
    # Order rows at the same timestamp with the order side first
    # (is_event ASC) so an event at exactly t matches the order at t
    # (>= semantics, as in the oracle's e.ts >= o.o_orderdate).
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("is_event"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        unioned.withColumn("last_order_date", F.last("o_date", ignorenulls=True).over(w))
        .withColumn("last_price", F.last("last_order_price", ignorenulls=True).over(w))
        .filter(F.col("is_event") == 1)
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.col("t").alias("ts"),
            "last_order_date",
            F.col("last_price").alias("last_order_price"),
        )
    )


@register(
    "join_null_safe",
    tags=("join", "null"),
    oracle="""
WITH keyed AS (
  SELECT nullif(event_type, 'error') AS k, value FROM events
),
counts AS (
  SELECT k, COUNT(*) AS n FROM keyed GROUP BY k
)
SELECT COALESCE(a.k, '(null)') AS k_display, a.n AS n_left, b.n AS n_right
FROM counts a JOIN counts b ON a.k IS NOT DISTINCT FROM b.k
""",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of silently dropping — essential when a
    "key" is genuinely optional (here 'error' events nulled out via
    nullif). Still a hash join: the null-safe comparator is the join
    key, so no fallback to nested-loop."""
    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        F.nullif(F.col("event_type"), F.lit("error")).alias("k"), "value"
    )
    counts = keyed.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    a = counts.alias("a")
    b = counts.alias("b")
    return a.join(b, F.col("a.k").eqNullSafe(F.col("b.k"))).select(
        F.coalesce(F.col("a.k"), F.lit("(null)")).alias("k_display"),
        F.col("a.n").alias("n_left"),
        F.col("b.n").alias("n_right"),
    )


def _asof_union(spark: SparkSession, sf_dir: str):
    """Shared tagged-union frame for the as-of variants: events and
    per-(custkey, orderdate) order rows on one (key, time) axis."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("timestamp").alias("o_date"),
        F.lit(None).cast("double").alias("order_price"),
    )
    od = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t")
        )
        .agg(F.max("o_totalprice").alias("order_price"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "k",
            "t",
            F.lit(0).alias("is_event"),
            F.col("t").alias("o_date"),
            "order_price",
        )
    )
    return ev.unionByName(od)


@register(
    "join_asof_forward",
    tags=("join", "asof"),
    oracle="""
WITH od AS (
  SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS next_order_price
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, e.ts,
       o.o_orderdate AS next_order_date, o.next_order_price
FROM events e
ASOF LEFT JOIN od o ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
""",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join — each event matched to the EARLIEST order
    at-or-after its timestamp (the lookahead twin of join_asof:
    label-join for 'next purchase after impression' attribution).
    Same union + window formulation, mirrored: first(order cols,
    ignorenulls) over (key ORDER BY time, events-before-orders at
    ties) with a [current, unbounded following] frame. One shuffle,
    one sort, streaming over any side size."""
    unioned = _asof_union(spark, sf_dir)
    # At equal timestamps the event must see the order (<= semantics):
    # events (is_event=1) sort BEFORE orders (0) under is_event DESC,
    # so the forward-looking frame includes the same-t order row.
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("is_event").desc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    return (
        unioned.select(
            "event_id",
            "k",
            "t",
            "is_event",
            F.first("o_date", ignorenulls=True).over(w).alias(
                "next_order_date"
            ),
            F.first("order_price", ignorenulls=True).over(w).alias(
                "next_order_price"
            ),
        )
        .filter(F.col("is_event") == 1)
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.col("t").alias("ts"),
            "next_order_date",
            "next_order_price",
        )
    )


@register(
    "join_asof_nearest",
    tags=("join", "asof"),
    oracle="""
WITH od AS (
  SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS order_price
  FROM orders GROUP BY o_custkey, o_orderdate
),
back AS (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderdate AS b_date, o.order_price AS b_price
  FROM events e
  ASOF LEFT JOIN od o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
),
fwd AS (
  SELECT e.event_id, o.o_orderdate AS f_date, o.order_price AS f_price
  FROM events e
  ASOF LEFT JOIN od o ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
)
SELECT b.event_id, b.user_id, b.ts,
       CASE WHEN f_date IS NULL THEN b_date
            WHEN b_date IS NULL THEN f_date
            WHEN epoch_us(b.ts) - epoch_us(b_date)
                 <= epoch_us(f_date) - epoch_us(b.ts) THEN b_date
            ELSE f_date END AS nearest_order_date,
       CASE WHEN f_date IS NULL THEN b_price
            WHEN b_date IS NULL THEN f_price
            WHEN epoch_us(b.ts) - epoch_us(b_date)
                 <= epoch_us(f_date) - epoch_us(b.ts) THEN b_price
            ELSE f_price END AS nearest_order_price
FROM back b JOIN fwd f ON b.event_id = f.event_id
""",
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (pandas merge_asof direction='nearest', ties
    to the backward match): both direction candidates come from the
    SAME union frame — the backward and forward windows differ only in
    frame/sort-tie, so they share one hash exchange and one sort gives
    way to two WindowExecs over co-partitioned data; no second join
    against the raw tables. The oracle composes DuckDB's two native
    ASOF directions and picks per row."""
    unioned = _asof_union(spark, sf_dir)
    wb = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("is_event"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("is_event").desc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    both = unioned.select(
        "event_id",
        "k",
        "t",
        "is_event",
        F.last("o_date", ignorenulls=True).over(wb).alias("b_date"),
        F.last("order_price", ignorenulls=True).over(wb).alias("b_price"),
        F.first("o_date", ignorenulls=True).over(wf).alias("f_date"),
        F.first("order_price", ignorenulls=True).over(wf).alias("f_price"),
    ).filter(F.col("is_event") == 1)
    back_wins = (
        F.col("f_date").isNull()
        | (
            F.col("b_date").isNotNull()
            & (
                F.unix_micros("t") - F.unix_micros("b_date")
                <= F.unix_micros("f_date") - F.unix_micros("t")
            )
        )
    )
    return both.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("t").alias("ts"),
        F.when(back_wins, F.col("b_date"))
        .otherwise(F.col("f_date"))
        .alias("nearest_order_date"),
        F.when(back_wins, F.col("b_price"))
        .otherwise(F.col("f_price"))
        .alias("nearest_order_price"),
    )


ASOF_TOL_DAYS = 7  # staleness cap: older matches are discarded


@register(
    "join_asof_tolerance",
    tags=("join", "asof", "tolerance"),
    oracle=f"""
WITH od AS (
  SELECT o_custkey, o_orderdate, MAX(o_totalprice) AS last_order_price
  FROM orders GROUP BY o_custkey, o_orderdate
),
matched AS (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderdate AS m_date, o.last_order_price AS m_price
  FROM events e
  ASOF LEFT JOIN od o ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
)
SELECT event_id, user_id, ts,
       CASE WHEN m_date >= ts - INTERVAL {ASOF_TOL_DAYS} DAY
            THEN m_date END AS last_order_date,
       CASE WHEN m_date >= ts - INTERVAL {ASOF_TOL_DAYS} DAY
            THEN m_price END AS last_order_price,
       (m_date IS NOT NULL
        AND m_date < ts - INTERVAL {ASOF_TOL_DAYS} DAY) AS match_too_stale
FROM matched
""",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: the latest at-or-before
    order matches ONLY if it is within {ASOF_TOL_DAYS} days of the
    event — older state is worse than no state in feature pipelines
    (a quote from last month is not "the current quote"), so stale
    matches null out and are flagged for auditability.

    Same single-exchange union+window merge as ``join_asof`` — the
    tolerance is a pure post-projection, adding zero plan cost, where
    a range-join formulation (BETWEEN t - tol AND t) would force a
    banded join. Spark-side interval arithmetic mirrors the oracle's
    closed ``>=`` boundary exactly."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
    )
    od = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("t"),
        )
        .agg(F.max("o_totalprice").alias("m_price"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "k",
            "t",
            F.lit(0).alias("is_event"),
            F.col("t").alias("m_date"),
            "m_price",
        )
    )
    unioned = ev.select(
        "event_id", "k", "t", "is_event",
        F.lit(None).cast("timestamp").alias("m_date"),
        F.lit(None).cast("double").alias("m_price"),
    ).unionByName(od)
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("is_event"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        unioned.withColumn(
            "md", F.last("m_date", ignorenulls=True).over(w)
        )
        .withColumn("mp", F.last("m_price", ignorenulls=True).over(w))
        .filter(F.col("is_event") == 1)
    )
    fresh = F.col("md") >= F.col("t") - F.expr(
        f"INTERVAL {ASOF_TOL_DAYS} DAY"
    )
    return matched.select(
        "event_id",
        F.col("k").alias("user_id"),
        F.col("t").alias("ts"),
        F.when(fresh, F.col("md")).alias("last_order_date"),
        F.when(fresh, F.col("mp")).alias("last_order_price"),
        (F.col("md").isNotNull() & ~fresh).alias("match_too_stale"),
    )


# --- interval-overlap join (binned candidate generation) -------------------
#
# Both interval sets derive deterministically from integer keys (pure
# int64 arithmetic, identical in both engines): supplier availability
# windows and customer demand windows over a 365-day year. In
# production these are real [start, end] columns (contracts, sessions,
# maintenance windows).

IV_BIN_DAYS = 32  # bin width >= max interval length => <= 3 bins/interval


def _sql_intervals() -> str:
    return """
sup_iv AS (
  SELECT s_suppkey,
         (s_suppkey * 97) % 300 AS a_start,
         (s_suppkey * 97) % 300 + 10 + (s_suppkey * 131) % 30 AS a_end
  FROM supplier
),
cus_iv AS (
  SELECT c_custkey,
         (c_custkey * 61) % 320 AS d_start,
         (c_custkey * 61) % 320 + 5 + (c_custkey * 37) % 20 AS d_end
  FROM customer
)"""


@register(
    "join_interval_overlap",
    tags=("join", "interval", "range"),
    oracle=f"""
WITH {_sql_intervals()}
SELECT c.c_custkey, s.s_suppkey,
       LEAST(c.d_end, s.a_end) - GREATEST(c.d_start, s.a_start) + 1
         AS overlap_days
FROM cus_iv c JOIN sup_iv s
  ON c.d_start <= s.a_end AND s.a_start <= c.d_end
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join — every (customer demand,
    supplier availability) window pair that shares at least one day,
    with the exact overlap length.

    The naive form is a non-equi theta join (cross product + range
    predicate); the scale form here bins the timeline into
    {IV_BIN_DAYS}-day cells (bin width >= the max interval length, so
    every interval spans <= 3 bins): each side explodes to its covered
    bins, candidates come from an EQUI-join on bin id, duplicates from
    multi-bin pairs collapse with a distinct on the key pair, and only
    candidates pay the exact overlap predicate. Shuffle volume is
    Σ per-bin occupancy products — proportional to temporal density,
    never |C|×|S|. The supplier side (replicated <= 3×) broadcasts;
    at two large sides both hash on bin id. Same candidates-from-
    buckets shape as ``geo_radius_join``, applied to 1-D time.
    All-integer day arithmetic — bitwise identical cross-engine."""
    sup = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 97) % 300).alias("a_start"),
        (
            (F.col("s_suppkey") * 97) % 300
            + 10
            + (F.col("s_suppkey") * 131) % 30
        ).alias("a_end"),
    )
    # spread (optimization r13, guide §2.5): the probe side is one
    # single-row-group test file, so the bin explode + broadcast probe
    # + distinct partials all ran on ONE task (measured: a 1.2 s
    # single-task stage emitting 2.35M candidates). No-op on a real
    # multi-file layout.
    cus = spread(load(spark, sf_dir, "customer")).select(
        "c_custkey",
        ((F.col("c_custkey") * 61) % 320).alias("d_start"),
        (
            (F.col("c_custkey") * 61) % 320
            + 5
            + (F.col("c_custkey") * 37) % 20
        ).alias("d_end"),
    )
    bins = lambda lo, hi: F.sequence(
        F.floor(F.col(lo) / IV_BIN_DAYS), F.floor(F.col(hi) / IV_BIN_DAYS)
    )
    sup_b = sup.withColumn("bin", F.explode(bins("a_start", "a_end")))
    cus_b = cus.withColumn("bin", F.explode(bins("d_start", "d_end")))
    overlap = (
        F.least(F.col("d_end"), F.col("a_end"))
        - F.greatest(F.col("d_start"), F.col("a_start"))
        + 1
    )
    return (
        cus_b.join(F.broadcast(sup_b), "bin")
        .filter(
            (F.col("d_start") <= F.col("a_end"))
            & (F.col("a_start") <= F.col("d_end"))
        )
        .select("c_custkey", "s_suppkey", overlap.alias("overlap_days"))
        .distinct()
    )


@register(
    "join_null_aware_anti",
    tags=("join", "anti", "null-semantics"),
    oracle="""
WITH probe AS (
  SELECT c_custkey, c_mktsegment FROM customer
),
clean_keys AS (
  SELECT o_custkey AS k FROM orders WHERE o_custkey % 3 = 0
),
poisoned_keys AS (
  SELECT k FROM clean_keys
  UNION ALL
  SELECT NULL
)
SELECT
  (SELECT COUNT(*) FROM probe
   WHERE c_custkey NOT IN (SELECT k FROM clean_keys))
    AS n_not_in_clean,
  (SELECT COUNT(*) FROM probe
   WHERE c_custkey NOT IN (SELECT k FROM poisoned_keys))
    AS n_not_in_poisoned,
  (SELECT COUNT(*) FROM probe p
   WHERE NOT EXISTS (SELECT 1 FROM poisoned_keys s WHERE s.k = p.c_custkey))
    AS n_not_exists_poisoned
""",
)
def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-aware anti-join semantics — the NOT IN landmine: one NULL
    in the subquery makes ``NOT IN`` return ZERO rows (three-valued
    logic: x <> NULL is unknown), while ``NOT EXISTS`` keeps the
    intuitive answer. The three counts side by side are the regression
    test every migration from a NULL-tolerant engine needs, and Spark
    plans the poisoned NOT IN as the special null-aware anti join
    (single-column NAAJ broadcast) rather than a naive nested loop.

    All three probes are semi/anti joins with broadcastable key sides;
    counts are exact integers."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        WITH probe AS (
          SELECT c_custkey, c_mktsegment FROM customer
        ),
        clean_keys AS (
          SELECT o_custkey AS k FROM orders WHERE o_custkey % 3 = 0
        ),
        poisoned_keys AS (
          SELECT k FROM clean_keys
          UNION ALL
          SELECT NULL
        )
        SELECT
          (SELECT COUNT(*) FROM probe
           WHERE c_custkey NOT IN (SELECT k FROM clean_keys))
            AS n_not_in_clean,
          (SELECT COUNT(*) FROM probe
           WHERE c_custkey NOT IN (SELECT k FROM poisoned_keys))
            AS n_not_in_poisoned,
          (SELECT COUNT(*) FROM probe p
           WHERE NOT EXISTS (SELECT 1 FROM poisoned_keys s
                             WHERE s.k = p.c_custkey))
            AS n_not_exists_poisoned
        """
    )


# --- runtime bloom-filter semi-join reduction ------------------------------


def _bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the urgent-orders x lineitem join under the conf regime
    where Spark's InjectRuntimeFilter fires (see query docstring);
    caller must restore the session confs after materializing."""
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    # At 100 TB the fact scan is far over the 10 GiB application-side
    # threshold and the filtered dim far over the broadcast threshold;
    # at test scale both conditions are simulated (threshold 0 /
    # broadcast off) so the plan exercised HERE is the plan you get at
    # scale for free.
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


@register(
    "join_runtime_bloom_filter",
    tags=("join", "runtime-filter", "scale"),
    oracle=f"""
SELECT o.o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY o.o_orderstatus
""",
)
def join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join reduction — THE shuffle-volume
    optimization for selective fact-fact joins at 100 TB: Spark's
    InjectRuntimeFilter builds a bloom filter over the filtered dim
    keys (urgent orders, ~20% selectivity) as a scalar subquery and
    pushes ``might_contain(bloom, xxhash64(l_orderkey))`` beneath the
    fact-side shuffle, so ~80% of lineitem rows are dropped BEFORE they
    are ever exchanged — the declarative equivalent of a hand-built
    semi-join pre-filter, chosen and sized by the optimizer.

    The conf regime that triggers injection (shuffle join + large
    application side) is simulated at test scale and materialized
    eagerly via localCheckpoint, then the session confs are restored —
    so the bloom-filtered plan is what actually executes, while every
    other query in the session keeps stock planning. Results are
    bloom-false-positive-proof by construction: the filter only prunes
    rows the join would drop anyway."""
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        return materialize(_bloom_join_frame(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_thr,
        )
