"""Registry-wide single-partition-funnel audit (VERDICT r11 #3:
"close out the global-window audit with proof, not prose").

A `Exchange SinglePartition` funnels its whole input through ONE task —
the shape that breaks at 100 TB unless the input is provably small.
``plans.checks.single_partition_funnels`` classifies every such
exchange in every registered query's physical plan:

* auto-approved: child is a keyless partial aggregate (the merge step
  of a global scalar — O(tasks) rows) or a TakeOrderedAndProject/limit
  (O(k) rows). Catalyst's top-k rewrite of `orderBy().limit()` and of
  rank-filter windows lands here, so e.g. ml_mahalanobis_outliers
  passes with no entry.
* everything else must carry an entry in DOCUMENTED_FUNNELS below —
  the human-adjudicated grain bound, one line per query, matching the
  query docstring. A query that funnels RAW corpus grain has no valid
  entry: it must migrate to distributed_ntile / distributed_row_number
  / distributed_prefix_sum (operators/evalmetrics.py), as
  corpus_curriculum_order (documents), ab_test_qini_uplift +
  events_time_to_convert (users), rfm_segmentation +
  agg_concentration_curve (customers), ml_conformal_interval
  (calibration split), and text_zipf_fit (vocabulary) did in round 12.

The allowlist is exact both ways: an unlisted funnel fails, and a
stale entry (query no longer funnels, or was renamed) also fails — so
a migration automatically retires its entry, and a regression that
reintroduces a single-partition sort is caught by name.
"""

from __future__ import annotations

from spark_streaming_test_spark.plans import checks

# query name -> the documented bound of every non-auto-approved
# single-partition funnel in its plan. "grain" = what one row of the
# funneled frame is; the funnel is safe because that grain's
# cardinality is bounded by domain, not by corpus size.
DOCUMENTED_FUNNELS: dict[str, str] = {
    "ab_test_chi_square": "variant x event_type contingency table (2x5 = 10 cells)",
    "ab_test_ks": "distinct 2-dp value domain (quantize-to-grid documented for continuous data)",
    "ab_test_qini_uplift": "decile-grain cumulative sums (QINI_DECILES = 10 rows; the user rank itself is distributed_ntile)",
    "agg_cramers_v": "event_type x 7-weekday completed grid (r x 7 rows)",
    "agg_hdr_histogram": "octave x sub-bucket HDR grid (~70 buckets regardless of row count)",
    "agg_kruskal_wallis": "distinct 2-dp value domain (bounded money columns; <= ~56k window rows at any SF)",
    "corpus_mixture_weights": "(lang, source) mixture cells (dozens)",
    "dq_categorical_drift": "event_type categories (5)",
    "events_survival_km": "conversion-duration days (O(horizon days))",
    "feature_woe_iv": "order-priority categories (5)",
    "mlstats_fdr_bh": "event_type p-value family (m = 5 hypothesis tests)",
    "mlstats_lift_gains": "PARITY form kept deliberately; the scale twin mlstats_lift_gains_distributed is registered and oracle-checked",
    "mlstats_rbo_ranking": "part-grain aggregate; top-k TakeOrdered extraction is the documented planetary-cardinality swap",
    "pareto_frontier": "p_size domain rows (dozens)",
    "ts_rolling_cross_corr": "hour-grain metric series (bounded by the time range)",
}


def test_no_unbounded_single_partition_funnels(registry_plans):
    """Every registered query's plan: each SinglePartition exchange is
    either bounded by construction or carries a documented grain."""
    undocumented: dict[str, list] = {}
    used: set[str] = set()
    for name, plan in registry_plans.items():
        bad = [f for f in checks.single_partition_funnels(plan) if not f["bounded"]]
        if not bad:
            continue
        if name in DOCUMENTED_FUNNELS:
            used.add(name)
        else:
            undocumented[name] = [(f["child_op"], f["reason"]) for f in bad]
    assert not undocumented, (
        "single-partition funnels without a documented grain bound "
        f"(migrate to distributed_ntile/row_number or document): {undocumented}"
    )
    stale = set(DOCUMENTED_FUNNELS) - used
    assert not stale, (
        f"allowlist entries whose query no longer funnels — delete them: {stale}"
    )


def test_rank_primitives_have_no_unbounded_funnel(spark):
    """The three distributed-rank primitives themselves must never
    emit an unbounded SinglePartition exchange — their whole point.
    (Their only SinglePartition exchanges are the one-row merges of
    the keyless total-count/total-sum aggregates.)"""
    from pyspark.sql import functions as F

    from spark_streaming_test_spark.operators.evalmetrics import (
        distributed_ntile,
        distributed_prefix_sum,
        distributed_row_number,
    )

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("x")
    )
    for out in (
        distributed_row_number(df, [F.col("x").desc(), "k"]),
        distributed_ntile(df, 10, [F.col("x").desc(), "k"]),
        distributed_prefix_sum(df, [F.col("x").desc(), "k"], "x"),
    ):
        plan = checks.formatted_plan(out)
        bad = [
            f for f in checks.single_partition_funnels(plan) if not f["bounded"]
        ]
        assert not bad, bad


def test_distributed_prefix_sum_matches_global_window(spark):
    """distributed_prefix_sum == the single-partition window bitwise
    (decimal addition is associative, rank offsets are exact) — on a
    frame deliberately larger than one range partition, with
    duplicate order keys broken by the id column."""
    from decimal import Decimal

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_streaming_test_spark.operators.evalmetrics import (
        distributed_prefix_sum,
    )

    df = spark.range(5000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 101).cast("decimal(18,2)").alias("x"),
    )
    got = {
        r["k"]: (r["_rnk"], Decimal(r["_cum"]), r["_nt"], Decimal(r["_tot"]))
        for r in distributed_prefix_sum(
            df, [F.col("x").desc(), "k"], "x"
        ).collect()
    }
    wr = Window.orderBy(F.col("x").desc(), "k")
    wc = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = Window.partitionBy()
    want = {
        r["k"]: (r["rn"], Decimal(r["cum"]), r["n"], Decimal(r["tot"]))
        for r in df.select(
            "k",
            F.row_number().over(wr).alias("rn"),
            F.sum("x").over(wc).alias("cum"),
            F.count(F.lit(1)).over(wn).alias("n"),
            F.sum("x").over(wn).alias("tot"),
        ).collect()
    }
    assert got == want
