"""iterate() harness contract (spark_streaming_test_spark/iterate.py).

The three lessons the harness encodes are each pinned: per-round
lineage truncation (plan size independent of round count — the
O(rounds²) broadcast-recompute class), correct fixpoint semantics for
monotone probes, and the refuse-to-emit-unconverged guard. So are the
module's two monopolies: it is the only caller of ``localCheckpoint``,
and ``materialize_once`` is the only cross-query frame memo, with its
key, eviction and reset policy.
"""

from __future__ import annotations

import pathlib
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

import spark_streaming_test_spark
from spark_streaming_test_spark import iterate as it
from spark_streaming_test_spark.iterate import (
    iterate,
    iterate_state,
    materialize,
)
from spark_streaming_test_spark.session import reset_query_state


def test_only_iterate_calls_local_checkpoint():
    """Every lineage cut goes through materialize (and its asserted
    truncation): no module but iterate.py calls localCheckpoint."""
    root = pathlib.Path(spark_streaming_test_spark.__file__).parent
    calls = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "iterate.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "localCheckpoint(" in line
    ]
    assert not calls, f"localCheckpoint outside iterate.py: {calls}"


def _stub_spark(app_id: str) -> SimpleNamespace:
    """Enough of a SparkSession for materialize_once and
    reset_query_state, with no persisted RDDs."""
    no_rdds = SimpleNamespace(
        keySet=lambda: SimpleNamespace(toArray=lambda: [])
    )
    level = SimpleNamespace(name=lambda: "WARN")
    logger = SimpleNamespace(getLevel=lambda: level)
    return SimpleNamespace(
        sparkContext=SimpleNamespace(
            applicationId=app_id,
            _jsc=SimpleNamespace(getPersistentRDDs=lambda: no_rdds),
            setLogLevel=lambda _level: None,
        ),
        catalog=SimpleNamespace(clearCache=lambda: None),
        _jvm=SimpleNamespace(org=SimpleNamespace(apache=SimpleNamespace(
            logging=SimpleNamespace(log4j=SimpleNamespace(
                LogManager=SimpleNamespace(getRootLogger=lambda: logger)
            ))
        ))),
    )


def test_materialize_once_key_eviction_and_reset(monkeypatch):
    """The memo's key is (applicationId, sf_dir, name): the same
    (sf_dir, name) hits, another name misses, a new application evicts
    every entry of the old one, and reset_query_state empties it."""
    monkeypatch.setattr(it, "_MEMO", {})
    builds: list[str] = []

    def build(tag):
        def _build():
            builds.append(tag)
            return (tag, len(builds))

        return _build

    app1, app2 = _stub_spark("app-1"), _stub_spark("app-2")
    first = it.materialize_once(app1, "/sf", "edges", build("e"))
    assert it.materialize_once(app1, "/sf", "edges", build("x")) is first
    assert builds == ["e"]

    other = it.materialize_once(app1, "/sf", "items", build("i"))
    assert other == ("i", 2) and builds == ["e", "i"]
    it.materialize_once(app1, "/sf2", "items", build("i2"))
    assert set(it._MEMO) == {
        ("app-1", "/sf", "edges"),
        ("app-1", "/sf", "items"),
        ("app-1", "/sf2", "items"),
    }

    it.materialize_once(app2, "/sf", "edges", build("e2"))
    assert set(it._MEMO) == {("app-2", "/sf", "edges")}
    assert builds == ["e", "i", "i2", "e2"]

    reset_query_state(app2)
    assert it._MEMO == {}
    it.materialize_once(app2, "/sf", "edges", build("e3"))
    assert builds[-1] == "e3"


def _logical_size(df) -> int:
    return len(df._jdf.queryExecution().logical().toString())


def test_materialize_truncates_and_asserts(spark):
    out = materialize(spark.range(5).selectExpr("id * 3 AS x"))
    head = out._jdf.queryExecution().logical().toString().splitlines()[0]
    assert head.startswith("LogicalRDD")
    assert [r["x"] for r in out.orderBy("x").collect()] == [0, 3, 6, 9, 12]


def test_iterate_plan_size_independent_of_rounds(spark):
    """The O(rounds²) regression class: without per-round truncation,
    round k's plan embeds rounds 0..k-1 and grows without bound. With
    the harness, the final plan is one step over a LogicalRDD — the
    same size after 2 rounds as after 8."""
    base = spark.range(100).select(F.col("id").alias("v"))

    def step(cur, _i):
        return cur.groupBy((F.col("v") % 10).alias("g")).agg(
            F.sum("v").alias("v")
        ).select((F.col("g") + F.col("v")).alias("v"))

    s2 = _logical_size(iterate(base, step, 2))
    s8 = _logical_size(iterate(base, step, 8))
    assert s8 == s2, (s2, s8)
    # and an UNharnessed loop demonstrably grows (guards the test
    # itself against a future Spark that auto-truncates)
    cur = base
    for i in range(2):
        cur = step(cur, i)
    g2 = _logical_size(cur)
    cur = base
    for i in range(8):
        cur = step(cur, i)
    assert _logical_size(cur) > g2


def test_iterate_values_match_plain_loop(spark):
    base = spark.range(10).select(F.col("id").alias("v"))
    step = lambda cur, i: cur.select((F.col("v") * 2 + i).alias("v"))
    harnessed = iterate(base, step, 3, eager=False)
    plain = base
    for i in range(3):
        plain = step(plain, i)
    assert sorted(r["v"] for r in harnessed.collect()) == sorted(
        r["v"] for r in plain.collect()
    )


def test_iterate_probe_stops_at_fixpoint(spark):
    """A strictly monotone probe that stabilizes: the loop must return
    at the first repeat, not run the full budget."""
    base = spark.range(8).select(F.col("id").alias("v"))
    calls = []

    def step(cur, i):
        calls.append(i)
        # halve (integer) until everything is 0 — fixpoint after a few
        return cur.select((F.col("v") / 2).cast("bigint").alias("v"))

    out = iterate(
        base, step, 20, probe=lambda df: df.agg(F.sum("v")).collect()[0][0]
    )
    assert len(calls) < 20, "probe never stopped the loop"
    assert out.agg(F.sum("v")).collect()[0][0] == 0


def test_iterate_require_convergence_raises(spark):
    base = spark.range(4).select(F.col("id").alias("v"))
    step = lambda cur, _i: cur.select((F.col("v") + 1).alias("v"))  # never converges
    with pytest.raises(RuntimeError, match="unconverged"):
        iterate(
            base,
            step,
            3,
            probe=lambda df: df.agg(F.sum("v")).collect()[0][0],
            require_convergence=True,
        )


def test_iterate_probes_input_fixpoint(spark):
    """An input already AT the fixpoint returns after one round, not
    the whole budget (ADVICE r12: prev is seeded from the input probe)."""
    base = spark.range(4).select(F.lit(0).alias("v"))  # already all-zero
    calls = []

    def step(cur, i):
        calls.append(i)
        return cur.select((F.col("v") / 2).cast("bigint").alias("v"))

    iterate(base, step, 20, probe=lambda df: df.agg(F.sum("v")).collect()[0][0])
    assert calls == [0], calls


def test_iterate_checkpoint_every_values_and_truncation(spark):
    """checkpoint_every=k: identical values, final frame still
    checkpoint-truncated, and the intermediate plan depth stays bounded
    (k steps max, never the whole history)."""
    base = spark.range(100).select(F.col("id").alias("v"))

    def step(cur, _i):
        return cur.groupBy((F.col("v") % 10).alias("g")).agg(
            F.sum("v").alias("v")
        ).select((F.col("g") + F.col("v")).alias("v"))

    every1 = iterate(base, step, 6)
    every3 = iterate(base, step, 6, checkpoint_every=3)
    assert sorted(r["v"] for r in every1.collect()) == sorted(
        r["v"] for r in every3.collect()
    )
    # 6 rounds at k=3: final round is a checkpoint boundary, so the
    # emitted plan is as small as the per-round-checkpointed one.
    assert _logical_size(every3) == _logical_size(every1)


def test_iterate_state_multi_frame_bfs(spark):
    """The multi-frame contract on a miniature BFS: frontier + visited
    frames evolve together, every returned frame is truncated, and a
    step returning None ends the loop with the PREVIOUS state."""
    # path graph 0-1-2-3-4 (directed both ways)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(4)] + [(i + 1, i) for i in range(4)],
        "u bigint, v bigint",
    )
    dist0 = spark.createDataFrame([(0, 0)], "node bigint, hops int")
    rounds_run = []

    def step(st, i):
        rounds_run.append(i)
        nxt = materialize(
            edges.join(st["frontier"].select(F.col("node").alias("u")), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(st["dist"].select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(i + 1))
        )
        if nxt.isEmpty():
            return None
        return {"dist": st["dist"].unionAll(nxt), "frontier": nxt}

    st = iterate_state({"dist": dist0, "frontier": dist0}, step, 20)
    got = {r["node"]: r["hops"] for r in st["dist"].collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}
    # 4 productive rounds + 1 empty-frontier detection round
    assert rounds_run == [0, 1, 2, 3, 4]
    for f in st.values():
        head = f._jdf.queryExecution().logical().toString().splitlines()[0]
        assert head.startswith("LogicalRDD")


def test_iterate_state_require_convergence_raises(spark):
    grow = spark.range(2).select(F.col("id").alias("v"))
    step = lambda st, _i: {"v": st["v"].select((F.col("v") + 1).alias("v"))}
    with pytest.raises(RuntimeError, match="unconverged"):
        iterate_state({"v": grow}, step, 3, require_convergence=True)
