"""Cross-query state-reset contract (session.reset_query_state).

The bench/sweep harnesses call ``reset_query_state`` between queries to
drop ALL persisted RDD blocks (including localCheckpoint blocks).  Every
checkpointed frame kept across queries lives in the one memo behind
``iterate.materialize_once``, which the reset clears first — otherwise
the next memo hit returns either

- a lineage-truncated checkpointed frame whose blocks are gone
  (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND) — the retrieval token table, or
- a silently-unpersisted frame that re-derives its input per use —
  the graph edge index.

These tests pin the contract for those two memo entries, and the
registry-wide invariant that no module keeps its own frame cache.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from spark_streaming_test_spark import iterate
from spark_streaming_test_spark import session as sess
from spark_streaming_test_spark.llm import retrieval
from spark_streaming_test_spark.operators import graph


def test_prf_token_cache_survives_reset(spark, sf_dir):
    """Two _cached_tokens consumers with a reset in between: the second
    must rebuild (fresh checkpoint), not serve the dead one."""
    first = retrieval._cached_tokens(spark, sf_dir)
    n1 = first.count()
    assert any(k[1:] == (sf_dir, "prf_tokens") for k in iterate._MEMO), (
        "the token table should be in the memo"
    )
    sess.reset_query_state(spark)
    assert not iterate._MEMO, "reset must clear the frame memo"
    second = retrieval._cached_tokens(spark, sf_dir)
    # The old frame's checkpoint blocks are gone; this count would throw
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND if the stale frame were served.
    assert second.count() == n1


def test_edge_cache_repersists_after_reset(spark, sf_dir):
    """After a reset, the edge cache must miss and re-materialize — not
    hand out frames whose checkpoint blocks the reset dropped. (r13:
    the cache switched persist() -> eager localCheckpoint, so the
    materialization invariant is a truncated LogicalRDD plan, not a
    SQL-cache storage level.)"""

    def _is_checkpointed(df):
        head = (
            df._jdf.queryExecution().logical().toString().strip()
            .splitlines()[0]
        )
        return head.startswith("LogicalRDD")

    edges, deg, n_nodes = graph._edge_index(spark, sf_dir)
    assert _is_checkpointed(edges) and _is_checkpointed(deg)
    assert n_nodes > 0
    sess.reset_query_state(spark)
    assert not iterate._MEMO, "reset must clear the frame memo"
    edges2, deg2, n_nodes2 = graph._edge_index(spark, sf_dir)
    assert _is_checkpointed(edges2), "rebuilt edges must be materialized"
    assert _is_checkpointed(deg2), "rebuilt degree frame must be materialized"
    # and they are usable: these counts would throw
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND if a stale frame were served.
    assert edges2.count() > 0 and deg2.count() == n_nodes2 > 0


def test_all_dataframe_caches_are_registered():
    """Registry-wide invariant: frames kept across queries live only in
    iterate.materialize_once's memo, which the reset clears. Any
    module-level dict named *_CACHE in operator/llm modules must be a
    plain-value cache declared in its module's _PLAIN_CACHES; a new
    hand-rolled frame cache fails here."""
    import importlib
    import pkgutil

    import spark_streaming_test_spark.llm as llm_pkg
    import spark_streaming_test_spark.operators as ops_pkg

    undeclared = []
    for pkg in (ops_pkg, llm_pkg):
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
            plain = getattr(mod, "_PLAIN_CACHES", ())
            for name, val in vars(mod).items():
                if (
                    name.endswith("_CACHE")
                    and isinstance(val, dict)
                    and name not in plain
                ):
                    undeclared.append(f"{mod.__name__}.{name}")
    assert not undeclared, (
        "module-level caches outside iterate.materialize_once: "
        f"{undeclared}"
    )


_QUIET_RESET_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from spark_streaming_test_spark.session import get_spark, reset_query_state

    spark = get_spark("quiet-reset")
    spark.range(100).localCheckpoint(eager=True)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 1
    reset_query_state(spark)
    root = spark._jvm.org.apache.logging.log4j.LogManager.getRootLogger()
    print("RESULT", spark.sparkContext._jsc.getPersistentRDDs().size(),
          root.getLevel().name())
    spark.stop()
    """
)


def test_reset_does_not_log_checkpointed_unpersists():
    """reset_query_state unpersists localCheckpointed RDDs on purpose,
    so Spark's per-RDD "lineage has been truncated" WARN is muted for
    that loop only: the JVM's stderr shows none, the blocks are gone,
    and the root log level is WARN again afterwards."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _QUIET_RESET_SCRIPT, repo],
        env=dict(os.environ, SPARK_GRAFT_CPUS="1"),
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "RESULT 0 WARN" in proc.stdout, proc.stdout
    assert "was locally checkpointed" not in proc.stderr, proc.stderr[-3000:]
