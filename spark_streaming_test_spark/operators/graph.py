"""Iterative graph analytics: PageRank over a derived bipartite graph.

Training-corpus curation uses link analysis for source-quality priors
(rank web domains before sampling them) and the same message-passing
shape powers label propagation and the connected-components pass in
``llm/dedup.py``. The graph here derives from the TPC-H-ish fixtures:
customers and suppliers are nodes, an (undirected) edge exists where a
customer's order contains a supplier's line item.

PageRank is the canonical *iterative* DataFrame workload. The loop is
driver-side Python but every iteration is one declarative
join-aggregate: ranks live in a node-keyed frame, contributions flow
along edges, partial aggregation bounds the shuffle at O(edges) with
map-side combine. The iteration count is a fixed hyperparameter, so
plan depth is bounded; production loops checkpoint every ~5 iterations
to truncate lineage (`localCheckpoint`), as ``dedup_cluster_canonical``
does.

Determinism across engines: the entire iteration runs in FIXED-POINT
int64 (1e-12 units, integer division) — integer arithmetic is
associative and has no rounding mode, so Spark and the oracle agree
bitwise regardless of partitioning (float formulations diverged by
1 ulp; see the function docstring). Because the iteration count is
FIXED, the "iterative" algorithm is expressible as a finite SQL
unrolling — which is what makes a full value-hash oracle possible
where a data-dependent fixpoint would be rows-only.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import bounded_broadcast, distinct_order_parts, load
from ..registry import register
from ..iterate import iterate, iterate_state, materialize, materialize_once

DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an exact integer ratio
PR_ITERS = 3
FP_ONE = 10**12  # fixed-point unit: ranks are int64 multiples of 1e-12

_SQL_EDGES = """
pairs AS (
  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT 'c:' || CAST(ck AS VARCHAR) AS src, 's:' || CAST(sk AS VARCHAR) AS dst FROM pairs
  UNION ALL
  SELECT 's:' || CAST(sk AS VARCHAR) AS src, 'c:' || CAST(ck AS VARCHAR) AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)
"""


# Teleport mass per node in fixed-point units: (1 - d) * FP_ONE.
_TELEPORT_FP = (DAMP_DEN - DAMP_NUM) * FP_ONE // DAMP_DEN


def _edge_index(spark: SparkSession, sf_dir: str):
    """(edges, deg, node count) of the bipartite customer-supplier
    graph, built once per SF: the graph is a pure function of the input
    tables and is scanned once per iteration, so repeated query
    construction (bench warm runs, the parity suite) reuses it."""

    def build():
        o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        # orders is the small side (and shrinks further under column
        # pruning) — broadcast it so edge derivation is a map-side
        # join; the only corpus-sized shuffle is the distinct.
        pairs = (
            F.broadcast(o)
            .join(li, o.o_orderkey == li.l_orderkey)
            .select("o_custkey", "l_suppkey")
            .distinct()
        )
        # Dense INTEGER node ids (customer k -> 2k, supplier k -> 2k+1)
        # keep every iteration's join/agg int64-keyed — measurably
        # faster than hashing "c:123"-style strings, and reversible by
        # pure arithmetic at output time (no id dictionary to join).
        c = (F.col("o_custkey") * 2).cast("bigint")
        s = (F.col("l_suppkey") * 2 + 1).cast("bigint")
        # Both edge directions emit from ONE generator pass over the
        # distinct pairs (optimization r13, guide §2.4): the old
        # two-branch unionAll re-ran the join+distinct subtree per
        # branch during the cache build (measured ~2 s of duplicate
        # aggregate work at sf0.1) and left the cache oversliced at 2×
        # the shuffle width.
        # localCheckpoint, not persist (optimization r13, guide §5):
        # the columnar persist() cache paid a batch-encode on build and
        # a decode on EVERY per-iteration scan — measured 2.2 s build +
        # 0.7 s/scan vs 1.5 s + 0.3 s/scan for the checkpointed RDD at
        # sf0.1. The frames live in the materialize_once memo, which
        # harness resets clear BEFORE unpersisting blocks, so the
        # unrecoverable-once-unpersisted property of checkpoints is
        # already handled. Executor-loss tradeoff (vs persist): a
        # checkpointed frame whose blocks die with a lost executor
        # (preemption, dynamic allocation) fails permanently instead
        # of recomputing from lineage — acceptable here because the
        # consumer query fails fast and its retry rebuilds the cache
        # from the parquet inputs; a deployment with routine executor
        # churn should prefer persist(MEMORY_AND_DISK) for this
        # cross-query cache and keep localCheckpoint for per-query
        # loop state only.
        edges = materialize(
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(c.alias("src"), s.alias("dst")),
                        F.struct(s.alias("src"), c.alias("dst")),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
        )
        # deg is read by every iteration's broadcast build — materialize
        # it or each broadcast job re-aggregates the edge list (~0.65 s
        # a pop at sf0.1).
        deg = materialize(
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("outdeg"))
        )
        # Node count (cheap: deg is already materialized) gates the
        # per-iteration broadcast hints — node-sized frames broadcast
        # only while they fit (bounded_broadcast), and at web scale the
        # rank join reverts to the co-hashed shuffle join the PageRank
        # docstring describes.
        return edges, deg, deg.count()

    return materialize_once(spark, sf_dir, "edge_index", build)


def _sql_pr_iter(prev: str, out: str) -> str:
    """One unrolled PageRank iteration as a CTE (integer arithmetic)."""
    return f"""
{out} AS (
  SELECT e.dst AS node,
         CAST({_TELEPORT_FP} + ({DAMP_NUM} * SUM(r.r // d.outdeg))
              // {DAMP_DEN} AS BIGINT) AS r
  FROM edges e
  JOIN {prev} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)"""


_SQL_ITERS = ",".join(
    _sql_pr_iter(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS)
)


@register(
    "graph_pagerank",
    tags=("graph", "iterative"),
    oracle=f"""
WITH {_SQL_EDGES},
r0 AS (SELECT src AS node, CAST({FP_ONE} AS BIGINT) AS r FROM deg),
{_SQL_ITERS}
SELECT r{PR_ITERS}.node AS node_id,
       CAST(r{PR_ITERS}.r AS DOUBLE) / {FP_ONE}.0 AS rank,
       CAST(deg.outdeg AS BIGINT) AS degree
FROM r{PR_ITERS} JOIN deg ON r{PR_ITERS}.node = deg.src
""",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{PR_ITERS} PageRank iterations (damping {DAMP_NUM}/{DAMP_DEN})
    over the customer<->supplier co-occurrence graph; ranks use the
    sum-to-N convention (r0 = 1.0). Undirected doubling means every
    node has outdegree >= 1, so there is no dangling mass to
    redistribute.

    Arithmetic is FIXED-POINT int64 (1e-12 units, integer division):
    float PageRank diverged between engines by 1 ulp at the 10th dp —
    first in the double `0.15 + 0.85*sum` rounding, then, after moving
    that to decimal, in the double->decimal conversion of the per-edge
    contribution. Integer ops have no rounding modes to disagree on;
    truncation drops <= outdeg * 1e-12 mass per node per iteration
    (immaterial, deterministic, and identical on both engines). The
    final rank converts exactly (< 2^53) to double for display.

    Plan per iteration: persisted (edge, degree) list BROADCAST-joined
    with the node-sized rank frame (no edge-side exchange at all) ->
    contribution projection -> hash agg on dst with map-side partial
    combine, so each iteration shuffles O(nodes) partials, not O(edges)
    rows. The edge list itself derives from one orders-lineitem join,
    computed once, degree-enriched, and persisted. At web scale the
    rank frame outgrows a broadcast and the join becomes a co-hashed
    shuffle join on src — the partials-only property still holds."""
    edges, deg, n_nodes = _edge_index(spark, sf_dir)
    ranks0 = deg.select(
        F.col("src").alias("node"), F.lit(FP_ONE).cast("bigint").alias("r")
    )

    def _pr_step(ranks: DataFrame, _i: int) -> DataFrame:
        # Degree folds into the node-sized rank frame (a tiny
        # broadcast-broadcast join), so each iteration is ONE
        # broadcast join against the cached edges — zero edge-side
        # exchanges — followed by a partial-combine hash agg; only
        # O(nodes) partials ever move. The hints are gated on the node
        # count (bounded_broadcast): past the budget both joins revert
        # to co-hashed shuffle joins on src, partials-only still holds.
        # `div` is int64 floor division (positive operands) — the same
        # operator as DuckDB's `//`; no float enters the loop.
        rd = ranks.join(
            bounded_broadcast(deg, n_nodes), ranks.node == deg.src
        ).select("node", "r", "outdeg")
        contrib = edges.join(
            bounded_broadcast(rd, n_nodes), edges.src == rd.node
        ).select("dst", F.expr("r div outdeg").alias("w"))
        return contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(_TELEPORT_FP).cast("bigint")
                + F.expr(f"({DAMP_NUM} * sum(w)) div {DAMP_DEN}")
            ).alias("r")
        )

    # iterate() truncates lineage per round: without that, iteration
    # N's broadcast subtree re-executes iterations 0..N-1 (measured
    # growing 4.3 -> 5.5 -> 7.3 s per iteration). Each checkpoint
    # materializes a node-sized frame — kilobytes — after which every
    # iteration costs one cached-edge scan + one partial agg.
    ranks = iterate(
        ranks0, _pr_step, PR_ITERS, eager=False, checkpoint_input=False
    )
    # Int ids map back to the public labels by arithmetic — even ids
    # are customers, odd are suppliers.
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c:"), F.expr("node div 2").cast("string")),
    ).otherwise(
        F.concat(F.lit("s:"), F.expr("(node - 1) div 2").cast("string"))
    )
    return (
        ranks.join(bounded_broadcast(deg, n_nodes), ranks.node == deg.src)
        .select(
            label.alias("node_id"),
            (F.col("r").cast("double") / F.lit(float(FP_ONE))).alias("rank"),
            F.col("outdeg").alias("degree"),
        )
    )


# --- triangle counting & degree stats over the co-purchase graph ----------
#
# The bipartite customer-supplier graph above has no triangles by
# construction, so the triangle queries use a unipartite CO-PURCHASE
# graph: parts are nodes, an edge connects two parts that appear in the
# same order (the same bounded pair generation as basket_pair_lift —
# quadratic only within a basket, never across the catalog).

EDGE_SUPPORT = 2  # co-purchase edges need >= this many distinct orders

_SQL_COPURCHASE = f"""
items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
edges AS (
  SELECT a.pk AS u, b.pk AS v
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING COUNT(*) >= {EDGE_SUPPORT}
)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (u < v) co-purchase edges seen in >= EDGE_SUPPORT
    distinct orders, checkpointed once per SF: the edge list is a pure
    function of lineitem and shared by the triangle and degree-histogram
    queries (and by warm bench re-runs). The support threshold is what
    keeps the bipartite projection SPARSE: the raw projection of random
    baskets densifies toward a clique among popular parts (wedge count
    grows with the square of degree), while support filtering keeps only
    signal edges — the same reason basket_pair_lift thresholds pair
    support."""

    def build() -> DataFrame:
        items = distinct_order_parts(spark, sf_dir)
        a = items.select("ok", F.col("pk").alias("u")).hint("shuffle_hash")
        b = items.select("ok", F.col("pk").alias("v")).hint("shuffle_hash")
        return materialize(
            a.join(b, ["ok"])
            .filter(F.col("u") < F.col("v"))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .filter(F.col("n_orders") >= EDGE_SUPPORT)
            .select("u", "v")
        )

    return materialize_once(spark, sf_dir, "copurchase_edges", build)


def _undirected(edges: DataFrame) -> DataFrame:
    """Both directions of a (u, v) edge frame, checkpointed."""
    return materialize(
        edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )


@register(
    "graph_triangle_count",
    tags=("graph", "joins", "triangles"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges e1
  JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
),
und AS (
  SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
),
deg AS (SELECT node, COUNT(*) AS degree FROM und GROUP BY node),
agg AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(degree * (degree - 1)) / 2 AS BIGINT) AS n_wedges
  FROM deg
)
SELECT agg.n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       agg.n_wedges,
       tri.n_triangles,
       round(CASE WHEN agg.n_wedges = 0 THEN 0.0
                  ELSE 3.0 * tri.n_triangles / agg.n_wedges END, 8)
         AS global_clustering
FROM agg CROSS JOIN tri
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count + clustering coefficient of the
    co-purchase graph, by oriented wedge-closure join: canonical
    (u < v) edges make each triangle a single wedge (u,v1,v2) with
    u < v1 < v2 closed by edge (v1,v2) — every triangle counted exactly
    once, no /6 correction, and wedge fan-out is bounded by ORIENTED
    out-degree. At 100 TB the id-ordering orientation here swaps for
    degree-ordering (orient low-degree -> high-degree), which provably
    minimizes oriented out-degree skew; the join shape is identical.
    The edge list is materialized once (localCheckpoint) — three
    consumers (two wedge sides + closure probe) would otherwise
    re-derive it through the basket self-join."""
    edges = _copurchase_edges(spark, sf_dir)
    e1 = edges.select(F.col("u"), F.col("v").alias("v1"))
    e2 = edges.select(F.col("u"), F.col("v").alias("v2"))
    wedges = e1.join(e2, ["u"]).filter(F.col("v1") < F.col("v2"))
    closed = wedges.join(
        edges.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    und = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("degree") * (F.col("degree") - 1)) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    coeff = F.when(F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
        F.round(
            3.0 * F.col("n_triangles") / F.col("n_wedges").cast("double"), 8
        )
    )
    return (
        node_stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            coeff.alias("global_clustering"),
        )
    )


@register(
    "graph_degree_histogram",
    tags=("graph", "aggregation"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
und AS (
  SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
),
deg AS (SELECT node, COUNT(*) AS degree FROM und GROUP BY node)
SELECT degree, COUNT(*) AS n_parts
FROM deg GROUP BY degree ORDER BY degree
""",
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the first
    diagnostic run on any production graph (power-law tail => salting /
    degree-oriented algorithms needed downstream). Two partial-agg
    shuffles over the edge list; output is O(max degree) rows."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    return (
        und.groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("degree")
    )


JACC_MIN_SHARED = 2  # candidate pairs must share >= this many neighbors


@register(
    "graph_jaccard_neighbors",
    tags=("graph", "similarity", "link-prediction"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
und AS (
  SELECT u AS node, v AS nbr FROM edges
  UNION ALL
  SELECT v AS node, u AS nbr FROM edges
),
deg AS (
  SELECT node, COUNT(*) AS d FROM und GROUP BY node
),
shared AS (
  SELECT a.node AS u, b.node AS v, COUNT(*) AS n_shared
  FROM und a JOIN und b ON a.nbr = b.nbr AND a.node < b.node
  GROUP BY a.node, b.node
  HAVING COUNT(*) >= {JACC_MIN_SHARED}
)
SELECT s.u, s.v, CAST(s.n_shared AS BIGINT) AS n_shared,
       CAST(s.n_shared AS DOUBLE)
         / CAST(du.d + dv.d - s.n_shared AS DOUBLE) AS jaccard
FROM shared s
JOIN deg du ON s.u = du.node
JOIN deg dv ON s.v = dv.node
""",
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural node similarity (link prediction): Jaccard overlap of
    neighborhoods |N(u) ∩ N(v)| / |N(u) ∪ N(v)| for node pairs sharing
    >= {JACC_MIN_SHARED} neighbors on the co-purchase graph —
    "parts bought alongside the same parts", the collaborative-filter
    signal in its graph form.

    Candidates come from the shared-neighbor inverted index (join on
    the common neighbor, never pairwise over nodes) — the same
    candidates-only discipline as ``dedup_ngram_jaccard``; the union
    is derived from degrees, so it needs no second pass. Integer
    counts + one final IEEE division per pair."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    a = und.alias("a").hint("shuffle_hash")
    b = und.alias("b").hint("shuffle_hash")
    shared = (
        a.join(
            b,
            (F.col("a.nbr") == F.col("b.nbr"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(F.col("a.node").alias("u"), F.col("b.node").alias("v"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= JACC_MIN_SHARED)
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    return (
        shared.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            (
                F.col("n_shared").cast("double")
                / (F.col("du") + F.col("dv") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


# --- connected components over the co-purchase graph ----------------------

CC_MAX_ROUNDS = 30  # safety cap; min-label converges in O(diameter) rounds


def min_label_components(edges: DataFrame, max_rounds: int = CC_MAX_ROUNDS) -> DataFrame:
    """Connected components by min-label propagation over a canonical
    (u < v) edge list → ``(node, lab)`` with lab = component minimum.

    Shared by the co-purchase components query and the entity-grouping
    step of the ER family. Per round: symmetrized edges join the
    node-sized label frame, min-reduce per node with map-side combine
    (O(nodes) partials shuffled, never edges), one ``localCheckpoint``
    carrying (old, new) side-by-side so the convergence probe is a
    filter-count — no extra old-vs-new join. The converged fixpoint is
    independent of round count and partitioning (pure integer min),
    which is what makes the iterative result hash-comparable."""
    und = _undirected(edges)
    def _ml_step(labels: DataFrame, _i: int) -> DataFrame:
        nbr_min = (
            und.join(labels, und.v == labels.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("lab").alias("nbr_min"))
        )
        return labels.join(nbr_min, "node", "left").select(
            "node",
            F.least("lab", F.coalesce("nbr_min", "lab")).alias("lab"),
        )

    # iterate()'s monotone-probe fixpoint: labels only decrease, so a
    # repeated sum IS convergence (decimal sum — id sums can pass 2^63
    # at planetary node counts); raising at the cap replaces the old
    # silent return of possibly-unconverged labels.
    return iterate(
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lab", F.col("node")),
        _ml_step,
        max_rounds,
        probe=lambda df: df.agg(
            F.sum(F.col("lab").cast("decimal(38,0)"))
        ).collect()[0][0],
        require_convergence=True,
    )


@register(
    "graph_connected_components",
    tags=("graph", "iterative", "components"),
    oracle=f"""
WITH RECURSIVE {_SQL_COPURCHASE},
und AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN und e ON e.src = r.node
)
SELECT node AS part_id, MIN(lab) AS component,
       (node = MIN(lab)) AS is_root
FROM reach GROUP BY node
""",
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-purchase graph by iterative
    min-label propagation — the same loop that canonicalizes duplicate
    clusters (``dedup_cluster_canonical``), here over an edge set both
    engines can derive, so the component assignment itself gets a
    bitwise driver-grade oracle (DuckDB computes the fixpoint as a
    recursive transitive closure; min over reachable labels equals the
    component minimum on a symmetric edge set).

    Per round: edges broadcast-or-hash join the node-sized label frame,
    min-reduce per node with map-side combine (O(nodes) partials
    shuffled, never edges), `localCheckpoint` truncating loop lineage;
    stop when no label changes. Random-graph diameter keeps rounds
    ~log n; a pathological chain would swap in the large/small-star
    variant (same per-round join shape). The converged fixpoint is
    independent of round count and partitioning — pure integer min —
    which is what makes an iterative algorithm hash-comparable at all."""
    labels = min_label_components(_copurchase_edges(spark, sf_dir))
    return labels.select(
        F.col("node").alias("part_id"),
        F.col("lab").alias("component"),
        (F.col("node") == F.col("lab")).alias("is_root"),
    )


# --- k-core decomposition -------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 12  # unroll cap; peeling converges in far fewer rounds
                   # here (asserted by the convergence check in-loop)


def _sql_kcore_rounds() -> str:
    rounds = []
    for i in range(1, KCORE_ROUNDS + 1):
        p = i - 1
        rounds.append(f"""
d{i} AS MATERIALIZED (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM e{p} UNION ALL SELECT v AS node FROM e{p}
  ) GROUP BY node
),
k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE d >= {KCORE_K}),
e{i} AS MATERIALIZED (
  SELECT u, v FROM e{p}
  WHERE u IN (SELECT node FROM k{i}) AND v IN (SELECT node FROM k{i})
)""")
    return ",".join(rounds)


@register(
    "graph_kcore",
    tags=("graph", "iterative", "core"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
e0 AS MATERIALIZED (SELECT u, v FROM edges),
{_sql_kcore_rounds()}
SELECT node AS part_id, CAST(d AS INTEGER) AS core_degree
FROM (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM e{KCORE_ROUNDS}
    UNION ALL SELECT v AS node FROM e{KCORE_ROUNDS}
  ) GROUP BY node
)
""",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the co-purchase graph — iterative peeling:
    repeatedly delete nodes with degree < {KCORE_K} (deleting a node
    lowers its neighbors' degrees, which can cascade) until the
    remaining subgraph is everywhere >= {KCORE_K}. The standard dense-
    cluster extractor: the surviving parts are the catalog's stable
    co-purchase communities, robust to the long tail that PageRank
    and triangle counts both get distracted by.

    Per round: one degree aggregate (O(nodes) partials, map-side
    combined) + one semi-join filter of the edge list, checkpointed to
    truncate lineage; converged when no node drops, always well under
    the {KCORE_ROUNDS}-round unroll the oracle replays (the loop
    raises past the cap rather than silently diverging from it). The
    fixpoint is partition-independent — pure integer degrees."""
    def _peel_step(edges: DataFrame, _i: int) -> DataFrame:
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= KCORE_K).select("node")
        return (
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )

    # iterate()'s monotone-probe fixpoint: the edge count only shrinks
    # under peeling, so a repeated count IS convergence; raising at the
    # cap preserves the old else-raise.
    edges = iterate(
        _copurchase_edges(spark, sf_dir),
        _peel_step,
        KCORE_ROUNDS,
        probe=lambda df: df.count(),
        require_convergence=True,
    )
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("int").alias("core_degree"))
        .select(F.col("node").alias("part_id"), "core_degree")
    )


# --- multi-hop BFS distances from the hub node ----------------------------

BFS_MAX_HOPS = 12


@register(
    "graph_bfs_hops",
    tags=("graph", "iterative", "bfs"),
    oracle=f"""
WITH RECURSIVE {_SQL_COPURCHASE},
und AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT src AS node, COUNT(*) AS d FROM und GROUP BY src),
hub AS (
  SELECT node FROM (
    SELECT node, ROW_NUMBER() OVER (ORDER BY d DESC, node) AS rn FROM deg
  ) WHERE rn = 1
),
reach(node, dist) AS (
  SELECT node, 0 FROM hub
  UNION
  SELECT e.dst, r.dist + 1
  FROM reach r JOIN und e ON e.src = r.node
  WHERE r.dist < {BFS_MAX_HOPS}
)
SELECT node AS part_id, CAST(MIN(dist) AS INTEGER) AS hops
FROM reach GROUP BY node
""",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distance from the HUB (highest-degree part,
    ties to the smaller id) to every reachable node — the "how far is
    everything from the center" query behind influence radii and
    cache-warming order. The frontier loop is the min-label machinery
    with +1 arithmetic: each round the frontier's neighbors adopt
    dist+1 if unvisited; stops when no node is newly reached (graph
    diameter rounds — the {BFS_MAX_HOPS}-hop cap mirrors the oracle's
    recursion bound and covers this graph's diameter with slack).

    Per round: ONE frontier×edges join + min-reduce, frontier-sized
    shuffles (not edge-sized), lineage checkpointed. The converged
    distance field is pure integer — hash-comparable like the other
    iterative fixpoints."""
    edges = _copurchase_edges(spark, sf_dir)
    und = _undirected(edges)
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    hub = (
        deg.orderBy(F.col("d").desc(), "node").limit(1).select("node")
    )
    dist0 = hub.withColumn("hops", F.lit(0))

    def _bfs_step(st, i):
        # materialize() mid-step: the frontier expansion feeds both the
        # emptiness probe and (via the returned dict) the next round —
        # one computation, not two.
        nxt = materialize(
            und.join(st["frontier"].select(F.col("node").alias("u")), "u")
            .select(F.col("v").alias("node"))
            .distinct()
            .join(st["dist"].select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(i + 1))
        )
        if nxt.isEmpty():
            return None
        return {"dist": st["dist"].unionAll(nxt), "frontier": nxt}

    st = iterate_state(
        {"dist": dist0, "frontier": dist0}, _bfs_step, BFS_MAX_HOPS
    )
    return st["dist"].select(
        F.col("node").alias("part_id"), F.col("hops").cast("int").alias("hops")
    )


def _multi_source_bfs(
    seeds: DataFrame, und: DataFrame, cap: int, who: str
) -> DataFrame:
    """Multi-source frontier BFS on ``iterate_state`` — the shared loop
    of graph_eccentricity / graph_harmonic_closeness: ``seeds`` is a
    (src) frame, ``und`` a directed (u, v) edge list; returns the
    settled (src, node, d) min hop distances. Per round ONE
    frontier-edges join + anti-join against settled pairs —
    frontier-sized shuffles, never edge-sized state — and a RAISE past
    the hop cap rather than silently truncated distances."""
    dist0 = seeds.select(
        "src", F.col("src").alias("node"), F.lit(0).alias("d")
    )

    def _step(st, i):
        fr = st["frontier"]
        nxt = materialize(
            fr.join(und, fr["node"] == und["u"])
            .select("src", F.col("v").alias("node"))
            .distinct()
            .join(st["dist"].select("src", "node"), ["src", "node"], "left_anti")
            .select("src", "node", F.lit(i + 1).alias("d"))
        )
        if nxt.isEmpty():
            return None
        return {"dist": st["dist"].unionAll(nxt), "frontier": nxt}

    try:
        st = iterate_state(
            {"dist": dist0, "frontier": dist0},
            _step,
            cap + 1,
            require_convergence=True,
        )
    except RuntimeError as e:
        raise RuntimeError(
            f"{who}: BFS still expanding past the {cap}-hop cap — "
            "refusing to emit truncated distances"
        ) from e
    return st["dist"]


# --- Adamic–Adar link prediction ------------------------------------------

AA_DP = 8  # 1/ln(degree) is generic (ln of an integer) — round then sum


@register(
    "graph_adamic_adar",
    tags=("graph", "similarity", "link-prediction"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
und AS (
  SELECT u AS node, v AS nbr FROM edges
  UNION ALL
  SELECT v AS node, u AS nbr FROM edges
),
deg AS (
  SELECT node, COUNT(*) AS d FROM und GROUP BY node
),
undw AS (
  -- dz.d >= 2 is free: a shared neighbor is adjacent to both pair
  -- members, so degree-1 nodes can never match — and ln(1)=0 would
  -- otherwise divide by zero.
  SELECT u.node, u.nbr,
         CAST(round(1.0 / ln(dz.d), {AA_DP}) AS DECIMAL(25,{AA_DP})) AS wz
  FROM und u JOIN deg dz ON u.nbr = dz.node AND dz.d >= 2
),
pairs AS (
  SELECT a.node AS u, b.node AS v,
         COUNT(*) AS n_shared,
         SUM(a.wz) AS aa_dec
  FROM undw a JOIN und b ON a.nbr = b.nbr AND a.node < b.node
  GROUP BY a.node, b.node
  HAVING COUNT(*) >= {JACC_MIN_SHARED}
)
SELECT u, v, CAST(n_shared AS BIGINT) AS n_shared,
       CAST(aa_dec AS DOUBLE) AS adamic_adar
FROM pairs
""",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the co-purchase graph: score a
    candidate pair by Σ 1/ln(deg(z)) over shared neighbors z — rare
    shared neighbors count more than popular hubs, the refinement that
    beats raw Jaccard on power-law graphs.

    Same inverted-index candidate discipline as
    ``graph_jaccard_neighbors`` (join on the common neighbor, never
    node-pairwise); the per-neighbor weight joins onto the index ONCE
    before the self-join, so degree lookups cost one node-sized join,
    not one per pair. Weights are generic-rounded at {AA_DP} dp and
    accumulate as exact decimals — order-invariant across engines and
    partitionings."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    deg = und.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    # deg >= 2 is free (a shared neighbor is adjacent to both pair
    # members) and keeps ln(1)=0 out of the divisor.
    undw = und.join(
        deg.select(F.col("node").alias("nbr"), F.col("d").alias("dz")).filter(
            F.col("dz") >= 2
        ),
        "nbr",
    ).select(
        "node",
        "nbr",
        F.round(F.lit(1.0) / F.log(F.col("dz").cast("double")), AA_DP)
        .cast(f"decimal(25,{AA_DP})")
        .alias("wz"),
    )
    a = undw.alias("a").hint("shuffle_hash")
    b = und.alias("b").hint("shuffle_hash")
    pairs = (
        a.join(
            b,
            (F.col("a.nbr") == F.col("b.nbr"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(F.col("a.node").alias("u"), F.col("b.node").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum("wz").alias("aa_dec"),
        )
        .filter(F.col("n_shared") >= JACC_MIN_SHARED)
    )
    return pairs.select(
        "u",
        "v",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.col("aa_dec").cast("double").alias("adamic_adar"),
    )


# --- seeded label propagation ---------------------------------------------

LPA_ROUNDS = 3   # fixed synchronous rounds; oracle unrolls the same count
LPA_SEED_MOD = 3  # node % 3 == 0 -> seeded with label node % 5


def _lpa_round_sql(i: int) -> str:
    return f"""
prop{i} AS MATERIALIZED (
  SELECT u.node, l.lab, COUNT(*) AS c
  FROM und u JOIN lab{i - 1} l ON u.nbr = l.node
  WHERE l.lab IS NOT NULL
  GROUP BY u.node, l.lab
),
pick{i} AS MATERIALIZED (
  SELECT node, lab FROM (
    SELECT node, lab,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
    FROM prop{i}) t WHERE rn = 1
),
lab{i} AS MATERIALIZED (
  SELECT n.node, n.seed_label, COALESCE(n.seed_label, p.lab) AS lab
  FROM nodes n LEFT JOIN pick{i} p ON n.node = p.node
)"""


@register(
    "graph_label_propagation",
    tags=("graph", "semi-supervised", "iterative"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
und AS (
  SELECT u AS node, v AS nbr FROM edges
  UNION ALL
  SELECT v AS node, u AS nbr FROM edges
),
nodes AS MATERIALIZED (
  SELECT DISTINCT node,
         CASE WHEN node % {LPA_SEED_MOD} = 0 THEN node % 5 END AS seed_label
  FROM und
),
lab0 AS MATERIALIZED (
  SELECT node, seed_label, seed_label AS lab FROM nodes
),
{",".join(_lpa_round_sql(i) for i in range(1, LPA_ROUNDS + 1))}
SELECT node,
       CAST(seed_label AS INTEGER) AS seed_label,
       CAST(lab AS INTEGER) AS label
FROM lab{LPA_ROUNDS}
""",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded label propagation (semi-supervised node classification):
    a third of the co-purchase nodes carry seed labels; every
    synchronous round each unseeded node adopts the MAJORITY label of
    its neighbors (ties → smallest label), seeds stay clamped —
    {LPA_ROUNDS} fixed rounds, the community/auto-labeling primitive
    between one-shot kNN voting (``sim_knn_classify``) and full
    connected components.

    Deterministic: synchronous updates (each round reads only the
    previous round's frame), integer labels, total-ordered majority
    tie-break — which is what makes a fixed unrolling of the SAME
    round count oracle-checkable (the ``graph_pagerank`` playbook).
    Scale: each round = one inverted-index join + one rank window,
    shuffle ~ O(edges) counts; rounds are few and fixed."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    # ONE materialized node frame (optimization r13): nodes is consumed
    # by every round's final join AND the output join — un-checkpointed,
    # each consumer re-ran the und distinct.
    nodes = materialize(
        und.select("node")
        .distinct()
        .withColumn(
            "seed_label",
            F.when(
                F.col("node") % LPA_SEED_MOD == 0, F.col("node") % 5
            ).cast("int"),
        )
    )
    npart = spark.sparkContext.defaultParallelism

    def _lpa_step(lab: DataFrame, _i: int) -> DataFrame:
        # Per-round plan shape (optimization r14, VERDICT r13 ask #4 —
        # guide §2.4): the joined contributions ride ONE explicit
        # node-keyed repartition through BOTH aggregates — the
        # (node, lab) count (HashPartitioning(node) clusters every
        # (node, lab) group) and the majority pick, which is now a
        # lexicographic max over (c, -lab) structs — bitwise the
        # ROW_NUMBER pick: max c first, then smallest lab, the
        # identical total order, with no window sort at all. The old
        # shape paid the (node, lab) exchange PLUS a node window
        # exchange per round. A/B at sf0.1 (same box, medians):
        # window 2.49 s / struct-max 2.13 / struct-max+repartition
        # 1.95; gated-broadcast variants measured SLOWER (2.6-2.7 s —
        # two broadcast-build jobs per round of pure scheduler
        # latency), so the node-sized frames deliberately stay on
        # shuffle joins, which is also the scale-safe posture.
        prop = (
            und.join(
                lab.select(F.col("node").alias("nbr"), "lab").filter(
                    F.col("lab").isNotNull()
                ),
                "nbr",
            )
            .repartition(npart, "node")
            .groupBy("node", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        pick = prop.groupBy("node").agg(
            F.max(F.struct(F.col("c"), (-F.col("lab")).alias("nl"))).alias(
                "m"
            )
        ).select("node", (-F.col("m.nl")).cast("int").alias("p_lab"))
        return nodes.join(pick, "node", "left").select(
            "node", F.coalesce("seed_label", "p_lab").alias("lab")
        )

    # checkpoint_every=LPA_ROUNDS: with a FIXED small round count the
    # plan depth is bounded at 3 steps, so only the final frame needs
    # truncating — the per-round checkpoint jobs were the r12 bench
    # regression (2.7 s vs the 1.86 s baseline; this form re-measures
    # at ~1.0x, VERDICT r12 item 4).
    lab = iterate(
        nodes.select("node", F.col("seed_label").alias("lab")),
        _lpa_step,
        LPA_ROUNDS,
        eager=False,
        checkpoint_input=False,
        checkpoint_every=LPA_ROUNDS,
    )
    return nodes.join(lab, "node").select(
        "node",
        F.col("seed_label").cast("int").alias("seed_label"),
        F.col("lab").cast("int").alias("label"),
    )


# --- modularity of the component partition --------------------------------


@register(
    "graph_modularity",
    tags=("graph", "communities", "evaluation"),
    oracle=f"""
WITH RECURSIVE {_SQL_COPURCHASE},
und AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges
),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN und e ON e.src = r.node
),
comp AS MATERIALIZED (SELECT node, MIN(lab) AS c FROM reach GROUP BY node),
m AS (SELECT COUNT(*) AS m_edges FROM edges),
internal AS (
  SELECT ca.c, COUNT(*) AS e_in
  FROM edges e JOIN comp ca ON e.u = ca.node JOIN comp cb ON e.v = cb.node
  WHERE ca.c = cb.c
  GROUP BY ca.c
),
degsum AS (
  SELECT cp.c, COUNT(*) AS d_tot, COUNT(DISTINCT u.src) AS n_nodes
  FROM und u JOIN comp cp ON u.src = cp.node
  GROUP BY cp.c
)
SELECT d.c AS community,
       CAST(d.n_nodes AS BIGINT) AS n_nodes,
       CAST(COALESCE(i.e_in, 0) AS BIGINT) AS internal_edges,
       CAST(d.d_tot AS BIGINT) AS degree_sum,
       CAST(COALESCE(i.e_in, 0) AS DOUBLE) / t.m_edges
         - (CAST(d.d_tot AS DOUBLE) / (2 * t.m_edges))
           * (CAST(d.d_tot AS DOUBLE) / (2 * t.m_edges)) AS q_term
FROM degsum d
LEFT JOIN internal i ON d.c = i.c
CROSS JOIN m t
""",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the connected-component partition —
    Q_c = e_c/m − (d_c/2m)² per community — the quality score that
    grades ANY clustering of the graph (components here; swap in the
    label-propagation or k-core communities unchanged). Emitting the
    per-community terms (sum = Q) names WHICH communities carry the
    structure, what the single global number hides.

    All inputs are integers (edge counts, degree sums from one
    inverted-index join each); the two ratios divide identical doubles
    — no rounding anywhere. The component labels come from the same
    min-label loop the CC query proves against DuckDB's recursive
    closure, so the whole composition stays hash-checkable."""
    edges = _copurchase_edges(spark, sf_dir)
    comp = min_label_components(edges).select(
        "node", F.col("lab").alias("c")
    )
    und = edges.select(F.col("u").alias("src")).unionAll(
        edges.select(F.col("v").alias("src"))
    )
    m_edges = edges.count()  # one scalar over the cached edge frame
    ca = comp.select(F.col("node").alias("u"), F.col("c").alias("cu"))
    cb = comp.select(F.col("node").alias("v"), F.col("c").alias("cv"))
    internal = (
        edges.join(F.broadcast(ca), "u")
        .join(F.broadcast(cb), "v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("c"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    degsum = (
        und.join(
            F.broadcast(comp.select(F.col("node").alias("src"), "c")), "src"
        )
        .groupBy("c")
        .agg(
            F.count(F.lit(1)).alias("d_tot"),
            F.count_distinct(F.col("src")).alias("n_nodes"),
        )
    )
    md = float(m_edges)
    return (
        degsum.join(internal, "c", "left")
        .select(
            F.col("c").alias("community"),
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.coalesce("e_in", F.lit(0)).cast("bigint").alias("internal_edges"),
            F.col("d_tot").cast("bigint").alias("degree_sum"),
            (
                F.coalesce("e_in", F.lit(0)).cast("double") / F.lit(md)
                - (F.col("d_tot").cast("double") / F.lit(2 * md))
                * (F.col("d_tot").cast("double") / F.lit(2 * md))
            ).alias("q_term"),
        )
    )


# --- degree assortativity -------------------------------------------------

ASSORT_DP = 10  # final Pearson of integer sums — the agg_corr rule


@register(
    "graph_assortativity",
    tags=("graph", "statistics"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
und AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL
  SELECT v AS src, u AS dst FROM edges
),
deg AS (SELECT src AS node, COUNT(*) AS d FROM und GROUP BY src),
pairs AS (
  SELECT du.d AS x, dv.d AS y
  FROM und e
  JOIN deg du ON e.src = du.node
  JOIN deg dv ON e.dst = dv.node
),
sums AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(y * y) AS DOUBLE) AS syy
  FROM pairs
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
             {ASSORT_DP}) AS assortativity
FROM sums
""",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity: the Pearson correlation of endpoint
    degrees over the (symmetrized) edge list — positive means hubs
    link to hubs (social-network structure), negative means hubs fan
    out to leaves (star/catalog structure) — which decides whether
    degree-based sampling or hub-removal strategies will work on this
    graph.

    Degrees join onto the edge list (node-sized frames, broadcast at
    any realistic scale); the correlation reduces to six INTEGER power
    sums with map-side combine — exact until one closed-form division,
    rounded at {ASSORT_DP} dp per the corr rule."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("src").alias("s2"), F.col("d").alias("x"))
    dv = deg.select(F.col("src").alias("d2"), F.col("d").alias("y"))
    pairs = und.join(
        F.broadcast(du), F.col("src") == F.col("s2")
    ).join(F.broadcast(dv), F.col("dst") == F.col("d2"))
    sums = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n")
    return sums.select(
        n.cast("bigint").alias("n_directed_edges"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            ASSORT_DP,
        ).alias("assortativity"),
    )


# --- HITS hubs & authorities over the bipartite order graph ---------------
#
# The directed twin of graph_pagerank: customers POINT AT the suppliers
# they buy from, so customers accumulate HUB scores (they point at good
# authorities) and suppliers accumulate AUTHORITY scores (they are
# pointed at by good hubs). In corpus curation this is the
# link-analysis quality prior for a bipartite reference graph
# (documents ↔ cited sources): authority ranks the sources, hub ranks
# the documents that cite well.

HITS_ITERS = 3
HITS_FP = 10**6  # fixed-point unit for HITS scores (see overflow note)

def _sql_hits_round(i: int) -> str:
    """One unrolled HITS round: authority pull, max-normalize,
    hub pull, max-normalize — all int64."""
    prev_h = f"h{i - 1}"
    return f"""
a{i}r AS MATERIALIZED (
  SELECT p.sk, CAST(SUM(h.h) AS BIGINT) AS raw
  FROM pairs p JOIN {prev_h} h ON p.ck = h.ck GROUP BY p.sk
),
a{i} AS MATERIALIZED (
  SELECT sk, (raw * {HITS_FP}) // (SELECT MAX(raw) FROM a{i}r) AS a FROM a{i}r
),
h{i}r AS MATERIALIZED (
  SELECT p.ck, CAST(SUM(a.a) AS BIGINT) AS raw
  FROM pairs p JOIN a{i} a ON p.sk = a.sk GROUP BY p.ck
),
h{i} AS MATERIALIZED (
  SELECT ck, (raw * {HITS_FP}) // (SELECT MAX(raw) FROM h{i}r) AS h FROM h{i}r
)"""


@register(
    "graph_hits",
    tags=("graph", "iterative"),
    oracle=f"""
WITH pairs AS MATERIALIZED (
  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
cdeg AS (SELECT ck, COUNT(*) AS outdeg FROM pairs GROUP BY ck),
sdeg AS (SELECT sk, COUNT(*) AS indeg FROM pairs GROUP BY sk),
h0 AS (SELECT ck, CAST({HITS_FP} AS BIGINT) AS h FROM cdeg),
{",".join(_sql_hits_round(i) for i in range(1, HITS_ITERS + 1))}
SELECT 'c:' || CAST(c.ck AS VARCHAR) AS node_id, 'hub' AS role,
       CAST(h.h AS DOUBLE) / {HITS_FP}.0 AS score,
       CAST(c.outdeg AS BIGINT) AS degree
FROM h{HITS_ITERS} h JOIN cdeg c ON h.ck = c.ck
UNION ALL
SELECT 's:' || CAST(s.sk AS VARCHAR) AS node_id, 'authority' AS role,
       CAST(a.a AS DOUBLE) / {HITS_FP}.0 AS score,
       CAST(s.indeg AS BIGINT) AS degree
FROM a{HITS_ITERS} a JOIN sdeg s ON a.sk = s.sk
""",
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{HITS_ITERS} rounds of Kleinberg's HITS over the bipartite
    customer→supplier purchase graph: authority(s) = Σ hub(c) over
    buyers, hub(c) = Σ authority(s) over suppliers bought, each vector
    max-normalized per round. Output: every node with its role, score
    in [0, 1], and degree.

    Arithmetic is FIXED-POINT int64 (1e-6 units): integer sums and
    integer division have no rounding modes, so both engines agree
    bitwise (the graph_pagerank playbook; float HITS diverges in the
    last ulp under reassociation). Max-normalization IS the textbook
    algorithm — and it also caps magnitudes so fixed-point stays in
    range: scores ≤ FP, pulls ≤ deg_max·FP, and the normalizing
    multiply raw·FP stays under 2^63 while deg_max < 9.2e6 (document
    corpora with heavier hubs drop FP to 1e4 — scores just carry
    fewer guaranteed digits).

    Plan per round: the node-sized score frame BROADCASTS into the
    persisted pair list (no edge-side exchange), partial-combine hash
    agg shuffles O(nodes) int partials, and the max-normalizer is a
    1-row broadcast cross join — the same partials-only contract as
    graph_pagerank, with lineage truncated per round. At web scale
    the broadcast becomes a co-hashed shuffle join on the key; the
    O(nodes)-partials property is unchanged."""
    # Distinct (customer, supplier) pair list, persisted once per SF —
    # scanned 2×HITS_ITERS times by the iteration.
    def build_pairs() -> DataFrame:
        o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
        return (
            F.broadcast(o)
            .join(li, o.o_orderkey == li.l_orderkey)
            .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
            .distinct()
            .persist()
        )

    pairs = materialize_once(spark, sf_dir, "hits_pairs", build_pairs)
    cdeg = pairs.groupBy("ck").agg(F.count(F.lit(1)).alias("outdeg"))
    sdeg = pairs.groupBy("sk").agg(F.count(F.lit(1)).alias("indeg"))
    last_a: list = [None]

    def _hits_step(h: DataFrame, _i: int) -> DataFrame:
        a_raw = (
            pairs.join(F.broadcast(h), "ck")
            .groupBy("sk")
            .agg(F.sum("h").cast("bigint").alias("raw"))
        )
        amax = a_raw.agg(F.max("raw").alias("m"))
        # mid-step materialize: the h-update and the final authority
        # output both consume a — one instance, lineage truncated.
        a = materialize(
            a_raw.crossJoin(F.broadcast(amax)).select(
                "sk", F.expr(f"(raw * {HITS_FP}) div m").alias("a")
            ),
            eager=False,
        )
        last_a[0] = a
        h_raw = (
            pairs.join(F.broadcast(a), "sk")
            .groupBy("ck")
            .agg(F.sum("a").cast("bigint").alias("raw"))
        )
        hmax = h_raw.agg(F.max("raw").alias("m"))
        return h_raw.crossJoin(F.broadcast(hmax)).select(
            "ck", F.expr(f"(raw * {HITS_FP}) div m").alias("h")
        )

    h = iterate(
        cdeg.select("ck", F.lit(HITS_FP).cast("bigint").alias("h")),
        _hits_step,
        HITS_ITERS,
        eager=False,
        checkpoint_input=False,
    )
    a = last_a[0]
    hubs = h.join(F.broadcast(cdeg), "ck").select(
        F.concat(F.lit("c:"), F.col("ck").cast("string")).alias("node_id"),
        F.lit("hub").alias("role"),
        (F.col("h").cast("double") / F.lit(float(HITS_FP))).alias("score"),
        F.col("outdeg").cast("bigint").alias("degree"),
    )
    auths = a.join(F.broadcast(sdeg), "sk").select(
        F.concat(F.lit("s:"), F.col("sk").cast("string")).alias("node_id"),
        F.lit("authority").alias("role"),
        (F.col("a").cast("double") / F.lit(float(HITS_FP))).alias("score"),
        F.col("indeg").cast("bigint").alias("degree"),
    )
    return hubs.unionAll(auths)


# --- personalized PageRank ------------------------------------------------

PPR_SEED_MAX_CUST = 20  # seed set: customers with custkey < this


def _sql_ppr_iter(prev: str, out: str) -> str:
    """One unrolled personalized-PageRank iteration: teleport mass goes
    ONLY to seed nodes (customer ids are even, custkey = node/2)."""
    return f"""
{out} AS (
  SELECT e.dst AS node,
         CAST(CASE WHEN e.dst % 2 = 0 AND e.dst // 2 < {PPR_SEED_MAX_CUST}
                   THEN {_TELEPORT_FP} ELSE 0 END
              + ({DAMP_NUM} * SUM(r.r // d.outdeg)) // {DAMP_DEN}
              AS BIGINT) AS r
  FROM edges e
  JOIN {prev} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)"""


_SQL_PPR_ITERS = ",".join(
    _sql_ppr_iter(f"p{i}", f"p{i + 1}") for i in range(PR_ITERS)
)

_SQL_INT_EDGES = """
pairs AS (
  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT ck * 2 AS src, sk * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT sk * 2 + 1 AS src, ck * 2 AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src)
"""


@register(
    "graph_pagerank_personalized",
    tags=("graph", "iterative"),
    oracle=f"""
WITH {_SQL_INT_EDGES},
p0 AS (
  SELECT src AS node,
         CAST(CASE WHEN src % 2 = 0 AND src // 2 < {PPR_SEED_MAX_CUST}
                   THEN {FP_ONE} ELSE 0 END AS BIGINT) AS r
  FROM deg
),
{_SQL_PPR_ITERS}
SELECT CASE WHEN p.node % 2 = 0 THEN 'c:' || CAST(p.node // 2 AS VARCHAR)
            ELSE 's:' || CAST((p.node - 1) // 2 AS VARCHAR) END AS node_id,
       CAST(p.r AS DOUBLE) / {FP_ONE}.0 AS rank,
       p.node % 2 = 0 AND p.node // 2 < {PPR_SEED_MAX_CUST} AS is_seed
FROM p{PR_ITERS} p
WHERE p.r > 0
""",
)
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank from a seed set (customers with key <
    {PPR_SEED_MAX_CUST}): teleport mass returns ONLY to the seeds, so
    rank measures proximity TO THE SEED NEIGHBORHOOD rather than
    global importance — the recommendation/expansion primitive ("rank
    everything by relevance to these accounts") and the
    seed-expansion step of graph-based curation. Zero-rank nodes
    (unreached within {PR_ITERS} hops) are filtered — at scale PPR
    frontiers stay sparse, which is why it beats global PageRank for
    per-query work.

    Same fixed-point int64 machinery, persisted edge cache, and
    broadcast-rank iteration as `graph_pagerank` — the ONLY change is
    the teleport term's seed condition (an integer predicate on the
    node id). Bitwise oracle via the same unrolled-CTE technique."""
    edges, deg, n_nodes = _edge_index(spark, sf_dir)
    is_seed = (F.col("node") % 2 == 0) & (
        F.expr("node div 2") < PPR_SEED_MAX_CUST
    )
    ranks = deg.select(
        F.col("src").alias("node"),
        F.when(
            (F.col("src") % 2 == 0)
            & (F.expr("src div 2") < PPR_SEED_MAX_CUST),
            F.lit(FP_ONE),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("r"),
    )
    def _ppr_step(ranks: DataFrame, _i: int) -> DataFrame:
        rd = ranks.join(
            bounded_broadcast(deg, n_nodes), ranks.node == deg.src
        ).select("node", "r", "outdeg")
        contrib = edges.join(
            bounded_broadcast(rd, n_nodes), edges.src == rd.node
        ).select("dst", F.expr("r div outdeg").alias("w"))
        return contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.when(
                    (F.col("dst") % 2 == 0)
                    & (F.expr("dst div 2") < PPR_SEED_MAX_CUST),
                    F.lit(_TELEPORT_FP),
                )
                .otherwise(0)
                .cast("bigint")
                + F.expr(f"({DAMP_NUM} * sum(w)) div {DAMP_DEN}")
            ).alias("r")
        )

    ranks = iterate(
        ranks, _ppr_step, PR_ITERS, eager=False, checkpoint_input=False
    )
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c:"), F.expr("node div 2").cast("string")),
    ).otherwise(
        F.concat(F.lit("s:"), F.expr("(node - 1) div 2").cast("string"))
    )
    return ranks.filter(F.col("r") > 0).select(
        label.alias("node_id"),
        (F.col("r").cast("double") / F.lit(float(FP_ONE))).alias("rank"),
        is_seed.alias("is_seed"),
    )


@register(
    "graph_local_clustering",
    tags=("graph", "joins", "triangles", "clustering"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
),
pernode AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) t GROUP BY node
),
und AS (SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY node)
SELECT d.node, d.degree,
       CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_triangles,
       round(2.0 * COALESCE(p.n_tri, 0) / (d.degree * (d.degree - 1)), 8)
         AS local_clustering
FROM deg d LEFT JOIN pernode p ON d.node = p.node
WHERE d.degree >= 2
""",
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient — the LOCAL counterpart of
    ``graph_triangle_count``'s global statistic: for every node with
    degree >= 2, the fraction of its neighbor pairs that are themselves
    connected (2*tri_n / deg_n*(deg_n-1)). The node-level signal is
    what community detection and spam/bot analysis actually consume:
    high-degree low-clustering nodes are hubs/aggregators, high-
    clustering nodes sit inside tight communities.

    Scale shape: the oriented wedge-closure join is shared with the
    global query (each triangle materializes ONCE as (a<b<c)); the
    per-node attribution is a 3-way unpivot of the closed-triangle
    frame + one hash aggregate, and degrees reuse the same edge
    unpivot. The edge list rides the shared localCheckpoint cache, so
    the basket self-join is not re-derived."""
    edges = _copurchase_edges(spark, sf_dir)
    e1 = edges.select(F.col("u"), F.col("v").alias("v1"))
    e2 = edges.select(F.col("u"), F.col("v").alias("v2"))
    closed = (
        e1.join(e2, ["u"])
        .filter(F.col("v1") < F.col("v2"))
        .join(
            edges.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
            ["v1", "v2"],
        )
    )
    pernode = (
        closed.select(F.col("u").alias("node"))
        .unionAll(closed.select(F.col("v1").alias("node")))
        .unionAll(closed.select(F.col("v2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )
    und = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    deg = und.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0))
    return (
        deg.join(pernode, "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            "node",
            "degree",
            n_tri.cast("bigint").alias("n_triangles"),
            F.round(
                2.0
                * n_tri
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
                8,
            ).alias("local_clustering"),
        )
    )


# --- deterministic random walks -------------------------------------------

WALK_STEPS = 3


def _sql_walk_hash(seed: str, k: int, cur: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({seed} AS VARCHAR) || '_' || {k} || '_'"
        f" || CAST({cur} AS VARCHAR)), 1, 8))::BIGINT"
    )


@register(
    "graph_random_walks",
    tags=("graph", "walks", "sampling"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
adj AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL SELECT v AS src, u AS dst FROM edges
),
ranked AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn,
         COUNT(*) OVER (PARTITION BY src) AS deg
  FROM adj
),
seeds AS (SELECT DISTINCT src AS s FROM adj),
w1 AS (
  SELECT s, r.dst AS c
  FROM seeds JOIN ranked r
    ON r.src = s AND r.rn = {_sql_walk_hash('s', 1, 's')} % r.deg + 1
),
w2 AS (
  SELECT w1.s, r.dst AS c
  FROM w1 JOIN ranked r
    ON r.src = w1.c AND r.rn = {_sql_walk_hash('w1.s', 2, 'w1.c')} % r.deg + 1
),
w3 AS (
  SELECT w2.s, r.dst AS c
  FROM w2 JOIN ranked r
    ON r.src = w2.c AND r.rn = {_sql_walk_hash('w2.s', 3, 'w2.c')} % r.deg + 1
),
visits AS (
  SELECT c FROM w1 UNION ALL SELECT c FROM w2 UNION ALL SELECT c FROM w3
)
SELECT c AS node, CAST(COUNT(*) AS BIGINT) AS n_visits
FROM visits GROUP BY c
""",
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks ({WALK_STEPS} steps from every node)
    over the co-purchase graph — the node2vec/DeepWalk sampling step
    that feeds graph embeddings, done WITHOUT an RNG: step k from node
    c in seed s's walk picks neighbor rank md5(s,k,c) mod degree(c), so
    every engine, retry, and partitioning produces the identical walk
    corpus (the same content-hash discipline as the sampling family).
    Output is the visit histogram — stationary-ish visit mass that
    correlates with PageRank but costs {WALK_STEPS} equi-joins instead
    of iteration to convergence.

    Scale shape: the neighbor index (rank within src by dst) is one
    edge-keyed window; each step is an equi-join of the walk frontier
    against that index on (src, rank) — frontier size stays exactly
    |nodes| rows per step, never fans out; the histogram is a final
    hash aggregate. The edge list rides the shared localCheckpoint
    cache."""
    edges = _copurchase_edges(spark, sf_dir)
    adj = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    wsrc = Window.partitionBy("src")
    ranked = adj.select(
        "src",
        "dst",
        F.row_number().over(wsrc.orderBy("dst")).alias("rn"),
        F.count(F.lit(1)).over(wsrc).alias("deg"),
    )

    def walk_hash(seed: Column, k: int, cur: Column) -> Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        seed.cast("string"),
                        F.lit(f"_{k}_"),
                        cur.cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")

    frontier = adj.select(F.col("src").alias("s")).distinct().withColumn(
        "c", F.col("s")
    )
    visits = None
    for k in range(1, WALK_STEPS + 1):
        nxt = (
            frontier.join(ranked, frontier["c"] == ranked["src"])
            .filter(
                F.col("rn")
                == walk_hash(F.col("s"), k, frontier["c"]) % F.col("deg") + 1
            )
            .select("s", F.col("dst").alias("c"))
        )
        step_visits = nxt.select(F.col("c"))
        visits = step_visits if visits is None else visits.unionAll(step_visits)
        frontier = nxt
    return visits.groupBy(F.col("c").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_visits")
    )


# --- connected components, alternating-star (large-diameter scale path) ----

# Backstop round cap: alternating star converges in O(log^2 n) rounds
# (Kiveris et al. SoCC'14) — random graphs in 3-4, a 2000-node chain in 6.
# 50 rounds covers any graph whose node ids fit in an int64; hitting the
# cap unconverged therefore indicates a bug (or adversarial input) and
# RAISES rather than returning silently-wrong labels (a partially
# contracted chain would mislabel c->b instead of c->a) — the repo's
# no-silent-caps convention.
CC_STAR_MAX_ROUNDS = 50


@register(
    "graph_cc_alternating_star",
    tags=("graph", "iterative", "components", "scale-path"),
    oracle=f"""
WITH RECURSIVE {_SQL_COPURCHASE},
und AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN und e ON e.src = r.node
)
SELECT node AS part_id, MIN(lab) AS component,
       (node = MIN(lab)) AS is_root
FROM reach GROUP BY node
""",
)
def graph_cc_alternating_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR — the
    published MapReduce CC algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) and the scale path
    min-label propagation defers to: label propagation needs
    O(diameter) rounds (a 10^6-hop chain = 10^6 shuffles), while star
    operations contract the graph toward rooted stars in O(log^2 n)
    rounds REGARDLESS of diameter.

      large-star(u): every neighbor v > u re-points to
                     m = min(N(u) + {{u}});
      small-star(u): every neighbor v <= u (and u itself) re-points
                     to m.

    Per round: one symmetrize (projection), one groupBy(node) min
    (map-side combined), one join of the edge list against the
    node-sized min frame — edge-linear, no step grows beyond |E|.
    Lineage truncates per round via localCheckpoint; convergence is an
    order-insensitive (count, xor of row hashes) fingerprint — one
    2-value collect per round, no edge-set comparison join. The oracle
    is the SAME recursive-CTE closure that verifies
    graph_connected_components, so both algorithms are pinned to one
    ground truth (and transitively to each other)."""
    return alternating_star_components(_copurchase_edges(spark, sf_dir))


def alternating_star_components(raw: DataFrame) -> DataFrame:
    """(u, v) edge frame -> (part_id, component, is_root) by alternating
    large-star/small-star contraction (see graph_cc_alternating_star)."""
    E = materialize(raw.select(
        F.col("u").alias("child"), F.col("v").alias("parent")
    ))

    def star(frame: DataFrame, large: bool) -> DataFrame:
        sym = frame.unionAll(
            frame.select(
                F.col("parent").alias("child"), F.col("child").alias("parent")
            )
        )
        mins = (
            sym.groupBy("child")
            .agg(F.min("parent").alias("mn"))
            .select("child", F.least("mn", F.col("child")).alias("m"))
        )
        j = sym.join(mins, "child")
        if large:
            out = j.filter(F.col("parent") > F.col("child")).select(
                F.col("parent").alias("child"), F.col("m").alias("parent")
            )
        else:
            out = (
                j.filter(
                    (F.col("parent") <= F.col("child"))
                    & (F.col("parent") != F.col("m"))
                )
                .select(
                    F.col("parent").alias("child"), F.col("m").alias("parent")
                )
                .unionAll(mins.select("child", F.col("m").alias("parent")))
            )
        return out.filter(F.col("child") != F.col("parent")).distinct()

    def fingerprint(frame: DataFrame) -> tuple:
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("child", "parent")).alias("x"),
        ).collect()[0]
        return (row["n"], row["x"])

    # iterate()'s probe-repeat fixpoint on the (count, xor-hash) edge
    # fingerprint — a repeated fingerprint means the contraction is
    # stationary; require_convergence raises ("probe still moving")
    # rather than emitting partially-contracted labels.
    E = iterate(
        E,
        lambda cur, _i: star(star(cur, large=True), large=False),
        CC_STAR_MAX_ROUNDS,
        probe=fingerprint,
        require_convergence=True,
    )
    # Converged: E holds (node -> component min) for every non-root;
    # roots self-labelled via the left join against the node universe.
    parents = E.groupBy(F.col("child").alias("node")).agg(
        F.min("parent").alias("lab")
    )
    nodes = (
        raw.select(F.col("u").alias("node"))
        .unionAll(raw.select(F.col("v").alias("node")))
        .distinct()
    )
    return nodes.join(parents, "node", "left").select(
        F.col("node").alias("part_id"),
        F.coalesce("lab", F.col("node")).alias("component"),
        (F.coalesce("lab", F.col("node")) == F.col("node")).alias("is_root"),
    )


# --- Louvain local-moving phase --------------------------------------------

LOUVAIN_BINS = 16  # deterministic initial partition: community = node % BINS

# Shared CTE chain: the synchronous move pass (und .. best) — used by
# the move-phase oracle's final SELECT and by the coarsening oracle.
_SQL_LOUVAIN_MOVE = f"""
und AS MATERIALIZED (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
deg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS k FROM und GROUP BY src),
comm AS MATERIALIZED (SELECT node, CAST(node % {LOUVAIN_BINS} AS BIGINT) AS cid FROM deg),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM edges),
sig AS MATERIALIZED (
  SELECT c.cid, CAST(SUM(d.k) AS BIGINT) AS sigma
  FROM comm c JOIN deg d ON c.node = d.node GROUP BY c.cid
),
eic AS MATERIALIZED (
  SELECT u.src AS node, c.cid, CAST(COUNT(*) AS BIGINT) AS e_ic
  FROM und u JOIN comm c ON u.dst = c.node GROUP BY u.src, c.cid
),
own AS MATERIALIZED (
  SELECT c.node, c.cid, d.k, sa.sigma AS sigma_a,
         COALESCE(e.e_ic, 0) AS e_own
  FROM comm c
  JOIN deg d ON c.node = d.node
  JOIN sig sa ON c.cid = sa.cid
  LEFT JOIN eic e ON e.node = c.node AND e.cid = c.cid
),
cand AS (
  SELECT o.node, o.cid AS comm_from, e.cid AS cand_cid,
         2 * t.m_edges * (e.e_ic - o.e_own)
           - o.k * (sb.sigma - o.sigma_a + o.k) AS gain,
         ROW_NUMBER() OVER (
           PARTITION BY o.node
           ORDER BY 2 * t.m_edges * (e.e_ic - o.e_own)
                      - o.k * (sb.sigma - o.sigma_a + o.k) DESC,
                    e.cid ASC
         ) AS rn
  FROM own o
  JOIN eic e ON e.node = o.node AND e.cid <> o.cid
  JOIN sig sb ON e.cid = sb.cid
  CROSS JOIN m t
),
best AS (SELECT * FROM cand WHERE rn = 1 AND gain > 0),
newcomm AS MATERIALIZED (
  SELECT o.node, CAST(COALESCE(b.cand_cid, o.cid) AS BIGINT) AS nc
  FROM own o LEFT JOIN best b ON o.node = b.node
)"""


@register(
    "graph_louvain_move_phase",
    tags=("graph", "communities", "iterative"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
{_SQL_LOUVAIN_MOVE}
SELECT o.node, o.cid AS comm_from,
       CAST(COALESCE(b.cand_cid, o.cid) AS BIGINT) AS comm_to,
       CAST(COALESCE(b.gain, 0) AS BIGINT) AS gain_x2m2,
       (b.node IS NOT NULL) AS moved
FROM own o LEFT JOIN best b ON o.node = b.node
""",
)
def graph_louvain_move_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous Louvain local-moving pass (Blondel et al. 2008,
    "Fast unfolding of communities in large networks" — PAPERS.md) over
    the co-purchase graph: every node evaluates, against the FIXED
    initial partition (community = node % LOUVAIN_BINS), the modularity
    gain of relocating into each neighboring community and takes the
    best strictly-positive move (ties broken by smallest community id).
    Synchronous evaluation is what makes the pass deterministic and
    oracle-checkable — classic Louvain scans nodes sequentially, which
    is order-dependent and single-machine; the synchronous variant is
    the standard distributed formulation (one pass of it is also one
    round of Gemini/GraphX-style Louvain).

    Determinism: the gain is emitted SCALED by 2m^2 —
    ``gain_x2m2 = 2m(e_ib - e_ia) - k_i(sigma_b - sigma_a + k_i)`` —
    which is an exact BIGINT (every term an integer count), so the
    argmax and the emitted values hash-match bitwise with no float
    anywhere. The 2^63 margin holds to ~2e9 edges; past that, drop the
    shared 1/(2m^2) factor's exactness and compare gains as doubles.

    Shuffles: degree agg, one edge->community join + (node, cid) agg
    (both map-side combined, O(edges)), a community-degree rollup
    (O(nodes)), then a node-partitioned window over the candidate
    frame (O(edges) rows worst case). Nothing quadratic; the sigma
    frame (<= BINS rows) and m broadcast."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    comm = deg.select(
        "node", (F.col("node") % LOUVAIN_BINS).cast("bigint").alias("cid")
    )
    m_edges = edges.count()  # one scalar over the cached edge frame
    sig = (
        comm.join(deg, "node")
        .groupBy("cid")
        .agg(F.sum("k").cast("bigint").alias("sigma"))
    )
    eic = materialize(
        und.join(
            comm.select(F.col("node").alias("dst"), "cid").hint("shuffle_hash"),
            "dst",
        )
        .groupBy(F.col("src").alias("node"), "cid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_ic"))
    )
    own = (
        comm.join(deg, "node")
        .join(F.broadcast(sig.withColumnRenamed("sigma", "sigma_a")), "cid")
        .join(
            eic.select("node", "cid", F.col("e_ic").alias("e_own")),
            ["node", "cid"],
            "left",
        )
        .select(
            "node", "cid", "k", "sigma_a", F.coalesce("e_own", F.lit(0)).alias("e_own")
        )
    )
    two_m = F.lit(2 * m_edges).cast("bigint")
    cand = (
        own.join(
            eic.select("node", F.col("cid").alias("cand_cid"), "e_ic"), "node"
        )
        .filter(F.col("cand_cid") != F.col("cid"))
        .join(
            F.broadcast(
                sig.select(F.col("cid").alias("cand_cid"), F.col("sigma").alias("sigma_b"))
            ),
            "cand_cid",
        )
        .select(
            "node",
            F.col("cid").alias("comm_from"),
            "cand_cid",
            (
                two_m * (F.col("e_ic") - F.col("e_own"))
                - F.col("k") * (F.col("sigma_b") - F.col("sigma_a") + F.col("k"))
            ).alias("gain"),
        )
    )
    wn = Window.partitionBy("node").orderBy(
        F.col("gain").desc(), F.col("cand_cid").asc()
    )
    best = (
        cand.withColumn("rn", F.row_number().over(wn))
        .filter((F.col("rn") == 1) & (F.col("gain") > 0))
        .select("node", "cand_cid", "gain")
    )
    return own.join(best, "node", "left").select(
        "node",
        F.col("cid").alias("comm_from"),
        F.coalesce("cand_cid", F.col("cid")).cast("bigint").alias("comm_to"),
        F.coalesce("gain", F.lit(0)).cast("bigint").alias("gain_x2m2"),
        F.col("cand_cid").isNotNull().alias("moved"),
    )


# --- k-truss decomposition --------------------------------------------------

KTRUSS_K = 3       # every surviving edge sits in >= K-2 triangles
KTRUSS_ROUNDS = 8  # unroll cap; the loop raises rather than diverge silently


def _sql_ktruss_rounds() -> str:
    rounds = []
    for i in range(1, KTRUSS_ROUNDS + 1):
        p = i - 1
        rounds.append(f"""
t{i} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM te{p} e1
  JOIN te{p} e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN te{p} e3 ON e3.u = e1.v AND e3.v = e2.v
),
s{i} AS MATERIALIZED (
  SELECT u, v, COUNT(*) AS sup FROM (
    SELECT a AS u, b AS v FROM t{i}
    UNION ALL SELECT a, c FROM t{i}
    UNION ALL SELECT b, c FROM t{i}
  ) GROUP BY u, v
),
te{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM te{p} e
  JOIN s{i} s ON e.u = s.u AND e.v = s.v
  WHERE s.sup >= {KTRUSS_K - 2}
)""")
    return ",".join(rounds)


@register(
    "graph_ktruss",
    tags=("graph", "iterative", "truss"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
te0 AS MATERIALIZED (SELECT u, v FROM edges),
{_sql_ktruss_rounds()}
SELECT e.u, e.v, CAST(s.sup AS BIGINT) AS support
FROM te{KTRUSS_ROUNDS} e
JOIN s{KTRUSS_ROUNDS} s ON e.u = s.u AND e.v = s.v
""",
)
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KTRUSS_K}-truss of the co-purchase graph (Cohen 2008, "Trusses:
    cohesive subgraphs for social network analysis"): iteratively delete
    every edge supported by fewer than {KTRUSS_K - 2} triangles until
    the remaining subgraph is everywhere triangle-supported — the
    EDGE-level strengthening of k-core (cores bound degrees, trusses
    bound shared neighborhoods, so trusses can't be faked by hub
    spokes). Emits the surviving edges with their final support.

    Per round: one triangle enumeration (two hash self-joins of the
    canonical u<v edge list — the graph_triangle_count shape), one
    support aggregate over the 3 edge-roles of each triangle (map-side
    combined), one semi-join filter; each round localCheckpoints to
    truncate lineage, and convergence is an O(1) count comparison.
    Peeling that exceeds the {KTRUSS_ROUNDS}-round unroll raises
    rather than silently disagreeing with the oracle's replay (the
    k-core convention)."""
    def support(e: DataFrame) -> DataFrame:
        e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
        e3 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
        tri = (
            e1.join(e2, ["a"])
            .filter(F.col("b") < F.col("c"))
            .join(e3, ["b", "c"])
        )
        roles = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
            .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
        )
        return roles.groupBy("u", "v").agg(F.count(F.lit(1)).alias("sup"))

    def _truss_step(edges: DataFrame, _i: int) -> DataFrame:
        return (
            edges.join(support(edges), ["u", "v"])
            .filter(F.col("sup") >= KTRUSS_K - 2)
            .select("u", "v")
        )

    # monotone count probe (edges only shrink); raise-at-cap preserved.
    edges = iterate(
        _copurchase_edges(spark, sf_dir),
        _truss_step,
        KTRUSS_ROUNDS,
        probe=lambda df: df.count(),
        require_convergence=True,
    )
    return edges.join(support(edges), ["u", "v"]).select(
        "u", "v", F.col("sup").cast("bigint").alias("support")
    )


@register(
    "graph_louvain_coarsen",
    tags=("graph", "communities", "iterative"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
{_SQL_LOUVAIN_MOVE}
SELECT least(ca.nc, cb.nc) AS comm_a, greatest(ca.nc, cb.nc) AS comm_b,
       CAST(COUNT(*) AS BIGINT) AS weight
FROM edges e
JOIN newcomm ca ON e.u = ca.node
JOIN newcomm cb ON e.v = cb.node
GROUP BY least(ca.nc, cb.nc), greatest(ca.nc, cb.nc)
""",
)
def graph_louvain_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain phase 2: contract the moved partition into the weighted
    SUPERGRAPH the next level runs on — one row per community pair
    (comm_a <= comm_b) with the inter-community edge count as weight;
    the diagonal rows (comm_a = comm_b) carry each community's internal
    edge count (the self-loop weight of classic Louvain coarsening).
    Composing move-phase -> coarsen -> move-phase is the full
    multi-level loop; each level shrinks the graph by the community
    count, which is why Louvain scales to billions of edges.

    One node->community broadcast join per edge endpoint + one
    map-side-combined aggregate — edge-linear, and the supergraph
    (<= communities^2 rows, here <= {LOUVAIN_BINS}^2) is tiny."""
    moves = materialize(graph_louvain_move_phase(spark, sf_dir).select(
        "node", F.col("comm_to").alias("nc")
    ))
    edges = _copurchase_edges(spark, sf_dir)
    ca = moves.select(F.col("node").alias("u"), F.col("nc").alias("nc_a"))
    cb = moves.select(F.col("node").alias("v"), F.col("nc").alias("nc_b"))
    return (
        edges.join(F.broadcast(ca), "u")
        .join(F.broadcast(cb), "v")
        .groupBy(
            F.least("nc_a", "nc_b").alias("comm_a"),
            F.greatest("nc_a", "nc_b").alias("comm_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
    )


@register(
    "graph_louvain_level2_move",
    tags=("graph", "communities", "iterative"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
{_SQL_LOUVAIN_MOVE},
super_e AS MATERIALIZED (
  SELECT least(ca.nc, cb.nc) AS a, greatest(ca.nc, cb.nc) AS b,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM edges e
  JOIN newcomm ca ON e.u = ca.node
  JOIN newcomm cb ON e.v = cb.node
  GROUP BY least(ca.nc, cb.nc), greatest(ca.nc, cb.nc)
),
m2 AS (SELECT CAST(SUM(w) AS BIGINT) AS mw FROM super_e),
kdeg AS MATERIALIZED (
  SELECT node, CAST(SUM(wk) AS BIGINT) AS k FROM (
    SELECT a AS node, CASE WHEN a = b THEN 2 * w ELSE w END AS wk
    FROM super_e
    UNION ALL
    SELECT b, w FROM super_e WHERE a <> b
  ) GROUP BY node
),
cand2 AS (
  SELECT c.node, c.cand, c.w,
         2 * t.mw * c.w - ka.k * kb.k AS gain,
         ROW_NUMBER() OVER (
           PARTITION BY c.node
           ORDER BY 2 * t.mw * c.w - ka.k * kb.k DESC, c.cand ASC
         ) AS rn
  FROM (
    SELECT a AS node, b AS cand, w FROM super_e WHERE a <> b
    UNION ALL
    SELECT b, a, w FROM super_e WHERE a <> b
  ) c
  JOIN kdeg ka ON c.node = ka.node
  JOIN kdeg kb ON c.cand = kb.node
  CROSS JOIN m2 t
),
best2 AS (SELECT * FROM cand2 WHERE rn = 1 AND gain > 0)
SELECT d.node AS supernode, d.k AS weighted_degree,
       CAST(COALESCE(b.cand, d.node) AS BIGINT) AS merge_into,
       CAST(COALESCE(b.gain, 0) AS BIGINT) AS gain_x2m2,
       (b.node IS NOT NULL) AS moved
FROM kdeg d LEFT JOIN best2 b ON d.node = b.node
""",
)
def graph_louvain_level2_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain LEVEL 2: the synchronous move pass re-run on the
    coarsened WEIGHTED supergraph (each level-1 community a supernode,
    each starting in its own singleton community — the classic
    multi-level restart). Extracting a singleton leaves nothing behind,
    so the weighted gain collapses to
    ``gain_x2m2 = 2m w(c,d) - k_c k_d`` (m = total edge weight, k =
    weighted degree with self-loops counted twice) — still exact
    BIGINT, still a bitwise argmax. Composing move -> coarsen -> move
    is the loop that climbs the dendrogram; each level runs on a graph
    shrunk by the previous level's community count.

    Scale: the supergraph is community-bounded (here <= LOUVAIN_BINS
    nodes), so this level is a broadcast-sized computation — the
    point of coarsening is that level cost DROPS geometrically."""
    coars = materialize(graph_louvain_coarsen(spark, sf_dir))
    mw = coars.agg(F.sum("weight")).collect()[0][0]  # O(1) scalar
    kdeg = (
        coars.select(
            F.col("comm_a").alias("node"),
            F.when(F.col("comm_a") == F.col("comm_b"), 2 * F.col("weight"))
            .otherwise(F.col("weight"))
            .alias("wk"),
        )
        .unionAll(
            coars.filter(F.col("comm_a") != F.col("comm_b")).select(
                F.col("comm_b").alias("node"), F.col("weight").alias("wk")
            )
        )
        .groupBy("node")
        .agg(F.sum("wk").cast("bigint").alias("k"))
    )
    cross = coars.filter(F.col("comm_a") != F.col("comm_b"))
    cand = (
        cross.select(
            F.col("comm_a").alias("node"), F.col("comm_b").alias("cand"), "weight"
        )
        .unionAll(
            cross.select(
                F.col("comm_b").alias("node"), F.col("comm_a").alias("cand"), "weight"
            )
        )
        .join(F.broadcast(kdeg.withColumnRenamed("k", "k_node")), "node")
        .join(
            F.broadcast(
                kdeg.select(F.col("node").alias("cand"), F.col("k").alias("k_cand"))
            ),
            "cand",
        )
        .select(
            "node",
            "cand",
            (
                F.lit(2 * mw).cast("bigint") * F.col("weight")
                - F.col("k_node") * F.col("k_cand")
            ).alias("gain"),
        )
    )
    wn = Window.partitionBy("node").orderBy(F.col("gain").desc(), F.col("cand").asc())
    best = (
        cand.withColumn("rn", F.row_number().over(wn))
        .filter((F.col("rn") == 1) & (F.col("gain") > 0))
        .select("node", "cand", "gain")
    )
    return kdeg.join(best, "node", "left").select(
        F.col("node").alias("supernode"),
        F.col("k").alias("weighted_degree"),
        F.coalesce("cand", F.col("node")).cast("bigint").alias("merge_into"),
        F.coalesce("gain", F.lit(0)).cast("bigint").alias("gain_x2m2"),
        F.col("cand").isNotNull().alias("moved"),
    )


# --- strongly connected components (directed; forward-backward min-label) ---
#
# The directed twin of connected components. One min-label pass is NOT
# enough for SCCs: reachability must hold BOTH ways. The classic
# distributed decomposition (FW-BW / Orzan's OBF coloring; same family
# as Hong et al.'s MultiStep) runs per phase, within each refinement
# class:
#   f(u) = min node id REACHABLE FROM u   (forward min-label fixpoint)
#   b(u) = min node id THAT REACHES u     (backward min-label fixpoint)
# If f(u) = b(u) = m then u and m reach each other, so u is in SCC(m) —
# and the whole SCC of each class-minimum settles this way every phase
# (the class minimum always has f = b = itself). Unsettled nodes can
# never share an SCC across different (f, b) pairs (mutual reachability
# forces equal pairs), so (f, b) becomes the next phase's refinement
# class and edges crossing classes are dropped. Every collect in the
# loop is O(1) (a monotone label-sum fingerprint); per-phase work is
# O(E) join-aggregates with map-side combine, so the shape survives a
# 1000-executor graph. Both loop caps RAISE on exhaustion rather than
# emitting partial labels (repo no-silent-caps convention).

SCC_N = 200
SCC_MAX_PHASES = 12
SCC_MAX_PROP_ROUNDS = 64


def _scc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic directed fixture graph over customer-key residues:
    two affine successor rules per node (a doubled functional graph —
    cycles with in-trees, the classic nontrivial SCC structure). Both
    the Spark side and the DuckDB oracle derive it from the customer
    table with the same arithmetic."""
    nodes = (
        load(spark, sf_dir, "customer")
        .select((F.col("c_custkey") % SCC_N).alias("id"))
        .distinct()
    )
    return nodes.select(
        F.col("id").alias("u"), ((F.col("id") * 17 + 3) % SCC_N).alias("v")
    ).unionAll(
        nodes.select(
            F.col("id").alias("u"), ((F.col("id") * 89 + 7) % SCC_N).alias("v")
        )
    )


def _min_label_fixpoint(nodes: DataFrame, edges: DataFrame, forward: bool) -> DataFrame:
    """(id) frame + class-restricted (u, v) edges -> (id, lab) where lab
    is the min node id in the forward (u -> reachable) or backward
    (reaches u) direction, by pull-style min propagation to fixpoint.
    Convergence probe is the label SUM — labels only ever decrease, so
    the sum is strictly monotone and one O(1) collect per round detects
    the fixpoint."""
    src, dst = ("u", "v") if forward else ("v", "u")

    def _prop_step(lab: DataFrame, _i: int) -> DataFrame:
        msgs = (
            edges.join(
                lab.select(F.col("id").alias(dst), F.col("lab").alias("nlab")), dst
            )
            .groupBy(F.col(src).alias("id"))
            .agg(F.min("nlab").alias("mn"))
        )
        return lab.join(msgs, "id", "left").select(
            "id",
            F.least("lab", F.coalesce("mn", F.col("lab"))).alias("lab"),
        )

    # iterate()'s monotone-probe fixpoint: labels only decrease, so a
    # repeated sum IS convergence; require_convergence raises rather
    # than emitting labels from an unconverged fixpoint.
    return iterate(
        nodes.select("id", F.col("id").alias("lab")),
        _prop_step,
        SCC_MAX_PROP_ROUNDS,
        probe=lambda df: df.agg(F.sum("lab")).collect()[0][0],
        require_convergence=True,
    )


def strongly_connected_components(raw: DataFrame) -> DataFrame:
    """(u, v) directed edge frame -> (node, scc_id) via per-phase
    forward/backward min-label settling with (f, b) class refinement."""
    all_nodes = (
        raw.select(F.col("u").alias("id"))
        .unionAll(raw.select(F.col("v").alias("id")))
        .distinct()
    )
    E0 = materialize(raw)
    zero = F.lit(0).cast("long")
    start = {
        "remaining": all_nodes.select("id", zero.alias("ca"), zero.alias("cb")),
        "settled": all_nodes.select("id", F.col("id").alias("scc_id")).limit(0),
    }

    def _phase(st: dict, _i: int) -> dict | None:
        remaining = st["remaining"]
        if remaining.isEmpty():
            return None
        # Edges whose endpoints share the refinement class (SCCs never
        # straddle classes, so cross-class edges are dead weight).
        cu = remaining.select(
            F.col("id").alias("u"), F.col("ca").alias("ua"), F.col("cb").alias("ub")
        )
        cv = remaining.select(
            F.col("id").alias("v"), F.col("ca").alias("va"), F.col("cb").alias("vb")
        )
        e = materialize(
            E0.join(cu, "u")
            .join(cv, "v")
            .filter((F.col("ua") == F.col("va")) & (F.col("ub") == F.col("vb")))
            .select("u", "v")
        )
        ids = remaining.select("id")
        f = _min_label_fixpoint(ids, e, forward=True).withColumnRenamed("lab", "f")
        b = _min_label_fixpoint(ids, e, forward=False).withColumnRenamed("lab", "b")
        fb = materialize(f.join(b, "id"))
        newly = fb.filter(F.col("f") == F.col("b")).select(
            "id", F.col("f").alias("scc_id")
        )
        return {
            "remaining": fb.filter(F.col("f") != F.col("b")).select(
                "id", F.col("f").alias("ca"), F.col("b").alias("cb")
            ),
            "settled": st["settled"].unionAll(newly),
        }

    # +1: the round after the last phase sees no class left and stops.
    st = iterate_state(start, _phase, SCC_MAX_PHASES + 1, require_convergence=True)
    return st["settled"].select(F.col("id").alias("node"), "scc_id")


@register(
    "graph_scc",
    tags=("graph", "iterative", "directed"),
    oracle=f"""
WITH RECURSIVE
nodes0 AS (SELECT DISTINCT c_custkey % {SCC_N} AS id FROM customer),
base AS (
  SELECT id AS u, (id * 17 + 3) % {SCC_N} AS v FROM nodes0
  UNION ALL
  SELECT id, (id * 89 + 7) % {SCC_N} FROM nodes0
),
allnodes AS (SELECT u AS id FROM base UNION SELECT v FROM base),
r(u, v) AS (
  SELECT u, v FROM base
  UNION
  SELECT r.u, b.v FROM r JOIN base b ON r.v = b.u
),
mutual AS (
  SELECT r1.u, r1.v FROM r r1 JOIN r r2 ON r1.u = r2.v AND r1.v = r2.u
),
scc AS (
  SELECT n.id AS node,
         LEAST(n.id, COALESCE(MIN(m.v), n.id)) AS scc_id
  FROM allnodes n LEFT JOIN mutual m ON m.u = n.id
  GROUP BY n.id
),
sizes AS (SELECT scc_id, COUNT(*) AS scc_size FROM scc GROUP BY scc_id)
SELECT CAST(s.node AS BIGINT) AS node,
       CAST(s.scc_id AS BIGINT) AS scc_id,
       CAST(z.scc_size AS BIGINT) AS scc_size
FROM scc s JOIN sizes z USING (scc_id)
""",
)
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the directed fixture graph by
    distributed forward-backward min-label settling (see
    strongly_connected_components). The oracle computes the ground
    truth a completely different way — full recursive-CTE transitive
    closure, mutual-reachability pairs, min-id per SCC — so the
    iterative decomposition is verified against independent semantics,
    not a mirrored implementation. scc_size rides along (cycle nodes
    of the doubled functional graph form the nontrivial SCCs)."""
    labels = strongly_connected_components(_scc_edges(spark, sf_dir))
    sizes = labels.groupBy("scc_id").agg(F.count(F.lit(1)).alias("scc_size"))
    return labels.join(sizes, "scc_id").select(
        F.col("node").cast("bigint"),
        F.col("scc_id").cast("bigint"),
        F.col("scc_size").cast("bigint"),
    )


# --- harmonic closeness centrality (landmark BFS) ----------------------------
#
# Closeness ranks nodes by how near they sit to everything else;
# harmonic form (sum of 1/d) handles disconnected graphs gracefully
# (unreachable contributes 0, no infinity). Exact all-pairs is O(n*E)
# — the standard scale posture is LANDMARK sampling: BFS from K
# deterministic sources, rank by the sampled harmonic sum (Eppstein &
# Wang's estimator shape). Determinism across engines: 1/d terms are
# summed as EXACT integers scaled by lcm(1..CAP) — float 1/d sums
# would hash-differ by addition order under partitioning.

CLOSENESS_K = 16  # landmark sources (md5-ranked node ids)
CLOSENESS_CAP = 20  # BFS depth cap; raise-on-cap, no silent truncation
_CLOSENESS_LCM = 232792560  # lcm(1..20): 1/d terms stay integral


@register(
    "graph_harmonic_closeness",
    tags=("graph", "iterative", "centrality"),
    oracle=f"""
WITH RECURSIVE
{_SQL_COPURCHASE},
und AS (
  SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
),
nodes AS (SELECT DISTINCT u AS id FROM und),
srcs AS (
  SELECT id AS src FROM nodes
  ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {CLOSENESS_K}
),
walk(src, node, d) AS (
  SELECT src, src AS node, 0 FROM srcs
  UNION
  SELECT w.src, e.v AS node, w.d + 1
  FROM walk w JOIN und e ON e.u = w.node
  WHERE w.d < {CLOSENESS_CAP}
),
dist AS (
  SELECT src, node, MIN(d) AS d FROM walk GROUP BY src, node
)
SELECT node,
       CAST(COUNT(*) AS BIGINT) AS n_sources_reached,
       CAST(SUM({_CLOSENESS_LCM} / d) AS BIGINT) AS harmonic_x_lcm
FROM dist WHERE d > 0
GROUP BY node
""",
)
def graph_harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness from {CLOSENESS_K} md5-ranked landmark
    sources: one multi-source BFS (frontier join + min-distance merge
    per round, lineage truncated per round, O(1) frontier-size collect
    as the convergence probe, RAISE if the diameter cap is hit), then
    per-node SUM of lcm/d — an exact BIGINT, so the hash can't flake
    on float addition order. The oracle recomputes distances through a
    depth-capped recursive closure (different algorithm: exhaustive
    path enumeration with dedup vs frontier BFS). Scale: landmark
    count is the knob — state is O(K * nodes), each round is one
    join-aggregate over edges, and ranking quality degrades gracefully
    with K (Eppstein-Wang)."""
    edges = _copurchase_edges(spark, sf_dir)
    und = _undirected(edges)
    nodes = und.select(F.col("u").alias("id")).distinct()
    srcs = (
        nodes.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(CLOSENESS_K)
        .select(F.col("id").alias("src"))
    )
    # dist: (src, node, d) settled min distances, via the shared
    # iterate_state frontier-BFS (frontier-sized shuffles per round)
    dist = _multi_source_bfs(
        srcs, und, CLOSENESS_CAP, "graph_harmonic_closeness"
    )
    return (
        dist.filter(F.col("d") > 0)
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources_reached"),
            F.sum(F.lit(_CLOSENESS_LCM) / F.col("d"))
            .cast("bigint")
            .alias("harmonic_x_lcm"),
        )
    )


# --- shortest-path counts from landmarks (the sigma pass of Brandes) --------
#
# sigma(s, v) = number of distinct shortest s->v paths — the integer
# core of Brandes' betweenness (the dependency pass divides sigmas, so
# it goes rational; sigma itself stays BIGINT-exact, which is what
# makes a value-hash oracle possible). Computed by level-synchronous
# BFS: a node at distance k accumulates the sigma-sum of its
# distance-(k-1) predecessors, which in DataFrame terms is ONE
# join-aggregate per level. The oracle UNROLLS the same recurrence as
# machine-generated level CTEs (recursive CTEs can't aggregate in the
# recursive term) — a genuinely different evaluation strategy.

SPC_K = 8  # landmark sources
SPC_CAP = 14  # level cap; measured landmark eccentricity is <= 11


def _spc_oracle() -> str:
    lines = [
        "WITH",
        _SQL_COPURCHASE + ",",
        "und AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),",
        "nodes AS (SELECT DISTINCT u AS id FROM und),",
        "srcs AS (SELECT id AS src FROM nodes",
        f"  ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {SPC_K}),",
        "s0 AS (SELECT src, src AS node, CAST(1 AS BIGINT) AS sigma FROM srcs),",
        "seen0 AS (SELECT src, node FROM s0),",
    ]
    for k in range(1, SPC_CAP + 1):
        lines += [
            f"s{k} AS MATERIALIZED (",
            f"  SELECT c.src, c.node, c.sigma FROM (",
            f"    SELECT p.src, e.v AS node,",
            f"           CAST(SUM(p.sigma) AS BIGINT) AS sigma",
            f"    FROM s{k - 1} p JOIN und e ON e.u = p.node",
            f"    GROUP BY p.src, e.v) c",
            f"  LEFT JOIN seen{k - 1} sn",
            f"    ON sn.src = c.src AND sn.node = c.node",
            f"  WHERE sn.node IS NULL),",
            f"seen{k} AS MATERIALIZED (",
            f"  SELECT * FROM seen{k - 1}",
            f"  UNION ALL SELECT src, node FROM s{k}),",
        ]
    selects = [
        f"SELECT src, node, CAST({k} AS INTEGER) AS d, sigma FROM s{k}"
        for k in range(0, SPC_CAP + 1)
    ]
    # trim the trailing comma of the last CTE
    lines[-1] = lines[-1].rstrip(",")
    return "\n".join(lines) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "graph_shortest_path_counts",
    tags=("graph", "iterative", "centrality"),
    oracle=_spc_oracle(),
)
def graph_shortest_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, node, d, sigma) for {SPC_K} landmark sources by
    level-synchronous BFS with path-count accumulation — one
    join + map-side-combined SUM per level, settled levels anti-join
    the candidate ring, lineage truncated per round, RAISE if the
    {SPC_CAP}-level cap is hit (no silent truncation). All-integer, so
    the cross-engine hash is exact. Scale: state is O(K x nodes),
    per-level work O(K x E) with combine-before-shuffle; K is the
    accuracy/cost knob exactly as in graph_harmonic_closeness."""
    edges = _copurchase_edges(spark, sf_dir)
    und = _undirected(edges)
    nodes = und.select(F.col("u").alias("id")).distinct()
    srcs = (
        nodes.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(SPC_K)
        .select(F.col("id").alias("src"))
    )
    level0 = srcs.select(
        "src", F.col("src").alias("node"), F.lit(1).cast("bigint").alias("sigma")
    )

    def _spc_step(st, i):
        cand = (
            st["level"].join(und, st["level"]["node"] == und["u"])
            .groupBy("src", F.col("v").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        # materialize() mid-step: the new ring feeds level, seen AND
        # out — one computation for all three state frames.
        nxt = materialize(cand.join(st["seen"], ["src", "node"], "left_anti"))
        if nxt.isEmpty():
            return None
        return {
            "level": nxt,
            "seen": st["seen"].unionAll(nxt.select("src", "node")),
            "out": st["out"].unionAll(
                nxt.select("src", "node", F.lit(i + 1).alias("d"), "sigma")
            ),
        }

    try:
        st = iterate_state(
            {
                "level": level0,
                "seen": level0.select("src", "node"),
                "out": level0.select("src", "node", F.lit(0).alias("d"), "sigma"),
            },
            _spc_step,
            SPC_CAP + 1,
            require_convergence=True,
        )
    except RuntimeError as e:
        raise RuntimeError(
            f"graph_shortest_path_counts: BFS still expanding past "
            f"{SPC_CAP} levels — refusing to emit truncated sigmas"
        ) from e
    return st["out"].select(
        "src", "node", F.col("d").cast("int"), F.col("sigma").cast("bigint")
    )


# --- minimum spanning forest (Boruvka) ---------------------------------------
#
# Boruvka is THE parallel MST algorithm (each round every component
# picks its lightest outgoing edge, components merge, edge count at
# least halves => <= log2(n) rounds of join-aggregates). Edge weights
# here are made DISTINCT by construction (weight = 3*support_rank +
# xxhash-free deterministic tiebreak via (u, v) ordering baked into an
# integer), so the MSF is UNIQUE and the output is deterministic.
# Kruskal/Prim are union-find/heap sequential and have no SQL oracle,
# but BORUVKA ITSELF does: each round is (a) a min-per-component
# group-by and (b) a contraction, and the contraction is connected
# components of the per-round CANDIDATE graph — a graph over component
# labels whose size at least halves every round. The oracle below
# unrolls MST_ORACLE_ROUNDS such rounds as machine-generated CTEs,
# with one recursive min-label closure per round running over the
# CONTRACTED component graph (never the full node set), so the driver
# hash-compares the forest edge-for-edge. The independent KRUSKAL
# replay in tests/test_round6_ops.py remains as the cross-algorithm
# check (two different algorithms must emit the identical edge set).

MST_MAX_ROUNDS = 32
# Tiebreak radix: weights encode (inverted support, u, v) in base
# MST_P with u, v < MST_P, so weights are injective in (support, u, v)
# and the MSF is unique. 2^21 > max partkey up to ~sf10 (200k parts at
# sf1); the high digit (1e6 - n_orders) keeps |w| < 1e6 * MST_P^2
# ~= 4.4e18 < 2^63. The old u*10000 + v%10000 form collided once
# partkeys crossed 10000 (sf >= 0.05) — a lossy modulus is not a
# tiebreak.
MST_P = 1 << 21
# Derived from MST_MAX_ROUNDS so the oracle can NEVER under-unroll
# relative to the implementation (ADVICE r7): if the Spark side is
# allowed k merge rounds, the unrolled DuckDB forest gets the same k.
# Components halve per round, so 32 rounds covers components up to
# 2^32 nodes; post-convergence rounds are no-ops over the (small)
# converged forest, so the extra unrolled CTEs cost little at test SFs.
MST_ORACLE_ROUNDS = MST_MAX_ROUNDS


def _mst_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted co-purchase edges with UNIQUE weights: the n_orders
    support inverted into a distance-like weight, tie-broken by the
    (u, v) pair itself so no two edges weigh the same (unique MSF)."""
    items = distinct_order_parts(spark, sf_dir)
    a = items.select("ok", F.col("pk").alias("u")).hint("shuffle_hash")
    b = items.select("ok", F.col("pk").alias("v")).hint("shuffle_hash")
    sup = (
        a.join(b, ["ok"])
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= EDGE_SUPPORT)
    )
    # weight: fewer shared orders = heavier; unique via the base-MST_P
    # (u, v) suffix — injective for u, v < MST_P, no lossy modulus
    return sup.select(
        "u",
        "v",
        (
            (F.lit(1000000) - F.col("n_orders")) * F.lit(MST_P * MST_P)
            + F.col("u") * F.lit(MST_P)
            + F.col("v")
        ).alias("w"),
    )


def boruvka_msf(edges: DataFrame) -> DataFrame:
    """(u, v, w) with DISTINCT w -> the unique minimum spanning forest
    as (u, v, w) rows. Each round: every component's minimum outgoing
    edge joins the forest; components contract via the repo's
    alternating-star CC on the forest-so-far; raises at the round cap
    (<= log2(n) needed) rather than emitting a partial forest."""
    E = materialize(edges)
    nodes = (
        E.select(F.col("u").alias("id"))
        .unionAll(E.select(F.col("v").alias("id")))
        .distinct()
    )
    comp0 = nodes.select("id", F.col("id").alias("c"))
    forest0 = E.limit(0)  # typed empty (u, v, w) accumulator

    def _boruvka_step(st, _i):
        cu = st["comp"].select(F.col("id").alias("u"), F.col("c").alias("cu"))
        cv = st["comp"].select(F.col("id").alias("v"), F.col("c").alias("cv"))
        labeled = (
            E.join(cu, "u").join(cv, "v").filter(F.col("cu") != F.col("cv"))
        )
        if labeled.isEmpty():
            return None  # no crossing edges: the forest is complete
        # per-component lightest outgoing edge, from BOTH endpoints'
        # perspectives (weights unique => struct-min is unambiguous)
        cand = (
            labeled.select(F.col("cu").alias("comp"), "w", "u", "v")
            .unionAll(labeled.select(F.col("cv").alias("comp"), "w", "u", "v"))
            .groupBy("comp")
            .agg(F.min(F.struct("w", "u", "v")).alias("m"))
            .select(F.col("m.u").alias("u"), F.col("m.v").alias("v"), F.col("m.w").alias("w"))
            .distinct()  # two components may pick the same edge
        )
        # materialize() mid-step: the grown forest feeds BOTH the star
        # contraction below and the returned state — one instance.
        forest = materialize(st["forest"].unionAll(cand).distinct())
        # contract: components = connected components of the forest
        cc = alternating_star_components(forest.select("u", "v"))
        comp = (
            nodes.join(
                cc.select(F.col("part_id").alias("id"), F.col("component").alias("c")),
                "id",
                "left",
            )
            .select("id", F.coalesce("c", F.col("id")).alias("c"))
        )
        return {"comp": comp, "forest": forest}

    try:
        st = iterate_state(
            {"comp": comp0, "forest": forest0},
            _boruvka_step,
            MST_MAX_ROUNDS,
            require_convergence=True,
        )
    except RuntimeError as e:
        raise RuntimeError(
            f"boruvka_msf: components still merging after {MST_MAX_ROUNDS} "
            "rounds — refusing to emit a partial forest"
        ) from e
    return st["forest"]


def _mst_oracle() -> str:
    """Machine-generated DuckDB oracle: Boruvka itself, unrolled.

    Round k has four steps, each plain SQL:
      lab{k}   — edges whose endpoints sit in different components,
                 labeled with both component ids;
      minw{k}  — per-component minimum crossing weight (weights are
                 globally unique, so min-w IS min-struct(w, u, v));
      cand{k}  — the chosen edges, deduped (two components may pick
                 the same edge) with their (cu, cv) component pair;
      comp{k+1}— contraction: connected components of the CANDIDATE
                 graph over component labels (a graph that halves in
                 size every round), via one recursive min-label
                 closure, then relabel the node-level partition.
    After convergence every subsequent round is a no-op (lab empty,
    closure seeds = identity), so unrolling a fixed
    MST_ORACLE_ROUNDS is safe. Labels stay the component-minimum node
    id (min of mins = min), mirroring the Spark side's alternating-
    star contraction; only the forest edges are emitted, so label
    parity is not even required — forest uniqueness (distinct
    weights) is."""
    lines = [
        "WITH RECURSIVE",
        "items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk"
        " FROM lineitem),",
        "mste AS MATERIALIZED (",
        "  SELECT a.pk AS u, b.pk AS v,",
        f"         (1000000 - COUNT(*)) * {MST_P * MST_P}",
        f"           + a.pk * {MST_P} + b.pk AS w",
        "  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk",
        f"  GROUP BY a.pk, b.pk HAVING COUNT(*) >= {EDGE_SUPPORT}),",
        "mnodes AS (SELECT u AS id FROM mste UNION SELECT v FROM mste),",
        "comp0 AS (SELECT id, id AS c FROM mnodes),",
        "forest0 AS (SELECT u, v, w FROM mste WHERE FALSE),",
    ]
    for k in range(MST_ORACLE_ROUNDS):
        lines += [
            f"lab{k} AS MATERIALIZED (",
            "  SELECT e.u, e.v, e.w, cu.c AS cu, cv.c AS cv",
            f"  FROM mste e JOIN comp{k} cu ON cu.id = e.u",
            f"              JOIN comp{k} cv ON cv.id = e.v",
            "  WHERE cu.c <> cv.c),",
            f"minw{k} AS (SELECT c, MIN(w) AS w FROM (",
            f"  SELECT cu AS c, w FROM lab{k}",
            f"  UNION ALL SELECT cv AS c, w FROM lab{k}) GROUP BY c),",
            f"cand{k} AS MATERIALIZED (SELECT DISTINCT e.u, e.v, e.w,"
            f" e.cu, e.cv FROM lab{k} e JOIN minw{k} m ON m.w = e.w),",
            f"forest{k + 1} AS (SELECT u, v, w FROM forest{k}"
            f" UNION SELECT u, v, w FROM cand{k}),",
            f"cg{k} AS (SELECT cu AS src, cv AS dst FROM cand{k}"
            f" UNION SELECT cv, cu FROM cand{k}),",
            f"cr{k}(node, lab) AS (",
            f"  SELECT DISTINCT c, c FROM comp{k}",
            "  UNION",
            f"  SELECT g.dst, r.lab FROM cr{k} r"
            f" JOIN cg{k} g ON g.src = r.node),",
            f"nl{k} AS (SELECT node AS c_old, MIN(lab) AS c_new"
            f" FROM cr{k} GROUP BY node),",
            f"comp{k + 1} AS MATERIALIZED (",
            f"  SELECT p.id, COALESCE(n.c_new, p.c) AS c",
            f"  FROM comp{k} p LEFT JOIN nl{k} n ON n.c_old = p.c),",
        ]
    lines[-1] = lines[-1].rstrip(",")
    lines.append(
        f"SELECT u, v, CAST(w AS BIGINT) AS w FROM forest{MST_ORACLE_ROUNDS}"
    )
    return "\n".join(lines)


@register(
    "graph_mst_boruvka",
    tags=("graph", "iterative", "mst"),
    # FULL hash-compared oracle (upgraded from rows-only in r7):
    # Boruvka unrolled as machine-generated CTEs — see _mst_oracle.
    # The independent Kruskal replay in tests remains as the stronger
    # cross-algorithm check.
    oracle=_mst_oracle(),
)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest of the weighted co-purchase graph by
    Boruvka rounds (see boruvka_msf). Weights are distinct by
    construction, so the forest is unique and the row set is
    deterministic: (u, v, w) per forest edge."""
    return boruvka_msf(_mst_edges(spark, sf_dir)).select(
        "u", "v", F.col("w").cast("bigint")
    )


# --- landmark betweenness (full Brandes: sigma pass + dependency pass) ------
#
# The dependency pass divides sigmas, so unlike the integer sigma pass
# it is rational-valued. Decimal quantization is a TRAP here: deltas
# become exact 9-dp decimals, and a sigma ratio like 1/2 then puts the
# next message EXACTLY on a decimal rounding tie — the one case where
# Spark's and DuckDB's double->decimal casts disagree (verify-skill
# gotcha; observed as systematic 1e-9 diffs). Determinism instead
# comes from ORDER-CANONICAL FOLDS: each per-node sum collects its
# (few) messages sorted by the unique neighbor id and left-folds them
# as doubles — both engines add the identical doubles in the identical
# order, so delta stays bitwise-equal with NO rounding anywhere.
# Levels process strictly descending (a node's delta is final before
# it messages its predecessors — Brandes' invariant); the oracle
# unrolls the same backward recurrence as machine-generated level CTEs
# with mirrored list(... ORDER BY) || fold sums.

def _betweenness_oracle() -> str:
    head = _spc_oracle()
    cte_part = head.split("\nSELECT src, node,")[0]
    lines = [cte_part + ","]
    lines.append(
        f"d{SPC_CAP} AS (SELECT src, node, CAST(0 AS DOUBLE) AS delta "
        f"FROM s{SPC_CAP}),"
    )
    for k in range(SPC_CAP - 1, 0, -1):
        lines += [
            f"d{k} AS MATERIALIZED (",
            f"  SELECT sk.src, sk.node,",
            f"         list_reduce([CAST(0 AS DOUBLE)] ||",
            f"           COALESCE(list(",
            f"             (CAST(sk.sigma AS DOUBLE) / wk.sigma)",
            f"               * (CAST(1 AS DOUBLE) + dk1.delta)",
            f"             ORDER BY e.v) FILTER (wk.node IS NOT NULL), []),",
            f"           (a, x) -> a + x) AS delta",
            f"  FROM s{k} sk",
            f"  LEFT JOIN und e ON e.u = sk.node",
            f"  LEFT JOIN s{k + 1} wk ON wk.src = sk.src AND wk.node = e.v",
            f"  LEFT JOIN d{k + 1} dk1 ON dk1.src = wk.src AND dk1.node = wk.node",
            f"  GROUP BY sk.src, sk.node),",
        ]
    unions = "\nUNION ALL\n".join(
        f"SELECT src, node, {k} AS lvl, delta FROM d{k}"
        for k in range(1, SPC_CAP + 1)
    )
    lines.append(f"alld AS ({unions})")
    return "\n".join(lines) + """
SELECT node,
       list_reduce([CAST(0 AS DOUBLE)] || list(delta ORDER BY src, lvl),
                   (a, x) -> a + x) AS betweenness
FROM alld GROUP BY node
"""


@register(
    "graph_betweenness_landmark",
    tags=("graph", "iterative", "centrality", "brandes"),
    oracle=_betweenness_oracle(),
)
def graph_betweenness_landmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Betweenness centrality from {SPC_K} landmark sources — the FULL
    Brandes algorithm: the forward sigma pass (level-synchronous BFS
    with path counting, as in graph_shortest_path_counts) followed by
    the backward dependency accumulation, one join-aggregate per level
    in each direction, every floating sum an order-canonical fold (see
    module comment — decimal quantization TIES here, folds don't).
    Per-node betweenness sums each source's dependency; endpoints are
    excluded by construction (level-0 sources never accumulate).
    Scale: O(K x E) per level; the fold lists are per-node NEIGHBOR
    message sets (bounded by degree), not global collects; K is the
    Riondato-Kornaropoulos-style sampling knob — exact betweenness
    sets K = n (see graph_betweenness_exact)."""
    edges = _copurchase_edges(spark, sf_dir)
    und = _undirected(edges)
    nodes = und.select(F.col("u").alias("id")).distinct()
    srcs = (
        nodes.orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(SPC_K)
        .select(F.col("id").alias("src"))
    )
    return brandes_betweenness(und, srcs, SPC_CAP, "graph_betweenness_landmark")


def brandes_betweenness(
    und: DataFrame, srcs: DataFrame, cap: int, label: str
) -> DataFrame:
    """Full Brandes over a symmetric edge frame ``und(u, v)`` from the
    source frame ``srcs(src)``: forward sigma pass (level-synchronous
    BFS with path counting), backward dependency pass, per-node sum —
    every floating sum an order-canonical fold so the result is
    bitwise partition-independent. Shared by the landmark (K sampled
    sources) and exact (K = n on a bounded core) registrations."""
    level = materialize(srcs.select(
        "src", F.col("src").alias("node"), F.lit(1).cast("bigint").alias("sigma")
    ))
    seen = materialize(level.select("src", "node"))
    levels = [level]
    for depth in range(1, cap + 2):
        if depth > cap:
            raise RuntimeError(f"{label}: BFS past {cap} levels")
        cand = (
            level.join(und, level["node"] == und["u"])
            .groupBy("src", F.col("v").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        nxt = materialize(cand.join(seen, ["src", "node"], "left_anti"))
        if nxt.isEmpty():
            break
        levels.append(nxt)
        seen = materialize(seen.unionAll(nxt.select("src", "node")))
        level = nxt

    def fold_sum(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    deltas: list[DataFrame] = [None] * len(levels)
    top = len(levels) - 1
    deltas[top] = materialize(levels[top].select(
        "src", "node", F.lit(0.0).alias("delta")
    ))
    for k in range(top - 1, 0, -1):
        sk = levels[k].select("src", "node", "sigma")
        wk = levels[k + 1].select(
            F.col("src").alias("wsrc"),
            F.col("node").alias("wnode"),
            F.col("sigma").alias("wsigma"),
        )
        dk1 = deltas[k + 1].select(
            F.col("src").alias("dsrc"),
            F.col("node").alias("dnode"),
            F.col("delta").alias("wdelta"),
        )
        msg = (
            (F.col("sigma").cast("double") / F.col("wsigma"))
            * (F.lit(1.0) + F.col("wdelta"))
        )
        joined = (
            sk.join(und, sk["node"] == und["u"], "left")
            .join(
                wk,
                (F.col("wsrc") == F.col("src")) & (F.col("wnode") == F.col("v")),
                "left",
            )
            .join(
                dk1,
                (F.col("dsrc") == F.col("wsrc"))
                & (F.col("dnode") == F.col("wnode")),
                "left",
            )
            .groupBy("src", "node")
            .agg(
                fold_sum(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.when(
                                    F.col("wsigma").isNotNull(),
                                    F.struct(F.col("v").alias("o"), msg.alias("m")),
                                )
                            )
                        ),
                        lambda s: s["m"],
                    )
                ).alias("delta")
            )
        )
        deltas[k] = materialize(joined)
    alld = None
    for k in range(1, len(levels)):
        part = deltas[k].select("src", "node", F.lit(k).alias("lvl"), "delta")
        alld = part if alld is None else alld.unionAll(part)
    return alld.groupBy("node").agg(
        fold_sum(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("src", "lvl", F.col("delta").alias("d")))
                ),
                lambda s: s["d"],
            )
        ).alias("betweenness")
    )


# --- exact betweenness (K = n) on the top-degree core ------------------------
#
# Landmark betweenness trades exactness for O(K x E); the EXACT form
# runs Brandes from EVERY node. All-pairs over the full co-purchase
# graph is the O(n x E) classic that nobody runs at 100 TB — the
# production posture is exactness on a BOUNDED core (the dense
# high-degree subgraph where centrality questions actually live) and
# landmarks elsewhere. The core here is the BW_EXACT_N highest-degree
# nodes (ties by id — deterministic at every SF, unlike a support
# threshold, which degenerates as SF grows), with betweenness computed
# on the INDUCED subgraph. Same order-canonical-fold determinism as
# the landmark query; the oracle unrolls both Brandes passes over the
# same induced core.

BW_EXACT_N = 192  # core size: exact Brandes state is O(N^2), bounded
BW_EXACT_CAP = 16  # BFS level cap on the core; raise-on-cap


def _bw_core(spark: SparkSession, sf_dir: str) -> tuple:
    """(core, und) for the BW_EXACT_N-node top-degree core: core is the
    node frame, und the induced undirected edge frame — both eagerly
    checkpointed, once per SF. graph_betweenness_exact,
    graph_eccentricity and graph_spectral_bisection all induce this same
    core, and the ~2 s lineitem pair-distinct dominated each of their
    walls. Core selection orders by (degree DESC, id): deterministic
    under ties and stable as SF grows. The projection is UNTHRESHOLDED
    (all co-purchase pairs) — see graph_betweenness_exact's docstring
    for why the support filter is wrong for this family."""

    def build() -> tuple:
        items = distinct_order_parts(spark, sf_dir)
        a = items.select("ok", F.col("pk").alias("u")).hint("shuffle_hash")
        b = items.select("ok", F.col("pk").alias("v")).hint("shuffle_hash")
        edges = (
            a.join(b, ["ok"]).filter(F.col("u") < F.col("v")).select("u", "v")
            .distinct()
        )
        undall = _undirected(edges)
        deg = undall.groupBy(F.col("u").alias("id")).agg(
            F.count(F.lit(1)).alias("d")
        )
        core = materialize(
            deg.orderBy(F.col("d").desc(), F.col("id"))
            .limit(BW_EXACT_N)
            .select("id")
        )
        und = materialize(
            undall.join(
                F.broadcast(core.select(F.col("id").alias("u"))),
                "u",
                "left_semi",
            )
            .join(
                F.broadcast(core.select(F.col("id").alias("v"))),
                "v",
                "left_semi",
            )
            .select("u", "v")
        )
        return core, und

    return materialize_once(spark, sf_dir, "bw_core", build)


def _betweenness_exact_oracle() -> str:
    """Machine-generated full-Brandes oracle over the induced
    top-degree core: forward sigma level CTEs (the _spc_oracle
    recurrence), backward dependency CTEs (the _betweenness_oracle
    recurrence), both parameterized by the core edge set and K = n
    sources."""
    cap = BW_EXACT_CAP
    lines = [
        "WITH",
        # UNTHRESHOLDED co-purchase pairs: the support>=2 filter makes
        # the graph sparser as SF grows (fewer repeat pairs per part),
        # stretching the core's diameter past any fixed level cap
        # (measured ecc 24 at sf0.01 thresholded vs <= 10 unthresholded
        # through sf0.1) — the dense projection keeps the core compact.
        "bwitems AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk"
        " FROM lineitem),",
        "bwedges AS (SELECT a.pk AS u, b.pk AS v FROM bwitems a"
        " JOIN bwitems b ON a.ok = b.ok AND a.pk < b.pk"
        " GROUP BY a.pk, b.pk),",
        "undall AS (SELECT u, v FROM bwedges"
        " UNION ALL SELECT v, u FROM bwedges),",
        "deg AS (SELECT u AS id, COUNT(*) AS d FROM undall GROUP BY u),",
        f"core AS (SELECT id FROM deg ORDER BY d DESC, id"
        f" LIMIT {BW_EXACT_N}),",
        "und AS MATERIALIZED (SELECT e.u, e.v FROM undall e"
        " JOIN core a ON a.id = e.u JOIN core b ON b.id = e.v),",
        "srcs AS (SELECT id AS src FROM core),",
        "s0 AS (SELECT src, src AS node, CAST(1 AS BIGINT) AS sigma"
        " FROM srcs),",
        "seen0 AS (SELECT src, node FROM s0),",
    ]
    for k in range(1, cap + 1):
        lines += [
            f"s{k} AS MATERIALIZED (",
            f"  SELECT c.src, c.node, c.sigma FROM (",
            f"    SELECT p.src, e.v AS node,",
            f"           CAST(SUM(p.sigma) AS BIGINT) AS sigma",
            f"    FROM s{k - 1} p JOIN und e ON e.u = p.node",
            f"    GROUP BY p.src, e.v) c",
            f"  LEFT JOIN seen{k - 1} sn",
            f"    ON sn.src = c.src AND sn.node = c.node",
            f"  WHERE sn.node IS NULL),",
            f"seen{k} AS MATERIALIZED (",
            f"  SELECT * FROM seen{k - 1}",
            f"  UNION ALL SELECT src, node FROM s{k}),",
        ]
    lines.append(
        f"d{cap} AS (SELECT src, node, CAST(0 AS DOUBLE) AS delta"
        f" FROM s{cap}),"
    )
    for k in range(cap - 1, 0, -1):
        lines += [
            f"d{k} AS MATERIALIZED (",
            f"  SELECT sk.src, sk.node,",
            f"         list_reduce([CAST(0 AS DOUBLE)] ||",
            f"           COALESCE(list(",
            f"             (CAST(sk.sigma AS DOUBLE) / wk.sigma)",
            f"               * (CAST(1 AS DOUBLE) + dk1.delta)",
            f"             ORDER BY e.v) FILTER (wk.node IS NOT NULL), []),",
            f"           (a, x) -> a + x) AS delta",
            f"  FROM s{k} sk",
            f"  LEFT JOIN und e ON e.u = sk.node",
            f"  LEFT JOIN s{k + 1} wk ON wk.src = sk.src AND wk.node = e.v",
            f"  LEFT JOIN d{k + 1} dk1 ON dk1.src = wk.src"
            f" AND dk1.node = wk.node",
            f"  GROUP BY sk.src, sk.node, sk.sigma),",
        ]
    unions = "\nUNION ALL\n".join(
        f"SELECT src, node, {k} AS lvl, delta FROM d{k}"
        for k in range(1, cap + 1)
    )
    lines.append(f"alld AS ({unions})")
    return "\n".join(lines) + """
SELECT node,
       list_reduce([CAST(0 AS DOUBLE)] || list(delta ORDER BY src, lvl),
                   (a, x) -> a + x) AS betweenness
FROM alld GROUP BY node
"""


@register(
    "graph_betweenness_exact",
    tags=("graph", "iterative", "centrality", "brandes"),
    oracle=_betweenness_exact_oracle(),
)
def graph_betweenness_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT betweenness (Brandes from every node, K = n) on the
    induced subgraph of the {BW_EXACT_N} highest-degree co-purchase
    nodes — the bounded-core posture that makes exactness affordable
    at any scale (state is O(N^2) in the core size, independent of
    corpus SF; the full graph keeps the landmark estimator). Core
    selection orders by (degree DESC, id) — deterministic under ties
    and stable as SF grows, where a support threshold degenerates.
    The projection is UNTHRESHOLDED (all co-purchase pairs): the
    support filter sparsifies with SF and stretched the core diameter
    past the level cap at sf0.01; the dense projection keeps measured
    eccentricity <= 10 through sf0.1. Emits (node, betweenness) with
    the same order-canonical-fold bitwise determinism as the landmark
    query. Core + induced edges come from the cached shared build
    (``_bw_core``) — one lineitem pair-distinct per application+SF for
    the whole exact-core family."""
    core, und = _bw_core(spark, sf_dir)
    srcs = core.select(F.col("id").alias("src"))
    return brandes_betweenness(und, srcs, BW_EXACT_CAP, "graph_betweenness_exact")


# --- maximal independent set (Luby) ------------------------------------------
#
# Luby's algorithm is the OTHER canonical parallel graph primitive
# (with Boruvka): each round every node with a priority strictly
# smaller than all its ACTIVE neighbors' joins the MIS; it and its
# neighbors deactivate. With priorities fixed up front (md5-derived —
# the repo's standard engine-reproducible randomness) the result is
# exactly the lexicographically-first MIS of that permutation, fully
# deterministic, and the round count is O(log n) w.h.p. because the
# longest priority-decreasing path under a random permutation is
# logarithmic. MIS is the scheduling/locking primitive behind
# graph-coloring passes and conflict-free parallel updates; at 100 TB
# each round is one equi-join + aggregate over edges — no collects,
# no sequential scan.

MIS_MAX_ROUNDS = 24  # >> measured rounds (<= 6 at sf0.01); raise-on-cap


def _mis_priority_sql(col: str) -> str:
    return (
        f"md5(CAST({col} AS VARCHAR)) || '-' || "
        f"lpad(CAST({col} AS VARCHAR), 12, '0')"
    )


def _mis_oracle() -> str:
    lines = [
        "WITH",
        _SQL_COPURCHASE + ",",
        "und AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),",
        f"pr AS (SELECT DISTINCT u AS id, {_mis_priority_sql('u')} AS p"
        " FROM und),",
        "act0 AS (SELECT id, p FROM pr),",
        "mis0 AS (SELECT id, 0 AS r FROM pr WHERE FALSE),",
    ]
    for k in range(MIS_MAX_ROUNDS):
        lines += [
            f"sel{k} AS MATERIALIZED (",
            f"  SELECT a.id FROM act{k} a",
            f"  WHERE NOT EXISTS (",
            f"    SELECT 1 FROM und e JOIN act{k} b ON b.id = e.v",
            f"    WHERE e.u = a.id AND b.p < a.p)),",
            f"mis{k + 1} AS (SELECT id, r FROM mis{k}",
            f"  UNION ALL SELECT id, {k} AS r FROM sel{k}),",
            f"kill{k} AS (SELECT id FROM sel{k}",
            f"  UNION SELECT e.v FROM und e JOIN sel{k} s ON s.id = e.u),",
            f"act{k + 1} AS MATERIALIZED (",
            f"  SELECT a.id, a.p FROM act{k} a",
            f"  LEFT JOIN kill{k} x ON x.id = a.id WHERE x.id IS NULL),",
        ]
    lines[-1] = lines[-1].rstrip(",")
    return "\n".join(lines) + f"""
SELECT CAST(id AS BIGINT) AS node, CAST(r AS INTEGER) AS mis_round
FROM mis{MIS_MAX_ROUNDS}
"""


@register(
    "graph_mis_luby",
    tags=("graph", "iterative", "mis"),
    oracle=_mis_oracle(),
)
def graph_mis_luby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal independent set of the co-purchase graph by Luby
    rounds under a fixed md5 priority permutation: per round, a node
    joins the MIS iff its priority beats every ACTIVE neighbor's
    (min-aggregate over the active edge frame), then winners and
    their neighborhoods deactivate. Emits (node, mis_round).
    Independence + maximality are pinned by tests; the oracle unrolls
    the identical rounds (NOT EXISTS vs min-aggregate — different
    evaluation, same fixpoint). Raises at the round cap rather than
    emitting a partial set."""
    edges = _copurchase_edges(spark, sf_dir)
    und = _undirected(edges)
    p = F.concat(
        F.md5(F.col("id").cast("string")),
        F.lit("-"),
        F.lpad(F.col("id").cast("string"), 12, "0"),
    )
    act = materialize(
        und.select(F.col("u").alias("id"))
        .distinct()
        .select("id", p.alias("p"))
    )
    mis0 = act.select("id", F.lit(0).alias("r")).limit(0)  # typed empty

    def _mis_step(st, k):
        act_ = st["act"]
        if act_.isEmpty():
            return None
        act_nb = und.join(
            act_.select(F.col("id").alias("v"), F.col("p").alias("vp")), "v"
        )
        nbmin = act_nb.groupBy(F.col("u").alias("id")).agg(
            F.min("vp").alias("minp")
        )
        # materialize() mid-step: the winners feed both the MIS
        # accumulator and the kill set — one instance.
        sel = materialize(
            act_.join(nbmin, "id", "left")
            .filter(F.col("minp").isNull() | (F.col("p") < F.col("minp")))
            .select("id")
        )
        kill = sel.unionAll(
            und.join(sel.select(F.col("id").alias("u")), "u").select(
                F.col("v").alias("id")
            )
        ).distinct()
        return {
            "act": act_.join(kill, "id", "left_anti"),
            "mis": st["mis"].unionAll(sel.select("id", F.lit(k).alias("r"))),
        }

    try:
        st = iterate_state(
            {"act": act, "mis": mis0},
            _mis_step,
            MIS_MAX_ROUNDS + 1,
            require_convergence=True,
        )
    except RuntimeError as e:
        raise RuntimeError(
            f"graph_mis_luby: still active after {MIS_MAX_ROUNDS} "
            "rounds — refusing to emit a partial MIS"
        ) from e
    return st["mis"].select(
        F.col("id").cast("bigint").alias("node"),
        F.col("r").cast("int").alias("mis_round"),
    )


# --- incremental connected components (base labels + edge delta) -------------
#
# The daily-update pattern: yesterday's component labels are a
# CONTRACTED graph (one node per component), so merging today's edge
# delta only requires running CC over [label-edges of the delta's
# endpoints] — O(delta) work instead of re-walking the full edge set,
# the same base+delta shape as dedup_incremental_exact/minhash. The
# oracle recomputes components over the FULL union from scratch, so
# the incremental path is verified against the ground truth it must
# match (same min-label convention: both sides relabel components by
# their minimum member).

INC_CC_DELTA_MOD = 17  # delta = co-purchase edges whose u % 17 == 0


def _cc_split_edges(spark: SparkSession, sf_dir: str):
    e = _copurchase_edges(spark, sf_dir)
    is_delta = F.col("u") % INC_CC_DELTA_MOD == 0
    return e.filter(~is_delta), e.filter(is_delta)


@register(
    "graph_wcc_incremental",
    tags=("graph", "iterative", "incremental"),
    oracle=f"""
WITH {_SQL_COPURCHASE},
und AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
nodes AS (SELECT DISTINCT u AS id FROM und),
walk AS (
  WITH RECURSIVE r(id, reach) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT r.id, e.v FROM r JOIN und e ON e.u = r.reach
  )
  SELECT id, MIN(reach) AS component FROM r GROUP BY id
)
SELECT CAST(id AS BIGINT) AS node,
       CAST(component AS BIGINT) AS component
FROM walk
""",
)
def graph_wcc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components: the co-purchase edges split
    into BASE (yesterday's graph, labelled once with the existing
    alternating-star CC) and DELTA (today's arrivals, u % {INC_CC_DELTA_MOD}
    == 0); the delta merges by running CC over the base LABEL edges of
    just the touched region plus the delta — never re-walking base
    edges — and the final labels re-canonicalize to each component's
    minimum member. The oracle recomputes components over the full
    union from scratch (recursive closure), so any merge the
    incremental path misses breaks the hash. Scale: the daily cost is
    O(delta + touched components), the base contributes one row per
    COMPONENT (its label edge), and the repair CC runs on that
    contracted graph — the reason production graph pipelines store
    labels, not recomputed partitions."""
    base, delta = _cc_split_edges(spark, sf_dir)
    base_labels = materialize(alternating_star_components(base).select(
        F.col("part_id").alias("node"), F.col("component").alias("lab")
    ))
    # contracted base: one (node -> label) edge per non-root member
    label_edges = base_labels.filter(F.col("node") != F.col("lab")).select(
        F.col("node").alias("u"), F.col("lab").alias("v")
    )
    merged = alternating_star_components(
        label_edges.unionAll(delta.select("u", "v"))
    ).select(F.col("part_id").alias("node"), F.col("component").alias("comp"))
    # nodes untouched by the delta and not in any label edge (isolated
    # base components of size 1) keep their own id
    all_nodes = (
        base.select(F.col("u").alias("node"))
        .unionAll(base.select(F.col("v").alias("node")))
        .unionAll(delta.select(F.col("u").alias("node")))
        .unionAll(delta.select(F.col("v").alias("node")))
        .distinct()
    )
    return (
        all_nodes.join(merged, "node", "left")
        .select(
            F.col("node").cast("bigint"),
            F.coalesce("comp", F.col("node")).cast("bigint").alias("component"),
        )
    )


# --- eccentricity / diameter / graph center on the top-degree core -----------
#
# Eccentricity needs all-pairs BFS — the same bounded-core posture as
# exact betweenness (exactness on the dense core where the question
# matters, estimators elsewhere). ecc(v) = max hop-distance to the
# nodes v reaches; radius/diameter are the min/max eccentricity, the
# center/periphery the argmins/argmaxes — the facility-location
# readout. One multi-source BFS (frontier join per level over the
# core edge frame), per-source max at the end; the oracle recomputes
# distances by depth-capped recursive closure (exhaustive-path dedup
# vs frontier BFS — different algorithms, same fixpoint).

ECC_CAP = 32  # measured core eccentricity <= 10 through sf0.1


def _ecc_core_sql() -> str:
    return (
        "bwitems AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk"
        " FROM lineitem),\n"
        "bwedges AS (SELECT a.pk AS u, b.pk AS v FROM bwitems a"
        " JOIN bwitems b ON a.ok = b.ok AND a.pk < b.pk"
        " GROUP BY a.pk, b.pk),\n"
        "undall AS (SELECT u, v FROM bwedges"
        " UNION ALL SELECT v, u FROM bwedges),\n"
        "deg AS (SELECT u AS id, COUNT(*) AS d FROM undall GROUP BY u),\n"
        f"core AS (SELECT id FROM deg ORDER BY d DESC, id"
        f" LIMIT {BW_EXACT_N}),\n"
        "und AS MATERIALIZED (SELECT e.u, e.v FROM undall e"
        " JOIN core a ON a.id = e.u JOIN core b ON b.id = e.v)"
    )


@register(
    "graph_eccentricity",
    tags=("graph", "iterative", "centrality", "distance"),
    oracle=f"""
WITH RECURSIVE
{_ecc_core_sql()},
walk(src, node, d) AS (
  SELECT id, id, 0 FROM core
  UNION
  SELECT w.src, e.v, w.d + 1
  FROM walk w JOIN und e ON e.u = w.node
  WHERE w.d < {ECC_CAP}
),
dist AS (SELECT src, node, MIN(d) AS d FROM walk GROUP BY src, node),
ecc AS (
  SELECT src AS node, CAST(MAX(d) AS INTEGER) AS ecc,
         CAST(COUNT(*) - 1 AS BIGINT) AS n_reached
  FROM dist GROUP BY src
),
g AS (SELECT MIN(ecc) AS radius, MAX(ecc) AS diameter FROM ecc)
SELECT e.node, e.ecc, e.n_reached,
       CAST(g.radius AS INTEGER) AS radius,
       CAST(g.diameter AS INTEGER) AS diameter,
       (e.ecc = g.radius) AS is_center,
       (e.ecc = g.diameter) AS is_periphery
FROM ecc e CROSS JOIN g
""",
)
def graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact eccentricity of every node of the {BW_EXACT_N}-node
    top-degree core (unthresholded co-purchase projection, the
    graph_betweenness_exact fixture), with the core's radius,
    diameter, and center/periphery flags. Multi-source frontier BFS:
    per level one join + anti-join against settled pairs, lineage
    truncated per level, RAISE at the {ECC_CAP} cap rather than
    emitting truncated distances. Unreached pairs (disconnected core
    at some SFs) simply don't contribute — ecc is per-component.
    Core + induced edges come from the cached shared build
    (``_bw_core``)."""
    core, und = _bw_core(spark, sf_dir)
    dist = _multi_source_bfs(
        core.select(F.col("id").alias("src")), und, ECC_CAP,
        "graph_eccentricity",
    )
    ecc = dist.groupBy(F.col("src").alias("node")).agg(
        F.max("d").cast("int").alias("ecc"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_reached"),
    )
    g = ecc.agg(
        F.min("ecc").alias("radius"), F.max("ecc").alias("diameter")
    )
    return ecc.crossJoin(F.broadcast(g)).select(
        "node",
        "ecc",
        "n_reached",
        F.col("radius").cast("int"),
        F.col("diameter").cast("int"),
        (F.col("ecc") == F.col("radius")).alias("is_center"),
        (F.col("ecc") == F.col("diameter")).alias("is_periphery"),
    )


# --- spectral bisection (Fiedler vector by deflated power iteration) ----------
#
# The classic graph-partitioning primitive: the sign pattern of the
# Laplacian's second eigenvector bisects the graph along its sparsest
# natural cut. On the bounded top-degree core (the exact-betweenness
# fixture) we run FIXED-COUNT deflated power iteration on the shifted
# operator B = dmax*I - L (PSD, top eigenvector = all-ones — deflated
# away by mean-subtraction each step): y = (dmax - deg)x + SUM_nbr x,
# z = y - mean(y), x' = z / ||z||. Determinism is the betweenness
# recipe end-to-end: the neighbor sum folds messages sorted by
# neighbor id, the global mean/norm fold the node vector sorted by
# node id — both engines add identical doubles in identical order, so
# after SPECTRAL_ITERS iterations the vectors are bitwise equal and
# the 8-dp rounded emission cannot flake. No convergence probe (a
# data-dependent stop would make iteration count partition-dependent);
# a fixed count is the reproducible-training-job posture.

SPECTRAL_ITERS = 16


def _spectral_oracle() -> str:
    lines = [
        "WITH",
        _ecc_core_sql() + ",",
        "cdeg AS (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS dg"
        " FROM und GROUP BY u),",
        "dmx AS (SELECT MAX(dg) AS dmax FROM cdeg),",
        "x0 AS (SELECT id AS node,"
        " CAST(('0x' || substr(md5('sb:' || CAST(id AS VARCHAR)), 1, 15))"
        "::BIGINT AS DOUBLE) / 1152921504606846976.0 - 0.5 AS x"
        " FROM core),",
    ]
    for k in range(SPECTRAL_ITERS):
        lines += [
            f"m{k} AS MATERIALIZED (",
            "  SELECT c.id AS node,",
            "         list_reduce([CAST(0 AS DOUBLE)] ||",
            f"           COALESCE(list(xx.x ORDER BY e.v)"
            " FILTER (xx.node IS NOT NULL), []),",
            "           (a, b) -> a + b) AS s",
            "  FROM core c",
            "  LEFT JOIN und e ON e.u = c.id",
            f"  LEFT JOIN x{k} xx ON xx.node = e.v",
            "  GROUP BY c.id),",
            f"y{k} AS MATERIALIZED (",
            "  SELECT m.node,",
            "         (CAST((SELECT dmax FROM dmx) AS DOUBLE)"
            " - COALESCE(d.dg, 0)) * xx.x + m.s AS y",
            f"  FROM m{k} m",
            f"  JOIN x{k} xx ON xx.node = m.node",
            "  LEFT JOIN cdeg d ON d.id = m.node),",
            f"mu{k} AS (SELECT list_reduce([CAST(0 AS DOUBLE)] ||"
            f" list(y ORDER BY node), (a, b) -> a + b)"
            f" / (SELECT COUNT(*) FROM core) AS mu FROM y{k}),",
            f"z{k} AS MATERIALIZED (SELECT node, y - (SELECT mu FROM mu{k}) AS z"
            f" FROM y{k}),",
            f"nr{k} AS (SELECT sqrt(list_reduce([CAST(0 AS DOUBLE)] ||"
            f" list(z * z ORDER BY node), (a, b) -> a + b)) AS nr"
            f" FROM z{k}),",
            f"x{k + 1} AS MATERIALIZED (SELECT node,"
            f" z / (SELECT nr FROM nr{k}) AS x FROM z{k}),",
        ]
    last = f"x{SPECTRAL_ITERS}"
    lines[-1] = lines[-1].rstrip(",")
    return "\n".join(lines) + f"""
SELECT x.node, round(x.x, 8) AS fiedler, (round(x.x, 8) > 0) AS side,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM bwedges e
        JOIN core a ON a.id = e.u JOIN core b ON b.id = e.v
        JOIN {last} xu ON xu.node = e.u JOIN {last} xv ON xv.node = e.v
        WHERE (round(xu.x, 8) > 0) <> (round(xv.x, 8) > 0)) AS cut_edges
FROM {last} x
"""


@register(
    "graph_spectral_bisection",
    tags=("graph", "iterative", "spectral", "partitioning"),
    oracle=_spectral_oracle(),
)
def graph_spectral_bisection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fiedler-vector bisection of the {BW_EXACT_N}-node top-degree
    core by {SPECTRAL_ITERS} deflated power iterations on
    B = dmax*I - L (see section comment for the bitwise-determinism
    recipe). Emits each node's 8-dp Fiedler coordinate, its side of
    the cut, and the resulting cut size.

    Scale/plan shape (optimization r13, guide §1.2 "the distributed
    algorithm" + §5): the corpus-sized stages — co-occurrence edge
    build, degree ranking, core induction — stay distributed; the
    POWER ITERATION itself runs in ONE executor task (``mapInPandas``
    over the induced core subgraph coalesced to one partition). The
    core is bounded by construction at BW_EXACT_N = {BW_EXACT_N} nodes
    / {BW_EXACT_N}² edges at ANY corpus size — loop state that small
    distributed across a cluster is pure orchestration cost: the old
    per-round join-aggregate loop ran ~260 scheduler jobs over
    192-row frames (measured 12.5 s, <8 s of which was executor time
    and most of THAT per-task fixed cost). The solver replays the
    identical fold orders (messages by neighbor id, mean/norm by node
    id, left folds from 0.0 — IEEE ops over identical doubles), so
    every Fiedler coordinate is bitwise the distributed loop's value.
    The cut count reuses the checkpointed core edge frame instead of
    re-scanning lineitem. Core + induced edges come from the cached
    shared build (``_bw_core``) — the ~2 s lineitem pair-distinct that
    dominated this query's wall now builds once per application+SF."""
    core, und = _bw_core(spark, sf_dir)
    # Pack the bounded core subgraph (node rows carry v = NULL, edge
    # rows carry both endpoints) into ONE task and run the whole
    # 16-iteration solve there. Everything the old per-round loop
    # derived distributedly (degrees, dmax, n, x0) is recomputed
    # inside the solver from the same inputs with the same fold
    # orders — see the docstring for the bitwise argument.
    packed = core.select(
        F.col("id").alias("u"), F.lit(None).cast("bigint").alias("v")
    ).unionByName(und.select("u", "v"))

    def _solve(batches):
        import hashlib
        import math

        parts = [b for b in batches]
        pdf = (
            pd.concat(parts, ignore_index=True)
            if parts
            else pd.DataFrame({"u": [], "v": []})
        )
        nodes = sorted(int(r) for r in pdf.loc[pdf["v"].isnull(), "u"])
        ed = pdf.loc[pdf["v"].notnull()]
        adj: dict[int, list[int]] = {nd: [] for nd in nodes}
        deg: dict[int, int] = {nd: 0 for nd in nodes}
        for eu, ev in zip(ed["u"], ed["v"]):
            eu, ev = int(eu), int(ev)
            adj[eu].append(ev)
            deg[eu] += 1
        for nd in nodes:
            adj[nd].sort()  # messages fold in neighbor-id order
        dmax = float(max(deg.values())) if deg else 0.0
        nfl = float(len(nodes))
        x = {}
        for nd in nodes:
            h = int(hashlib.md5(f"sb:{nd}".encode()).hexdigest()[:15], 16)
            x[nd] = h / 1152921504606846976.0 - 0.5
        for _ in range(SPECTRAL_ITERS):
            y = {}
            for nd in nodes:
                s = 0.0
                for nb in adj[nd]:
                    s = s + x[nb]
                y[nd] = (dmax - float(deg[nd])) * x[nd] + s
            acc = 0.0
            for nd in nodes:  # mean folds in node-id order
                acc = acc + y[nd]
            mu = acc / nfl
            z = {nd: y[nd] - mu for nd in nodes}
            acc = 0.0
            for nd in nodes:  # norm folds in node-id order
                acc = acc + z[nd] * z[nd]
            nr = math.sqrt(acc)
            x = {nd: z[nd] / nr for nd in nodes}
        yield pd.DataFrame(
            {"node": nodes, "x": [x[nd] for nd in nodes]}
        ).astype({"node": "int64", "x": "float64"})

    x = packed.coalesce(1).mapInPandas(_solve, "node bigint, x double")
    x = materialize(x)
    side = F.round("x", 8) > 0
    sides = x.select("node", F.round("x", 8).alias("fiedler"), side.alias("side"))
    cut = (
        und.filter(F.col("u") < F.col("v"))
        .join(sides.select(F.col("node").alias("u"), F.col("side").alias("su")), "u")
        .join(sides.select(F.col("node").alias("v"), F.col("side").alias("sv")), "v")
        .filter(F.col("su") != F.col("sv"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cut_edges"))
    )
    return sides.crossJoin(F.broadcast(cut)).select(
        "node", "fiedler", "side", "cut_edges"
    )


# --- full coreness (k-core decomposition via iterated H-index) ----------------
#
# graph_kcore extracts ONE k-core; the full decomposition labels every
# node with its CORENESS (the largest k whose k-core contains it).
# The sequential algorithm is min-degree peeling (a priority queue —
# inherently serial); the parallel form is Lu-Chen-Zhang's iterated
# H-INDEX fixpoint: start from degrees, repeatedly set every node's
# value to the H-index of its neighbors' values; the fixpoint IS the
# coreness (monotone descent, guaranteed). Each round is one
# edge-join + per-node rank window + max(least(rank, value)) — all
# integer, so the fixpoint hashes exactly. Measured convergence on
# the co-purchase graph: <= 21 rounds at sf0.001, <= 10 at sf0.01;
# the cap raises rather than emitting unconverged labels; converged
# rounds are no-ops so the oracle's fixed unroll is safe.

CORENESS_MAX_ROUNDS = 32


def _coreness_oracle() -> str:
    lines = [
        "WITH",
        _SQL_COPURCHASE + ",",
        "und AS MATERIALIZED (SELECT u, v FROM edges"
        " UNION ALL SELECT v, u FROM edges),",
        "h0 AS MATERIALIZED (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS h"
        " FROM und GROUP BY u),",
    ]
    for k in range(CORENESS_MAX_ROUNDS):
        lines += [
            f"nb{k} AS (SELECT e.u AS id, hh.h AS val",
            f"  FROM und e JOIN h{k} hh ON hh.id = e.v),",
            f"rk{k} AS (SELECT id, val,",
            "  ROW_NUMBER() OVER (PARTITION BY id ORDER BY val DESC) AS rk",
            f"  FROM nb{k}),",
            f"h{k + 1} AS MATERIALIZED (",
            "  SELECT id, CAST(MAX(LEAST(rk, val)) AS BIGINT) AS h",
            f"  FROM rk{k} GROUP BY id),",
        ]
    lines[-1] = lines[-1].rstrip(",")
    last = f"h{CORENESS_MAX_ROUNDS}"
    return "\n".join(lines) + f"""
SELECT h0.id AS node, h0.h AS degree, {last}.h AS coreness
FROM h0 JOIN {last} ON {last}.id = h0.id
"""


@register(
    "graph_coreness",
    tags=("graph", "iterative", "kcore"),
    oracle=_coreness_oracle(),
)
def graph_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every co-purchase node's coreness by the iterated-H-index
    fixpoint (see section comment), plus its degree. Per round: one
    edge join, one per-node rank window, one integer aggregate —
    lineage truncated per round, converged when no value changes,
    RAISE at the {CORENESS_MAX_ROUNDS} cap. The test replays
    sequential min-degree peeling as the independent algorithm."""
    edges = _copurchase_edges(spark, sf_dir)
    und = _undirected(edges)
    deg = materialize(und.groupBy(F.col("u").alias("id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("h")
    ))
    def _hindex_step(h: DataFrame, _i: int) -> DataFrame:
        nb = und.join(
            h.select(F.col("id").alias("v"), F.col("h").alias("val")), "v"
        ).select(F.col("u").alias("id"), "val")
        w = Window.partitionBy("id").orderBy(F.col("val").desc())
        return (
            nb.withColumn("rk", F.row_number().over(w))
            .groupBy("id")
            .agg(
                F.max(F.least(F.col("rk"), F.col("val")))
                .cast("bigint")
                .alias("h")
            )
        )

    # iterate()'s monotone-probe fixpoint: iterated H-index values only
    # DESCEND (Lu-Chen-Zhang), so a repeated sum means no value changed
    # — the same convergence the old per-round anti-join isEmpty()
    # detected, for the price of an O(1) scalar instead of a join;
    # require_convergence raises at the cap rather than emitting
    # unconverged labels.
    h = iterate(
        deg,
        _hindex_step,
        CORENESS_MAX_ROUNDS + 1,
        checkpoint_input=False,
        probe=lambda df: df.agg(F.sum("h")).collect()[0][0],
        require_convergence=True,
    )
    return deg.select(F.col("id").alias("node"), F.col("h").alias("degree")).join(
        h.select(F.col("id").alias("node"), F.col("h").alias("coreness")),
        "node",
    )


# --- maximal matching (parallel greedy by edge priority) ----------------------
#
# The edge-space sibling of Luby's MIS: fix an md5 priority per EDGE;
# each round, an edge joins the matching iff its priority is strictly
# smallest among all edges sharing an endpoint with it; matched
# endpoints retire their remaining edges. With static priorities the
# fixpoint equals the SEQUENTIAL greedy matching in priority order
# (the 2-approximation to maximum matching) — the cross-algorithm
# test — and rounds are O(log m) w.h.p. Each round: one self-join of
# the live edge list on shared endpoints + a min-aggregate; the
# matching primitive behind parallel entity-pairing and task
# assignment.

MATCH_MAX_ROUNDS = 24


def _match_priority_sql(u: str, v: str) -> str:
    return (
        f"md5(CAST({u} AS VARCHAR) || ':' || CAST({v} AS VARCHAR)) || '-' ||"
        f" lpad(CAST({u} AS VARCHAR), 12, '0') || lpad(CAST({v} AS VARCHAR),"
        " 12, '0')"
    )


def _matching_oracle() -> str:
    lines = [
        "WITH",
        _SQL_COPURCHASE + ",",
        f"pe AS (SELECT u, v, {_match_priority_sql('u', 'v')} AS p"
        " FROM edges),",
        "live0 AS (SELECT u, v, p FROM pe),",
        "m0 AS (SELECT u, v, 0 AS r FROM pe WHERE FALSE),",
    ]
    for k in range(MATCH_MAX_ROUNDS):
        lines += [
            # an edge survives if NO live edge sharing an endpoint has
            # smaller priority
            f"sel{k} AS MATERIALIZED (",
            f"  SELECT a.u, a.v FROM live{k} a",
            f"  WHERE NOT EXISTS (",
            f"    SELECT 1 FROM live{k} b",
            f"    WHERE b.p < a.p AND (b.u = a.u OR b.v = a.u",
            f"          OR b.u = a.v OR b.v = a.v))),",
            f"m{k + 1} AS (SELECT u, v, r FROM m{k}",
            f"  UNION ALL SELECT u, v, {k} AS r FROM sel{k}),",
            f"matched{k} AS (SELECT u AS id FROM sel{k}",
            f"  UNION SELECT v FROM sel{k}),",
            f"live{k + 1} AS MATERIALIZED (",
            f"  SELECT a.u, a.v, a.p FROM live{k} a",
            f"  LEFT JOIN matched{k} x ON x.id = a.u",
            f"  LEFT JOIN matched{k} y ON y.id = a.v",
            f"  WHERE x.id IS NULL AND y.id IS NULL),",
        ]
    lines[-1] = lines[-1].rstrip(",")
    return "\n".join(lines) + f"""
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
       CAST(r AS INTEGER) AS match_round
FROM m{MATCH_MAX_ROUNDS}
"""


@register(
    "graph_matching_greedy",
    tags=("graph", "iterative", "matching"),
    oracle=_matching_oracle(),
)
def graph_matching_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal matching of the co-purchase graph by parallel greedy
    rounds under a fixed md5 edge-priority permutation — locally-
    minimal edges enter the matching, their endpoints retire. Emits
    (u, v, match_round). Validity (vertex-disjoint), maximality
    (every live edge touches a matched vertex), and equality with the
    sequential greedy replay are pinned by tests; the oracle unrolls
    the identical rounds with NOT EXISTS instead of min-aggregates.
    Raises at the round cap rather than emitting a partial matching."""
    edges = _copurchase_edges(spark, sf_dir)
    p = F.concat(
        F.md5(
            F.concat(
                F.col("u").cast("string"), F.lit(":"), F.col("v").cast("string")
            )
        ),
        F.lit("-"),
        F.lpad(F.col("u").cast("string"), 12, "0"),
        F.lpad(F.col("v").cast("string"), 12, "0"),
    )
    live0 = edges.select("u", "v", p.alias("p"))
    out0 = edges.select("u", "v", F.lit(0).alias("r")).limit(0)  # typed empty

    def _match_step(st, k):
        live = st["live"]
        if live.isEmpty():
            return None
        # per-ENDPOINT minimum priority among live edges
        epmin = (
            live.select(F.col("u").alias("id"), "p")
            .unionAll(live.select(F.col("v").alias("id"), "p"))
            .groupBy("id")
            .agg(F.min("p").alias("mp"))
        )
        # materialize() mid-step: the round's winners feed the matching
        # accumulator AND the kill set — one instance.
        sel = materialize(
            live.join(
                epmin.select(F.col("id").alias("u"), F.col("mp").alias("mu")),
                "u",
            )
            .join(
                epmin.select(F.col("id").alias("v"), F.col("mp").alias("mv")),
                "v",
            )
            .filter((F.col("p") <= F.col("mu")) & (F.col("p") <= F.col("mv")))
            .select("u", "v")
        )
        matched = (
            sel.select(F.col("u").alias("id"))
            .unionAll(sel.select(F.col("v").alias("id")))
            .distinct()
        )
        return {
            "live": (
                live.join(matched.select(F.col("id").alias("u")), "u", "left_anti")
                .join(matched.select(F.col("id").alias("v")), "v", "left_anti")
                .select("u", "v", "p")
            ),
            "out": st["out"].unionAll(
                sel.select("u", "v", F.lit(k).alias("r"))
            ),
        }

    try:
        st = iterate_state(
            {"live": live0, "out": out0},
            _match_step,
            MATCH_MAX_ROUNDS + 1,
            require_convergence=True,
        )
    except RuntimeError as e:
        raise RuntimeError(
            f"graph_matching_greedy: live edges after {MATCH_MAX_ROUNDS}"
            " rounds — refusing to emit a partial matching"
        ) from e
    return st["out"].select(
        F.col("u").cast("bigint"),
        F.col("v").cast("bigint"),
        F.col("r").cast("int").alias("match_round"),
    )


# --- weighted single-source shortest paths (Bellman-Ford rounds) -----------

SSSP_ROUNDS = 40  # weighted detours need more hops than the BFS diameter
                  # (measured: fixpoint at round 17 at sf0.01) — the cap
                  # carries >2x slack; the probe early-stops the engine
                  # and post-convergence oracle rounds are no-ops


def _sssp_oracle() -> str:
    """Machine-generated DuckDB oracle: Bellman-Ford itself, unrolled.

    Round k materializes the per-node MIN tentative distance (one
    min-reduce per round — a recursive CTE carrying dist would
    enumerate every distinct path weight and explode combinatorially
    on cyclic graphs; this is the ``_mst_oracle``/LPA convention).
    Each dK is referenced twice by round k+1, hence AS MATERIALIZED
    (the multi-referenced-CTE rule). After convergence every further
    round is a no-op, so a fixed {SSSP_ROUNDS}-round unrolling matches
    the engine's probe-early-stopped loop exactly."""
    rounds = []
    for k in range(1, SSSP_ROUNDS + 1):
        rounds.append(
            f"""d{k} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{k - 1}
    UNION ALL
    SELECT w.dst AS node, d{k - 1}.dist + w.wt AS dist
    FROM d{k - 1} JOIN undw w ON w.src = d{k - 1}.node
  ) GROUP BY node
)"""
        )
    body = ",\n".join(rounds)
    return f"""
WITH {_SQL_COPURCHASE},
undw AS MATERIALIZED (
  SELECT u AS src, v AS dst, CAST(1 + (u * 31 + v * 17) % 97 AS BIGINT) AS wt
  FROM edges
  UNION ALL
  SELECT v, u, CAST(1 + (u * 31 + v * 17) % 97 AS BIGINT) FROM edges
),
deg AS (SELECT src AS node, COUNT(*) AS d FROM undw GROUP BY src),
hub AS (
  SELECT node FROM (
    SELECT node, ROW_NUMBER() OVER (ORDER BY d DESC, node) AS rn FROM deg
  ) WHERE rn = 1
),
d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM hub),
{body}
SELECT node AS part_id, dist FROM d{SSSP_ROUNDS}
"""


@register(
    "graph_sssp_weighted",
    tags=("graph", "iterative", "shortest-path", "weighted"),
    oracle=_sssp_oracle(),
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths from the co-purchase hub
    (``graph_bfs_hops``'s source) by synchronous Bellman-Ford rounds —
    the weighted companion to BFS hops: per-edge weight
    ``1 + (u*31 + v*17) % 97`` (deterministic, positive, same both
    directions), per round every reached node relaxes its out-edges
    and each node keeps the MIN tentative distance.

    Scale: the loop state is the (node, dist) frame — O(nodes), never
    edges; each round is ONE equi-join of the state against the edge
    list plus a min-reduce on node (map-side combined), the
    ``iterate()`` shape shared with PageRank/LPA. The monotone probe
    (reached count, distance sum — adds only grow the count, relaxes
    only shrink the sum) stops the loop at the fixpoint;
    ``require_convergence=True`` raises rather than emitting distances
    that are still shrinking (a partial SSSP is silently wrong), and
    the oracle unrolls the same {SSSP_ROUNDS}-round cap."""
    edges = _copurchase_edges(spark, sf_dir)
    wt = (F.lit(1) + (F.col("u") * 31 + F.col("v") * 17) % 97).cast("bigint")
    undw = (
        edges.select("u", "v", wt.alias("wt"))
        .select(
            F.col("u").alias("src"), F.col("v").alias("dst"), "wt"
        )
        .unionAll(
            edges.select("u", "v", wt.alias("wt")).select(
                F.col("v").alias("src"), F.col("u").alias("dst"), "wt"
            )
        )
    )
    undw = materialize(undw)
    hub = (
        undw.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.col("d").desc(), "node")
        .limit(1)
        .select("node")
    )
    dist0 = hub.select("node", F.lit(0).cast("bigint").alias("dist"))

    def _relax(dist, _i):
        via = (
            undw.join(dist.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("wt")).alias("dist"))
        )
        return (
            dist.unionAll(via)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    def _probe(df):
        r = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
        ).collect()[0]
        return (r["n"], r["s"])

    # eager=False (optimization r13, the PCA/GBRT pattern): the lazy
    # checkpoint materializes inside the probe's collect, so each
    # Bellman-Ford round costs ONE scheduler job instead of a
    # materialization job plus a probe job — the loop's wall was
    # dominated by per-round job latency on the O(nodes) state frame.
    dist = iterate(
        dist0,
        _relax,
        SSSP_ROUNDS,
        eager=False,
        probe=_probe,
        require_convergence=True,
    )
    return dist.select(F.col("node").alias("part_id"), "dist")
