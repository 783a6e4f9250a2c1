"""Embedding clustering: distributed k-means over the ``embeddings`` table.

Training-data pipelines cluster embeddings constantly — semantic dedup
(SemDeDup), domain discovery, diversity-balanced sampling, IVF coarse
quantizers (``llm/similarity.py`` uses the same assignment step). The
canonical distributed formulation is Lloyd's algorithm with:

  * **broadcast centroids** — K x dim doubles, kilobytes, shipped to
    every task; the corpus is never shuffled for assignment;
  * **map-side partial aggregation** for the update step — posexplode
    to (cluster, dim, value) and hash-aggregate; Spark's partial agg
    means each task contributes K x dim partial sums, so the shuffle is
    O(tasks x K x dim), independent of corpus size;
  * **deterministic seeding** — centroids start at the K smallest
    vec_ids (no RNG), so every run, every engine, and every resume
    produces identical clusters.

Determinism of float math: distances are double inner products computed
in identical elementwise order on both engines, then rounded to 6 dp
before comparison/summation so no last-ulp or summation-order effect
can flip an argmin or a hash (see ``functions/deterministic.py``).

``emb_kmeans_assign`` (one assignment pass + per-cluster stats) is
fully DuckDB-oracle-checked. ``emb_kmeans_lloyd`` (iterative: assign ->
recompute centroids x N) is inherently iterative — per the driver
contract it registers rows-only; its convergence properties (inertia
monotonically non-increasing, partitioning-invariance) are pytest-held
in ``tests/test_llm.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..functions.deterministic import dsum
from ..functions.literals import lit_double_matrix, lit_doubles, lit_longs
from ..iterate import iterate, materialize
from ..registry import register

K = 8  # centroids seeded from vec_id < K
LLOYD_ITERS = 3
DIST_DP = 6  # distance rounding, see module docstring


def _ip(a: Column, b: Column) -> Column:
    """Double inner product, elementwise left-to-right — the same fold
    order DuckDB's list_inner_product uses, so results match bitwise."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _dist2(x: Column, c: Column) -> Column:
    """Squared L2 as ip(x,x) - 2*ip(x,c) + ip(c,c): three bitwise-
    reproducible terms combined in fixed order (a - b) + c."""
    return _ip(x, x) - F.lit(2.0) * _ip(x, c) + _ip(c, c)


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )


# Seed-centroid cache keyed by (sf_dir, k): the seeds are a pure
# function of the input table, so repeated query construction (bench
# warm runs, the parity suite) pays the tiny collect job once — the
# same memoized-dimension pattern as the IVF coarse quantizer in
# ``llm/similarity.py``.
_SEED_CACHE: dict[tuple[str, int], list[tuple[int, list[float]]]] = {}
# Plain Python values (no Spark state), so not in the cross-query
# frame memo, iterate.materialize_once (tests/test_session_reset.py).
_PLAIN_CACHES = ("_SEED_CACHE",)


def _seed_centroids(
    spark: SparkSession, sf_dir: str, k: int
) -> list[tuple[int, list[float]]]:
    key = (sf_dir, k)
    if key not in _SEED_CACHE:
        e = _embeddings(spark, sf_dir)
        _SEED_CACHE[key] = _collect_centroids(
            e.filter(F.col("vec_id") < k).select(
                F.col("vec_id").alias("cid"), F.col("x").alias("c")
            )
        )
    return _SEED_CACHE[key]


def _collect_centroids(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """Driver-side materialization of a K x dim centroid frame —
    kilobytes; the documented small-dimension collect."""
    return [
        (int(r["cid"]), [float(v) for v in r["c"]])
        for r in centroids.orderBy("cid").collect()
    ]


def _assign(e: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Nearest-centroid assignment as a ZERO-SHUFFLE projection.

    The centroid set is inlined as three literals (matrix, ids,
    pre-folded ip(c,c)); each vector's argmin is ``array_min`` over
    (d2, cid) structs, whose lexicographic struct ordering gives the
    same deterministic (rounded distance, centroid_id) tie-break as a
    window rank. Compared to a join+window formulation this removes
    BOTH the corpus x K join fan-out AND a full-corpus hash shuffle on
    vec_id — at 100 TB the assignment stage is a map-only scan.

    ip(c,c) is pre-folded in Python (left-to-right double adds — the
    identical fold order the SQL oracle's list_inner_product uses), so
    d2 keeps its bitwise-reproducible (a - b) + c shape."""
    x = F.col("x")
    scored = e.select("vec_id", "x", _ip(x, x).alias("_ipxx"))

    # The whole centroid set ships as THREE literals (matrix, ids,
    # pre-folded ip(c,c)) traversed by ONE transform — expression
    # construction stays O(1) in K. (Per-centroid unrolling costs
    # ~0.2 s of lambda-conversion overhead EACH on the Python side;
    # at K=64 that was 13 s of driver time before a single row moved.)
    # The literals render through the SQL parser, not F.lit — py4j
    # list conversion cost another 2.6 s at K=64 (functions/literals).
    # ip(c,c) is pre-folded in Python left-to-right, the identical
    # fold order the SQL oracle's list_inner_product uses.
    c_mat = lit_double_matrix([c for _, c in cents])
    c_ids = lit_longs([cid for cid, _ in cents])
    ipcc = []
    for _, c in cents:
        acc = 0.0
        for v in c:
            acc = acc + v * v
        ipcc.append(acc)
    c_ipcc = lit_doubles(ipcc)

    def d2_at(i: Column) -> Column:
        ipxc = F.aggregate(
            F.zip_with(x, F.element_at(c_mat, i + 1), lambda a, b: a * b),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        return F.round(
            F.col("_ipxx") - F.lit(2.0) * ipxc + F.element_at(c_ipcc, i + 1),
            DIST_DP,
        )

    dc = F.transform(
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda i: F.struct(
            d2_at(i).alias("d2"), F.element_at(c_ids, i + 1).alias("cid")
        ),
    )
    best = F.array_min(dc)
    return scored.select(
        "vec_id", "x", best["cid"].alias("cid"), best["d2"].alias("d2")
    )


_SQL_IP = "list_inner_product({a}, {b})"


def _sql_dist2(x: str, c: str) -> str:
    ip = _SQL_IP.format
    return f"{ip(a=x, b=x)} - 2*{ip(a=x, b=c)} + {ip(a=c, b=c)}"


@register(
    "emb_kmeans_assign",
    tags=("llm", "clustering"),
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < {K}
),
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
scored AS (
  SELECT corpus.vec_id, cent.cid,
         round({_sql_dist2('x', 'c')}, {DIST_DP}) AS d2
  FROM corpus CROSS JOIN cent
),
best AS (
  SELECT vec_id, cid, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM scored
)
SELECT cid AS cluster_id,
       COUNT(*) AS n_members,
       CAST(SUM(CAST(d2 AS DECIMAL(25,6))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_dist2
FROM best WHERE rn = 1
GROUP BY cid
""",
)
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment pass over deterministic seed centroids
    (vec_id < K), reporting per-cluster membership and mean squared
    distance. The corpus-side plan is scan -> broadcast nested-loop
    score -> per-vector top-1 -> hash agg; the only shuffle is the
    final K-row aggregate."""
    e = _embeddings(spark, sf_dir)
    assigned = _assign(e, _seed_centroids(spark, sf_dir, K))
    return (
        assigned.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            (dsum("d2") / F.count(F.lit(1)).cast("double")).alias("mean_dist2"),
        )
    )


def _sql_lloyd_oracle() -> str:
    """DuckDB twin of the full Lloyd loop, UNROLLED: the iteration count
    is a fixed hyperparameter ({LLOYD_ITERS}), so assign/update repeats
    as MATERIALIZED CTE pairs (materialized per the round-3 lesson:
    multi-referenced iterative chains inline exponentially otherwise).
    Every float step mirrors the Spark side bitwise: distances are the
    same (a - b) + c fold rounded at {DIST_DP} dp, means are exact
    decimal sums over IEEE division, next-round inner products fold
    left-to-right over identical doubles."""
    parts = [
        "corpus AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < {K})",
    ]
    n_assign = LLOYD_ITERS + 1  # 3 loop assigns + the final stats assign
    for i in range(n_assign):
        cent = f"c{i}"
        parts.append(f"""a{i + 1} AS MATERIALIZED (
  SELECT vec_id, x, cid, d2 FROM (
    SELECT vec_id, x, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM (
      SELECT corpus.vec_id, corpus.x, {cent}.cid,
             round({_sql_dist2("corpus.x", cent + ".c")}, {DIST_DP}) AS d2
      FROM corpus CROSS JOIN {cent}
    ) s
  ) r WHERE rn = 1
)""")
        if i < LLOYD_ITERS:
            parts.append(f"""c{i + 1} AS MATERIALIZED (
  SELECT cid, list(m ORDER BY dim) AS c FROM (
    SELECT cid, dim,
           CAST(SUM(CAST(v AS DECIMAL(25,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS m
    FROM (SELECT cid, generate_subscripts(x, 1) AS dim, unnest(x) AS v
          FROM a{i + 1}) dims
    GROUP BY cid, dim
  ) means GROUP BY cid
)""")
    body = ",\n".join(parts)
    return f"""
WITH {body},
stats AS (
  SELECT cid AS cluster_id, COUNT(*) AS n_members,
         CAST(SUM(CAST(d2 AS DECIMAL(25,6))) AS DOUBLE) AS inertia
  FROM a{n_assign} GROUP BY cid
),
norms AS (
  SELECT cid AS cluster_id,
         round(sqrt(list_inner_product(c, c)), 6) AS centroid_norm
  FROM c{LLOYD_ITERS}
)
SELECT s.cluster_id, s.n_members, s.inertia, n.centroid_norm
FROM stats s JOIN norms n USING (cluster_id)
"""


@register(
    "emb_kmeans_lloyd",
    tags=("llm", "clustering", "iterative"),
    doc="Iterative Lloyd k-means — oracle-backed by unrolling the fixed "
    "iteration count into materialized assign/update CTE pairs.",
    oracle=_sql_lloyd_oracle(),
)
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{LLOYD_ITERS} Lloyd iterations: assign (broadcast centroids) ->
    update (posexplode to (cluster, dim, value), decimal-exact mean per
    dim, rebuild centroid arrays). Returns per-cluster size, inertia
    contribution, and the final centroid norm.

    Scale: each iteration is one map-only assignment scan + one
    (cluster, dim) hash agg whose map-side partials bound the shuffle
    at O(tasks x K x dim); between iterations only the K x dim centroid
    matrix is materialized to the driver (kilobytes — the documented
    small-dimension collect). The iteration count is a fixed
    hyperparameter, not data-dependent, so the plan depth is bounded."""
    e = _embeddings(spark, sf_dir)
    cents = _seed_centroids(spark, sf_dir, K)
    for _ in range(LLOYD_ITERS):
        assigned = _assign(e, cents)
        # Update step: mean per (cluster, dim) with decimal-exact sums
        # (partition-order invariant), then fold dims back into arrays.
        # posexplode_outer: sidesteps the size>0 pushdown filter that
        # would re-derive the embedding cast below the join (vectors are
        # never empty, so rows are identical)
        dims = assigned.select("cid", F.posexplode_outer("x").alias("dim", "v"))
        means = dims.groupBy("cid", "dim").agg(
            (dsum("v") / F.count(F.lit(1)).cast("double")).alias("m")
        )
        centroids = (
            means.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("cid", F.transform("dm", lambda s: s["m"]).alias("c"))
        )
        cents = _collect_centroids(centroids)
    final = _assign(e, cents)
    stats = final.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_members"),
        dsum("d2").alias("inertia"),
    )
    # Final centroid norms fold driver-side from the already-collected
    # K x dim matrix (same L2R order as the distributed fold).
    norms = []
    for cid, c in cents:
        acc = 0.0
        for v in c:
            acc = acc + v * v
        norms.append((cid, round(acc ** 0.5, 6)))
    norms_df = spark.createDataFrame(
        norms, "cluster_id int, centroid_norm double"
    )
    return stats.join(F.broadcast(norms_df), "cluster_id")


# SemDeDup-style semantic dedup: K2 coarse clusters bound the pairwise
# search. In production K2 scales with the corpus so cluster size stays
# ~constant — total work is linear-in-corpus, never all-pairs.
SEM_K = 64
SEM_COS = 0.4  # synthetic 64-dim vectors top out near 0.5 cosine


def _sql_assign_cte(k: int) -> str:
    return f"""
cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < {k}
),
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
scored AS (
  SELECT corpus.vec_id, corpus.x, cent.cid,
         round({_sql_dist2('x', 'c')}, {DIST_DP}) AS d2
  FROM corpus CROSS JOIN cent
),
assigned AS (
  SELECT vec_id, x, cid FROM (
    SELECT vec_id, x, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM scored
  ) WHERE rn = 1
)"""


@register(
    "dedup_semantic_cluster",
    tags=("llm", "dedup", "clustering", "semantic"),
    oracle=f"""
WITH {_sql_assign_cte(SEM_K)}
SELECT a.cid AS cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_inner_product(a.x, b.x)
         / (sqrt(list_inner_product(a.x, a.x))
            * sqrt(list_inner_product(b.x, b.x))) AS cosine
FROM assigned a JOIN assigned b
  ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE list_inner_product(a.x, b.x)
        / (sqrt(list_inner_product(a.x, a.x))
           * sqrt(list_inner_product(b.x, b.x))) >= {SEM_COS}
""",
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: coarse-cluster the embeddings ({SEM_K} deterministic
    seed centroids), then search for near-duplicate pairs ONLY within
    each cluster. The cluster id becomes the join/partition key, so the
    pairwise stage is bounded by cluster size — the semantic analogue
    of LSH banding (llm/dedup.py) for the embedding space. Shuffles:
    one hash exchange on cluster_id for the self-join; assignment
    itself is a literal-centroid map-only scan (see _assign)."""
    e = _embeddings(spark, sf_dir)
    assigned = _assign(e, _seed_centroids(spark, sf_dir, SEM_K)).select(
        "vec_id", "x", "cid"
    )
    # ONE explicit keyed exchange on cid shared by both join sides
    # (optimization r14, guide §2.5): the old shuffle-hash-hinted
    # exchanges were byte-coalesced by AQE to a single task, so the
    # whole within-cluster interpreted-cosine stage ran on one core
    # (measured 1.6 s at sf0.1, 31 idle). Both aliases derive from the
    # repartitioned frame, so the (expensive, {SEM_K}-centroid)
    # assignment is still computed once and the exchange reused; the
    # pinned count scales with scheduler slots, and cid has {SEM_K}
    # distinct values, so the keyed shuffle spreads.
    assigned = assigned.repartition(
        spark.sparkContext.defaultParallelism, "cid"
    )
    a = assigned.select(
        F.col("cid"), F.col("vec_id").alias("vec_a"), F.col("x").alias("xa")
    )
    b = assigned.select(
        F.col("cid"), F.col("vec_id").alias("vec_b"), F.col("x").alias("xb")
    )
    cos = _ip(F.col("xa"), F.col("xb")) / (
        F.sqrt(_ip(F.col("xa"), F.col("xa"))) * F.sqrt(_ip(F.col("xb"), F.col("xb")))
    )
    return (
        a.join(b, (a.cid == b.cid) & (F.col("vec_a") < F.col("vec_b")))
        .select(
            a.cid.alias("cluster_id"), "vec_a", "vec_b", cos.alias("cosine")
        )
        .filter(F.col("cosine") >= SEM_COS)
    )


OUTLIER_Z = 3.0  # flag vectors beyond this many sigmas of cluster distance


@register(
    "emb_outlier_centroid_dist",
    tags=("llm", "clustering", "outliers", "curation"),
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < {K}
),
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
scored AS (
  SELECT corpus.vec_id, cent.cid,
         round({_sql_dist2('x', 'c')}, {DIST_DP}) AS d2
  FROM corpus CROSS JOIN cent
),
best AS (
  SELECT vec_id, cid, d2,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM scored
),
assigned AS (SELECT vec_id, cid, d2 FROM best WHERE rn = 1),
stats AS (
  SELECT cid,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(d2 AS DECIMAL(25,{DIST_DP}))) AS DOUBLE) AS s,
         CAST(SUM(CAST(round(d2 * d2, {DIST_DP + 2})
                       AS DECIMAL(25,{DIST_DP + 2}))) AS DOUBLE) AS s2
  FROM assigned GROUP BY cid
)
SELECT a.vec_id, a.cid AS cluster_id, a.d2,
       (a.d2 - t.s / t.n)
         / NULLIF(sqrt(t.s2 / t.n - (t.s / t.n) * (t.s / t.n)), 0.0) AS z
FROM assigned a JOIN stats t ON a.cid = t.cid
WHERE (a.d2 - t.s / t.n)
        / NULLIF(sqrt(t.s2 / t.n - (t.s / t.n) * (t.s / t.n)), 0.0)
      > {OUTLIER_Z}
""",
)
def emb_outlier_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier mining for curation: assign every vector
    to its nearest seed centroid (the zero-shuffle ``_assign`` scan),
    then flag vectors whose squared distance sits more than
    {OUTLIER_Z} sigmas above their OWN cluster's mean — the
    cluster-conditional distance filter SemDeDup-style pipelines use
    to drop mislabeled/garbage embeddings without a global threshold
    that popular clusters would dominate.

    Distances are the 6-dp-quantized doubles the k-means family
    already standardizes on, so the per-cluster moments are exact
    decimal sums (the d2^2 re-quantization cannot tie: a 6-dp value's
    square lands ≥ 1e-4 away from any half-way point at 8 dp by the
    quadratic-residue argument). One K-row stats frame broadcasts
    back; the filter is a projection."""
    e = _embeddings(spark, sf_dir)
    assigned = _assign(e, _seed_centroids(spark, sf_dir, K)).select(
        "vec_id", "cid", "d2"
    )
    stats = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("d2").alias("s"),
        F.sum(
            F.round(F.col("d2") * F.col("d2"), DIST_DP + 2).cast(
                f"decimal(25,{DIST_DP + 2})"
            )
        )
        .cast("double")
        .alias("s2"),
    )
    n, s, s2 = F.col("n"), F.col("s"), F.col("s2")
    z = (F.col("d2") - s / n) / F.nullif(
        F.sqrt(s2 / n - (s / n) * (s / n)), F.lit(0.0)
    )
    return (
        assigned.join(F.broadcast(stats), "cid")
        .filter(z > OUTLIER_Z)
        .select(
            "vec_id",
            F.col("cid").alias("cluster_id"),
            "d2",
            z.alias("z"),
        )
    )


@register(
    "emb_cluster_purity",
    tags=("llm", "clustering", "evaluation"),
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS c FROM embeddings WHERE vec_id < {K}
),
corpus AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
scored AS (
  SELECT corpus.vec_id, corpus.label, cent.cid,
         round({_sql_dist2('x', 'c')}, {DIST_DP}) AS d2
  FROM corpus CROSS JOIN cent
),
best AS (
  SELECT vec_id, label, cid FROM (
    SELECT vec_id, label, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
lc AS (
  SELECT cid, label, COUNT(*) AS n FROM best GROUP BY cid, label
),
maj AS (
  SELECT cid, label AS majority_label, n AS n_majority FROM (
    SELECT cid, label, n,
           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY n DESC, label) AS rn
    FROM lc
  ) WHERE rn = 1
),
sz AS (SELECT cid, SUM(n) AS n_members FROM lc GROUP BY cid)
SELECT s.cid AS cluster_id,
       CAST(s.n_members AS BIGINT) AS n_members,
       CAST(m.majority_label AS INTEGER) AS majority_label,
       CAST(m.n_majority AS BIGINT) AS n_majority,
       CAST(m.n_majority AS DOUBLE) / s.n_members AS purity
FROM sz s JOIN maj m ON s.cid = m.cid
""",
)
def emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation against ground-truth labels: assign
    the corpus to the deterministic seed centroids, then report each
    cluster's size, majority label, and PURITY (majority fraction) —
    the sanity number you check before trusting any cluster-derived
    curation decision (SemDeDup, per-cluster sampling, outlier
    mining). Weighted-averaging the purity column gives overall
    clustering purity.

    Scale: same map-only broadcast-centroid assignment as
    `emb_kmeans_assign`; the label contingency reduce carries
    O(K × labels) cells with map-side combine; majority pick is a
    rank-1 window over that tiny frame. Integer counts to one final
    division."""
    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("x")
    )
    assigned = _assign(
        e.select("vec_id", F.col("x")), _seed_centroids(spark, sf_dir, K)
    ).join(e.select("vec_id", "label"), "vec_id")
    lc = assigned.groupBy("cid", "label").agg(F.count(F.lit(1)).alias("n"))
    wmaj = Window.partitionBy("cid").orderBy(F.col("n").desc(), "label")
    maj = (
        lc.withColumn("rn", F.row_number().over(wmaj))
        .filter(F.col("rn") == 1)
        .select(
            "cid",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    sz = lc.groupBy("cid").agg(F.sum("n").alias("n_members"))
    return sz.join(maj, "cid").select(
        F.col("cid").alias("cluster_id"),
        F.col("n_members").cast("bigint").alias("n_members"),
        F.col("majority_label").cast("int").alias("majority_label"),
        F.col("n_majority").cast("bigint").alias("n_majority"),
        (F.col("n_majority").cast("double") / F.col("n_members")).alias(
            "purity"
        ),
    )


# --- elbow curve (model selection over K) ---------------------------------

ELBOW_KS = (4, 8, 16)


def _sql_elbow_k(k: int) -> str:
    return f"""
  SELECT {k} AS k,
         CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(CAST(d2 AS DECIMAL(25,6))) AS DOUBLE) AS inertia,
         CAST(SUM(CAST(d2 AS DECIMAL(25,6))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS mean_dist2
  FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM (
      SELECT corpus.vec_id, cent.cid,
             round({_sql_dist2('x', 'c')}, {DIST_DP}) AS d2
      FROM (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings) corpus
      CROSS JOIN (SELECT vec_id AS cid, embedding::DOUBLE[] AS c
                  FROM embeddings WHERE vec_id < {k}) cent
    ) scored
  ) best WHERE rn = 1"""


@register(
    "ml_kmeans_elbow",
    tags=("ml", "clustering", "model-selection"),
    oracle=" UNION ALL ".join(_sql_elbow_k(k) for k in ELBOW_KS),
)
def ml_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ELBOW CURVE for choosing K: total within-cluster inertia at
    K ∈ {ELBOW_KS} from the same deterministic seed scheme as
    `emb_kmeans_assign` — the model-selection readout that justifies
    the production K before `emb_kmeans_lloyd` spends iterations on
    it. Inertia is monotonically nonincreasing in K (seed sets are
    nested: vec_id < 4 ⊂ < 8 ⊂ < 16), which the semantic test pins.

    Per K: ONE map-only assignment scan (centroid literals inlined,
    zero shuffles — `_assign`'s plan) and a decimal-combined inertia
    reduce. The sweep costs |Ks| scans of the embedding table, each
    independent — at 100 TB the Ks run concurrently over one cached
    scan."""
    e = _embeddings(spark, sf_dir)
    out = None
    for k in ELBOW_KS:
        a = _assign(e, _seed_centroids(spark, sf_dir, k))
        row = a.agg(
            F.lit(k).alias("k"),
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum(F.col("d2").cast("decimal(25,6)"))
            .cast("double")
            .alias("inertia"),
            (
                F.sum(F.col("d2").cast("decimal(25,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mean_dist2"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# --- distance-weighted coreset sampling (k-means|| shape) ------------------

CORESET_OVERSAMPLE = 64  # expected sample ~ OVERSAMPLE vectors per pass


@register(
    "sample_kmeans_coreset",
    tags=("llm", "clustering", "sampling", "coreset"),
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS c
  FROM embeddings WHERE vec_id < {K}
),
corpus AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
scored AS (
  SELECT corpus.vec_id, cent.cid,
         round({_sql_dist2('x', 'c')}, {DIST_DP}) AS d2
  FROM corpus CROSS JOIN cent
),
best AS (
  SELECT vec_id, cid, d2 FROM (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM scored
  ) r WHERE rn = 1
),
tot AS (
  SELECT CAST(SUM(CAST(d2 AS DECIMAL(25,{DIST_DP}))) AS DOUBLE) AS total
  FROM best
),
probed AS (
  SELECT b.vec_id, b.cid, b.d2,
         least(CAST(1.0 AS DOUBLE), {CORESET_OVERSAMPLE} * b.d2 / t.total)
           AS p_include,
         CAST(('0x' || substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 8))::BIGINT
              AS DOUBLE) / CAST(4294967296.0 AS DOUBLE) AS u
  FROM best b CROSS JOIN tot t
)
SELECT vec_id, cid AS cluster_id, d2, p_include,
       CAST(1.0 AS DOUBLE) / p_include AS weight
FROM probed WHERE u < p_include
""",
)
def sample_kmeans_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-weighted coreset sampling — the k-means|| / sensitivity
    -sampling step: after one assignment pass against the seed
    centroids, each vector is kept with probability proportional to
    its squared distance to its nearest centroid (p_i = min(1, L*d2_i
    / sum d2)), and kept vectors carry inverse-probability weights so
    weighted statistics over the coreset are unbiased for the corpus.
    This is how a 100 TB embedding table shrinks to a driver-size set
    that still "sees" the outlying regions uniform sampling misses —
    the seeding step of scalable k-means and the standard compression
    before any quadratic clustering.

    Scale shape: assignment is the broadcast-centroid zero-shuffle
    projection shared with ``emb_kmeans_assign``; the normalizer is
    ONE decimal-summed scalar broadcast back; inclusion is a
    content-hash Bernoulli draw (same row on any cluster size, any
    retry — no RNG), so the output is a deterministic filter over the
    scan. Determinism: d2 is rounded at {DIST_DP} dp before the
    decimal sum; p and weight are single double ops over identical
    inputs; the hash draw compares exact integers scaled by 2^-32."""
    e = _embeddings(spark, sf_dir)
    assigned = _assign(e, _seed_centroids(spark, sf_dir, K))
    tot = assigned.agg(
        F.sum(F.col("d2").cast(f"decimal(25,{DIST_DP})"))
        .cast("double")
        .alias("total")
    )
    p = F.least(
        F.lit(1.0),
        F.lit(CORESET_OVERSAMPLE) * F.col("d2") / F.col("total"),
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
        ).cast("double")
        / F.lit(4294967296.0)
    )
    return (
        assigned.crossJoin(F.broadcast(tot))
        .select(
            "vec_id",
            F.col("cid").alias("cluster_id"),
            "d2",
            p.alias("p_include"),
            u.alias("u"),
        )
        .filter(F.col("u") < F.col("p_include"))
        .select(
            "vec_id",
            "cluster_id",
            "d2",
            "p_include",
            (F.lit(1.0) / F.col("p_include")).alias("weight"),
        )
    )


# --- k-center greedy (farthest-point) initialization --------------------------
#
# The deterministic cousin of k-means++ and the textbook 2-approximation
# for the k-center objective (Gonzalez 1985): start from a fixed seed,
# repeatedly pick the point FARTHEST from the chosen set. It is also
# the standard coreset/diversity seed for embedding clustering. Each
# of the K-1 selection rounds is one distance projection + one global
# argmax — a data-dependent scalar, which the oracle unrolls as
# materialized 1-row CTEs consumed by the next round (the BPE-train
# technique). Distances are squared-L2 via the module's fold-exact dot
# products; argmax ties break by vec_id, and the shrinking COVERAGE
# RADIUS per round (the 2-approx guarantee curve) is emitted alongside
# each chosen center.

KCENTER_K = 8


def _kc_dist_sql(a: str, b: str) -> str:
    return (
        f"list_inner_product({a}::DOUBLE[], {a}::DOUBLE[])"
        f" + list_inner_product({b}::DOUBLE[], {b}::DOUBLE[])"
        f" - 2 * list_inner_product({a}::DOUBLE[], {b}::DOUBLE[])"
    )


def _kcenter_oracle() -> str:
    lines = [
        "WITH embm AS MATERIALIZED (SELECT vec_id, embedding"
        " FROM embeddings),",
        # round 0: the fixed seed is vec_id 0; its radius = max dist
        "d0 AS MATERIALIZED (",
        "  SELECT e.vec_id,",
        f"  {_kc_dist_sql('e.embedding', 'c.embedding')} AS d",
        "  FROM embm e JOIN embm c ON c.vec_id = 0),",
        "c0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS center_id,",
        "  (SELECT MAX(d) FROM d0) AS radius2),",
    ]
    for j in range(1, KCENTER_K):
        lines += [
            # next center = argmax of current min-distance (ties by id)
            f"pick{j} AS MATERIALIZED (SELECT vec_id AS center_id, d",
            f"  FROM d{j - 1} ORDER BY d DESC, vec_id LIMIT 1),",
            f"d{j} AS MATERIALIZED (",
            "  SELECT e.vec_id,",
            f"  LEAST(p.d2, {_kc_dist_sql('e.embedding', 'c.embedding')})"
            " AS d",
            f"  FROM embm e",
            f"  JOIN (SELECT vec_id, d AS d2 FROM d{j - 1}) p"
            " ON p.vec_id = e.vec_id",
            f"  JOIN embm c ON c.vec_id = (SELECT center_id FROM pick{j})),",
            f"c{j} AS MATERIALIZED (",
            f"  SELECT (SELECT center_id FROM pick{j}) AS center_id,",
            f"  (SELECT MAX(d) FROM d{j}) AS radius2),",
        ]
    lines[-1] = lines[-1].rstrip(",")
    sel = "\nUNION ALL\n".join(
        f"SELECT {j} AS round, center_id, round(radius2, 8) AS radius2"
        f" FROM c{j}"
        for j in range(KCENTER_K)
    )
    return "\n".join(lines) + "\n" + sel


@register(
    "emb_kcenter_greedy",
    tags=("llm", "clustering", "coreset", "iterative"),
    oracle=_kcenter_oracle(),
)
def emb_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCENTER_K} k-center seeds by farthest-point traversal from
    vec_id 0, with the post-selection coverage radius (max min-dist^2)
    per round — a NON-INCREASING curve (asserted in tests) that is the
    algorithm's 2-approximation certificate. Per round: one LEAST()
    distance update over the corpus (the chosen center broadcasts as
    a 1-row frame) and one top-1 argmax — no pairwise stage, state is
    one double per vector. The same loop at 100 TB seeds coreset
    construction and diversity sampling."""
    from ..llm.similarity import dot

    e = load(spark, sf_dir, "embeddings")
    emb = materialize(e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    ))

    def dist2(xa, xb):
        return dot(xa, xa) + dot(xb, xb) - 2 * dot(xa, xb)

    seed = emb.filter(F.col("vec_id") == 0).select(
        F.col("x").alias("cx")
    )
    d = emb.crossJoin(F.broadcast(seed)).select(
        "vec_id", dist2(F.col("x"), F.col("cx")).alias("d")
    )
    out_rows = [(0, 0)]
    radii: list[float] = []

    def _kc_step(dprev, i):
        # 1-row argmax — the reference-style bounded collect. Its d IS
        # max(d) over the previous round's field (identical double), so
        # the separate radius aggregate of the pre-iterate() loop is
        # folded into the pick: one collect per round instead of two.
        j = i + 1
        pick = dprev.orderBy(F.col("d").desc(), "vec_id").limit(1).collect()[0]
        radii.append(pick["d"])
        cid = pick["vec_id"]
        out_rows.append((j, int(cid)))
        cx = emb.filter(F.col("vec_id") == cid).select(F.col("x").alias("cx"))
        return (
            emb.join(dprev, "vec_id")
            .crossJoin(F.broadcast(cx))
            .select(
                "vec_id",
                F.least(F.col("d"), dist2(F.col("x"), F.col("cx"))).alias("d"),
            )
        )

    dfin = iterate(d, _kc_step, KCENTER_K - 1)
    radii.append(dfin.agg(F.max("d").alias("m")).collect()[0]["m"])
    res = spark.createDataFrame(
        [
            (r, int(c), float(rad))
            for (r, c), rad in zip(out_rows, radii)
        ],
        "round int, center_id bigint, radius2 double",
    )
    return res.select("round", "center_id", F.round("radius2", 8).alias("radius2"))
