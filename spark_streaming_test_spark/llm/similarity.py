"""Approximate-nearest-neighbor similarity search over embeddings.

Two paths per the north star (SURVEY.md §2.1, REPOSE ICDE'21 / top-k
EDBT'19-20 patterns in PAPERS.md):

  * brute-force top-k cosine — the exact, oracle-checkable baseline:
    broadcast the (small) query set against all vectors, score with
    JVM-side higher-order array functions, rank with a per-query window.
    At scale this is the "scan" path: one pass over the corpus per
    query batch, no index.
  * LSH-bucketed top-k — random-hyperplane signatures (deterministic,
    hash-derived planes) bucket the corpus; candidates come only from
    the query's bucket ring, then exact re-ranking. Trades recall for
    a corpus-scan reduction of ~2^bits.

Dot products / norms fold left-to-right in double precision — bitwise
identical to the DuckDB oracle's list_inner_product formulation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import bounded_broadcast, load, spread
from ..iterate import iterate, materialize
from ..registry import register

N_QUERIES = 5  # query set: vec_id < 5
TOP_K = 10


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(c: str) -> Column:
    return F.col(c).cast("array<double>")


# Rows-per-task sizing for the graph-ANN loops' compute-dense stages
# (optimization r13, guide §2.2/2.5). Their shuffled rows are ~16-byte
# candidate id pairs whose downstream cost is a 64-term interpreted
# cosine — so partition count must follow ROWS, not bytes: AQE's
# byte advisory coalesces the few-MB exchanges to one task, while a
# flat cores count overslices (per-task fixed cost >> µs-scale row
# work). Local default tuned by measurement (4.3-5.3 s across 4-16
# partitions at sf0.1, minimum near rows/16k); production overrides
# via SPARK_GRAFT_ANN_ROWS_PER_TASK, and the cap scales with the
# cluster (4× scheduler slots), so bigger corpora fan out wider
# without a code change.
def ann_partitions(spark: SparkSession, est_rows: int) -> int:
    import os as _os

    # Clamp the env override: a non-numeric or <= 0 value falls back to
    # the measured 16384 default instead of raising mid-query (a "0"
    # would otherwise hit the ceil division with ZeroDivisionError and
    # a negative value would silently collapse to 1 partition).
    try:
        rpt = int(_os.environ.get("SPARK_GRAFT_ANN_ROWS_PER_TASK", "16384"))
    except ValueError:
        rpt = 16384
    if rpt <= 0:
        rpt = 16384
    # Cap at 1x the scheduler slots (optimization r14): the r13 cap of
    # 4x was measured to ANTI-scale at a 10x-sf0.1 grain — 88
    # partitions ran sim_nn_descent at 27.3 s / sim_knn_graph_search at
    # 45.5 s on 32 cores, where ~22-32 partitions ran them at ~13 s
    # (plans/r14/scaling_probe.json) — per-round fixed cost per task
    # dominates these candidate-frame stages well past the slot count.
    # The cap still scales with the cluster (slots), and the rows rule
    # below it keeps small batches on few tasks.
    cap = spark.sparkContext.defaultParallelism
    return max(1, min(-(-est_rows // rpt), cap))


# bounded_broadcast (imported from catalog above, shared with the graph
# loops) gates every ANN score join's hint: the corpus frames (embn,
# the O(N*k) edge list) broadcast only while they fit, and above the
# budget the joins revert to shuffles that the explicit
# ``ann_partitions`` repartition on the probe side keeps fanned out
# rather than AQE-collapsed.


@register(
    "sim_bruteforce_topk",
    bench=True,
    tags=("llm", "similarity", "topk"),
    oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
           / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
""",
)
def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector: broadcast
    queries x corpus scan -> score -> per-query top-k window (the
    WindowGroupLimit pushdown keeps only k rows per query per task)."""
    e = spread(load(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(_as_double("q_emb"), _as_double("embedding")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


# Random-hyperplane LSH: plane coefficients are md5-derived constants in
# [-1, 1] — deterministic, no RNG, reproducible across runs AND engines
# (they are fixed model parameters, like trained weights, so both the
# Spark expression and the DuckDB oracle embed them as literals; the
# earlier xxhash64-derived planes had no SQL twin, which is why round 2's
# sim_lsh_topk row was `no_oracle`).
LSH_PLANES = 8
LSH_DIM = 64  # embeddings table dimension (TESTDATA.md)


def _lsh_coeff(plane: int, dim: int) -> float:
    import hashlib

    h = int(hashlib.md5(f"lshplane:{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return (h % 10_000_001) / 5_000_000.0 - 1.0


LSH_PLANE_COEFFS = [
    [_lsh_coeff(p, d) for d in range(LSH_DIM)] for p in range(LSH_PLANES)
]


def lsh_bucket(emb: Column) -> Column:
    """2^LSH_PLANES-bucket signature: bit b = sign(dot(plane_b, v)).
    The dot product folds left-to-right in double — the same addition
    order as DuckDB's list_inner_product, so the SIGN (and therefore the
    bucket) is bitwise-identical cross-engine."""
    sig = F.lit(0).cast("long")
    for p in range(LSH_PLANES):
        plane = F.array(*[F.lit(c) for c in LSH_PLANE_COEFFS[p]])
        proj = F.aggregate(
            F.zip_with(emb, plane, lambda x, c: x * c),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        sig = sig + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0))
    return sig


def _sql_lsh_bucket(emb_expr: str) -> str:
    """DuckDB twin of lsh_bucket over the given embedding expression."""
    terms = []
    for p in range(LSH_PLANES):
        plane = ", ".join(repr(c) for c in LSH_PLANE_COEFFS[p])
        terms.append(
            f"(CASE WHEN list_inner_product({emb_expr}, [{plane}]) > 0"
            f" THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    return "(" + "\n          + ".join(terms) + ")"


@register(
    "sim_lsh_topk",
    tags=("llm", "similarity", "lsh"),
    # Hash-compared oracle: literal plane coefficients + left-fold dot
    # products reproduce the bucket assignment bitwise in DuckDB; recall
    # vs the exact brute-force result is asserted in tests/test_llm.py.
    oracle=f"""
WITH corpus AS (
  SELECT vec_id, embedding,
         {_sql_lsh_bucket("embedding::DOUBLE[]")} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket
  FROM corpus WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_inner_product(q.q_emb::DOUBLE[], c.embedding::DOUBLE[])
           / (sqrt(list_inner_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[]))
              * sqrt(list_inner_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
           AS cosine
  FROM corpus c JOIN q
    ON c.bucket = q.q_bucket AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
""",
)
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: corpus and queries signed into 2^8 buckets by
    deterministic random-hyperplane projections; candidates = exact
    bucket match (hamming-0 ring), re-ranked exactly. At 100 TB the
    bucket column is a partition/cluster key — each query touches
    ~1/256 of the corpus instead of scanning it."""
    e = spread(load(spark, sf_dir, "embeddings"))
    emb_d = F.col("embedding").cast("array<double>")
    corpus = e.select("vec_id", "embedding", lsh_bucket(emb_d).alias("bucket"))
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    cand = corpus.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(_as_double("q_emb"), _as_double("embedding")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


# IVF coarse quantizer: centroids are the corpus vectors whose vec_id is a
# multiple of IVF_STRIDE, capped at IVF_MAX_CENTROIDS (vec_id below
# STRIDE*MAX) — a FIXED-size deterministic set, so the driver-side collect
# is O(K), not O(corpus) (round-3 verdict flagged the uncapped stride as
# an O(n/37) collect that grows 100x at 100x scale). Each vector is
# assigned to its max-cosine centroid; queries probe the IVF_NPROBE
# nearest cells. A production deployment sizes K (~sqrt(n)) via config;
# the assignment path is already distributed (broadcast centroids into an
# Arrow-batched scan), so raising K never changes the plan shape.
IVF_STRIDE = 37
IVF_MAX_CENTROIDS = 256
IVF_NPROBE = 2

# Driver-side IVF index cache: (sf_dir -> (centroids, query vectors)).
# The index is tiny (K+N_QUERIES 64-dim vectors) and deterministic for a
# given dataset, and a real IVF deployment builds it ONCE and serves many
# query batches — re-collecting it per call would bill every query for
# the index build. Keyed by sf_dir so each scale factor gets its own.
_IVF_CACHE: dict[str, tuple[list, list]] = {}
# Plain Python values (no Spark state), so not in the cross-query
# frame memo, iterate.materialize_once (tests/test_session_reset.py).
_PLAIN_CACHES = ("_IVF_CACHE",)


def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[list, list]:
    """Collect centroid + query vectors in ONE small job (the same
    collect-the-dimension pattern as the reference's limits lookup,
    MainApp.java:44-49), memoized per sf_dir."""
    if sf_dir not in _IVF_CACHE:
        cent_cap = IVF_STRIDE * IVF_MAX_CENTROIDS
        rows = (
            load(spark, sf_dir, "embeddings")
            .filter(
                ((F.col("vec_id") % IVF_STRIDE == 0) & (F.col("vec_id") < cent_cap))
                | (F.col("vec_id") < N_QUERIES)
            )
            .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
            .collect()
        )
        cents = sorted(
            (int(r["vec_id"]), list(r["v"]))
            for r in rows
            if r["vec_id"] % IVF_STRIDE == 0 and r["vec_id"] < cent_cap
        )
        q_vecs = sorted(
            (int(r["vec_id"]), list(r["v"])) for r in rows if r["vec_id"] < N_QUERIES
        )
        _IVF_CACHE[sf_dir] = (cents, q_vecs)
    return _IVF_CACHE[sf_dir]


def ivf_corpus_cells(spark: SparkSession, sf_dir: str, e: DataFrame) -> DataFrame:
    """(vec_id, embedding, cell): max-cosine centroid assignment via an
    Arrow-batched pandas UDF whose dimension-by-dimension left fold
    reproduces ``list_inner_product`` bitwise. Shared by the IVF and
    IVF+PQ indexes."""
    from pyspark.sql.functions import pandas_udf

    cents, _ = _ivf_index(spark, sf_dir)

    def _fold_dot(acc_len: int, E: np.ndarray, cvec) -> np.ndarray:
        # Left-fold over dimensions: ((0 + p0) + p1) + ... — the exact
        # addition order of F.aggregate and DuckDB's list_inner_product.
        acc = np.zeros(acc_len)
        for j in range(E.shape[1]):
            acc = acc + E[:, j] * cvec[j]
        return acc

    cnorms = []
    for _, cvec in cents:
        s = 0.0
        for x in cvec:
            s = s + x * x
        cnorms.append(float(s) ** 0.5)

    @pandas_udf("long")
    def assign_cell(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype="int64")
        E = np.stack(embs.to_numpy()).astype(np.float64)  # f32->f64 exact
        m = E.shape[0]
        vn = np.sqrt(_fold_dot(m, E, E.T))  # acc += E[:,j]*E[:,j]
        best_cos = np.full(m, -np.inf)
        best_cid = np.zeros(m, dtype=np.int64)
        for (cid, cvec), cn in zip(cents, cnorms):
            ccos = _fold_dot(m, E, cvec) / (vn * cn)
            better = ccos > best_cos  # strict: ties keep the lower cid
            best_cos = np.where(better, ccos, best_cos)
            best_cid = np.where(better, cid, best_cid)
        return pd.Series(best_cid)

    return e.select("vec_id", "embedding", assign_cell("embedding").alias("cell"))


def ivf_query_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, probe_cell, q_emb): top-nprobe cells per query vector,
    scored driver-side with the same left fold (O(queries × K))."""
    cents, q_vecs = _ivf_index(spark, sf_dir)
    cnorms = []
    for _, cvec in cents:
        s = 0.0
        for x in cvec:
            s = s + x * x
        cnorms.append(float(s) ** 0.5)
    probe_rows = []
    for qid, qv in q_vecs:
        qs = 0.0
        for x in qv:
            qs = qs + x * x
        qn = float(qs) ** 0.5
        scored = []
        for (cid, cvec), cn in zip(cents, cnorms):
            s = 0.0
            for a, b in zip(qv, cvec):
                s = s + a * b
            scored.append((-(s / (qn * cn)), cid))
        for _, cid in sorted(scored)[:IVF_NPROBE]:
            probe_rows.append((qid, cid, qv))
    return spark.createDataFrame(
        probe_rows, "query_id long, probe_cell long, q_emb array<double>"
    )


@register(
    "sim_ivf_topk",
    tags=("llm", "similarity", "ivf"),
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cemb
  FROM embeddings
  WHERE vec_id % {IVF_STRIDE} = 0 AND vec_id < {IVF_STRIDE * IVF_MAX_CENTROIDS}
),
scored AS (
  SELECT e.vec_id, c.cid, e.embedding,
         list_inner_product(e.embedding::DOUBLE[], c.cemb)
           / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_inner_product(c.cemb, c.cemb))) AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM scored WHERE vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
rescored AS (
  SELECT c.query_id, c.neighbor_id,
         list_inner_product(q.embedding::DOUBLE[], n.embedding::DOUBLE[])
           / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_inner_product(n.embedding::DOUBLE[], n.embedding::DOUBLE[])))
           AS cosine
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings n ON n.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rescored
) WHERE rank <= {TOP_K}
""",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into K cells (centroid =
    max-cosine match), probe the query's IVF_NPROBE nearest cells, exact
    re-rank inside them. The K centroid vectors are collected once to the
    driver (tiny — the same collect-the-dimension pattern as the
    reference's limits lookup, MainApp.java:44-49); cell assignment is a
    single shuffle-free corpus scan through an Arrow-batched pandas UDF
    that folds dot products DIMENSION-BY-DIMENSION over numpy row
    vectors — the same left-fold addition order as the oracle's
    ``list_inner_product``, so every cosine is bitwise identical to
    DuckDB while running ~50× faster than per-centroid interpreted
    Catalyst lambdas (and, unlike them, O(K) per row with BLAS-speed
    inner loops). At 100 TB the cell id becomes the partition key and
    each query touches ~nprobe/K of the data. Ties (equal cosine) break
    toward the lower centroid id in both engines."""
    e = spread(load(spark, sf_dir, "embeddings"))
    corpus = ivf_corpus_cells(spark, sf_dir, e)
    q = ivf_query_probes(spark, sf_dir)
    cand = corpus.join(
        F.broadcast(q),
        (F.col("cell") == F.col("probe_cell")) & (F.col("vec_id") != F.col("query_id")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(_as_double("q_emb"), _as_double("embedding")).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "sim_pairwise_label_stats",
    tags=("llm", "similarity", "agg"),
    oracle=f"""
WITH pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         list_inner_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
           / (sqrt(list_inner_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
              * sqrt(list_inner_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
           AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 200 AND b.vec_id < 200
)
SELECT label_a = label_b AS same_label,
       CAST(SUM(CAST(cosine AS DECIMAL(25,12))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_cosine,
       COUNT(*) AS n_pairs
FROM pairs GROUP BY label_a = label_b
""",
)
def sim_pairwise_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality diagnostic: mean intra- vs inter-label cosine
    (same-label pairs should score higher). Decimal(scale 12)-cast sum
    keeps the mean deterministic; cosines are not decimal-scale values,
    but at scale 12 the rounding-tie probability is ~1e-12 per pair."""
    e = spread(load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200))
    a = e.select(
        F.col("vec_id").alias("ia"), F.col("label").alias("label_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = e.select(
        F.col("vec_id").alias("ib"), F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
    )
    cos = cosine(_as_double("emb_a"), _as_double("emb_b"))
    return (
        a.join(b, F.col("ia") < F.col("ib"))
        .select((F.col("label_a") == F.col("label_b")).alias("same_label"), cos.alias("cosine"))
        .groupBy("same_label")
        .agg(
            (
                F.sum(F.col("cosine").cast("decimal(25,12)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_cosine"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )


HARD_NEG_K = 3


@register(
    "sim_hard_negatives",
    tags=("llm", "similarity", "training-data"),
    oracle=f"""
WITH q AS (
  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS negative_id,
         e.label AS negative_label,
         list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
           / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS cosine
  FROM q JOIN embeddings e
    ON e.vec_id <> q.vec_id AND e.label <> q.label
),
ranked AS (
  SELECT query_id, negative_id, negative_label, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, negative_id) AS rank
  FROM scored
)
SELECT query_id, negative_id, negative_label, cosine, rank
FROM ranked WHERE rank <= {HARD_NEG_K}
""",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    {HARD_NEG_K} most-similar corpus vectors with a DIFFERENT label —
    the near-misses that make embedding models learn boundaries (random
    negatives are too easy; these are the informative ones).

    The plan is sim_bruteforce_topk with the label-inequality predicate
    fused into the broadcast join, so mismatched-label pairs are
    dropped before scoring; per-query top-k is the WindowGroupLimit
    path. At scale, the IVF/PQ index replaces the scan exactly as for
    plain ANN — hard negatives are just filtered neighbors."""
    e = spread(load(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = (
        e.join(
            F.broadcast(q),
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("label") != F.col("q_label")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            cosine(_as_double("q_emb"), _as_double("embedding")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HARD_NEG_K)
    )


KNN_K = 10


@register(
    "sim_knn_classify",
    tags=("llm", "similarity", "classification"),
    oracle=f"""
WITH q AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         e.vec_id AS neighbor_id, e.label AS neighbor_label,
         list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
           / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, true_label, neighbor_label,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
),
votes AS (
  SELECT query_id, true_label, neighbor_label, COUNT(*) AS n_votes
  FROM ranked WHERE rank <= {KNN_K}
  GROUP BY query_id, true_label, neighbor_label
),
best AS (
  SELECT query_id, true_label, neighbor_label AS predicted_label, n_votes,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY n_votes DESC, neighbor_label) AS vr
  FROM votes
)
SELECT query_id, predicted_label, CAST(n_votes AS BIGINT) AS n_votes,
       true_label, predicted_label = true_label AS correct
FROM best WHERE vr = 1 ORDER BY query_id
""",
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction — the auto-labeling / label-propagation
    primitive: each query vector takes the majority label of its
    {KNN_K} nearest corpus neighbors by cosine (ties broken by vote
    count then smallest label, fully deterministic). Same broadcast
    query-set x corpus-scan shape as sim_bruteforce_topk — the
    WindowGroupLimit keeps k rows per query per task, and everything
    after the top-k runs on O(queries x k) rows. At 100 TB the scan
    swaps for the IVF index (sim_ivf_topk) with the vote stage
    unchanged."""
    e = spread(load(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
    )
    scored = e.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "true_label",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        cosine(_as_double("q_emb"), _as_double("embedding")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    votes = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .groupBy("query_id", "true_label", "neighbor_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neighbor_label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            F.col("neighbor_label").alias("predicted_label"),
            "n_votes",
            "true_label",
            (F.col("neighbor_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


# --- MMR diversified retrieval --------------------------------------------

MMR_K = 5        # final diversified picks per query
MMR_CAND = 20    # relevance-ranked candidate pool fed to the greedy loop
MMR_LAMBDA = 0.7  # relevance vs diversity trade-off


def _sql_mmr_steps() -> str:
    """Unrolled greedy MMR steps 2..MMR_K (step 1 is the top-relevance
    pick). Each step scores remaining candidates by
    λ·rel − (1−λ)·max-sim-to-selected and takes the argmax."""
    lam = f"CAST({MMR_LAMBDA} AS DOUBLE)"
    steps = []
    for k in range(2, MMR_K + 1):
        prev = f"sel{k-1}"
        steps.append(f"""
step{k} AS (
  SELECT query_id, neighbor_id, cosine, maxsim,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY {lam} * cosine - (1.0 - {lam}) * maxsim DESC,
                    neighbor_id) AS rn
  FROM (
    SELECT c.query_id, c.neighbor_id, c.cosine,
           (SELECT MAX(p.sim) FROM pair p
            WHERE p.query_id = c.query_id AND p.a = c.neighbor_id
              AND p.b IN (SELECT s.neighbor_id FROM {prev} s
                          WHERE s.query_id = c.query_id)) AS maxsim
    FROM cand c
    WHERE c.neighbor_id NOT IN (SELECT s.neighbor_id FROM {prev} s
                                WHERE s.query_id = c.query_id)
  )
),
sel{k} AS (
  SELECT query_id, neighbor_id, pick, mmr_score FROM {prev}
  UNION ALL
  SELECT query_id, neighbor_id, {k} AS pick,
         {lam} * cosine - (1.0 - {lam}) * maxsim AS mmr_score
  FROM step{k} WHERE rn = 1
)""")
    return ",".join(steps)


@register(
    "sim_mmr_diversify",
    tags=("llm", "similarity", "retrieval", "diversity"),
    oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
           / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
),
cand AS (
  SELECT query_id, neighbor_id, cosine FROM (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {MMR_CAND}
),
pair AS (
  SELECT a.query_id, a.neighbor_id AS a, b.neighbor_id AS b,
         list_inner_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
           / (sqrt(list_inner_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[]))
              * sqrt(list_inner_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])))
           AS sim
  FROM cand a
  JOIN cand b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
  JOIN embeddings eb ON eb.vec_id = b.neighbor_id
),
sel1 AS (
  SELECT query_id, neighbor_id, 1 AS pick, cosine AS mmr_score FROM (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rn
    FROM cand) WHERE rn = 1
),
{_sql_mmr_steps()}
SELECT query_id, CAST(pick AS INTEGER) AS pick, neighbor_id, mmr_score
FROM sel{MMR_K}
""",
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance — the diversified-retrieval pass a
    RAG pipeline runs AFTER top-k search so the context window isn't
    five copies of the same paragraph: greedily pick {MMR_K} of the
    top-{MMR_CAND} candidates, each step maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-picked (λ={MMR_LAMBDA};
    pick 1 scores its raw relevance by convention).

    Scale split: relevance ranking + the candidate×candidate cosine
    matrix are JVM-side (broadcast queries, WindowGroupLimit top-k,
    {MMR_CAND}²-bounded pair join per query); the inherently sequential
    greedy loop runs in ``applyInPandas`` over the per-query candidate
    frame — a BOUNDED {MMR_CAND}-row group, so Python cost is O(queries),
    not O(corpus). The pandas step consumes the JVM-computed float64
    sims unchanged (numpy does the same IEEE multiply-add the SQL
    oracle does), which is why the greedy argmax — and the whole
    output — still hash-matches DuckDB's {MMR_K}-step unrolled CTE."""
    import pandas as pd

    e = spread(load(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = e.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(_as_double("q_emb"), _as_double("embedding")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    cand = materialize(
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MMR_CAND)
        .select("query_id", "neighbor_id", "cosine")
    )
    # The pair join only ever touches CANDIDATE vectors (a/b come from
    # cand), so filter the corpus down to the bounded candidate-id set
    # first — broadcast the tiny id list into a semi-filter pass — and
    # broadcast THAT (<= queries x MMR_CAND rows by construction at any
    # corpus size) into the pair join. Broadcasting the full embeddings
    # table here would hit the 8 GB broadcast cap at production scale.
    emb = e.select("vec_id", _as_double("embedding").alias("emb"))
    cand_ids = cand.select(F.col("neighbor_id").alias("vec_id")).distinct()
    emb_c = emb.join(F.broadcast(cand_ids), "vec_id")
    ca = cand.select("query_id", F.col("neighbor_id").alias("a"))
    cb = cand.select("query_id", F.col("neighbor_id").alias("b"))
    pair = (
        ca.join(cb, "query_id")
        .filter(F.col("a") != F.col("b"))
        .join(F.broadcast(emb_c.select(F.col("vec_id").alias("a"), F.col("emb").alias("ea"))), "a")
        .join(F.broadcast(emb_c.select(F.col("vec_id").alias("b"), F.col("emb").alias("eb"))), "b")
        .select("query_id", "a", "b", cosine(F.col("ea"), F.col("eb")).alias("sim"))
    )
    merged = cand.join(
        pair.groupBy("query_id", "a").agg(
            F.map_from_arrays(
                F.collect_list("b"), F.collect_list("sim")
            ).alias("sims")
        ).withColumnRenamed("a", "neighbor_id"),
        ["query_id", "neighbor_id"],
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cosine", "neighbor_id"], ascending=[False, True]
        ).reset_index(drop=True)
        sims = dict(zip(pdf["neighbor_id"], pdf["sims"]))
        rel = dict(zip(pdf["neighbor_id"], pdf["cosine"]))
        remaining = list(pdf["neighbor_id"])
        first = remaining.pop(0)
        picks = [(first, 1, rel[first])]
        selected = [first]
        for k in range(2, MMR_K + 1):
            best = None
            for nid in remaining:
                maxsim = max(sims[nid][s] for s in selected)
                score = MMR_LAMBDA * rel[nid] - (1.0 - MMR_LAMBDA) * maxsim
                # argmax with (score DESC, neighbor_id ASC) tie-break —
                # identical to the oracle's ROW_NUMBER ordering.
                if best is None or score > best[1] or (
                    score == best[1] and nid < best[0]
                ):
                    best = (nid, score)
            picks.append((best[0], k, best[1]))
            selected.append(best[0])
            remaining.remove(best[0])
        out = pd.DataFrame(
            picks, columns=["neighbor_id", "pick", "mmr_score"]
        )
        out["query_id"] = pdf["query_id"].iloc[0]
        return out[["query_id", "pick", "neighbor_id", "mmr_score"]]

    return merged.groupBy("query_id").applyInPandas(
        greedy,
        schema="query_id long, pick int, neighbor_id long, mmr_score double",
    )


# --- ANN recall evaluation (IVF vs exact ground truth) --------------------


def _registered_oracle(name: str) -> str:
    from ..registry import all_queries

    return all_queries()[name].oracle


@register(
    "sim_recall_eval",
    tags=("llm", "similarity", "evaluation"),
    # Oracle built lazily below (composes the two registered oracles) —
    # registry assembles before first use, so resolve at import of this
    # module's tail, after both component queries registered.
    oracle=None,  # placeholder, replaced immediately after registration
)
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF ANN path against the exact brute-force
    ground truth — the eval every ANN deployment runs before trading
    exactness for speed, expressed as a JOIN of the two retrieval
    operators this engine already ships (both bitwise-deterministic,
    which is why the recall NUMBER itself is oracle-checkable — on
    most engines ANN eval is inherently flaky).

    Scale: both sides are per-query top-k frames (O(queries × k)), so
    the comparison join and per-query reduce are trivially small next
    to the retrieval passes themselves; the exact side is the one you
    sample down in production (ground truth over a query SAMPLE), the
    IVF side runs at full fleet scale."""
    exact = sim_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = sim_ivf_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor")
    )
    hit = approx.withColumnRenamed("ivf_neighbor", "neighbor_id").withColumn(
        "hit", F.lit(1)
    )
    joined = exact.join(hit, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
        (
            F.sum(F.coalesce("hit", F.lit(0))).cast("double")
            / F.count(F.lit(1))
        ).alias("recall"),
    )


# Compose the recall oracle from the two component oracles (each is a
# complete WITH..SELECT — legal as a parenthesized subquery).
from ..registry import _REGISTRY as _REG  # noqa: E402

_REG["sim_recall_eval"].oracle = f"""
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS recall
FROM ({_registered_oracle('sim_bruteforce_topk')}) e
LEFT JOIN ({_registered_oracle('sim_ivf_topk')}) i
  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
GROUP BY e.query_id
"""


# --- MIPS → cosine reduction ----------------------------------------------

MIPS_TOPK = 10


@register(
    "sim_mips_transform_topk",
    tags=("llm", "similarity", "mips"),
    oracle=f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS x,
         list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS s
  FROM embeddings
),
cap AS (SELECT MAX(s) AS s_max FROM base),
aug AS (
  SELECT b.vec_id, list_append(b.x, sqrt(c.s_max - b.s)) AS xa
  FROM base b CROSS JOIN cap c
),
q AS (
  SELECT b.vec_id AS query_id, b.x AS qx,
         list_append(b.x, CAST(0.0 AS DOUBLE)) AS qa
  FROM base b WHERE b.vec_id < 5
),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         list_inner_product(q.qx, b.x) AS ip,
         list_inner_product(q.qa, a.xa)
           / (sqrt(list_inner_product(q.qa, q.qa))
              * sqrt(list_inner_product(a.xa, a.xa))) AS cos_aug
  FROM q
  JOIN base b ON b.vec_id <> q.query_id
  JOIN aug a ON a.vec_id = b.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, ip, cos_aug,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ip DESC, neighbor_id) AS rank_ip,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_aug DESC, neighbor_id) AS rank_cos
  FROM scored
)
SELECT query_id, neighbor_id, ip, cos_aug,
       CAST(rank_ip AS INTEGER) AS rank,
       rank_ip = rank_cos AS agree
FROM ranked WHERE rank_ip <= {MIPS_TOPK}
""",
)
def sim_mips_transform_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search via the cosine-index reduction
    (Bachrach et al. / XBOX transform): append sqrt(S_max − ‖x‖²) to
    every corpus vector and 0 to queries — inner-product ranking then
    EQUALS cosine ranking on the augmented space, so the engine's
    whole cosine/LSH/IVF index stack answers MIPS (recommendation
    scoring, un-normalized rewards) with no new index type. The
    emitted ``agree`` column verifies rank equality per neighbor — an
    in-query proof of the reduction, hash-checked like everything
    else.

    The augmentation is one broadcast scalar (the corpus max norm²) +
    a projection; both rankings ride the same scored frame."""
    e = spread(load(spark, sf_dir, "embeddings"))
    base = e.select(
        "vec_id",
        _as_double("embedding").alias("x"),
    ).withColumn("s", dot(F.col("x"), F.col("x")))
    cap = base.agg(F.max("s").alias("s_max"))
    aug = base.crossJoin(F.broadcast(cap)).select(
        "vec_id",
        F.concat(
            F.col("x"), F.array(F.sqrt(F.col("s_max") - F.col("s")))
        ).alias("xa"),
    )
    q = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("x").alias("qx"),
        F.concat(F.col("x"), F.array(F.lit(0.0))).alias("qa"),
    )
    scored = (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .join(aug, "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dot(F.col("qx"), F.col("x")).alias("ip"),
            (
                dot(F.col("qa"), F.col("xa"))
                / (
                    F.sqrt(dot(F.col("qa"), F.col("qa")))
                    * F.sqrt(dot(F.col("xa"), F.col("xa")))
                )
            ).alias("cos_aug"),
        )
    )
    w_ip = Window.partitionBy("query_id").orderBy(
        F.col("ip").desc(), "neighbor_id"
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos_aug").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rank_ip", F.row_number().over(w_ip))
        .withColumn("rank_cos", F.row_number().over(w_cos))
        .filter(F.col("rank_ip") <= MIPS_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "ip",
            "cos_aug",
            F.col("rank_ip").cast("int").alias("rank"),
            (F.col("rank_ip") == F.col("rank_cos")).alias("agree"),
        )
    )


INC_DELTA_MOD = 5  # vec_id % 5 == 0 -> newly ingested vectors


@register(
    "sim_incremental_topk",
    tags=("llm", "similarity", "topk", "incremental"),
    # Oracle recomputes the GLOBAL top-k over base+delta directly: the
    # hash match proves the incremental merge identity (global top-k is
    # contained in the union of per-partition top-ks).
    oracle=f"""
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_inner_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
           / (sqrt(list_inner_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
           AS cosine
  FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
""",
)
def sim_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental top-k maintenance (the EDBT-2020 interactive-session
    shape, PAPERS.md): when the corpus grows by a DELTA batch, a cached
    per-query top-k over the BASE does not need recomputing — score the
    delta alone, take its per-query top-k, and re-rank the union of the
    two k-sized lists. Correct because the global top-k is always
    contained in the union of per-partition top-ks (rank is monotone
    under set union). This query executes exactly that plan — base
    top-k and delta top-k as separate subtrees, then a k x 2 merge —
    and the oracle recomputes the global top-k directly, so the hash
    match PROVES the merge identity on real data.

    Scale: the delta scan is O(delta x queries); the merge re-ranks
    2k rows per query. The base top-k stands in for the cached result
    a session store would hold — at 100 TB that cache turns every
    incremental refresh into a delta-only scan."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        (F.col("vec_id") % INC_DELTA_MOD == 0).alias("is_delta"),
    )

    def part_topk(part: DataFrame) -> DataFrame:
        scored = (
            q.join(part, F.col("neighbor_id") != F.col("query_id"))
            .select(
                "query_id",
                "neighbor_id",
                cosine(
                    F.col("q_emb").cast("array<double>"),
                    F.col("n_emb").cast("array<double>"),
                ).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), "neighbor_id"
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .drop("rank")
        )

    base_topk = part_topk(corpus.filter(~F.col("is_delta")))
    delta_topk = part_topk(corpus.filter("is_delta"))
    merged = base_topk.unionAll(delta_topk)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


# --- scalar quantization (SQ8): the remaining FAISS-family index ------------
#
# PQ compresses by codebook lookup; SQ8 compresses by per-DIMENSION
# affine quantization: each component is mapped to one byte via the
# dimension's [min, max] range learned from the corpus (FAISS
# IndexScalarQuantizer QT_8bit convention). 4x smaller than float32
# with near-exact recall on most embedding distributions, and — unlike
# PQ — encode/decode is pure elementwise arithmetic, no codebook join.
# Scoring is ASYMMETRIC (ADC-style): the full-precision query against
# reconstructed corpus vectors, which preserves ranking far better
# than code-vs-code. Determinism: the quantization bounds are exact
# MIN/MAX aggregates (no FP-sum order anywhere), the code is a floor()
# of an identically-parenthesized double expression on both engines,
# and the score is the same left-fold inner product every other sim_*
# oracle uses (list_inner_product == F.aggregate fold, proven bitwise
# since round 2).

SQ_LEVELS = 255  # byte codes 0..255


@register(
    "sim_sq8_topk",
    tags=("llm", "similarity", "ann", "quantization", "topk"),
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
dims AS (
  SELECT t.i AS dim, MIN(emb[t.i]) AS lo, MAX(emb[t.i]) AS hi
  FROM e, LATERAL unnest(range(1, len(emb) + 1)) AS t(i)
  GROUP BY t.i
),
stats AS (
  SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
  FROM dims
),
recon AS (
  SELECT e.vec_id,
         list_transform(range(1, len(emb) + 1), i ->
           CASE WHEN s.his[i] = s.los[i] THEN s.los[i]
                ELSE s.los[i]
                     + (LEAST(CAST({SQ_LEVELS} AS DOUBLE),
                              floor(((emb[i] - s.los[i]) * CAST({SQ_LEVELS} AS DOUBLE))
                                    / (s.his[i] - s.los[i])))
                        + CAST(0.5 AS DOUBLE))
                       * (s.his[i] - s.los[i]) / CAST({SQ_LEVELS} AS DOUBLE)
           END) AS rvec
  FROM e CROSS JOIN stats s
),
q AS (
  SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < {N_QUERIES}
),
scored AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         list_inner_product(q.q_emb, r.rvec) AS sq_score
  FROM q JOIN recon r ON r.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, sq_score, rank FROM (
  SELECT query_id, neighbor_id, sq_score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sq_score DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
""",
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) ANN: per-dimension [min, max] bounds from
    one statistics pass (map-side-combined MIN/MAX, 64 groups), each
    corpus component encoded to a byte code ``floor((v-lo)*255/(hi-lo))``
    and reconstructed at the bin midpoint; full-precision queries score
    against reconstructed vectors (asymmetric, ADC-style) and take the
    per-query top-k through the WindowGroupLimit pushdown. At 100 TB
    the byte codes are what you STORE (4x smaller scan than float32)
    while the stats row is a broadcast — no join, no codebook, encode
    and decode stay elementwise inside whole-stage codegen. Constant-
    range dimensions degrade to code 0 / exact reconstruction rather
    than dividing by zero."""
    e = spread(load(spark, sf_dir, "embeddings"))
    emb = F.col("embedding").cast("array<double>")
    corpus = e.select("vec_id", emb.alias("emb"))

    dims = (
        corpus.select(F.posexplode("emb").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    stats = dims.agg(
        F.sort_array(F.collect_list(F.struct("dim", "lo", "hi"))).alias("dlh")
    ).select(
        F.transform("dlh", lambda s: s["lo"]).alias("los"),
        F.transform("dlh", lambda s: s["hi"]).alias("his"),
    )

    lvl = F.lit(float(SQ_LEVELS))

    def recon_at(v, i):
        lo = F.element_at(F.col("los"), i + F.lit(1))
        hi = F.element_at(F.col("his"), i + F.lit(1))
        code = F.least(lvl, F.floor(((v - lo) * lvl) / (hi - lo)))
        return F.when(hi == lo, lo).otherwise(
            lo + (code + F.lit(0.5)) * (hi - lo) / lvl
        )

    recon = corpus.crossJoin(F.broadcast(stats)).select(
        "vec_id", F.transform("emb", recon_at).alias("rvec")
    )
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    scored = recon.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dot(F.col("q_emb"), F.col("rvec")).alias("sq_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sq_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


# --- SQ8 recall pricing ------------------------------------------------------


@register(
    "sim_sq8_recall_eval",
    tags=("llm", "similarity", "evaluation", "quantization"),
    oracle=None,  # composed below from the registered SQ8 oracle
)
def sim_sq8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of SQ8 retrieval against the EXACT inner-product top-k
    on the same full-precision vectors — pricing what one byte per
    dimension costs, the way sim_recall_eval prices IVF cell routing
    and sim_ivfpq_recall_eval prices the product quantizer. Ground
    truth is computed inline (exact IP, same broadcast scan shape), so
    both sides share metric and tie rule and the recall number itself
    is oracle-checkable."""
    e = spread(load(spark, sf_dir, "embeddings"))
    corpus = e.select("vec_id", _as_double("embedding").alias("emb"))
    q = corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    scored = corpus.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dot(F.col("q_emb"), F.col("emb")).alias("ip"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("ip").desc(), F.col("neighbor_id")
    )
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    approx = sim_sq8_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    joined = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
        (
            F.sum(F.coalesce("hit", F.lit(0))).cast("double")
            / F.count(F.lit(1))
        ).alias("recall"),
    )


_REG["sim_sq8_recall_eval"].oracle = f"""
WITH exact AS (
  WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
  q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < {N_QUERIES}),
  scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           list_inner_product(q.q_emb, e.emb) AS ip
    FROM q JOIN e ON e.vec_id <> q.query_id
  )
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ip DESC, neighbor_id) AS rank
    FROM scored
  ) WHERE rank <= {TOP_K}
)
SELECT x.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS recall
FROM exact x
LEFT JOIN ({{SQ8}}) a
  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
GROUP BY x.query_id
""".replace("{SQ8}", _registered_oracle("sim_sq8_topk"))


# --- NN-Descent k-NN graph construction ---------------------------------------
#
# The graph-ANN family (HNSW/NSG/DiskANN) is built ON a k-NN graph,
# and NN-Descent (Dong et al. 2011) is the standard way to build one
# without N^2 comparisons: start from an arbitrary graph and repeat
# "compare each node against its neighbors' neighbors" — good
# neighbors of good neighbors are likely good neighbors. Each round
# is ONE self-join of the O(N*k) edge list + a per-node top-k window:
# exactly the Spark shape (no index structure, no sequential insert
# loop — the reason NN-Descent, not HNSW insertion, is how k-NN
# graphs get built on clusters). Determinism: the seed graph is the
# fixed ring v -> (v + j*17) mod N, candidate sets are DISTINCT
# unions, ranking ties break by neighbor id, and the cosine fold is
# the module's bitwise cross-engine form. The oracle unrolls the
# identical rounds.

NND_K = 8
NND_ROUNDS = 8
NND_STEP = 17  # coprime with every fixture N (500, 2000)


def nn_descent(
    spark: SparkSession, emb: DataFrame, n: int, k: int, rounds: int
) -> DataFrame:
    """Core NN-Descent loop over ``emb(vec_id, x: array<double>)`` with
    vec_ids 0..n-1: ring seed, then per round candidates = undirected
    neighborhood self-join + current edges, cosine-scored, top-k per
    node (ties by id). Returns the directed edge frame (v, u)."""
    # Per-vector norms ONCE, joined into the pair scoring: the naive
    # per-pair norm(xv)*norm(xw) re-folds both self-products for every
    # candidate pair — 2/3 of the interpreted-lambda work on the
    # dominant stage (measured ~21 s -> ~9 s at sf0.1 across the two
    # graph-ANN queries). Bitwise identical: the norm is the same fold
    # over the same array, and IEEE ops on identical doubles are
    # deterministic — the oracle still recomputes per pair.
    embn = materialize(emb.select(
        "vec_id", "x", norm(F.col("x")).alias("nx")
    ))
    g = (
        emb.select("vec_id")
        .crossJoin(
            F.broadcast(spark.range(1, k + 1).select(F.col("id").alias("j")))
        )
        .select(
            F.col("vec_id").alias("v"),
            ((F.col("vec_id") + F.col("j") * NND_STEP) % n).alias("u"),
        )
        .filter(F.col("u") != F.col("v"))
    )

    # Per-round plan shape (optimization r13, guide §2.2/2.4/2.5): TWO
    # explicit keyed exchanges, everything downstream riding them.
    #
    #   * ``und`` hash-repartitions on v with an explicit partition
    #     count: the distinct (clustering {v,u} ⊇ {v}), the
    #     adjacency-list aggregate (key v), the candidate distinct, and
    #     the final top-k window (key v) all reuse that partitioning.
    #     The count is ROWS-derived (``ann_partitions`` — the rows
    #     analog of AQE's byte advisory, because each candidate row
    #     costs a 64-term interpreted cosine downstream, not bytes):
    #     byte-based AQE coalescing collapsed these narrow-row stages
    #     to ONE task (the 0.7 s single-task stage per round in the
    #     stage profile), while a flat cores-count oversliced them
    #     (measured 12.7 s at 32 partitions vs 4.5 s at the ~9 the
    #     rows rule picks — per-task fixed cost dominates µs-scale
    #     row work at this grain; at corpus scale the same rule
    #     yields cluster-wide parallelism, capped at 4× the scheduler
    #     slots).
    #   * neighbors-of-neighbors come from exploding each node's OWN
    #     adjacency list against itself (und is symmetric, so in- and
    #     out-neighborhoods coincide) instead of the old und⋈und
    #     self-join — same candidate multiset, one exchange less, and
    #     no join hash table over the edge frame; both directions of
    #     an edge emit from ONE generator pass instead of a 2×-task
    #     union of two scans.
    #   * the score joins broadcast embn explicitly WHEN IT FITS
    #     (``bounded_broadcast``): a checkpointed frame has no catalog
    #     stats, so the planner shuffled both sides and AQE collapsed
    #     the compute-dense scoring stage to one task. embn is
    #     corpus-sized (all N vectors + norms), so the hint is gated on
    #     N — above the budget the join reverts to a shuffle that the
    #     explicit candidate repartition keeps fanned out.
    #
    # Results are bitwise unchanged: candidates are DISTINCT unions
    # either way, the cosine fold and tie-breaks are untouched.
    npart = ann_partitions(spark, n * k * (k + 1))

    def _nnd_step(g: DataFrame, _i: int) -> DataFrame:
        und = (
            g.select(
                F.explode(
                    F.array(
                        F.struct(F.col("v"), F.col("u")),
                        F.struct(
                            F.col("u").alias("v"), F.col("v").alias("u")
                        ),
                    )
                ).alias("e")
            )
            .select("e.v", "e.u")
            .repartition(npart, "v")
            .distinct()
        )
        adj = und.groupBy("v").agg(F.collect_list("u").alias("ns"))
        nofn = adj.select(F.explode("ns").alias("v"), "ns").select(
            "v", F.explode("ns").alias("w")
        )
        # the w != v filter sits AFTER the union+distinct (identical
        # set: the und branch never holds w == v) — filtering inside
        # the nofn branch trips a Catalyst Union constraint-rewrite
        # error ("key not found: v#…") once the loop state is a
        # checkpointed LogicalRDD.
        cand = (
            nofn.union(und.select("v", F.col("u").alias("w")))
            .repartition(npart, "v")
            .distinct()
            .filter(F.col("w") != F.col("v"))
        )
        sc = (
            cand.join(
                bounded_broadcast(
                    embn.select(
                        F.col("vec_id").alias("v"),
                        F.col("x").alias("xv"),
                        F.col("nx").alias("nv"),
                    ),
                    n,
                ),
                "v",
            )
            .join(
                bounded_broadcast(
                    embn.select(
                        F.col("vec_id").alias("w"),
                        F.col("x").alias("xw"),
                        F.col("nx").alias("nw"),
                    ),
                    n,
                ),
                "w",
            )
            .select(
                "v",
                "w",
                (
                    dot(F.col("xv"), F.col("xw"))
                    / (F.col("nv") * F.col("nw"))
                ).alias("cosine"),
            )
        )
        wnd = Window.partitionBy("v").orderBy(F.col("cosine").desc(), "w")
        return (
            sc.withColumn("rk", F.row_number().over(wnd))
            .filter(F.col("rk") <= k)
            .select("v", F.col("w").alias("u"))
        )

    return iterate(g, _nnd_step, rounds, eager=True)


def _nnd_oracle() -> str:
    cos = (
        "list_inner_product(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[])"
        " / (sqrt(list_inner_product(e1.embedding::DOUBLE[],"
        " e1.embedding::DOUBLE[]))"
        " * sqrt(list_inner_product(e2.embedding::DOUBLE[],"
        " e2.embedding::DOUBLE[])))"
    )
    lines = [
        # ONE materialized scan: the unrolled rounds reference the
        # embedding frame ~4x per round, and DuckDB re-opens the
        # parquet file per view reference — enough to exhaust the fd
        # limit inside a long driver session (observed); MATERIALIZED
        # pins a single scan.
        "WITH embm AS MATERIALIZED (SELECT vec_id, embedding"
        " FROM embeddings),",
        "n AS (SELECT COUNT(*) AS n FROM embm),",
        "g0 AS MATERIALIZED (",
        "  SELECT v.vec_id AS v,",
        f"         CAST((v.vec_id + j.j * {NND_STEP}) % (SELECT n FROM n)"
        "           AS BIGINT) AS u",
        f"  FROM embm v, LATERAL unnest(range(1, {NND_K} + 1)) AS j(j)",
        f"  WHERE (v.vec_id + j.j * {NND_STEP}) % (SELECT n FROM n)"
        "    <> v.vec_id),",
    ]
    # EVERY per-round CTE is MATERIALIZED: und is referenced 3x by
    # cand, so un-materialized CTEs inline ~6x per round — an
    # exponential 6^rounds expansion that multiplies the parquet scan
    # thousands of times ("too many open files") or hangs the
    # optimizer outright (observed both). Materialization makes each
    # round evaluate exactly once, mirroring the Spark side's
    # localCheckpoint-per-round.
    for r in range(NND_ROUNDS):
        lines += [
            f"und{r} AS MATERIALIZED (SELECT v, u FROM g{r}"
            f" UNION SELECT u, v FROM g{r}),",
            f"cand{r} AS MATERIALIZED (",
            f"  SELECT DISTINCT a.v, b.u AS w",
            f"  FROM und{r} a JOIN und{r} b ON a.u = b.v WHERE b.u <> a.v",
            f"  UNION SELECT v, u FROM und{r}),",
            f"sc{r} AS MATERIALIZED (",
            f"  SELECT c.v, c.w, {cos} AS cosine",
            f"  FROM cand{r} c",
            f"  JOIN embm e1 ON e1.vec_id = c.v",
            f"  JOIN embm e2 ON e2.vec_id = c.w),",
            f"g{r + 1} AS MATERIALIZED (",
            f"  SELECT v, w AS u FROM (",
            f"    SELECT v, w, ROW_NUMBER() OVER (PARTITION BY v",
            f"      ORDER BY cosine DESC, w) AS rk FROM sc{r})",
            f"  WHERE rk <= {NND_K}),",
        ]
    lines[-1] = lines[-1].rstrip(",")
    g = f"g{NND_ROUNDS}"
    return "\n".join(lines) + f"""
SELECT gg.v AS vec_id, gg.u AS neighbor_id,
       list_inner_product(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[])
         / (sqrt(list_inner_product(e1.embedding::DOUBLE[],
                 e1.embedding::DOUBLE[]))
            * sqrt(list_inner_product(e2.embedding::DOUBLE[],
                   e2.embedding::DOUBLE[]))) AS cosine
FROM {g} gg
JOIN embm e1 ON e1.vec_id = gg.v
JOIN embm e2 ON e2.vec_id = gg.u
"""


@register(
    "sim_nn_descent",
    tags=("llm", "similarity", "knn-graph", "iterative"),
    oracle=_nnd_oracle(),
)
def sim_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph by {NND_ROUNDS} NN-Descent rounds from a
    deterministic ring seed: per round, candidates = the undirected
    neighborhood joined with itself (neighbors' neighbors + reverse
    edges), scored by the bitwise cosine fold, pruned to the top
    {NND_K} per node (ties by id). Emits the final (vec_id,
    neighbor_id, cosine) graph. Scale: each round shuffles O(N*k^2)
    candidate ids — never payload vectors until the score join — and
    the top-k window partitions by node; no stage is quadratic in N.
    Note on absolute recall: convergence is ~log N rounds on data
    with cosine locality (the regime real embedding corpora live in;
    the d=8 test fixture reaches 0.92 recall@8 in 8 rounds), while the
    corpus fixture's iid-random 64-dim vectors are the known hard case
    (weak neighborhood transitivity) where the same 8 rounds reach
    ~0.44 — measured, documented, and asserted as a >= 4x improvement
    over the seed graph rather than an absolute bar."""
    e = load(spark, sf_dir, "embeddings")
    n = e.count()  # O(1) scalar; the oracle's (SELECT COUNT(*)) twin
    emb = materialize(e.select("vec_id", _as_double("embedding").alias("x")))
    g = nn_descent(spark, emb, n, NND_K, NND_ROUNDS)
    out = (
        g.join(
            bounded_broadcast(
                emb.select(F.col("vec_id").alias("v"), F.col("x").alias("xv")),
                n,
            ),
            "v",
        )
        .join(
            bounded_broadcast(
                emb.select(F.col("vec_id").alias("u"), F.col("x").alias("xu")),
                n,
            ),
            "u",
        )
        .select(
            F.col("v").alias("vec_id"),
            F.col("u").alias("neighbor_id"),
            (
                dot(F.col("xv"), F.col("xu"))
                / (norm(F.col("xv")) * norm(F.col("xu")))
            ).alias("cosine"),
        )
    )
    return out


# --- beam search over the k-NN graph (the graph-ANN query path) ---------------
#
# sim_nn_descent BUILDS the k-NN graph; this is the other half of a
# graph-ANN index: answering a query by GREEDY BEAM SEARCH over that
# graph (the HNSW/NSG search procedure, single-layer form). Per hop,
# the beam's out-neighbors become candidates, are scored against the
# query, and the top BEAM_W survive; a fixed hop budget replaces the
# usual converged-when-no-improvement stop so the whole search is a
# deterministic unrollable pipeline (and at 100 TB, a BATCH of
# queries runs as one frame — per-hop: one join + one window — not a
# per-query loop). Entry points are the ring-seed neighbors of node 0
# plus node 0 itself, deterministic. Recall vs exact top-k is the
# quality readout and is asserted in tests.

BEAM_W = 12
BEAM_HOPS = 4


def _beam_oracle() -> str:
    cos = (
        "list_inner_product(eq.embedding::DOUBLE[], ec.embedding::DOUBLE[])"
        " / (sqrt(list_inner_product(eq.embedding::DOUBLE[],"
        " eq.embedding::DOUBLE[]))"
        " * sqrt(list_inner_product(ec.embedding::DOUBLE[],"
        " ec.embedding::DOUBLE[])))"
    )
    # the k-NN graph: reuse the full NN-Descent unroll, then search it
    g = _nnd_oracle()
    head, tail = g.split("\nSELECT gg.v AS vec_id,", 1)
    lines = [
        head + ",",
        f"knn AS MATERIALIZED (SELECT v, u FROM g{NND_ROUNDS}),",
        f"queries AS (SELECT vec_id AS q FROM embm WHERE vec_id <"
        f" {N_QUERIES}),",
        # DuckDB disallows subqueries inside lambdas, so the ring
        # entries come from a LATERAL range cross-joined with n
        "beam0 AS MATERIALIZED (",
        "  SELECT DISTINCT qq.q,"
        f" CAST((j.j * {NND_STEP}) % nn.n AS BIGINT) AS c",
        "  FROM queries qq CROSS JOIN n nn,",
        f"  LATERAL unnest(range(0, {NND_K} + 1)) AS j(j)",
        f"  WHERE CAST((j.j * {NND_STEP}) % nn.n AS BIGINT) <> qq.q),",
    ]
    for h in range(BEAM_HOPS):
        lines += [
            f"bcand{h} AS MATERIALIZED (",
            f"  SELECT DISTINCT b.q, k.u AS c FROM beam{h} b",
            f"  JOIN knn k ON k.v = b.c",
            f"  WHERE k.u <> b.q",
            f"  UNION SELECT q, c FROM beam{h}),",
            f"bsc{h} AS MATERIALIZED (",
            f"  SELECT c.q, c.c, {cos} AS cosine",
            f"  FROM bcand{h} c",
            f"  JOIN embm eq ON eq.vec_id = c.q",
            f"  JOIN embm ec ON ec.vec_id = c.c),",
            f"beam{h + 1} AS MATERIALIZED (",
            f"  SELECT q, c FROM (",
            f"    SELECT q, c, ROW_NUMBER() OVER (PARTITION BY q",
            f"      ORDER BY cosine DESC, c) AS rk FROM bsc{h})",
            f"  WHERE rk <= {BEAM_W}),",
        ]
    lines[-1] = lines[-1].rstrip(",")
    return "\n".join(lines) + f"""
SELECT b.q AS query_id, b.c AS neighbor_id,
       list_inner_product(eq.embedding::DOUBLE[], ec.embedding::DOUBLE[])
         / (sqrt(list_inner_product(eq.embedding::DOUBLE[],
                 eq.embedding::DOUBLE[]))
            * sqrt(list_inner_product(ec.embedding::DOUBLE[],
                   ec.embedding::DOUBLE[]))) AS cosine
FROM beam{BEAM_HOPS} b
JOIN embm eq ON eq.vec_id = b.q
JOIN embm ec ON ec.vec_id = b.c
"""


@register(
    "sim_knn_graph_search",
    tags=("llm", "similarity", "knn-graph", "search"),
    oracle=_beam_oracle(),
)
def sim_knn_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch beam search ({BEAM_HOPS} hops, width {BEAM_W}) over the
    NN-Descent k-NN graph for the {N_QUERIES} standard query vectors:
    per hop, expand the beam through the graph's out-edges, score
    against the query (bitwise cosine fold), keep the top beam per
    query (ties by id). Emits the final beam with scores — the
    graph-ANN answer set whose recall the tests grade against exact
    top-k. Scale: queries batch into ONE frame; each hop is an
    equi-join against the O(N*k) edge list + a per-query window —
    candidate ids shuffle, payload vectors only enter the score join."""
    e = load(spark, sf_dir, "embeddings")
    n = e.count()
    emb = materialize(e.select("vec_id", _as_double("embedding").alias("x")))
    knn = nn_descent(spark, emb, n, NND_K, NND_ROUNDS)
    # per-vector norms once (see nn_descent's embn note)
    embn = materialize(emb.select(
        "vec_id", "x", norm(F.col("x")).alias("nx")
    ))
    queries = materialize(embn.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q"),
        F.col("x").alias("xq"),
        F.col("nx").alias("nq"),
    ))
    entries = [0] + [(0 + j * NND_STEP) % n for j in range(1, NND_K + 1)]
    start = (
        queries.select("q")
        .crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [(int(c),) for c in entries], "c bigint"
                ).distinct()
            )
        )
        .filter(F.col("c") != F.col("q"))
    )
    # Per-hop plan shape (optimization r13, guide §2.4/2.5, the
    # nn_descent recipe): ONE explicit keyed exchange on q — the
    # candidate distinct and the per-query window both ride it — with
    # the bounded query frame broadcast outright and the corpus-sized
    # frames (the O(N·k) edge list, the N-row embn) broadcast ONLY
    # while they fit (``bounded_broadcast``; checkpointed frames have
    # no stats, so the planner was shuffling both sides and AQE then
    # collapsed the compute-dense scoring stage to one task — above
    # the budget the joins revert to shuffles the explicit candidate
    # repartition keeps fanned out). The partition count is
    # rows-derived (``ann_partitions``): the beam frame is
    # queries × beam-width × (k+1) rows, so a small query batch rides
    # one task while a production batch fans out. Bitwise unchanged:
    # same DISTINCT candidate set, same fold, same tie-breaks.
    npart = ann_partitions(spark, N_QUERIES * BEAM_W * (NND_K + 1))

    def _hop(beam: DataFrame, _i: int) -> DataFrame:
        expand = (
            beam.join(
                bounded_broadcast(knn.withColumnRenamed("v", "c"), n * NND_K),
                "c",
            )
            .filter(F.col("u") != F.col("q"))
            .select("q", F.col("u").alias("c"))
        )
        cand = (
            expand.union(beam.select("q", "c"))
            .repartition(npart, "q")
            .distinct()
        )
        sc = (
            cand.join(F.broadcast(queries), "q")
            .join(
                bounded_broadcast(
                    embn.select(
                        F.col("vec_id").alias("c"),
                        F.col("x").alias("xc"),
                        F.col("nx").alias("nc"),
                    ),
                    n,
                ),
                "c",
            )
            .select(
                "q",
                "c",
                (
                    dot(F.col("xq"), F.col("xc"))
                    / (F.col("nq") * F.col("nc"))
                ).alias("cosine"),
            )
        )
        wnd = Window.partitionBy("q").orderBy(F.col("cosine").desc(), "c")
        return (
            sc.withColumn("rk", F.row_number().over(wnd))
            .filter(F.col("rk") <= BEAM_W)
            .select("q", "c")
        )

    beam = iterate(start, _hop, BEAM_HOPS)
    return (
        beam.join(F.broadcast(queries), "q")
        .join(
            bounded_broadcast(
                embn.select(
                    F.col("vec_id").alias("c"),
                    F.col("x").alias("xc"),
                    F.col("nx").alias("nc"),
                ),
                n,
            ),
            "c",
        )
        .select(
            F.col("q").alias("query_id"),
            F.col("c").alias("neighbor_id"),
            (dot(F.col("xq"), F.col("xc")) / (F.col("nq") * F.col("nc"))).alias(
                "cosine"
            ),
        )
    )


# --- SemDeDup: cluster-bounded semantic dedup ----------------------------------

# ε-ball cosine threshold. Calibrated to the synthetic corpus: its max
# pairwise cosine is ~0.6 (no planted embedding near-dups), so the
# paper's ~0.95-tier threshold would make the drop branch dead code.
# 0.35 drops ~10-20% at every local SF (measured), keeping both kept
# branches live; production swaps the constant, not the plan.
SEMDEDUP_TAU = 0.35


@register(
    "dedup_semdedup",
    tags=("llm", "dedup", "embedding", "semdedup"),
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cemb
  FROM embeddings
  WHERE vec_id % {IVF_STRIDE} = 0 AND vec_id < {IVF_STRIDE * IVF_MAX_CENTROIDS}
),
scored AS (
  SELECT e.vec_id, c.cid,
         list_inner_product(e.embedding::DOUBLE[], c.cemb)
           / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_inner_product(c.cemb, c.cemb))) AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
mem AS (
  SELECT a.vec_id, a.cid, e.embedding::DOUBLE[] AS emb
  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
),
dup AS (
  SELECT DISTINCT a.vec_id
  FROM mem a JOIN mem b ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE list_inner_product(a.emb, b.emb)
          / (sqrt(list_inner_product(a.emb, a.emb))
             * sqrt(list_inner_product(b.emb, b.emb)))
        > CAST({SEMDEDUP_TAU} AS DOUBLE)
)
SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cell,
       d.vec_id IS NULL AS kept
FROM mem m LEFT JOIN dup d ON d.vec_id = m.vec_id
""",
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    with the pairwise work BOUNDED BY CLUSTER — k-means-style cells
    first, exact cosine only WITHIN a cell, drop any vector that has a
    same-cell neighbor above SEMDEDUP_TAU with a smaller vec_id (the
    id-deterministic representative rule; the paper keeps the member
    closest to the centroid — that ranking is the production swap, the
    lowest-id rule is its oracle-exact stand-in). Complements the
    text-level near-dup family: MinHash catches lexical copies,
    SemDeDup catches paraphrases/translations that share no shingles.

    Output: (vec_id, cell, kept) — the full census, so downstream
    passes can both filter (kept) and audit per-cell drop rates.

    Shape at scale: cell assignment reuses the IVF coarse quantizer
    (broadcast centroids, map-only Arrow scan — O(n·K), no shuffle);
    the candidate join shuffles on cell id ONCE, and each task's
    pairwise work is O((n/K)²) for its cells — K is the quadratic
    bound, exactly the paper's trick (they run K = 50k on 600M docs).
    A skewed cell would recreate the quadratic corner; the
    dedup_minhash_lsh hot-bucket star-edge cap is the documented
    mitigation if assignments ever concentrate. Dot products fold
    left-to-right in double — bitwise identical to the oracle's
    list_inner_product."""
    e = spread(load(spark, sf_dir, "embeddings"))
    # ONE materialized instance of the assignment scan (optimization
    # r13, guide §4/§5): mem has three consumers (both pairwise sides +
    # the final census join), and un-checkpointed each re-ran the
    # Arrow-batched assign_cell pass — the per-stage Python-worker
    # init/transfer was the query's dominant cost in the SQL-node
    # profile. The materialized frame is the corpus projected to
    # (id, embedding, cell) — the same bytes the pairwise stage must
    # read anyway. (The plan-audit entry for this query's
    # ArrowEvalPython node retires with the checkpoint: the emitted
    # plan now starts at the materialized LogicalRDD.)
    # The checkpointed projection also carries the f64 cast and the
    # per-vector norm, so the cell-bounded pairwise stage pays ONE
    # interpreted fold per pair (the dot) instead of three — the
    # nn_descent norms-once trick. Bitwise unchanged: the norm is the
    # same fold over the same doubles, and the product/division see
    # identical operands.
    mem = materialize(
        ivf_corpus_cells(spark, sf_dir, e)
        .select(
            "vec_id",
            "cell",
            _as_double("embedding").alias("emb"),
            norm(_as_double("embedding")).alias("nx"),
        )
    )
    # NOTE (optimization r14): an explicit cell-keyed repartition was
    # A/B-measured HERE and reverted (1.57 -> 1.94 s at sf0.1 — this
    # variant's pairwise stage is too light to pay for the extra
    # exchange); the heavier centroid_rep variant below keeps it.
    a = mem.select(
        F.col("vec_id").alias("va"),
        F.col("cell").alias("ca"),
        F.col("emb").alias("emb_a"),
        F.col("nx").alias("na"),
    )
    b = mem.select(
        F.col("vec_id").alias("vb"),
        F.col("cell").alias("cb"),
        F.col("emb").alias("emb_b"),
        F.col("nx").alias("nb"),
    )
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (F.col("na") * F.col("nb"))
    dup = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("vb") < F.col("va")))
        .filter(cos > F.lit(SEMDEDUP_TAU))
        .select(F.col("va").alias("vec_id"))
        .distinct()
    )
    return (
        mem.join(dup.withColumn("is_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            F.col("is_dup").isNull().alias("kept"),
        )
    )


@register(
    "dedup_semdedup_centroid_rep",
    tags=("llm", "dedup", "embedding", "semdedup"),
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cemb
  FROM embeddings
  WHERE vec_id % {IVF_STRIDE} = 0 AND vec_id < {IVF_STRIDE * IVF_MAX_CENTROIDS}
),
scored AS (
  SELECT e.vec_id, c.cid,
         list_inner_product(e.embedding::DOUBLE[], c.cemb)
           / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_inner_product(c.cemb, c.cemb))) AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cid, ccos FROM (
    SELECT vec_id, cid, ccos,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
mem AS (
  SELECT a.vec_id, a.cid, a.ccos, e.embedding::DOUBLE[] AS emb
  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
),
dup AS (
  SELECT DISTINCT a.vec_id
  FROM mem a JOIN mem b
    ON a.cid = b.cid
   AND (b.ccos > a.ccos OR (b.ccos = a.ccos AND b.vec_id < a.vec_id))
  WHERE list_inner_product(a.emb, b.emb)
          / (sqrt(list_inner_product(a.emb, a.emb))
             * sqrt(list_inner_product(b.emb, b.emb)))
        > CAST({SEMDEDUP_TAU} AS DOUBLE)
)
SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cell,
       m.ccos AS centroid_cos,
       d.vec_id IS NULL AS kept
FROM mem m LEFT JOIN dup d ON d.vec_id = m.vec_id
""",
)
def dedup_semdedup_centroid_rep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the PAPER'S representative rule (Abbas et al.
    2023, arXiv:2303.09540 §3): within an ε-ball of semantic
    duplicates, keep the member whose cosine to its cluster centroid
    ranks FIRST — i.e. drop a vector iff some same-cell neighbor above
    SEMDEDUP_TAU is more central (higher centroid cosine; exact-tie
    fallback: lower vec_id, making the rule total and deterministic).
    ``dedup_semdedup`` is the lowest-id stand-in; this variant is the
    production rule — same cell-bounded plan, one extra broadcast join
    to score centrality.

    Cross-engine determinism: the centrality score reuses the
    assignment's own cosine — Spark recomputes it with the
    ``F.aggregate`` left fold against a broadcast K-row centroid
    frame, DuckDB keeps the winning ``ccos`` from the assignment CTE;
    both are the identical dimension-order fold over exact f32→f64
    casts, so the ranking comparisons match bitwise (ties between
    DISTINCT vectors would need exactly equal doubles and are handled
    by the id fallback either way).

    Shape at scale: identical to ``dedup_semdedup`` — broadcast
    centroids (map-only assignment + map-only centrality join, no
    shuffle), ONE shuffle on cell id for the pairwise stage, per-task
    work O((n/K)²) bounded by the cell; the
    ``dedup_semdedup_cell_audit`` skew audit covers this variant too
    (same assignment)."""
    e = spread(load(spark, sf_dir, "embeddings"))
    mem = ivf_corpus_cells(spark, sf_dir, e)
    cents, _ = _ivf_index(spark, sf_dir)
    # Centroid norms precomputed with the same left fold in Python
    # (the ivf_corpus_cells cnorms recipe) so the broadcast join ships
    # them instead of re-folding per corpus row.
    cent_rows = []
    for cid, cvec in cents:
        s = 0.0
        for x in cvec:
            s = s + x * x
        cent_rows.append((cid, list(cvec), float(s) ** 0.5))
    cent_df = spark.createDataFrame(
        cent_rows, "cell long, cemb array<double>, cnorm double"
    )
    # ONE materialized instance of the assignment+centrality scan
    # (optimization r13 — the dedup_semdedup note): memc has three
    # consumers, and un-checkpointed each re-ran the Arrow assign_cell
    # pass plus the interpreted centrality fold. The projection also
    # carries the f64 cast and per-vector norm so the pairwise stage
    # pays one fold per pair (dot) instead of three.
    memc = materialize(
        mem.join(F.broadcast(cent_df), "cell")
        .select(
            "vec_id",
            "cell",
            _as_double("embedding").alias("emb"),
            norm(_as_double("embedding")).alias("nx"),
            "cemb",
            "cnorm",
        )
        .select(
            "vec_id",
            "cell",
            "emb",
            "nx",
            (
                dot(F.col("emb"), F.col("cemb"))
                / (F.col("nx") * F.col("cnorm"))
            ).alias("ccos"),
        )
    )
    # Explicit cell-keyed repartition (optimization r14, guide §2.5):
    # same single-task fix as dedup_semdedup's pairwise stage.
    memcp = memc.repartition(spark.sparkContext.defaultParallelism, "cell")
    a = memcp.select(
        F.col("vec_id").alias("va"),
        F.col("cell").alias("ca"),
        F.col("emb").alias("emb_a"),
        F.col("nx").alias("na"),
        F.col("ccos").alias("ccos_a"),
    )
    b = memcp.select(
        F.col("vec_id").alias("vb"),
        F.col("cell").alias("cb"),
        F.col("emb").alias("emb_b"),
        F.col("nx").alias("nb"),
        F.col("ccos").alias("ccos_b"),
    )
    more_central = (F.col("ccos_b") > F.col("ccos_a")) | (
        (F.col("ccos_b") == F.col("ccos_a")) & (F.col("vb") < F.col("va"))
    )
    pair_cos = dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("na") * F.col("nb")
    )
    dup = (
        a.join(b, (F.col("ca") == F.col("cb")) & more_central)
        .filter(pair_cos > F.lit(SEMDEDUP_TAU))
        .select(F.col("va").alias("vec_id"))
        .distinct()
    )
    return (
        memc.join(dup.withColumn("is_dup", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            F.col("ccos").alias("centroid_cos"),
            F.col("is_dup").isNull().alias("kept"),
        )
    )


@register(
    "dedup_semdedup_cell_audit",
    tags=("llm", "dedup", "semdedup", "audit"),
    oracle=f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cemb
  FROM embeddings
  WHERE vec_id % {IVF_STRIDE} = 0 AND vec_id < {IVF_STRIDE * IVF_MAX_CENTROIDS}
),
scored AS (
  SELECT e.vec_id, c.cid,
         list_inner_product(e.embedding::DOUBLE[], c.cemb)
           / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_inner_product(c.cemb, c.cemb))) AS ccos
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
per AS (
  SELECT cid, COUNT(*) AS n FROM assigned GROUP BY cid
),
tot AS (
  SELECT SUM(n * (n - 1) / 2) AS pw, SUM(n) AS nv, COUNT(*) AS k FROM per
)
SELECT CAST(p.cid AS BIGINT) AS cell,
       CAST(p.n AS BIGINT) AS n_members,
       CAST(p.n * (p.n - 1) / 2 AS BIGINT) AS n_pairs,
       CAST(p.n * (p.n - 1) / 2 AS DOUBLE) / t.pw AS pair_share,
       CAST(p.n AS DOUBLE) * t.k / t.nv AS skew_vs_uniform
FROM per p CROSS JOIN tot t
""",
)
def dedup_semdedup_cell_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-size audit for ``dedup_semdedup`` — the non-silent-cap
    companion (the ``dedup_lsh_bucket_audit`` convention): SemDeDup's
    quadratic bound is the cell, so a skewed assignment silently
    recreates the O(n²) corner this design exists to avoid. Per cell:
    member count, implied pairwise-comparison count, that cell's share
    of the corpus' total pairwise work, and its size relative to a
    uniform n/K spread. A curation pipeline alerts on pair_share (one
    cell owning most of the pairwise budget means re-train centroids
    or split the cell) BEFORE running the dedup pass.

    Scale: the assignment is the same map-only broadcast-centroid
    scan as the dedup itself; the audit reduces it to K rows — cost
    is one corpus pass, no pair materialization at all."""
    e = spread(load(spark, sf_dir, "embeddings"))
    mem = ivf_corpus_cells(spark, sf_dir, e)
    per = mem.groupBy(F.col("cell").alias("cid")).agg(
        F.count(F.lit(1)).alias("n")
    )
    pairs = (F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
    tot = per.agg(
        F.sum((F.col("n") * (F.col("n") - 1) / 2).cast("bigint")).alias("pw"),
        F.sum("n").alias("nv"),
        F.count(F.lit(1)).alias("k"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("cid").cast("bigint").alias("cell"),
        F.col("n").cast("bigint").alias("n_members"),
        pairs.alias("n_pairs"),
        (pairs.cast("double") / F.col("pw")).alias("pair_share"),
        # n vs the uniform nv/k spread over the k NON-EMPTY cells
        (F.col("n").cast("double") * F.col("k") / F.col("nv")).alias(
            "skew_vs_uniform"
        ),
    )
