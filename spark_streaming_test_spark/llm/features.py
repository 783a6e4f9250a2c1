"""Feature preprocessing over embedding columns.

Model-input hygiene for the vector side of a training pipeline:
per-dimension standardization (z-scoring) is what PCA/whitening,
distance calibration, and quantizer training all assume upstream.

Shape at scale: ``posexplode`` fans the corpus to (vec_id, dim, value)
— the same layout the k-means update step uses — aggregates per dim
with map-side partial combine (the shuffle carries O(tasks x dims)
partials, not the corpus), and the 64-row dim-stats frame broadcasts
back onto the exploded stream. Everything is Catalyst expressions;
no Python touches the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..functions.deterministic import davg, dsum, sql_davg, sql_dsum
from ..iterate import materialize
from ..registry import register

Z_DP = 6  # z-score rounding (see functions/deterministic.py)


@register(
    "emb_dim_standardize",
    tags=("llm", "embeddings", "features"),
    oracle=f"""
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
),
stats AS (
  SELECT dim,
         {sql_davg('v')} AS mu,
         sqrt({sql_dsum('v * v')} / CAST(COUNT(*) AS DOUBLE)
              - ({sql_davg('v')}) * ({sql_davg('v')})) AS sigma
  FROM dims GROUP BY dim
)
SELECT d.vec_id, CAST(d.dim - 1 AS INTEGER) AS dim,
       round((d.v - s.mu) / s.sigma, {Z_DP}) AS z
FROM dims d JOIN stats s ON d.dim = s.dim
""",
)
def emb_dim_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score of every embedding component (population
    sigma). Returned long-form (vec_id, dim, z) — the layout the next
    aggregate consumes, and array-canon-safe for the driver gate.

    Determinism: mean and E[v²] go through exact decimal sums, sigma
    and the final ratio are IEEE ops on identical doubles, and z rounds
    to {Z_DP} dp on both engines."""
    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    dims = e.select(
        "vec_id", F.posexplode_outer("x").alias("dim", "v")
    )
    stats = dims.groupBy("dim").agg(
        davg("v").alias("mu"),
        F.sqrt(
            dsum(F.col("v") * F.col("v")) / F.count(F.lit(1)).cast("double")
            - davg("v") * davg("v")
        ).alias("sigma"),
    )
    return (
        dims.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            F.col("dim").cast("int").alias("dim"),
            F.round((F.col("v") - F.col("mu")) / F.col("sigma"), Z_DP).alias(
                "z"
            ),
        )
    )


MRL_DIMS = 16   # truncation prefix length (full vectors are 64-d)
MRL_DP = 8


@register(
    "emb_matryoshka_eval",
    tags=("llm", "embeddings", "mrl"),
    oracle=f"""
WITH t AS (
  SELECT vec_id,
         embedding::DOUBLE[] AS fv,
         (embedding::DOUBLE[])[1:{MRL_DIMS}] AS pfx
  FROM embeddings
)
SELECT vec_id,
       round(sqrt(list_inner_product(fv, fv)), {MRL_DP}) AS norm_full,
       round(sqrt(list_inner_product(pfx, pfx)), {MRL_DP}) AS norm_prefix,
       round(list_inner_product(pfx, pfx) / list_inner_product(fv, fv),
             {MRL_DP}) AS energy_retained
FROM t
""",
)
def emb_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit: how much of each vector's
    energy the first MRL_DIMS dims retain — the go/no-go metric for
    serving truncated embeddings (prefix dims of MRL-trained models
    carry most of the signal; energy_retained quantifies it per
    vector). Pure JVM array lambdas (slice + aggregate dot products),
    map-only — no shuffle at any scale. Ratios of exact sums round at
    MRL_DP dp on both engines."""
    e = spread(load(spark, sf_dir, "embeddings"))
    full = F.col("embedding").cast("array<double>")
    pfx = F.slice(full, 1, MRL_DIMS)
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    e_full = dot(full, full)
    e_pfx = dot(pfx, pfx)
    return e.select(
        "vec_id",
        F.round(F.sqrt(e_full), MRL_DP).alias("norm_full"),
        F.round(F.sqrt(e_pfx), MRL_DP).alias("norm_prefix"),
        F.round(e_pfx / e_full, MRL_DP).alias("energy_retained"),
    )


@register(
    "emb_quantile_transform",
    tags=("llm", "embeddings", "features"),
    oracle="""
WITH dims AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
),
ranked AS (
  SELECT vec_id, dim, v,
         ROW_NUMBER() OVER (PARTITION BY dim ORDER BY v, vec_id) AS rk,
         COUNT(*) OVER (PARTITION BY dim) AS n
  FROM dims
)
SELECT vec_id, dim,
       CAST(rk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS q
FROM ranked
""",
)
def emb_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantile transform (rank-to-uniform): each
    embedding component maps to its empirical quantile
    ``(rank-1)/(n-1)`` within its dimension — the rank-based
    normalization that makes distance metrics robust to per-dimension
    scale and heavy tails before quantizer training.

    Rank-only arithmetic (integer ranks, one final integer/integer
    division) — nothing to round, bitwise identical everywhere. Shape:
    ``posexplode`` to (vec_id, dim, v) then ONE window shuffle
    partitioned by dim; with 64 dims and a 1000-executor cluster the
    production form adds a salt on (dim, value-range) to spread each
    dimension's sort — the same stratified-rank swap documented for
    ``corpus_curriculum_order``."""
    e = load(spark, sf_dir, "embeddings")
    dims = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    )
    wr = Window.partitionBy("dim").orderBy("v", "vec_id")
    wn = Window.partitionBy("dim")
    return (
        dims.select(
            "vec_id",
            F.col("dim").cast("int").alias("dim"),
            "v",
            F.row_number().over(wr).alias("rk"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .select(
            "vec_id",
            "dim",
            (
                (F.col("rk") - 1).cast("double")
                / (F.col("n") - 1).cast("double")
            ).alias("q"),
        )
    )


COV_DP = 8  # covariance entry rounding (both engines) before output


def _embedding_pair_moments(e: DataFrame) -> DataFrame:
    """Upper-triangular (di <= dj) second-moment frame over the
    embedding dimensions: (di, dj, n, si, sj, sij), exact decimal sums
    — shared by ``emb_covariance_matrix`` and ``emb_pca_power``.

    The pair fan-out (n_vecs × D(D+1)/2 rows, the dominant stage)
    carries ONLY the product vi·vj: the marginal sums si/sj depend on
    a single dimension each, so they reduce on the D-row per-dim frame
    and broadcast-join back — one decimal accumulator per fanned row
    instead of three (measured: 14.1 s → ~7 s for the covariance at
    sf0.1). Decimal addition is exact and order-independent, so the
    marginals are bitwise the values the per-pair sums produced.

    Validity rests on the embedding arrays being uniform-length and
    NULL-free (a ragged corpus would make per-dim marginals over-count
    relative to pairs-present semantics); that invariant is pinned per
    SF by tests/test_llm.py::test_embedding_array_uniformity.

    The pair fan-out is GENERATED, not joined (optimization r13, guide
    §2.3/2.4): the old dims-frame self-join on vec_id shuffled the
    exploded corpus twice and ran the N×D(D+1)/2 pair stream through a
    join, even though every pair is vector-local. Two chained
    ``posexplode``s (the second over ``slice(x, di+1, ..)`` — the upper
    triangle directly) produce the identical (di, dj, vi·vj) rows with
    ZERO pre-aggregation shuffle; the only exchange left carries the
    O(tasks × D²) map-side decimal partials. ``spread`` keeps the
    corpus pass parallel on single-file test inputs (no-op on a real
    multi-file layout). Bitwise unchanged: same products, same decimal
    casts, exact order-independent sums."""
    e = spread(e)
    arr = F.col("embedding").cast("array<double>")
    dims = e.select("vec_id", F.posexplode(arr).alias("dim", "v"))
    marg = dims.groupBy("dim").agg(dsum("v").alias("s"))
    tri = e.select(arr.alias("x"), F.posexplode(arr).alias("di", "vi")).select(
        "di",
        "vi",
        F.posexplode(
            F.slice(F.col("x"), F.col("di") + 1, F.size(F.col("x")) - F.col("di"))
        ).alias("j", "vj"),
    )
    sij_f = (
        tri.select(
            "di",
            (F.col("di") + F.col("j")).alias("dj"),
            (F.col("vi") * F.col("vj")).alias("p"),
        )
        .groupBy("di", "dj")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            dsum("p").alias("sij"),
        )
    )
    mi = marg.select(F.col("dim").alias("di"), F.col("s").alias("si"))
    mj = marg.select(F.col("dim").alias("dj"), F.col("s").alias("sj"))
    return (
        sij_f.join(F.broadcast(mi), "di")
        .join(F.broadcast(mj), "dj")
        .select("di", "dj", "n", "si", "sj", "sij")
    )


@register(
    "emb_covariance_matrix",
    tags=("llm", "embeddings", "features", "pca"),
    oracle=f"""
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id, a.dim AS di, b.dim AS dj, a.v AS vi, b.v AS vj
  FROM dims a JOIN dims b
    ON a.vec_id = b.vec_id AND a.dim <= b.dim
),
mom AS (
  SELECT di, dj,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {sql_dsum('vi')} AS si,
         {sql_dsum('vj')} AS sj,
         {sql_dsum('vi * vj')} AS sij
  FROM pairs GROUP BY di, dj
)
SELECT CAST(di - 1 AS INTEGER) AS di, CAST(dj - 1 AS INTEGER) AS dj,
       round(sij / n - (si / n) * (sj / n), {COV_DP}) + 0.0 AS cov
FROM mom
""",
)
def emb_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangular covariance matrix of the embedding dimensions —
    the input to PCA/whitening/Mahalanobis calibration. Output is
    long-form (di, dj, cov), di <= dj: D*(D+1)/2 rows for D dims.

    Shape at scale: the per-vector dim self-join fans each vector to
    D^2/2 component pairs but stays VECTOR-LOCAL (equi-join on vec_id
    inside one shuffle), and the moment aggregate reduces straight to
    the D^2/2-row matrix with map-side combine — the shuffle carries
    O(tasks x D^2) partials, never the corpus. Moments are exact
    decimal sums (the pair fan-out carries only the product term; see
    ``_embedding_pair_moments``); the only rounding is the final entry
    quantization."""
    e = load(spark, sf_dir, "embeddings")
    mom = _embedding_pair_moments(e)
    n, si, sj, sij = F.col("n"), F.col("si"), F.col("sj"), F.col("sij")
    return mom.select(
        F.col("di").cast("int").alias("di"),
        F.col("dj").cast("int").alias("dj"),
        # + 0.0 collapses IEEE signed zero: F.round goes through
        # BigDecimal (unsigned zero) while DuckDB's round keeps the
        # sign of the scaled double — the r10 driver red was one
        # matrix entry hashing -0.0 vs +0.0 through pandas. Adding
        # positive zero normalizes BOTH engines to +0.0 (-0.0 + 0.0
        # == +0.0 in IEEE 754 round-to-nearest).
        (F.round(sij / n - (si / n) * (sj / n), COV_DP) + F.lit(0.0)).alias(
            "cov"
        ),
    )


PCA_ITERS = 8  # power-iteration count (fixed, both engines unroll it)
PCA_SV = 1_000_000  # eigenvector fixed-point scale
PCA_SM = 1_000_000  # covariance fixed-point scale
PCA_WQ = 10_000_000  # norm pre-quantizer (keeps sum-of-squares in int64)


def _sql_pca_iter(prev: str, out: str) -> str:
    # AS MATERIALIZED is load-bearing: DuckDB inlines single-reference
    # CTEs, and this chain references each frame twice — inlined, the
    # expression tree (and the covariance build) doubles per iteration,
    # turning an 8-iteration oracle into 2^8 covariance scans
    # (measured: ~350 s -> ~10 s at sf0.001).
    return f"""
w_{out} AS MATERIALIZED (
  SELECT m.di AS dim, CAST(SUM(m.mi * v.vi) AS BIGINT) AS wr
  FROM cov_fp m JOIN {prev} v ON m.dj = v.dim GROUP BY m.di
),
n_{out} AS MATERIALIZED (
  SELECT sqrt(CAST(SUM(
           CAST(floor(CAST(wr AS DOUBLE) / {PCA_WQ}) AS BIGINT)
           * CAST(floor(CAST(wr AS DOUBLE) / {PCA_WQ}) AS BIGINT)
         ) AS DOUBLE)) AS nq
  FROM w_{out}
),
{out} AS MATERIALIZED (
  SELECT dim,
         CAST(floor(CAST(wr AS DOUBLE)
                    / (nq * {PCA_WQ}.0 / {PCA_SV})) AS BIGINT) AS vi
  FROM w_{out}, n_{out}
)"""


_SQL_PCA_ITERS = ",".join(
    _sql_pca_iter(f"v{i}", f"v{i + 1}") for i in range(PCA_ITERS)
)


@register(
    "emb_pca_power",
    tags=("llm", "embeddings", "pca", "iterative"),
    oracle=f"""
WITH dims AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
),
pairs AS (
  SELECT a.dim AS di, b.dim AS dj, a.v AS vi, b.v AS vj
  FROM dims a JOIN dims b ON a.vec_id = b.vec_id
),
mom AS (
  SELECT di, dj,
         CAST(COUNT(*) AS DOUBLE) AS n,
         {sql_dsum('vi')} AS si,
         {sql_dsum('vj')} AS sj,
         {sql_dsum('vi * vj')} AS sij
  FROM pairs GROUP BY di, dj
),
cov_fp AS MATERIALIZED (
  SELECT di, dj,
         CAST(floor((sij / n - (si / n) * (sj / n)) * {PCA_SM}.0)
              AS BIGINT) AS mi
  FROM mom
),
v0 AS (
  SELECT DISTINCT di AS dim,
         CAST({PCA_SV // 8} AS BIGINT) AS vi
  FROM cov_fp
),
{_SQL_PCA_ITERS},
anchor AS (
  SELECT CASE WHEN vi >= 0 THEN 1 ELSE -1 END AS s
  FROM v{PCA_ITERS} ORDER BY abs(vi) DESC, dim LIMIT 1
)
SELECT CAST(v.dim - 1 AS INTEGER) AS dim,
       CAST(a.s * v.vi AS DOUBLE) / {PCA_SV}.0 AS loading,
       n.nq * {PCA_WQ}.0 / ({PCA_SM}.0 * {PCA_SV}.0) AS eigenvalue
FROM v{PCA_ITERS} v CROSS JOIN anchor a CROSS JOIN n_v{PCA_ITERS} n
""",
)
def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the embedding cloud by
    {PCA_ITERS} fixed-point power iterations over the covariance
    matrix, with the top eigenvalue from the final iterate's norm.

    Determinism borrows ``graph_pagerank``'s playbook: after one
    floor-quantization of the covariance (identical doubles on both
    engines), every matrix-vector product is EXACT int64 arithmetic —
    order-independent sums, no rounding modes to disagree on. The
    normalization per iteration is the only float step: one sqrt and
    one floor over bitwise-identical doubles. The sign is anchored to
    the largest-magnitude loading so the eigenvector's direction is
    well-defined.

    Scale: the covariance build is the corpus-sized stage (vector-local
    D^2 fan-out, partial-combined reduce to D^2 rows — see
    ``emb_covariance_matrix``); the iterations then run over the
    D^2-row matrix frame — constant in corpus size — in one executor
    task (see the solver comment below). D=64 here; at D=4096 the
    matrix is 16M rows / ~128 MB, still a single-task int64 matvec."""
    e = load(spark, sf_dir, "embeddings")
    # Moments over the UPPER TRIANGLE only (di <= dj) — half the rows
    # through the vector-local pair fan-out and the decimal partial
    # aggregate, which dominate this query's wall (measured: full
    # matrix 36.8 s at sf0.1; triangular+mirror with the product-only
    # fan-out of _embedding_pair_moments lands ~12 s). The lower
    # triangle is recovered by mirroring: cov is symmetric, and the
    # mirrored entry's expression sij/n - (sj/n)*(si/n) is BITWISE the
    # original because IEEE-754 multiplication commutes. Checkpointed
    # before the union so the mirror branch reuses the one materialized
    # aggregate instead of compiling a second covariance build.
    tri = materialize(_embedding_pair_moments(e))
    mom = tri.unionByName(
        tri.filter(F.col("di") != F.col("dj")).select(
            F.col("dj").alias("di"),
            F.col("di").alias("dj"),
            "n",
            F.col("sj").alias("si"),
            F.col("si").alias("sj"),
            "sij",
        )
    )
    n, si, sj, sij = F.col("n"), F.col("si"), F.col("sj"), F.col("sij")
    cov_fp = mom.select(
        "di",
        "dj",
        F.floor((sij / n - (si / n) * (sj / n)) * float(PCA_SM))
        .cast("bigint")
        .alias("mi"),
    )

    # Power iteration in ONE executor task (optimization r13, guide
    # §1.2 + §5 — the graph_spectral_bisection recipe): the covariance
    # frame is D² rows for model dimension D, CONSTANT in corpus size
    # (the docstring's scale argument), so iterating on it
    # distributedly is pure orchestration — the old loop paid a
    # mid-step materialize + a broadcast-norm job per iteration
    # (~3 s of scheduler latency on 4,160-row frames at sf0.1).
    # Arithmetic is replicated exactly: the matvec is int64
    # (order-independent), the norm/rescale steps are the same IEEE
    # double ops in the same order (bigint→double casts round
    # identically in numpy), so every loading is bitwise the
    # distributed loop's value.
    import math as _math

    def _power_solve(batches):
        parts = [b for b in batches]
        pdf = (
            pd.concat(parts, ignore_index=True)
            if parts
            else pd.DataFrame({"di": [], "dj": [], "mi": []})
        )
        dims = sorted({int(d) for d in pdf["di"]})
        idx = {d: i for i, d in enumerate(dims)}
        D = len(dims)
        M = np.zeros((D, D), dtype=np.int64)
        for di, dj, mi in zip(pdf["di"], pdf["dj"], pdf["mi"]):
            M[idx[int(di)], idx[int(dj)]] = int(mi)
        v = np.full(D, PCA_SV // 8, dtype=np.int64)
        nq = 0.0
        for _ in range(PCA_ITERS):
            wr = M @ v  # exact int64 SUM(mi*vi) per row
            wrd = wr.astype(np.float64)  # bigint->double cast
            wq = np.floor(wrd / PCA_WQ).astype(np.int64)
            nq = _math.sqrt(float((wq * wq).sum()))
            v = np.floor(wrd / (nq * (float(PCA_WQ) / PCA_SV))).astype(
                np.int64
            )
        yield pd.DataFrame(
            {"dim": dims, "vi": v, "nq": [nq] * D}
        ).astype({"dim": "int64", "vi": "int64", "nq": "float64"})

    v = materialize(
        cov_fp.coalesce(1)
        .mapInPandas(_power_solve, "dim bigint, vi bigint, nq double")
    )
    anchor = (
        v.orderBy(F.abs(F.col("vi")).desc(), "dim")
        .limit(1)
        .select(
            F.when(F.col("vi") >= 0, 1).otherwise(-1).alias("s")
        )
    )
    return (
        v.crossJoin(F.broadcast(anchor))
        .select(
            F.col("dim").cast("int").alias("dim"),
            ((F.col("s") * F.col("vi")).cast("double") / PCA_SV).alias(
                "loading"
            ),
            (
                F.col("nq") * float(PCA_WQ) / (float(PCA_SM) * PCA_SV)
            ).alias("eigenvalue"),
        )
    )


# --- the hashing trick: text -> fixed-width sparse feature vectors --------

HASH_DIM = 1024  # 2^10 feature buckets


@register(
    "feature_hashing_trick",
    tags=("llm", "features", "text", "hashing"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
  FROM documents
),
clean AS (SELECT doc_id, token FROM toks WHERE token <> ''),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(token), 1, 8))::UBIGINT % {HASH_DIM}
              AS INTEGER) AS feature_idx,
         CASE WHEN ('0x' || substr(md5(token), 9, 1))::UBIGINT % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM clean
)
SELECT doc_id, feature_idx,
       CAST(SUM(sgn) AS BIGINT) AS weight
FROM hashed GROUP BY doc_id, feature_idx
HAVING SUM(sgn) <> 0
""",
)
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al.): map every token into a
    fixed {HASH_DIM}-bucket feature space by content hash, with a
    second hash bit choosing ±1 so collision noise cancels in
    expectation — how you featurize unbounded vocabulary for linear
    quality classifiers (fastText-style) WITHOUT building or
    broadcasting a vocabulary at all. Output is the sparse COO form
    (doc_id, feature_idx, weight); zero-cancelled entries drop.

    Scale: vocabulary-free means NO dictionary stage, no join — one
    tokenize+hash projection (md5 in codegen) and one (doc, bucket)
    hash aggregate with map-side combine. The md5-derived index is
    cross-engine exact (same idiom as `sample_hash_deterministic`),
    so the whole sparse matrix hash-matches the oracle."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    h = F.md5("token")
    idx = (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % HASH_DIM).cast(
        "int"
    )
    sgn = F.when(
        F.conv(F.substring(h, 9, 1), 16, 10).cast("bigint") % 2 == 0, 1
    ).otherwise(-1)
    return (
        toks.select("doc_id", idx.alias("feature_idx"), sgn.alias("sgn"))
        .groupBy("doc_id", "feature_idx")
        .agg(F.sum("sgn").cast("bigint").alias("weight"))
        .filter(F.col("weight") != 0)
    )


# --- leave-one-out target encoding ----------------------------------------

TE_SMOOTH = 20  # prior weight for the smoothed variant


@register(
    "feature_target_encoding",
    tags=("llm", "features", "encoding"),
    oracle=f"""
WITH labeled AS (
  SELECT event_id, event_type,
         CAST(value AS DECIMAL(12,2)) AS y
  FROM events
),
grp AS (
  SELECT event_type,
         CAST(SUM(y) AS DECIMAL(18,2)) AS s,
         COUNT(*) AS n
  FROM labeled GROUP BY event_type
),
gstats AS (SELECT CAST(SUM(y) AS DECIMAL(20,2)) AS gs, COUNT(*) AS gn FROM labeled)
SELECT l.event_id,
       l.event_type,
       CAST(g.s - l.y AS DOUBLE) / (g.n - 1) AS te_loo,
       (CAST(g.s - l.y AS DOUBLE) + {TE_SMOOTH}.0 * (CAST(gb.gs AS DOUBLE) / gb.gn))
         / (g.n - 1 + {TE_SMOOTH}) AS te_loo_smoothed
FROM labeled l
JOIN grp g ON l.event_type = g.event_type
CROSS JOIN gstats gb
""",
)
def feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding with smoothing — the categorical
    feature trick gradient-boosting pipelines live on, with its two
    leakage controls built in: each row's OWN target is subtracted
    from its category mean (otherwise the feature memorizes the
    label), and a global-prior smoothing term keeps rare categories
    from encoding noise.

    Scale: one category reduce (decimal-exact sums) broadcast back
    onto the rows — the encode pass is then a pure projection, no
    per-row window or shuffle. (sum − own)/(n − 1) divides two EXACT
    quantities, so the engines agree with zero rounding."""
    ev = load(spark, sf_dir, "events")
    labeled = ev.select(
        "event_id",
        "event_type",
        F.col("value").cast("decimal(12,2)").alias("y"),
    )
    grp = labeled.groupBy("event_type").agg(
        F.sum("y").cast("decimal(18,2)").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    glob = labeled.agg(
        F.sum("y").cast("decimal(20,2)").alias("gs"),
        F.count(F.lit(1)).alias("gn"),
    )
    prior = F.col("gs").cast("double") / F.col("gn")
    return (
        labeled.join(F.broadcast(grp), "event_type")
        .crossJoin(F.broadcast(glob))
        .select(
            "event_id",
            "event_type",
            (
                (F.col("s") - F.col("y")).cast("double") / (F.col("n") - 1)
            ).alias("te_loo"),
            (
                ((F.col("s") - F.col("y")).cast("double") + TE_SMOOTH * prior)
                / (F.col("n") - 1 + TE_SMOOTH)
            ).alias("te_loo_smoothed"),
        )
    )


# --- weight of evidence / information value -------------------------------

WOE_DP = 8  # ln of a smoothed count ratio — generic; round then decimal-sum


@register(
    "feature_woe_iv",
    tags=("features", "encoding", "quality"),
    oracle=f"""
WITH labeled AS (
  SELECT o_orderpriority AS category,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
),
cat AS (
  SELECT category,
         COUNT(*) AS n,
         CAST(SUM(y) AS BIGINT) AS n_good,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_bad
  FROM labeled GROUP BY category
),
tot AS (
  SELECT SUM(n_good) AS g_tot, SUM(n_bad) AS b_tot FROM cat
),
scored AS (
  SELECT c.category, c.n, c.n_good, c.n_bad,
         round(ln(((c.n_good + CAST(0.5 AS DOUBLE)) * (t.b_tot + CAST(0.5 AS DOUBLE)))
                  / ((c.n_bad + CAST(0.5 AS DOUBLE)) * (t.g_tot + CAST(0.5 AS DOUBLE)))),
               {WOE_DP}) AS woe,
         (CAST(c.n_good AS DOUBLE) / t.g_tot
          - CAST(c.n_bad AS DOUBLE) / t.b_tot) AS ddist
  FROM cat c CROSS JOIN tot t
),
terms AS (
  SELECT category, n, n_good, n_bad, woe,
         CAST(round(ddist * woe, {WOE_DP}) AS DECIMAL(25,{WOE_DP}))
           AS iv_dec
  FROM scored
)
SELECT category, n, n_good, n_bad, woe,
       CAST(iv_dec AS DOUBLE) AS iv_term,
       CAST(SUM(iv_dec) OVER () AS DOUBLE) AS iv_total
FROM terms
""",
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information value for a categorical
    feature against a binary target (order priority vs. order-filled) —
    the credit-scoring-style feature screen: WOE replaces the category
    with ln(P(cat|good)/P(cat|bad)) and IV = Σ (Δdist · WOE) grades the
    feature's predictive power before training.

    One conditional-aggregate pass reduces the fact table to
    O(categories) count rows; totals ride an unpartitioned window over
    that tiny frame (never a rescan). Counts are smoothed +0.5 per cell
    so empty cells stay finite; the ln runs on an exactly-representable
    rational, rounds generically at {WOE_DP} dp, and IV terms accumulate
    as exact decimals — bitwise stable across engines and partitionings."""
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cat = o.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("bigint").alias("n_good"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n_bad"),
    )
    wt = Window.partitionBy()
    g_tot = F.sum("n_good").over(wt)
    b_tot = F.sum("n_bad").over(wt)
    scored = cat.select(
        "category",
        "n",
        "n_good",
        "n_bad",
        F.round(
            F.log(
                ((F.col("n_good") + 0.5) * (b_tot + 0.5))
                / ((F.col("n_bad") + 0.5) * (g_tot + 0.5))
            ),
            WOE_DP,
        ).alias("woe"),
        (
            F.col("n_good").cast("double") / g_tot
            - F.col("n_bad").cast("double") / b_tot
        ).alias("ddist"),
    )
    terms = scored.select(
        "category",
        "n",
        "n_good",
        "n_bad",
        "woe",
        F.round(F.col("ddist") * F.col("woe"), WOE_DP)
        .cast(f"decimal(25,{WOE_DP})")
        .alias("iv_dec"),
    )
    return terms.select(
        "category",
        "n",
        "n_good",
        "n_bad",
        "woe",
        F.col("iv_dec").cast("double").alias("iv_term"),
        F.sum("iv_dec").over(wt).cast("double").alias("iv_total"),
    )
