"""Product quantization (PQ): compress embeddings to byte codes, search
with asymmetric distance computation (ADC).

THE memory lever for vector search at scale: a 64-dim float32 vector is
256 bytes; its PQ code here is {M} small ints (4 bytes as int8). IVF-PQ
(coarse quantizer from ``llm/similarity.py`` + this module's codes) is
how billion-vector indexes fit in RAM — the corpus is scanned as codes,
and only the query side ever touches full-precision floats
(Jegou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011).

Layout: the 64-dim space splits into {M} contiguous 16-dim subspaces;
each subspace gets a {K}-codeword codebook (deterministic seeds:
vec_id < {K}, sliced per subspace — no RNG, the same convention as the
k-means seeds in ``llm/clustering.py``). Encoding = per-subspace
nearest-codeword argmin; ADC = per-query distance TABLE (M x K,
computed once per query) + table lookups summed per corpus code.

Scale shape: both operators are MAP-ONLY corpus scans — the codebook
and distance tables are kilobyte literals inlined into the projection
(the ``_assign`` trick from ``llm/clustering.py``); the only shuffle
anywhere is the final top-k's TakeOrderedAndProject partial. At 100 TB
the encode pass is embarrassingly parallel and the ADC scan reads
4 bytes/vector instead of 256.

Determinism: subspace distances round to 6 dp before the argmin
(tie-break on codeword id); the ADC distance table is pre-folded in
Python with the identical left-to-right IEEE fold the SQL oracle's
``list_inner_product`` uses, and the 4-term ADC sum is a fixed-order
expression — bitwise identical cross-engine with no rounding step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..functions.literals import lit_double_matrix, lit_doubles
from ..registry import register
from .similarity import N_QUERIES, TOP_K

DIM = 64
M = 4  # subspaces
SUB = DIM // M  # dims per subspace
K = 16  # codewords per subspace (seeded from vec_id < K)
DIST_DP = 6
ADC_TOPK = 10
QUERY_VEC_ID = 0  # ADC query = this embedding row (read by both engines)

_CB_CACHE: dict[str, list[list[list[float]]]] = {}
_QV_CACHE: dict[str, list[float]] = {}
# Plain Python values (no Spark state), so not in the cross-query
# frame memo, iterate.materialize_once (tests/test_session_reset.py).
_PLAIN_CACHES = ("_CB_CACHE", "_QV_CACHE")


def _codebook(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """cb[m][k] = 16-dim codeword: seed embeddings sliced per subspace.
    One tiny memoized collect (K rows), the documented small-dimension
    materialization."""
    if sf_dir not in _CB_CACHE:
        rows = (
            load(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < K)
            .select("vec_id", F.col("embedding").cast("array<double>").alias("x"))
            .orderBy("vec_id")
            .collect()
        )
        _CB_CACHE[sf_dir] = [
            [[float(v) for v in r["x"][m * SUB : (m + 1) * SUB]] for r in rows]
            for m in range(M)
        ]
        _QV_CACHE[sf_dir] = [float(v) for v in rows[QUERY_VEC_ID]["x"]]
    return _CB_CACHE[sf_dir]


def _ip_py(a: list[float], b: list[float]) -> float:
    """Left-to-right double fold — the exact order DuckDB's
    list_inner_product and Spark's F.aggregate use."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _sub_ip(x: Column, start: int, other: Column) -> Column:
    return F.aggregate(
        F.zip_with(F.slice(x, start + 1, SUB), other, lambda a, b: a * b),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def _encode_cols(x: Column, cb: list[list[list[float]]]) -> list[Column]:
    """One argmin column per subspace, built from codebook literals —
    the zero-shuffle assignment pattern of ``clustering._assign``."""
    codes = []
    for m in range(M):
        start = m * SUB
        xm = F.slice(x, start + 1, SUB)
        ipxx = F.aggregate(
            F.zip_with(xm, xm, lambda a, b: a * b),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        c_mat = lit_double_matrix(cb[m])
        ipcc = [_ip_py(c, c) for c in cb[m]]
        c_ipcc = lit_doubles(ipcc)

        def d2_at(i: Column, _xm=xm, _ipxx=ipxx, _c_mat=c_mat, _c_ipcc=c_ipcc) -> Column:
            ipxc = F.aggregate(
                F.zip_with(_xm, F.element_at(_c_mat, i + 1), lambda a, b: a * b),
                F.lit(0.0),
                lambda s, v: s + v,
            )
            return F.round(
                _ipxx - F.lit(2.0) * ipxc + F.element_at(_c_ipcc, i + 1),
                DIST_DP,
            )

        dc = F.transform(
            F.sequence(F.lit(0), F.lit(K - 1)),
            lambda i: F.struct(d2_at(i).alias("d2"), i.alias("cid")),
        )
        codes.append(F.array_min(dc)["cid"].cast("int").alias(f"c{m}"))
    return codes


def _sql_subspace_ctes() -> str:
    """Per-subspace encode CTEs: centroid slice, corpus slice, scored
    cross join, argmin."""
    parts = []
    for m in range(M):
        lo, hi = m * SUB + 1, (m + 1) * SUB
        ip = "list_inner_product"
        parts.append(f"""
cent{m} AS (
  SELECT vec_id AS cid, (embedding::DOUBLE[])[{lo}:{hi}] AS c
  FROM embeddings WHERE vec_id < {K}
),
sub{m} AS (
  SELECT vec_id, (embedding::DOUBLE[])[{lo}:{hi}] AS x FROM embeddings
),
code{m} AS (
  SELECT vec_id, CAST(cid AS INTEGER) AS c{m} FROM (
    SELECT sub{m}.vec_id, cent{m}.cid,
           ROW_NUMBER() OVER (
             PARTITION BY sub{m}.vec_id
             ORDER BY round({ip}(x, x) - 2*{ip}(x, c) + {ip}(c, c),
                            {DIST_DP}), cid) AS rn
    FROM sub{m} CROSS JOIN cent{m}
  ) WHERE rn = 1
)""")
    return ",".join(parts)


_SQL_ENC_JOIN = " JOIN ".join(
    ["code0"] + [f"code{m} USING (vec_id)" for m in range(1, M)]
)


@register(
    "emb_pq_encode",
    tags=("llm", "similarity", "pq"),
    oracle=f"""
WITH {_sql_subspace_ctes()}
SELECT vec_id, c0, c1, c2, c3 FROM {_SQL_ENC_JOIN}
""",
)
def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the corpus: per vector, the nearest codeword id in
    each of the {M} subspaces. A single map-only projection — at scale
    this is the index-build pass that shrinks the corpus 64x."""
    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    cb = _codebook(spark, sf_dir)
    return e.select("vec_id", *_encode_cols(F.col("x"), cb))


@register(
    "sim_pq_adc_topk",
    tags=("llm", "similarity", "pq"),
    oracle=f"""
WITH {_sql_subspace_ctes()},
enc AS (SELECT vec_id, c0, c1, c2, c3 FROM {_SQL_ENC_JOIN}),
{",".join(f'''
qt{m} AS (
  SELECT cent{m}.cid,
         list_inner_product(q.x, q.x)
           - 2*list_inner_product(q.x, cent{m}.c)
           + list_inner_product(cent{m}.c, cent{m}.c) AS d
  FROM cent{m} CROSS JOIN (SELECT x FROM sub{m} WHERE vec_id = {QUERY_VEC_ID}) q
)''' for m in range(M))}
SELECT e.vec_id,
       qt0.d + qt1.d + qt2.d + qt3.d AS adc_dist
FROM enc e
JOIN qt0 ON e.c0 = qt0.cid
JOIN qt1 ON e.c1 = qt1.cid
JOIN qt2 ON e.c2 = qt2.cid
JOIN qt3 ON e.c3 = qt3.cid
ORDER BY adc_dist, e.vec_id
LIMIT {ADC_TOPK}
""",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-{ADC_TOPK}: approximate nearest neighbors of the query
    vector (vec_id {QUERY_VEC_ID}) using ONLY the PQ codes for the
    corpus side. The M x K distance table is computed once driver-side
    (kilobytes) and inlined as literals; the corpus scan is then
    encode + {M} array lookups + a fixed-order 4-term sum, and the
    top-k is a TakeOrderedAndProject partial — no shuffle of the
    corpus, no full-precision corpus reads."""
    e = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    cb = _codebook(spark, sf_dir)
    qv = _QV_CACHE[sf_dir]
    enc = e.select("vec_id", *_encode_cols(F.col("x"), cb))
    # Distance table per subspace: d2(q_m, cb[m][k]) in the identical
    # ip(q,q) - 2*ip(q,c) + ip(c,c) fold the oracle uses — unrounded,
    # bitwise-identical doubles.
    dtabs = []
    for m in range(M):
        qm = qv[m * SUB : (m + 1) * SUB]
        ipqq = _ip_py(qm, qm)
        dtabs.append(
            lit_doubles(
                [ipqq - 2.0 * _ip_py(qm, c) + _ip_py(c, c) for c in cb[m]]
            )
        )
    adc = (
        F.element_at(dtabs[0], F.col("c0") + 1)
        + F.element_at(dtabs[1], F.col("c1") + 1)
        + F.element_at(dtabs[2], F.col("c2") + 1)
        + F.element_at(dtabs[3], F.col("c3") + 1)
    )
    return (
        enc.select("vec_id", adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(ADC_TOPK)
    )


# --- binary (sign-bit) quantization + Hamming retrieval -------------------

BQ_HALF = 32  # dims packed per word: 64-dim -> (lo, hi) int64 pair


def _sql_pack(half: str) -> str:
    base = 0 if half == "lo" else BQ_HALF
    return (
        f"CAST(list_sum(list_transform(range({base}, {base + BQ_HALF}), "
        f"i -> CASE WHEN embedding[CAST(i AS INTEGER) + 1] > 0 "
        f"THEN (CAST(1 AS BIGINT) << (CAST(i AS INTEGER) - {base})) "
        f"ELSE 0 END)) AS BIGINT)"
    )


@register(
    "sim_binary_hamming_topk",
    tags=("llm", "similarity", "quantization", "topk"),
    oracle=f"""
WITH packed AS (
  SELECT vec_id, {_sql_pack('lo')} AS lo, {_sql_pack('hi')} AS hi
  FROM embeddings
),
q AS (SELECT vec_id, lo, hi FROM packed WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.vec_id AS query_id, p.vec_id AS neighbor_id,
         bit_count(xor(q.lo, p.lo)) + bit_count(xor(q.hi, p.hi)) AS hamming
  FROM q JOIN packed p ON p.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, CAST(hamming AS INTEGER) AS hamming, rank
FROM (
  SELECT query_id, neighbor_id, hamming,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS INTEGER) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
""",
)
def sim_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization retrieval — the third compression family
    next to int8 (`emb_normalize_quantize`) and PQ (`emb_pq_encode`):
    keep only the SIGN BIT per dimension (64× smaller than float32),
    rank by Hamming distance via XOR + popcount. The standard cheap
    first stage of a modern two-stage retriever (binary scan →
    float/PQ rerank on the shortlist).

    Scale: packing is a pure projection (the corpus becomes two int64
    columns — 16 bytes/vector, cache-resident at billions); scoring is
    XOR + bit_count in whole-stage codegen, no floats anywhere, and
    the per-query top-k collapses to WindowGroupLimit. Integer
    end-to-end: nothing for engines to disagree on."""
    e = spread(load(spark, sf_dir, "embeddings"))

    def pack(base: int):
        word = F.lit(0).cast("bigint")
        for i in range(base, base + BQ_HALF):
            word = word.bitwiseOR(
                F.when(
                    F.element_at("embedding", i + 1) > 0,
                    F.lit(1 << (i - base)).cast("bigint"),
                ).otherwise(F.lit(0).cast("bigint"))
            )
        return word

    packed = e.select(
        "vec_id", pack(0).alias("lo"), pack(BQ_HALF).alias("hi")
    )
    q = packed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    hamming = F.bit_count(
        F.col("lo").bitwiseXOR(F.col("qlo"))
    ) + F.bit_count(F.col("hi").bitwiseXOR(F.col("qhi")))
    scored = packed.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        hamming.cast("int").alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_K)
    )


# --- two-stage cascade: binary shortlist -> exact cosine rerank -----------

CASCADE_SHORTLIST = 50


def _sql_hamming_ranked() -> str:
    """Shared CTE text: packed signatures + per-query Hamming ranking."""
    return f"""
packed AS (
  SELECT vec_id, {_sql_pack('lo')} AS lo, {_sql_pack('hi')} AS hi
  FROM embeddings
),
q AS (SELECT vec_id, lo, hi FROM packed WHERE vec_id < {N_QUERIES}),
hscored AS (
  SELECT q.vec_id AS query_id, p.vec_id AS neighbor_id,
         bit_count(xor(q.lo, p.lo)) + bit_count(xor(q.hi, p.hi)) AS hamming,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY bit_count(xor(q.lo, p.lo))
                                     + bit_count(xor(q.hi, p.hi)),
                                     p.vec_id) AS hrank
  FROM q JOIN packed p ON p.vec_id <> q.vec_id
)"""


@register(
    "sim_two_stage_rerank",
    tags=("llm", "similarity", "cascade", "topk"),
    oracle=f"""
WITH {_sql_hamming_ranked()},
shortlist AS (
  SELECT query_id, neighbor_id FROM hscored
  WHERE hrank <= {CASCADE_SHORTLIST}
),
rescored AS (
  SELECT s.query_id, s.neighbor_id,
         list_inner_product(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[])
           / (sqrt(list_inner_product(qe.embedding::DOUBLE[], qe.embedding::DOUBLE[]))
              * sqrt(list_inner_product(ne.embedding::DOUBLE[], ne.embedding::DOUBLE[])))
           AS cosine
  FROM shortlist s
  JOIN embeddings qe ON qe.vec_id = s.query_id
  JOIN embeddings ne ON ne.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rescored
) WHERE rank <= {TOP_K}
""",
)
def sim_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production retrieval CASCADE: stage 1 scans the 16-byte
    binary signatures and keeps a {CASCADE_SHORTLIST}-deep Hamming
    shortlist per query (cache-speed, no floats); stage 2 re-scores
    ONLY the shortlist with exact float cosine and emits the final
    top-{TOP_K}. This is how billion-vector deployments spend their
    compute: the expensive metric touches candidates, never the
    corpus — and unlike a one-stage ANN, quality degrades gracefully
    (deeper shortlist → higher recall, same plan).

    Scale: stage 1 is the `sim_binary_hamming_topk` shape (projection
    + WindowGroupLimit); stage 2 joins the O(queries × shortlist)
    frame against the float vectors by id — a point-lookup-sized
    hash join. Integer stage 1 + the engine's bitwise-stable cosine
    make the whole cascade hash-comparable."""
    e = spread(load(spark, sf_dir, "embeddings"))

    def pack(base: int):
        word = F.lit(0).cast("bigint")
        for i in range(base, base + BQ_HALF):
            word = word.bitwiseOR(
                F.when(
                    F.element_at("embedding", i + 1) > 0,
                    F.lit(1 << (i - base)).cast("bigint"),
                ).otherwise(F.lit(0).cast("bigint"))
            )
        return word

    packed = e.select("vec_id", pack(0).alias("lo"), pack(BQ_HALF).alias("hi"))
    q = packed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    hamming = F.bit_count(F.col("lo").bitwiseXOR(F.col("qlo"))) + F.bit_count(
        F.col("hi").bitwiseXOR(F.col("qhi"))
    )
    wham = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    shortlist = (
        packed.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            hamming.alias("hamming"),
        )
        .withColumn("hrank", F.row_number().over(wham))
        .filter(F.col("hrank") <= CASCADE_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    from .similarity import _as_double, cosine as _cos

    emb = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    rescored = (
        shortlist.join(
            emb.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv")),
            "query_id",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            _cos(F.col("qv"), F.col("nv")).alias("cosine"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOP_K)
    )


# --- IVF + PQ: the billion-vector index, both halves combined -------------

from .similarity import (  # noqa: E402
    IVF_MAX_CENTROIDS,
    IVF_NPROBE,
    IVF_STRIDE,
    _ivf_index,
    ivf_corpus_cells,
    ivf_query_probes,
)

IVFPQ_TOPK = 10


def _sql_ivf_cells() -> str:
    """IVF cell-assignment CTEs (the sim_ivf_topk oracle's head),
    namespaced to avoid colliding with the PQ subspace CTEs."""
    return f"""
ivf_cents AS (
  SELECT vec_id AS cid, embedding::DOUBLE[] AS cemb
  FROM embeddings
  WHERE vec_id % {IVF_STRIDE} = 0 AND vec_id < {IVF_STRIDE * IVF_MAX_CENTROIDS}
),
ivf_scored AS (
  SELECT e.vec_id, c.cid,
         list_inner_product(e.embedding::DOUBLE[], c.cemb)
           / (sqrt(list_inner_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_inner_product(c.cemb, c.cemb))) AS ccos
  FROM embeddings e CROSS JOIN ivf_cents c
),
ivf_assigned AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM ivf_scored
  ) WHERE rn = 1
),
ivf_probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM ivf_scored WHERE vec_id < {N_QUERIES}
  ) WHERE rn <= {IVF_NPROBE}
)"""


def _sql_multi_query_tables() -> str:
    """Per-(query, subspace) ADC distance tables."""
    return ",".join(
        f"""
mqt{m} AS (
  SELECT p.query_id, c.cid,
         list_inner_product(q.x, q.x)
           - 2*list_inner_product(q.x, c.c)
           + list_inner_product(c.c, c.c) AS d
  FROM (SELECT DISTINCT query_id FROM ivf_probes) p
  JOIN sub{m} q ON q.vec_id = p.query_id
  CROSS JOIN cent{m} c
)""" for m in range(M)
    )


@register(
    "sim_ivfpq_topk",
    tags=("llm", "similarity", "ivf", "pq"),
    oracle=f"""
WITH {_sql_subspace_ctes()},
enc AS (SELECT vec_id, c0, c1, c2, c3 FROM {_SQL_ENC_JOIN}),
{_sql_ivf_cells()},
{_sql_multi_query_tables()},
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM ivf_probes p JOIN ivf_assigned a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
adc AS (
  SELECT c.query_id, c.neighbor_id,
         mqt0.d + mqt1.d + mqt2.d + mqt3.d AS adc_dist
  FROM cand c
  JOIN enc e ON e.vec_id = c.neighbor_id
  JOIN mqt0 ON mqt0.query_id = c.query_id AND e.c0 = mqt0.cid
  JOIN mqt1 ON mqt1.query_id = c.query_id AND e.c1 = mqt1.cid
  JOIN mqt2 ON mqt2.query_id = c.query_id AND e.c2 = mqt2.cid
  JOIN mqt3 ON mqt3.query_id = c.query_id AND e.c3 = mqt3.cid
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS INTEGER) AS rank
  FROM adc
) WHERE rank <= {IVFPQ_TOPK}
""",
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the two halves of this engine's vector index COMBINED
    into the structure billion-vector deployments actually run
    (FAISS's default): the coarse quantizer routes each query to its
    {IVF_NPROBE} nearest cells, and within those cells the corpus is
    scanned as 4-byte PQ CODES with per-query ADC distance tables —
    full-precision floats never touch the corpus side at query time.

    Scale: the index pass (cell assignment + PQ encode) is map-only
    over Arrow batches; at query time each query reads ~nprobe/K of
    the corpus as codes (a 64× smaller scan than floats), the
    M×K-entry distance tables are driver-built literals per query
    batch, and the per-query top-k collapses to WindowGroupLimit.
    Every stage reuses a bitwise-proven component (IVF assignment,
    PQ codes, fixed-order ADC sums), so the composed index is
    hash-comparable end-to-end."""
    e = spread(load(spark, sf_dir, "embeddings"))
    cells = ivf_corpus_cells(spark, sf_dir, e).select("vec_id", "cell")
    codes = emb_pq_encode(spark, sf_dir)
    probes = ivf_query_probes(spark, sf_dir).select(
        "query_id", "probe_cell"
    )
    cb = _codebook(spark, sf_dir)
    _, q_vecs = _ivf_index(spark, sf_dir)
    table_rows = []
    for qid, qv in q_vecs:
        for m in range(M):
            qm = qv[m * SUB : (m + 1) * SUB]
            ipqq = _ip_py(qm, qm)
            for cid, cvec in enumerate(cb[m]):
                d = ipqq - 2.0 * _ip_py(qm, cvec) + _ip_py(cvec, cvec)
                table_rows.append((qid, m, cid, float(d)))
    qt = spark.createDataFrame(
        table_rows, "query_id long, m int, cid int, d double"
    )
    cand = (
        cells.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("probe_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    )
    adc = cand
    for m in range(M):
        qtm = qt.filter(F.col("m") == m).select(
            "query_id",
            F.col("cid").alias(f"c{m}"),
            F.col("d").alias(f"d{m}"),
        )
        adc = adc.join(F.broadcast(qtm), ["query_id", f"c{m}"])
    dist = F.col("d0") + F.col("d1") + F.col("d2") + F.col("d3")
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist"), F.col("neighbor_id")
    )
    return (
        adc.withColumn("adc_dist", dist)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= IVFPQ_TOPK)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


@register(
    "sim_ivfpq_recall_eval",
    tags=("llm", "similarity", "evaluation"),
    oracle=None,  # composed below from the two registered oracles
)
def sim_ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the COMPRESSED index (IVF+PQ) against exact
    brute-force ground truth — the number that prices the 64×
    compression: how much recall did the codes cost on top of the
    cell routing (compare with `sim_recall_eval`, which grades cell
    routing alone). Same join-of-retrievals shape; oracle-checkable
    because both sides are bitwise-deterministic."""
    from .similarity import sim_bruteforce_topk

    exact = sim_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = (
        sim_ivfpq_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
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


from ..registry import _REGISTRY as _PQREG  # noqa: E402
from .similarity import _registered_oracle  # noqa: E402

_PQREG["sim_ivfpq_recall_eval"].oracle = f"""
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS recall
FROM ({_registered_oracle('sim_bruteforce_topk')}) e
LEFT JOIN ({_registered_oracle('sim_ivfpq_topk')}) i
  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
GROUP BY e.query_id
"""
