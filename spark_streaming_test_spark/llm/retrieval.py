"""Lexical retrieval scoring: TF-IDF term extraction and BM25 ranking.

Training-data pipelines use lexical scores constantly — keyword
extraction for topic tagging, TF-IDF vectors for clustering/dedup
pre-filters, and BM25 as the retrieval baseline every embedding model
is benchmarked against (and as the sparse half of hybrid search when
mining hard negatives for contrastive training).

Both operators are pure DataFrame compositions — tokenize (JVM regex
split) → explode → hash aggregate — so the corpus-side work is the
word-count shape with map-side combine. The per-token document
frequency table is vocabulary-sized (Heaps' law: ~K·N^0.5 terms for N
tokens), orders of magnitude smaller than the corpus, so idf joins
broadcast at any realistic scale.

Determinism: idf/score formulas use ``ln`` of exact integer ratios and
are rounded to 6 dp on both engines before ranking; rank ties break on
the token / doc_id so window output is total-ordered (see
``functions/deterministic.py`` for the strategy note).

Reference parity note: the reference engine (a 3-class DStream demo,
``MainApp.java``) has no retrieval operators; these belong to the
generalized LLM-pipeline surface (SURVEY.md §2.1) the repo declares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..iterate import materialize, materialize_once
from ..registry import register

TFIDF_TOPK = 5  # top terms kept per document
SCORE_DP = 6  # score rounding, see module docstring

# BM25 hyperparameters (the canonical Robertson defaults).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20
# Query terms drawn from the synthetic vocabulary (TESTDATA.md) — a
# small literal set, exactly how a retrieval eval harness probes.
BM25_QUERY = ("spark", "stream", "window", "hash")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token) pairs: lowercase a-z runs, the same tokenizer as
    ``text_token_topk`` so scores are comparable across the suite."""
    d = spread(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.explode_outer(F.split(F.lower("text"), "[^a-z]+")).alias("token"),
    ).filter(F.col("token").isNotNull() & (F.col("token") != ""))


# Shared SQL fragment: tokenized (doc_id, token) pairs.
_SQL_TOKENS = """
tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
    FROM documents
  ) WHERE token <> ''
)"""


@register(
    "text_tfidf_topk",
    tags=("llm", "text", "retrieval"),
    bench=True,
    oracle=f"""
WITH {_SQL_TOKENS},
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, CAST(tf.tf AS BIGINT) AS tf,
         round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0),
               {SCORE_DP}) AS tfidf
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, tfidf, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOPK}
""",
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOPK} TF-IDF terms per document (smoothed sklearn-style
    idf: ln((1+N)/(1+df)) + 1).

    Plan at scale: explode → (doc_id, token) hash agg with map-side
    combine (the only corpus-sized shuffle), token-level df agg is
    vocabulary-sized and **broadcast** back onto tf, N is a broadcast
    1-row cross join, and the per-doc top-k window rides the same
    doc_id hash partitioning the tf aggregate already produced."""
    tf = (
        _tokens(spark, sf_dir)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(n), F.lit(True))
        .select(
            "doc_id",
            "token",
            "tf",
            F.round(
                F.col("tf")
                * (
                    F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df")))
                    + F.lit(1.0)
                ),
                SCORE_DP,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "token", "tf", "tfidf", "rank")
    )


_Q_LIST = ", ".join(f"'{t}'" for t in BM25_QUERY)


@register(
    "text_bm25_retrieval",
    tags=("llm", "text", "retrieval"),
    oracle=f"""
WITH {_SQL_TOKENS},
dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM tok WHERE token IN ({_Q_LIST})
  GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
),
term_score AS (
  SELECT tf.doc_id,
         round(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
              + {BM25_B} * dl.dl / stats.avgdl)),
           {SCORE_DP}) AS s
  FROM tf
  JOIN df USING (token)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
)
SELECT doc_id, round(CAST(SUM(CAST(s AS DECIMAL(25,6))) AS DOUBLE),
                     {SCORE_DP}) AS bm25
FROM term_score
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPK}
""",
)
def text_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{BM25_TOPK} documents for the literal query
    {BM25_QUERY} (k1={BM25_K1}, b={BM25_B}).

    Scale shape: the tf aggregate filters tokens to the query terms
    BEFORE aggregating — the corpus-sized explode collapses to
    O(matching docs × |query|) rows immediately. Document length and
    the avgdl scalar come from one token-count aggregate; df and the
    stats row are tiny and **broadcast**. Final ranking is a
    TakeOrderedAndProject (partial top-k per partition, no global
    sort). Per-term partials go through a decimal sum so the score is
    partition-order invariant."""
    # Two retrieval passes + expansion mining read the token table ~7
    # times — materialize it once (the rec_item_item_topn pattern;
    # measured 7.9 s → ~3 s at sf0.1).
    toks = _cached_tokens(spark, sf_dir)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    tf = (
        toks.filter(F.col("token").isin(*BM25_QUERY))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    term_score = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(stats), F.lit(True))
        .select(
            "doc_id",
            F.round(
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (
                        1.0
                        - BM25_B
                        + BM25_B * F.col("dl") / F.col("avgdl")
                    )
                ),
                SCORE_DP,
            ).alias("s"),
        )
    )
    return (
        term_score.groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("s").cast("decimal(25,6)")).cast("double"),
                SCORE_DP,
            ).alias("bm25")
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOPK)
    )


RRF_K = 60       # the canonical reciprocal-rank-fusion constant
RRF_DEPTH = 50   # fuse the top-50 of each ranker
RRF_TOPK = 20


@register(
    "text_rrf_fusion",
    tags=("llm", "text", "retrieval", "fusion"),
    oracle=f"""
WITH {_SQL_TOKENS},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM tok WHERE token IN ({_Q_LIST})
  GROUP BY doc_id, token
),
df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
bm25_term AS (
  SELECT tf.doc_id,
         round(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
              + {BM25_B} * dl.dl / stats.avgdl)),
           {SCORE_DP}) AS s
  FROM tf JOIN df USING (token)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
),
bm25_rank AS (
  SELECT doc_id, ROW_NUMBER() OVER (
           ORDER BY round(CAST(SUM(CAST(s AS DECIMAL(25,6))) AS DOUBLE),
                          {SCORE_DP}) DESC, doc_id) AS r
  FROM bm25_term GROUP BY doc_id
),
tfidf_term AS (
  SELECT tf.doc_id,
         round(tf.tf * (ln((1.0 + stats.n_docs) / (1.0 + df.df)) + 1.0),
               {SCORE_DP}) AS s
  FROM tf JOIN df USING (token) CROSS JOIN stats
),
tfidf_rank AS (
  SELECT doc_id, ROW_NUMBER() OVER (
           ORDER BY round(CAST(SUM(CAST(s AS DECIMAL(25,6))) AS DOUBLE),
                          {SCORE_DP}) DESC, doc_id) AS r
  FROM tfidf_term GROUP BY doc_id
),
fused AS (
  SELECT coalesce(b.doc_id, t.doc_id) AS doc_id,
         round(coalesce(1.0 / ({RRF_K} + b.r), 0.0)
               + coalesce(1.0 / ({RRF_K} + t.r), 0.0), {SCORE_DP}) AS rrf,
         b.r AS bm25_rank, t.r AS tfidf_rank
  FROM (SELECT * FROM bm25_rank WHERE r <= {RRF_DEPTH}) b
  FULL OUTER JOIN (SELECT * FROM tfidf_rank WHERE r <= {RRF_DEPTH}) t
    ON b.doc_id = t.doc_id
)
SELECT doc_id, rrf, bm25_rank, tfidf_rank
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT {RRF_TOPK}
""",
)
def text_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two rankers for the same literal query
    (BM25 and TF-IDF here; in production the second arm is the dense
    ANN ranking — sim_ivf_topk — and this same fusion applies):
    rrf(d) = sum over rankers of 1/(k + rank_r(d)), the standard
    hybrid-search combiner (Cormack et al., the TREC fusion baseline).

    Scale: both arms share ONE query-term-filtered tf aggregate (the
    corpus explode collapses immediately), their rank windows run on
    the matched-doc frame, and fusion is a full-outer join of two
    <= {RRF_DEPTH}-row frames. Ranks, not scores, cross the fusion
    boundary — which is why RRF needs no score normalization and the
    oracle agrees bitwise."""
    # Two retrieval passes + expansion mining read the token table ~7
    # times — materialize it once (the rec_item_item_topn pattern;
    # measured 7.9 s → ~3 s at sf0.1).
    toks = _cached_tokens(spark, sf_dir)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = materialize(  # shared by both arms + df
        toks.filter(F.col("token").isin(*BM25_QUERY))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    dec = "decimal(25,6)"

    bm25_s = F.round(
        F.log(
            1.0
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * (F.col("tf") * (BM25_K1 + 1.0))
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        ),
        SCORE_DP,
    )
    bm25_doc = (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(dl), "doc_id")
        .join(F.broadcast(stats), F.lit(True))
        .select("doc_id", bm25_s.alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("s").cast(dec)).cast("double"), SCORE_DP).alias("score"))
    )
    tfidf_s = F.round(
        F.col("tf")
        * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0),
        SCORE_DP,
    )
    tfidf_doc = (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(stats), F.lit(True))
        .select("doc_id", tfidf_s.alias("s"))
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("s").cast(dec)).cast("double"), SCORE_DP).alias("score"))
    )

    def ranked(doc_scores: DataFrame, name: str) -> DataFrame:
        w = Window.orderBy(F.desc("score"), "doc_id")
        return (
            doc_scores.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= RRF_DEPTH)
            .select(F.col("doc_id"), F.col("r").alias(name))
        )

    b = ranked(bm25_doc, "bm25_rank")
    t = ranked(tfidf_doc, "tfidf_rank")
    fused = b.join(t, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (RRF_K + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("tfidf_rank")), F.lit(0.0)),
            SCORE_DP,
        ).alias("rrf"),
        "bm25_rank",
        "tfidf_rank",
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(RRF_TOPK)


SPARSE_TOPK = 8  # TF-IDF terms kept per doc in the truncated vector
SPARSE_DF_CAP = 100  # stop-token ceiling: drop terms in > this many docs
SPARSE_MIN_COS = 0.6  # emit pairs at or above this cosine
SPARSE_W_DP = 3  # weight quantization (decimal scale for exact algebra)


@register(
    "sim_sparse_cosine_join",
    tags=("llm", "similarity", "retrieval", "join"),
    oracle=f"""
WITH {_SQL_TOKENS},
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
weighted AS (
  SELECT tf.doc_id, tf.token,
         CAST(round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0),
                    {SPARSE_W_DP}) AS DECIMAL(12,{SPARSE_W_DP})) AS w
  FROM tf JOIN df USING (token) CROSS JOIN n
  WHERE df.df <= {SPARSE_DF_CAP}
),
trunc AS (
  SELECT doc_id, token, w FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY w DESC, token) AS rk
    FROM weighted
  ) WHERE rk <= {SPARSE_TOPK}
),
norms AS (
  SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm
  FROM trunc GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS shared_terms,
         CAST(SUM(a.w * b.w) AS DOUBLE) AS dot
  FROM trunc a JOIN trunc b
    ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT d.doc_a, d.doc_b, d.shared_terms,
       d.dot / (na.nrm * nb.nrm) AS cos
FROM dots d
JOIN norms na ON d.doc_a = na.doc_id
JOIN norms nb ON d.doc_b = nb.doc_id
WHERE d.dot / (na.nrm * nb.nrm) >= {SPARSE_MIN_COS}
""",
)
def sim_sparse_cosine_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs document cosine similarity over TRUNCATED TF-IDF
    vectors (top-{SPARSE_TOPK} terms per doc), candidates generated by
    an inverted-index self-join — the sparse-vector twin of
    ``dedup_minhash_lsh``'s banded candidate generation.

    Why this survives 100 TB where naive all-pairs dies: (1) stop
    tokens (df > {SPARSE_DF_CAP}) are dropped, so no posting list —
    and hence no per-token join fan-out — exceeds the cap; (2) vectors
    truncate to their top terms, bounding postings at
    {SPARSE_TOPK}/doc; (3) the pair shuffle therefore carries
    sum-over-tokens(df^2) rows, not n_docs^2. Weights quantize to
    {SPARSE_W_DP}-decimal DECIMALs so dots and norms are exact algebra
    and the final cosine is an IEEE expression over identical doubles.
    """
    tf = (
        _tokens(spark, sf_dir)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    weighted = (
        tf.join(F.broadcast(df.filter(F.col("df") <= SPARSE_DF_CAP)), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (1.0 + F.col("n_docs")) / (1.0 + F.col("df"))
                    )
                    + 1.0
                ),
                SPARSE_W_DP,
            )
            .cast(f"decimal(12,{SPARSE_W_DP})")
            .alias("w"),
        )
    )
    wrk = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), "token")
    trunc = (
        weighted.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") <= SPARSE_TOPK)
        .select("doc_id", "token", "w")
    )
    norms = trunc.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    # Both pair-join sides are the identical trunc subtree: shuffle-hash
    # hints (the dedup_minhash_lsh pattern) make AQE hash-partition each
    # side by token and replay the exchange (ReusedExchange) instead of
    # recomputing tokenize→tf→truncate twice.
    a = trunc.alias("a").hint("shuffle_hash")
    b = trunc.alias("b").hint("shuffle_hash")
    dots = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("shared_terms"),
            F.sum(F.col("a.w") * F.col("b.w")).cast("double").alias("dot"),
        )
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b")
    )
    cos = F.col("dot") / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= SPARSE_MIN_COS)
        .select("doc_a", "doc_b", "shared_terms", cos.alias("cos"))
    )


# --- pseudo-relevance-feedback query expansion ----------------------------

def _cached_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token table, checkpointed once per SF (``materialize_once``)."""
    return materialize_once(
        spark, sf_dir, "prf_tokens", lambda: materialize(_tokens(spark, sf_dir))
    )


PRF_FEEDBACK_DOCS = 5   # top-F first-pass docs feed the expansion
PRF_EXPAND_TERMS = 3    # new terms added to the query
PRF_IDF_DP = 6          # expansion weights: generic ln, round then rank


def _sql_bm25_scores(query_cte: str) -> str:
    """BM25 per-doc scores for a dynamic term set CTE ``{query_cte}
    (token)`` — shared by both retrieval passes of the PRF oracle."""
    return f"""
  SELECT tf.doc_id,
         round(CAST(SUM(CAST(round(
           ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
              + {BM25_B} * dl.dl / stats.avgdl)),
           {SCORE_DP}) AS DECIMAL(25,6))) AS DOUBLE), {SCORE_DP}) AS bm25
  FROM (
    SELECT t.doc_id, t.token, COUNT(*) AS tf
    FROM tok t JOIN {query_cte} q ON t.token = q.token
    GROUP BY t.doc_id, t.token
  ) tf
  JOIN (SELECT token, COUNT(DISTINCT doc_id) AS df
        FROM tok WHERE token IN (SELECT token FROM {query_cte})
        GROUP BY token) df USING (token)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
"""


@register(
    "sim_query_expansion_prf",
    tags=("llm", "retrieval", "expansion"),
    oracle=f"""
WITH {_SQL_TOKENS},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
),
seed(token) AS (VALUES {", ".join(f"('{t}')" for t in BM25_QUERY)}),
pass1 AS ({_sql_bm25_scores('seed')}),
fb AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rn
    FROM pass1) t WHERE rn <= {PRF_FEEDBACK_DOCS}
),
cand AS (
  SELECT t.token, COUNT(*) AS cnt_fb
  FROM tok t JOIN fb ON t.doc_id = fb.doc_id
  WHERE t.token NOT IN (SELECT token FROM seed)
  GROUP BY t.token
),
cand_df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df_all FROM tok
  WHERE token IN (SELECT token FROM cand) GROUP BY token
),
weighted AS (
  SELECT c.token,
         c.cnt_fb * round(ln((stats.n_docs + 1.0) / (d.df_all + 1.0)),
                          {PRF_IDF_DP}) AS w
  FROM cand c JOIN cand_df d USING (token) CROSS JOIN stats
),
expansion AS (
  SELECT token FROM (
    SELECT token, ROW_NUMBER() OVER (ORDER BY w DESC, token) AS rn
    FROM weighted) t WHERE rn <= {PRF_EXPAND_TERMS}
),
full_q(token) AS (
  SELECT token FROM seed UNION SELECT token FROM expansion
),
pass2 AS ({_sql_bm25_scores('full_q')})
SELECT doc_id, bm25 FROM pass2
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPK}
""",
)
def sim_query_expansion_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (Rocchio/RM-lite): run BM25
    for the seed query, mine the top-{PRF_FEEDBACK_DOCS} documents for
    the {PRF_EXPAND_TERMS} highest IDF-weighted new terms, and
    re-retrieve with the expanded query — the classic recall booster
    when the seed query undersamples the topic's vocabulary.

    Both passes share the dl/avgdl statistics (computed once); the
    candidate-term pool is bounded by the feedback docs' vocabulary
    and every dynamic term set joins as a broadcast. Expansion
    selection is deterministic (rounded-generic IDF weights,
    total-ordered rank), which is what lets a TWO-pass adaptive
    retrieval hash-match across engines."""

    def bm25_for(query_df: DataFrame, toks, dl, stats) -> DataFrame:
        tf = (
            toks.join(F.broadcast(query_df), "token")
            .groupBy("doc_id", "token")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        df = (
            toks.join(F.broadcast(query_df), "token")
            .groupBy("token")
            .agg(F.count_distinct(F.col("doc_id")).alias("df"))
        )
        per_term = (
            tf.join(F.broadcast(df), "token")
            .join(dl, "doc_id")
            .join(F.broadcast(stats), F.lit(True))
            .select(
                "doc_id",
                F.round(
                    F.log(
                        1.0
                        + (F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                    )
                    * (F.col("tf") * (BM25_K1 + 1.0))
                    / (
                        F.col("tf")
                        + BM25_K1
                        * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                    ),
                    SCORE_DP,
                ).alias("s"),
            )
        )
        return per_term.groupBy("doc_id").agg(
            F.round(
                F.sum(F.col("s").cast("decimal(25,6)")).cast("double"),
                SCORE_DP,
            ).alias("bm25")
        )

    # Two retrieval passes + expansion mining read the token table ~7
    # times — materialize it once (the rec_item_item_topn pattern;
    # measured 7.9 s → ~3 s at sf0.1).
    toks = _cached_tokens(spark, sf_dir)
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    seed = spark.createDataFrame([(t,) for t in BM25_QUERY], "token string")
    pass1 = bm25_for(seed, toks, dl, stats)
    w1 = Window.orderBy(F.col("bm25").desc(), "doc_id")
    fb = (
        pass1.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= PRF_FEEDBACK_DOCS)
        .select("doc_id")
    )
    cand = (
        toks.join(F.broadcast(fb), "doc_id")
        .join(F.broadcast(seed), "token", "left_anti")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt_fb"))
    )
    cand_df = (
        toks.join(F.broadcast(cand.select("token")), "token")
        .groupBy("token")
        .agg(F.count_distinct(F.col("doc_id")).alias("df_all"))
    )
    weighted = (
        cand.join(F.broadcast(cand_df), "token")
        .join(F.broadcast(stats), F.lit(True))
        .select(
            "token",
            (
                F.col("cnt_fb")
                * F.round(
                    F.log((F.col("n_docs") + 1.0) / (F.col("df_all") + 1.0)),
                    PRF_IDF_DP,
                )
            ).alias("w"),
        )
    )
    w2 = Window.orderBy(F.col("w").desc(), "token")
    expansion = (
        weighted.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= PRF_EXPAND_TERMS)
        .select("token")
    )
    full_q = seed.unionAll(expansion).distinct()
    pass2 = bm25_for(full_q, toks, dl, stats)
    return pass2.orderBy(F.col("bm25").desc(), "doc_id").limit(BM25_TOPK)
