"""TextRank keyword extraction: co-occurrence graph + PageRank.

The unsupervised keyword extractor (Mihalcea & Tarau 2004): tokens
become nodes, adjacency within text becomes edges, and PageRank over
that graph surfaces the terms most central to the corpus's phrasing —
a different (and complementary) signal from TF-IDF's rarity weighting.
For a training-data pipeline this is topic tagging and domain labeling
without a model.

Composition of two machines this engine already trusts: the tokenize→
explode→count shape of ``llm/retrieval.py`` builds the bigram-adjacency
edge list (support-thresholded, like the co-purchase graph), and the
fixed-point int64 PageRank of ``operators/graph.py`` iterates it —
same determinism argument (integer arithmetic has no rounding modes to
disagree on; see ``graph_pagerank``'s docstring for the float
divergence that motivated it).

Scale: the corpus-sized stage is token adjacency extraction (explode +
hash agg with map-side combine). The graph is vocabulary-sized
(Heaps' law), so every iteration joins a broadcast rank frame against
a cached vocabulary-sized edge list and shuffles O(vocab) partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..iterate import iterate, materialize
from ..operators.graph import DAMP_DEN, DAMP_NUM, FP_ONE, _TELEPORT_FP
from ..registry import register

TR_ITERS = 4  # fixed-point iterations (both engines unroll exactly this)
TR_SUPPORT = 3  # adjacency pairs seen fewer times are noise
TR_TOPK = 25  # keywords reported


def _sql_tr_iter(prev: str, out: str) -> str:
    # MATERIALIZED: multi-referenced CTEs inline (and double the tree
    # per iteration) otherwise — see emb_pca_power's measured blowup.
    return f"""
{out} AS MATERIALIZED (
  SELECT e.dst AS node,
         CAST({_TELEPORT_FP} + ({DAMP_NUM} * SUM(r.r // d.outdeg))
              // {DAMP_DEN} AS BIGINT) AS r
  FROM tr_edges e
  JOIN {prev} r ON e.src = r.node
  JOIN tr_deg d ON e.src = d.src
  GROUP BY e.dst
)"""


_SQL_TR_ITERS = ",".join(
    _sql_tr_iter(f"tr{i}", f"tr{i + 1}") for i in range(TR_ITERS)
)


@register(
    "text_textrank_keywords",
    tags=("llm", "text", "graph", "keywords"),
    oracle=f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, pos, token FROM (
    SELECT doc_id,
           generate_subscripts(string_split_regex(lower(text), '[^a-z]+'), 1)
             AS pos,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
    FROM documents
  ) WHERE token <> ''
),
adj AS (
  SELECT a.token AS u, b.token AS v
  FROM tok a JOIN tok b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND a.token <> b.token
  GROUP BY a.token, b.token
  HAVING COUNT(*) >= {TR_SUPPORT}
),
tr_edges AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM adj
  UNION
  SELECT v AS src, u AS dst FROM adj
),
tr_deg AS MATERIALIZED (
  SELECT src, COUNT(*) AS outdeg FROM tr_edges GROUP BY src
),
tr0 AS MATERIALIZED (
  SELECT src AS node, CAST({FP_ONE} AS BIGINT) AS r FROM tr_deg
),
{_SQL_TR_ITERS}
SELECT node AS token,
       CAST(r AS DOUBLE) / {FP_ONE}.0 AS textrank,
       CAST(rk AS INTEGER) AS rank
FROM (
  SELECT node, r,
         ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rk
  FROM tr{TR_ITERS}
) WHERE rk <= {TR_TOPK}
""",
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TR_TOPK} corpus keywords by TextRank: undirected
    bigram-adjacency graph (support >= {TR_SUPPORT}), {TR_ITERS}
    fixed-point PageRank iterations, ranks tie-broken lexically.

    Every iteration joins the cached vocabulary-sized edge list with a
    broadcast rank frame and reduces O(vocab) partials — the
    ``graph_pagerank`` loop pointed at a text graph; lineage truncated
    per iteration. The final top-k is a TakeOrderedAndProject over the
    vocabulary frame."""
    d = spread(load(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), "[^a-z]+")).alias(
            "pos", "token"
        ),
    ).filter(F.col("token") != "")
    a = tok.alias("a")
    b = tok.alias("b")
    adj = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1)
            & (F.col("a.token") != F.col("b.token")),
        )
        .groupBy(F.col("a.token").alias("u"), F.col("b.token").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= TR_SUPPORT)
        .select("u", "v")
    )
    edges = materialize(
        adj.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .union(adj.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(FP_ONE).cast("bigint").alias("r")
    )
    def _tr_step(ranks, _i: int):
        rd = ranks.join(F.broadcast(deg), ranks.node == deg.src).select(
            "node", "r", "outdeg"
        )
        contrib = edges.join(F.broadcast(rd), edges.src == rd.node).select(
            "dst", F.expr("r div outdeg").alias("w")
        )
        return contrib.groupBy(F.col("dst").alias("node")).agg(
            (
                F.lit(_TELEPORT_FP).cast("bigint")
                + F.expr(f"({DAMP_NUM} * sum(w)) div {DAMP_DEN}")
            ).alias("r")
        )

    ranks = iterate(
        ranks, _tr_step, TR_ITERS, eager=False, checkpoint_input=False
    )
    w = Window.orderBy(F.col("r").desc(), "node")
    return (
        ranks.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TR_TOPK)
        .select(
            F.col("node").alias("token"),
            (F.col("r").cast("double") / F.lit(float(FP_ONE))).alias(
                "textrank"
            ),
            F.col("rk").cast("int").alias("rank"),
        )
    )


# --- RAKE keyphrases -------------------------------------------------------

RAKE_STOP = ("a", "the", "big", "small", "fast", "slow")
RAKE_MAX_LEN = 4   # RAKE convention: drop over-long candidate runs
RAKE_TOP = 25


@register(
    "text_rake_keyphrases",
    tags=("llm", "text", "keywords", "rake"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
         string_split(lower(text), ' ')[CAST(t.i AS INTEGER)] AS token
  FROM documents,
       LATERAL unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS t(i)
),
flagged AS (
  SELECT doc_id, pos, token,
         CASE WHEN token IN {RAKE_STOP} THEN 1 ELSE 0 END AS is_stop,
         SUM(CASE WHEN token IN {RAKE_STOP} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS run_id
  FROM toks
),
runs AS (
  SELECT doc_id, run_id,
         list(token ORDER BY pos) AS words
  FROM flagged WHERE is_stop = 0
  GROUP BY doc_id, run_id
),
phrases AS (
  SELECT doc_id, run_id, words, len(words) AS plen,
         array_to_string(words, ' ') AS phrase
  FROM runs WHERE len(words) BETWEEN 1 AND {RAKE_MAX_LEN}
),
members AS (
  SELECT phrase, plen, CAST(t.i AS BIGINT) AS wpos,
         words[CAST(t.i AS INTEGER)] AS w
  FROM phrases, LATERAL unnest(range(1, plen + 1)) AS t(i)
),
wstats AS (
  SELECT w, CAST(SUM(plen) AS DOUBLE) / COUNT(*) AS wscore
  FROM members GROUP BY w
),
pscore AS (
  SELECT m.phrase,
         list_reduce(list(s.wscore ORDER BY m.wpos),
                     (acc, x) -> acc + x) AS score
  FROM (SELECT DISTINCT phrase, wpos, w FROM members) m
  JOIN wstats s ON m.w = s.w
  GROUP BY m.phrase
),
counts AS (SELECT phrase, COUNT(*) AS n_occ FROM phrases GROUP BY phrase)
SELECT phrase, CAST(n_occ AS BIGINT) AS n_occurrences, score,
       CAST(rk AS INTEGER) AS rank
FROM (
  SELECT c.phrase, c.n_occ, p.score,
         ROW_NUMBER() OVER (ORDER BY p.score DESC, c.phrase) AS rk
  FROM counts c JOIN pscore p ON c.phrase = p.phrase
) WHERE rk <= {RAKE_TOP}
""",
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction — the degree/frequency counterpart to
    ``text_textrank_keywords``: candidate phrases are maximal
    stopword-delimited token runs (≤ {RAKE_MAX_LEN} words), each word
    scores degree/frequency over all candidate instances (words that
    appear inside LONGER phrases score higher), and a phrase scores
    the sum of its words — no graph, no iteration, which is exactly
    RAKE's appeal at corpus scale.

    Scale: tokenize+flag is a projection; run grouping rides one
    (doc, run) exchange; word stats are a vocabulary-sized aggregate
    (Heaps-bounded, broadcast back onto distinct phrase members); the
    final top-{RAKE_TOP} is a WindowGroupLimit. Phrase scores fold the
    per-word doubles IN WORD ORDER (a bounded ≤{RAKE_MAX_LEN}-term
    fold both engines replay identically), so no rounding is needed
    anywhere."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    is_stop = F.col("token").isin(*RAKE_STOP).cast("int")
    wdoc = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = toks.select(
        "doc_id", "pos", "token", is_stop.alias("is_stop")
    ).withColumn("run_id", F.sum("is_stop").over(wdoc))
    runs = (
        flagged.filter(F.col("is_stop") == 0)
        .groupBy("doc_id", "run_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda s: s["token"],
            ).alias("words")
        )
    )
    phrases = runs.filter(
        F.size("words").between(1, RAKE_MAX_LEN)
    ).select(
        "doc_id",
        "run_id",
        "words",
        F.size("words").alias("plen"),
        F.array_join("words", " ").alias("phrase"),
    )
    members = phrases.select(
        "phrase",
        "plen",
        F.posexplode("words").alias("wpos0", "w"),
    ).select("phrase", "plen", (F.col("wpos0") + 1).alias("wpos"), "w")
    wstats = members.groupBy("w").agg(
        (F.sum("plen").cast("double") / F.count(F.lit(1))).alias("wscore")
    )
    pscore = (
        members.select("phrase", "wpos", "w")
        .distinct()
        .join(F.broadcast(wstats), "w")
        .groupBy("phrase")
        .agg(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(wpos, wscore))),"
                " s -> s.wscore), 0.0D, (acc, x) -> acc + x)"
            ).alias("score")
        )
    )
    counts = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    wr = Window.orderBy(F.col("score").desc(), "phrase")
    return (
        counts.join(pscore, "phrase")
        .withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= RAKE_TOP)
        .select("phrase", "n_occurrences", "score", "rank")
    )
