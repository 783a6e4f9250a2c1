"""Benchmark decontamination for training-data pipelines.

Before training, every serious pipeline checks the corpus for
*contamination*: training documents that contain verbatim n-grams from
a held-out benchmark/eval set, which would leak test answers into the
model. The standard method (GPT-3 appendix C, PaLM, Llama) is n-gram
overlap: collect the distinct word n-grams of the eval set and flag any
training document sharing at least one.

Scale design (100 TB corpus, benchmark sets of at most a few hundred MB):
the eval n-gram set is SMALL — it fits in a broadcast. The corpus side
is a single scan + per-row shingle projection (JVM array lambdas, no
Python); the broadcast hash join filters postings map-side, so the only
shuffle is the final per-document count of *matching* grams — a few
rows per contaminated document, not per posting. Nothing in the plan is
O(corpus x eval).

The eval split here is derived from the ``documents`` table itself by
deterministic hash (same md5-prefix mechanics as ``llm/sampling.py`` —
engine- and partitioning-invariant), standing in for an external
benchmark table; swapping in a real benchmark parquet is a one-line
source change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..iterate import materialize
from ..registry import register
from .dedup import _shingles

# Word-n-gram size for overlap matching. 5 is in the range used in
# published decontamination setups (8-13 for exact filtering, smaller
# for flagging); on this synthetic vocabulary 5-grams are rare enough
# to be a signal while still producing matches to verify.
NGRAM_N = 5

# Docs whose md5(doc_id) starts with 'f' (~1/16 of the corpus) act as
# the held-out benchmark set; the rest are the training corpus.
EVAL_PREFIX = "f"

# DuckDB twin of dedup._shingles(col, 5): i-indexed (1-based) slices of
# the lower-cased token list; subscripts past the end yield NULL, which
# concat_ws skips — identical partial-gram behavior to element_at.
_SQL_TOKS = "string_split(lower(text), ' ')"
_SQL_GRAMS = f"""list_distinct(list_transform(
  range(1, greatest(len({_SQL_TOKS}) - {NGRAM_N - 2}, 1)),
  i -> concat_ws(' ', {", ".join(f"{_SQL_TOKS}[i+{j}]" for j in range(NGRAM_N))})
))"""

_SQL_SPLIT_DOCS = f"""
docs AS (
  SELECT doc_id, source,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '{EVAL_PREFIX}' AS is_eval,
         {_SQL_GRAMS} AS grams
  FROM documents
),
eval_grams AS (
  SELECT DISTINCT unnest(grams) AS g FROM docs WHERE is_eval
),
train_postings AS (
  SELECT doc_id, source, unnest(grams) AS g FROM docs WHERE NOT is_eval
)"""


def _split_docs(spark: SparkSession, sf_dir: str):
    d = spread(load(spark, sf_dir, "documents"))
    docs = d.select(
        "doc_id",
        "source",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == EVAL_PREFIX).alias(
            "is_eval"
        ),
        _shingles(F.col("text"), NGRAM_N).alias("grams"),
    )
    # explode_outer, not explode: the plain form implies a size>0 filter
    # pushed below the projection that re-derives the whole (interpreted)
    # 5-gram expression per row — measured ~7x slower. Gram arrays are
    # never empty (>= 1 partial gram), so rows are identical.
    eval_grams = (
        docs.filter("is_eval").select(F.explode_outer("grams").alias("g")).distinct()
    )
    train = docs.filter(~F.col("is_eval"))
    train_postings = train.select(
        "doc_id", "source", F.explode_outer("grams").alias("g")
    )
    return train, eval_grams, train_postings


@register(
    "decon_ngram_overlap",
    tags=("llm", "decontamination"),
    oracle=f"""
WITH {_SQL_SPLIT_DOCS}
SELECT t.doc_id, COUNT(*) AS n_matched_ngrams
FROM train_postings t JOIN eval_grams e ON t.g = e.g
GROUP BY t.doc_id
""",
)
def decon_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training documents sharing >= 1 distinct {NGRAM_N}-gram with the
    eval split, with the count of matched grams. Grams are distinct
    per document and the eval set is distinct, so the broadcast join
    yields one row per (train doc, matched gram) — COUNT(*) is the
    matched-gram count."""
    _, eval_grams, train_postings = _split_docs(spark, sf_dir)
    return (
        train_postings.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched_ngrams"))
    )


@register(
    "decon_contamination_rate",
    tags=("llm", "decontamination", "report"),
    oracle=f"""
WITH {_SQL_SPLIT_DOCS},
hits AS (
  SELECT DISTINCT t.doc_id FROM train_postings t JOIN eval_grams e ON t.g = e.g
),
train AS (SELECT DISTINCT doc_id, source FROM docs WHERE NOT is_eval)
SELECT train.source,
       COUNT(*) AS n_train_docs,
       COUNT(hits.doc_id) AS n_contaminated,
       CAST(COUNT(hits.doc_id) AS DOUBLE) / COUNT(*) AS contamination_rate
FROM train LEFT JOIN hits ON train.doc_id = hits.doc_id
GROUP BY train.source
""",
)
def decon_contamination_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination audit: what fraction of each source's
    training documents is flagged. The rate is a ratio of exact ints
    (bitwise identical in any engine). This is the report a pipeline
    operator reads before deciding whether to drop or rewrite a
    source."""
    train, eval_grams, train_postings = _split_docs(spark, sf_dir)
    hits = (
        train_postings.join(F.broadcast(eval_grams), "g").select("doc_id").distinct()
    )
    return (
        train.join(hits.withColumn("hit", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.count("hit").alias("n_contaminated"),
            (F.count("hit").cast("double") / F.count(F.lit(1))).alias(
                "contamination_rate"
            ),
        )
    )


# --- exact-substring contamination ----------------------------------------

PROBE_SKIP, PROBE_WORDS = 5, 3  # probe = words 5..7 of each eval doc


@register(
    "decon_exact_substring",
    tags=("llm", "decontamination", "strings"),
    oracle=f"""
WITH split AS (
  SELECT doc_id, source, text,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' AS is_eval
  FROM documents
),
probes AS (
  SELECT DISTINCT
         array_to_string(string_split(text, ' ')[{PROBE_SKIP} : {PROBE_SKIP + PROBE_WORDS - 1}], ' ')
           AS probe
  FROM split WHERE is_eval
),
good_probes AS (SELECT probe FROM probes WHERE length(probe) >= 10),
hits AS (
  SELECT t.doc_id, t.source, p.probe
  FROM split t JOIN good_probes p ON contains(t.text, p.probe)
  WHERE NOT t.is_eval
)
SELECT doc_id, source,
       CAST(COUNT(*) AS BIGINT) AS n_probe_hits,
       MIN(probe) AS example_probe
FROM hits GROUP BY doc_id, source
""",
)
def decon_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring contamination check — the strict companion to
    n-gram overlap (`decon_ngram_overlap`): flag training documents
    that contain a VERBATIM probe string from the held-out eval split
    (here a {PROBE_WORDS}-word span per eval doc; real benchmarks probe
    with answers/canaries). Verbatim containment is the test-set-leak
    smoking gun n-gram statistics can only suggest.

    Plan: the probe set is tiny and BROADCASTS; the corpus side is one
    scan with a broadcast nested-loop `contains` filter — O(corpus ×
    probes) character scans, the honest shape for a benchmark-sized
    probe list (hundreds). For probe sets beyond broadcast size the
    n-gram postings path takes over (same module), trading exactness
    for an equi-join."""
    docs = spread(load(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        "text",
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "f").alias(
            "is_eval"
        ),
    )
    probes = (
        docs.filter("is_eval")
        .select(
            F.array_join(
                F.slice(F.split("text", " "), PROBE_SKIP, PROBE_WORDS), " "
            ).alias("probe")
        )
        .distinct()
        .filter(F.length("probe") >= 10)
    )
    hits = (
        docs.filter(~F.col("is_eval"))
        .join(F.broadcast(probes), F.col("text").contains(F.col("probe")))
    )
    return hits.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probe_hits"),
        F.min("probe").alias("example_probe"),
    )


# --- near-duplicate contamination via MinHash LSH -------------------------

from .dedup import (  # noqa: E402  (shared signature machinery)
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_HASHES,
    MINHASH_P,
    MINHASH_ROWS,
    _band_bucket,
    _SQL_BASE_HASH,
    _sql_bucket_expr,
    minhash_signatures,
)

NEARDUP_J = 0.5  # contamination threshold on exact 3-shingle Jaccard


@register(
    "decon_near_dup_lsh",
    tags=("llm", "decontamination", "lsh"),
    oracle=f"""
WITH docs AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '{EVAL_PREFIX}'
           AS is_eval,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(lower(text), ' ')) - 1, 1)),
           i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                               string_split(lower(text), ' ')[i+1],
                               string_split(lower(text), ' ')[i+2])
         )) AS shingles
  FROM documents
),
hashed AS (
  SELECT doc_id, is_eval, shingles, len(shingles) AS n_sh,
         list_transform(shingles,
                        s -> {_SQL_BASE_HASH.format(x="s")} % {MINHASH_P}) AS hs
  FROM docs
),
sigs AS MATERIALIZED (
  SELECT doc_id, is_eval,
         [{",".join(
             f"list_min(list_transform(hs, h -> ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}))"
             for i in range(MINHASH_HASHES)
         )}] AS sig
  FROM hashed
),
bands AS (
  SELECT doc_id, is_eval, unnest([{",".join(
      "{'band': %d, 'bucket': %s}" % (b, _sql_bucket_expr(b))
      for b in range(MINHASH_BANDS)
  )}], recursive := true)
  FROM sigs
),
cand AS (
  SELECT DISTINCT t.doc_id AS train_doc, e.doc_id AS eval_doc
  FROM (SELECT * FROM bands WHERE NOT is_eval) t
  JOIN (SELECT * FROM bands WHERE is_eval) e
    ON t.band = e.band AND t.bucket = e.bucket
)
SELECT c.train_doc, c.eval_doc,
       CAST(len(list_intersect(ht.shingles, he.shingles)) AS DOUBLE)
         / (ht.n_sh + he.n_sh - len(list_intersect(ht.shingles, he.shingles)))
         AS jaccard
FROM cand c
JOIN hashed ht ON ht.doc_id = c.train_doc
JOIN hashed he ON he.doc_id = c.eval_doc
WHERE CAST(len(list_intersect(ht.shingles, he.shingles)) AS DOUBLE)
      / (ht.n_sh + he.n_sh - len(list_intersect(ht.shingles, he.shingles)))
      >= {NEARDUP_J}
""",
)
def decon_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUPLICATE decontamination: training documents that are
    MinHash-LSH near-dups (exact 3-shingle Jaccard ≥ {NEARDUP_J}) of
    a held-out eval document — the contamination exact n-gram
    filtering misses (paraphrases, light edits, whitespace variants;
    the published post-hoc audits of web corpora find exactly this
    class). Same md5 hash family and banding as `dedup_minhash_lsh`,
    pointed ACROSS the train/eval split instead of within the corpus.

    Scale shape BETTER than the self-join dedup: the eval side is a
    ~1/16 hash split (real benchmarks are vastly smaller), so its
    band table BROADCASTS and candidate generation is a map-side
    join on the training side's single band scan — no self-join at
    all; exact verification touches candidate pairs only."""
    d = spread(load(spark, sf_dir, "documents"))
    docs = d.select(
        "doc_id",
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
            == EVAL_PREFIX
        ).alias("is_eval"),
        _shingles(F.col("text")).alias("shingles"),
    )
    sig = minhash_signatures(docs.select("doc_id", "shingles")).join(
        docs.select("doc_id", "is_eval"), "doc_id"
    )
    bands = sig.select(
        "doc_id",
        "is_eval",
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), _band_bucket(b).alias("bucket")
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "is_eval", "bb.band", "bb.bucket")
    train_b = bands.filter(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_doc"), "band", "bucket"
    )
    eval_b = bands.filter(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_doc"), "band", "bucket"
    )
    cand = materialize(
        train_b.join(F.broadcast(eval_b), ["band", "bucket"])
        .select("train_doc", "eval_doc")
        .distinct()
    )
    cand_ids = (
        cand.select(F.col("train_doc").alias("doc_id"))
        .unionAll(cand.select(F.col("eval_doc").alias("doc_id")))
        .distinct()
    )
    cand_sh = docs.join(F.broadcast(cand_ids), "doc_id", "left_semi").select(
        "doc_id", "shingles"
    )
    st = cand_sh.select(
        F.col("doc_id").alias("train_doc"), F.col("shingles").alias("sh_t")
    )
    se = cand_sh.select(
        F.col("doc_id").alias("eval_doc"), F.col("shingles").alias("sh_e")
    )
    inter = F.size(F.array_intersect("sh_t", "sh_e"))
    union = F.size("sh_t") + F.size("sh_e") - inter
    return (
        cand.join(st, "train_doc")
        .join(F.broadcast(se), "eval_doc")
        .select(
            "train_doc",
            "eval_doc",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NEARDUP_J)
    )
