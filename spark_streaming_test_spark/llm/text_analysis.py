"""Text-analysis operators over ``documents``: language-ID, quality
scoring, token counting, fingerprinting (SURVEY.md §2.1 north star;
sentiment/text pipeline patterns per EDBT'16 in PAPERS.md).

Everything is JVM-side Catalyst expressions (no Python UDFs in these
paths): substring-count via the length/replace trick, regexp counts,
md5 fingerprints — all with exact DuckDB twins for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..iterate import materialize
from ..registry import register

# Marker words per language for the n-gram/stopword language-ID
# heuristic. Counts use ' word ' substring occurrences so partial-word
# hits don't fire (identical trick on both engines).
LANG_MARKERS = {
    "en": ["the", "and", "of", "with"],
    "es": ["el", "la", "los", "por"],
    "de": ["der", "und", "das", "mit"],
    "fr": ["le", "les", "des", "avec"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def _count_occurrences(text: Column, needle: str) -> Column:
    """Occurrences of ``needle`` in text via (len - len(replace))/len —
    pure string ops, bitwise identical in any engine."""
    return (
        F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))
    ) / len(needle)


def _sql_count(expr: str, needle: str) -> str:
    return (
        f"(length({expr}) - length(replace({expr}, '{needle}', ''))) / {len(needle)}"
    )


def _padded(col: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(col), F.lit(" "))


def _lang_score(col: Column, lang: str) -> Column:
    total = F.lit(0).cast("double")
    for w in LANG_MARKERS[lang]:
        total = total + _count_occurrences(_padded(col), f" {w} ")
    return total


def _sql_lang_score(lang: str) -> str:
    padded = "concat(' ', lower(text), ' ')"
    return " + ".join(_sql_count(padded, f" {w} ") for w in LANG_MARKERS[lang])


@register(
    "text_language_id",
    tags=("llm", "text", "langid"),
    oracle=f"""
WITH scores AS (
  SELECT doc_id, lang AS labeled_lang,
         {_sql_lang_score('en')} AS score_en,
         {_sql_lang_score('es')} AS score_es,
         {_sql_lang_score('de')} AS score_de,
         {_sql_lang_score('fr')} AS score_fr
  FROM documents
)
SELECT doc_id, labeled_lang,
       CASE
         WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
         WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
         WHEN score_de >= score_fr THEN 'de'
         ELSE 'fr'
       END AS predicted_lang,
       score_en, score_es, score_de, score_fr
FROM scores
""",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID: per-language marker-word counts,
    argmax with a fixed tie-break order (en > es > de > fr)."""
    d = spread(load(spark, sf_dir, "documents"))
    t = F.col("text")
    s = {lang: _lang_score(t, lang) for lang in LANG_MARKERS}
    predicted = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en"
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predicted.alias("predicted_lang"),
        s["en"].alias("score_en"),
        s["es"].alias("score_es"),
        s["de"].alias("score_de"),
        s["fr"].alias("score_fr"),
    )


@register(
    "text_quality_score",
    bench=True,
    tags=("llm", "text", "quality"),
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(length(replace(text, ' ', '')) AS DOUBLE)
           / len(string_split(text, ' ')) AS avg_token_len,
         ({" + ".join(_sql_count("concat(' ', lower(text), ' ')", f" {w} ") for w in STOPWORDS)})
           / len(string_split(text, ' ')) AS stopword_ratio,
         CAST(len(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE)
           / length(text) AS punct_ratio
  FROM documents
)
SELECT doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio, punct_ratio,
       CASE WHEN n_tokens >= 20 THEN 1.0 ELSE n_tokens / 20.0 END
         * CASE WHEN stopword_ratio > 0.05 THEN 1.0 ELSE 0.5 END
         * (1.0 - punct_ratio) AS quality_score
FROM feats
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality score from length, stopword density,
    and punctuation ratio — the classic pretraining-corpus filter
    features, computed entirely JVM-side."""
    d = spread(load(spark, sf_dir, "documents"))
    t = F.col("text")
    n_tokens = F.size(F.split(t, " "))
    stop_hits = F.lit(0).cast("double")
    for w in STOPWORDS:
        stop_hits = stop_hits + _count_occurrences(_padded(t), f" {w} ")
    avg_token_len = F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("double") / n_tokens
    punct_ratio = (
        F.size(F.regexp_extract_all(t, F.lit(r"[\!-/\:-@\[-`\{-~]"), 0)).cast("double")
        / F.length(t)
    )
    stopword_ratio = stop_hits / n_tokens
    quality = (
        F.when(n_tokens >= 20, 1.0).otherwise(n_tokens / F.lit(20.0))
        * F.when(stopword_ratio > 0.05, 1.0).otherwise(0.5)
        * (F.lit(1.0) - punct_ratio)
    )
    return d.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        n_tokens.alias("n_tokens"),
        avg_token_len.alias("avg_token_len"),
        stopword_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        quality.alias("quality_score"),
    )


@register(
    "text_token_count",
    tags=("llm", "text", "tokens"),
    oracle="""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS bpe_ish_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS chars_div4_estimate
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    (alnum runs + single punctuation marks), and the chars/4 LLM
    rule-of-thumb."""
    d = spread(load(spark, sf_dir, "documents"))
    t = F.col("text")
    return d.select(
        "doc_id",
        F.size(F.split(t, " ")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(t, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0)
        ).alias("bpe_ish_tokens"),
        F.ceil(F.length(t) / 4.0).alias("chars_div4_estimate"),
    )


FINGERPRINT_K = 5


@register(
    "text_fingerprint",
    tags=("llm", "text", "fingerprint"),
    oracle=f"""
WITH shingled AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(lower(text), ' ')) - 1, 1)),
           i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                               string_split(lower(text), ' ')[i+1],
                               string_split(lower(text), ' ')[i+2])
         ))) AS shingle
  FROM documents
),
hashed AS (
  SELECT doc_id, md5(shingle) AS h,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY md5(shingle)) AS rn
  FROM shingled
)
SELECT doc_id, COALESCE(string_agg(h, ',' ORDER BY h), '') AS fingerprint
FROM hashed WHERE rn <= {FINGERPRINT_K}
GROUP BY doc_id
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: the K smallest md5(3-gram shingle) digests
    (a bottom-k minwise sketch — two docs' fingerprint overlap estimates
    Jaccard similarity). md5 exists in both engines, making this the
    oracle-checkable cousin of the xxhash64 MinHash in llm/dedup.py.
    The sketch is serialized to a comma-joined string (the driver's
    pandas canonicalizer cannot hash list cells)."""
    from .dedup import _shingles

    d = spread(load(spark, sf_dir, "documents"))
    return (
        # explode_outer: plain explode's implicit size>0 pushdown filter
        # would re-derive the interpreted shingle expression per row
        # (shingle arrays are never empty, so rows are identical)
        d.select("doc_id", F.explode_outer(_shingles(F.col("text"))).alias("shingle"))
        .select("doc_id", F.md5("shingle").alias("h"))
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                ",", F.slice(F.array_sort(F.collect_list("h")), 1, FINGERPRINT_K)
            ).alias("fingerprint")
        )
    )


TOKEN_TOPK = 25


@register(
    "text_token_topk",
    tags=("llm", "text", "token"),
    oracle=f"""
SELECT token, COUNT(*) AS n_docs_tokens
FROM (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
  FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY n_docs_tokens DESC, token
LIMIT {TOKEN_TOPK}
""",
)
def text_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-k token frequency (vocabulary head).

    Tokenize (regex split, JVM-side) → explode → hash-aggregate →
    top-k. The explode fan-out happens AFTER the single-file scan is
    spread across partitions, so the count shuffles only (token,
    partial-count) pairs — at 100 TB this is the word-count pattern
    with map-side combine, and the final top-k is a
    TakeOrderedAndProject (no global sort materialized).
    """
    d = spread(load(spark, sf_dir, "documents"))
    return (
        d.select(F.explode_outer(F.split(F.lower("text"), "[^a-z]+")).alias("token"))
        .filter(F.col("token").isNotNull() & (F.col("token") != ""))
        .groupBy("token")
        .agg(F.count("*").alias("n_docs_tokens"))
        .orderBy(F.desc("n_docs_tokens"), "token")
        .limit(TOKEN_TOPK)
    )


# PII patterns kept to syntax identical in Java regex (Spark) and RE2
# (DuckDB): character classes, +, {m,}, no backrefs/lookaround.
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
LONG_DIGITS_RE = r"[0-9]{7,}"


@register(
    "text_pii_redact",
    tags=("llm", "text", "pii"),
    oracle=f"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
         '{LONG_DIGITS_RE}', '<NUM>', 'g') AS redacted,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{LONG_DIGITS_RE}')) AS n_long_numbers
FROM documents
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: redact email addresses and
    long digit runs (phone/account numbers), and count what was removed
    for audit. Pure JVM regexp (codegen), patterns restricted to the
    syntax subset where Java regex and RE2 agree — a scan-shaped map
    with zero shuffle, which is what lets it run inline in a 100 TB
    ingest pass rather than as a separate job."""
    d = spread(load(spark, sf_dir, "documents"))
    t = F.col("text")
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), LONG_DIGITS_RE, "<NUM>"
        ).alias("redacted"),
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE))).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(LONG_DIGITS_RE))).alias("n_long_numbers"),
    )


@register(
    "text_quality_filter",
    tags=("llm", "text", "quality", "filter"),
    oracle=f"""
WITH feats AS (
  SELECT doc_id, lang, source,
         length(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         CAST(length(replace(text, ' ', '')) AS DOUBLE)
           / len(string_split(text, ' ')) AS avg_token_len,
         ({" + ".join(_sql_count("concat(' ', lower(text), ' ')", f" {w} ") for w in STOPWORDS)})
           / len(string_split(text, ' ')) AS stopword_ratio
  FROM documents
)
SELECT doc_id, lang, source,
       CASE
         WHEN n_chars < 40 THEN 'too_short'
         WHEN n_tokens < 8 THEN 'too_few_tokens'
         WHEN avg_token_len < 2.0 OR avg_token_len > 12.0 THEN 'token_len_out_of_range'
         WHEN stopword_ratio < 0.01 THEN 'low_stopword_density'
         ELSE 'keep'
       END AS verdict,
       CASE
         WHEN n_chars >= 40 AND n_tokens >= 8
          AND avg_token_len BETWEEN 2.0 AND 12.0
          AND stopword_ratio >= 0.01 THEN TRUE ELSE FALSE
       END AS keep
FROM feats
""",
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality GATE (the decision layer on top
    of ``text_quality_score``): ordered rules — min length, min token
    count, mean-token-length band, stopword density — emit the first
    failing rule as the drop reason, so corpus curation can report WHY
    each document fell out. Pure scan-level projection: the whole gate
    runs at ingest speed with zero shuffle at any corpus size."""
    d = spread(load(spark, sf_dir, "documents"))
    t = F.col("text")
    n_chars = F.length(t)
    n_tokens = F.size(F.split(t, " "))
    avg_token_len = (
        F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("double") / n_tokens
    )
    stop_hits = F.lit(0).cast("double")
    for w in STOPWORDS:
        stop_hits = stop_hits + _count_occurrences(_padded(t), f" {w} ")
    stopword_ratio = stop_hits / n_tokens
    verdict = (
        F.when(n_chars < 40, "too_short")
        .when(n_tokens < 8, "too_few_tokens")
        .when(
            (avg_token_len < 2.0) | (avg_token_len > 12.0), "token_len_out_of_range"
        )
        .when(stopword_ratio < 0.01, "low_stopword_density")
        .otherwise("keep")
    )
    keep = (
        (n_chars >= 40)
        & (n_tokens >= 8)
        & avg_token_len.between(2.0, 12.0)
        & (stopword_ratio >= 0.01)
    )
    return d.select("doc_id", "lang", "source", verdict.alias("verdict"), keep.alias("keep"))


@register(
    "text_bigram_pmi",
    tags=("llm", "text", "collocation"),
    oracle="""
WITH toks AS (
  SELECT doc_id, lower(text) AS lt FROM documents
),
bigrams AS (
  SELECT string_split_regex(lt, '[^a-z]+')[i] AS w1,
         string_split_regex(lt, '[^a-z]+')[i+1] AS w2
  FROM toks, LATERAL (
    SELECT unnest(range(1, greatest(len(string_split_regex(lt, '[^a-z]+')), 1))) AS i
  )
  WHERE string_split_regex(lt, '[^a-z]+')[i] <> ''
    AND string_split_regex(lt, '[^a-z]+')[i+1] <> ''
),
big_counts AS (
  SELECT w1, w2, COUNT(*) AS n_pair FROM bigrams GROUP BY w1, w2
),
uni_counts AS (
  SELECT w1 AS w, SUM(n_pair) AS n_first FROM big_counts GROUP BY w1
),
uni2_counts AS (
  SELECT w2 AS w, SUM(n_pair) AS n_second FROM big_counts GROUP BY w2
),
total AS (SELECT SUM(n_pair) AS n_total FROM big_counts)
SELECT w1, w2, n_pair,
       round(ln((CAST(n_pair AS DOUBLE) * n_total)
                / (CAST(u1.n_first AS DOUBLE) * u2.n_second)), 8) AS pmi
FROM big_counts b
JOIN uni_counts u1 ON b.w1 = u1.w
JOIN uni2_counts u2 ON b.w2 = u2.w
CROSS JOIN total
WHERE n_pair >= 5
""",
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information over corpus
    bigrams (the phrase-detection pass run before tokenizer training).
    Bigrams explode from a regex tokenization; PMI joins pair counts
    against both marginal-position counts. The pair-count table is
    materialized ONCE (``localCheckpoint`` here; a parquet stage table
    in production) because four consumers hang off it — the marginal
    aggregates are submitted as concurrent broadcast jobs, which race
    ahead of AQE exchange reuse and would otherwise each re-run the
    corpus tokenization (measured: 4 identical 32-task map stages,
    ~4x wall). The materialized artifact is vocab^2-bounded — tiny
    next to the corpus — so marginals and the grand total are cheap
    re-aggregations of it. PMI rounded to 8 dp: ln() may differ in the
    last ulp across libm implementations."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), "[^a-z]+")
    # explode_outer + null-drop: plain explode's implicit size>0 filter
    # would re-derive the whole zip_with/filter pair chain below the
    # projection (interpreted, per row — measured ~7x slower on the
    # shingle twin). The pair array CAN be empty here, so the generated-
    # attribute null filter is required for row parity.
    pairs = (
        d.select(toks.alias("tk"))
        .select(
            F.explode_outer(
                F.filter(
                    F.zip_with(
                        F.col("tk"),
                        F.slice(F.col("tk"), 2, 2_000_000),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    ),
                    lambda s: (s["w1"] != "") & (s["w2"] != ""),
                )
            ).alias("bg")
        )
        .filter(F.col("bg").isNotNull())
        .select("bg.w1", "bg.w2")
    )
    big_counts = materialize(
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    uni1 = big_counts.groupBy(F.col("w1").alias("w")).agg(
        F.sum("n_pair").alias("n_first")
    )
    uni2 = big_counts.groupBy(F.col("w2").alias("w")).agg(
        F.sum("n_pair").alias("n_second")
    )
    total = big_counts.agg(F.sum("n_pair").alias("n_total"))
    pmi = F.round(
        F.log(
            (F.col("n_pair").cast("double") * F.col("n_total"))
            / (F.col("n_first").cast("double") * F.col("n_second"))
        ),
        8,
    )
    return (
        big_counts.filter(F.col("n_pair") >= 5)
        .join(F.broadcast(uni1), F.col("w1") == F.col("w"))
        .drop("w")
        .join(F.broadcast(uni2), F.col("w2") == F.col("w"))
        .drop("w")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
    )


# --- intra-document repetition (Gopher-style repetition filters) -----------

_SQL_RTOKS = "string_split(lower(text), ' ')"
_SQL_RTRIG = (
    f"list_transform(range(1, greatest(len({_SQL_RTOKS})-1, 1)), "
    f"i -> concat_ws(' ', {_SQL_RTOKS}[i], {_SQL_RTOKS}[i+1], {_SQL_RTOKS}[i+2]))"
)


@register(
    "text_repetition_stats",
    tags=("llm", "text", "quality", "repetition"),
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         len({_SQL_RTOKS}) AS n_tokens,
         len(list_distinct({_SQL_RTOKS})) AS n_distinct,
         list_max(list_transform(list_distinct({_SQL_RTOKS}),
                  x -> len(list_filter({_SQL_RTOKS}, y -> y = x)))) AS top_n,
         len({_SQL_RTRIG}) AS n_trigrams,
         len(list_distinct({_SQL_RTRIG})) AS n_distinct_trigrams
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_frac,
       CAST(top_n AS DOUBLE) / n_tokens AS top_token_frac,
       1.0 - CAST(n_distinct_trigrams AS DOUBLE) / n_trigrams AS dup_trigram_frac,
       CAST(top_n AS DOUBLE) / n_tokens > 0.2
         OR 1.0 - CAST(n_distinct_trigrams AS DOUBLE) / n_trigrams > 0.3
         AS is_repetitive
FROM t
""",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher repetition rules:
    duplicate-n-gram fraction and most-common-token share flag
    machine-generated/spammy text). Everything is per-row array lambdas
    over the token list — a pure projection with ZERO shuffle; at
    100 TB this streams through the scan at I/O speed. All outputs are
    ratios of exact ints (IEEE division, engine-invariant)."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), " ")
    k = F.size(toks) - 2
    trig = F.transform(
        F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0))),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    n_tokens = F.size(toks)
    top_n = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda y: y == t)),
        )
    )
    top_frac = top_n.cast("double") / n_tokens
    dup_trig = F.lit(1.0) - F.size(F.array_distinct(trig)).cast("double") / F.size(trig)
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / n_tokens).alias(
            "distinct_frac"
        ),
        top_frac.alias("top_token_frac"),
        dup_trig.alias("dup_trigram_frac"),
        ((top_frac > 0.2) | (dup_trig > 0.3)).alias("is_repetitive"),
    )


# --- unigram-LM quality scoring (perplexity-style filter) ------------------

LOGPROB_DP = 8          # ln() may differ in the last ulp across libm builds
LOW_QUALITY_LP = -7.0   # avg token logprob below this => out-of-vocab-heavy


# Shared unigram-LM scoring CTE chain (ends in `scores(doc_id,
# n_tokens, avg_logprob)`), used by the logprob query and the CCNet
# bucket assignment below.
_SQL_UNIGRAM_SCORES = f"""postings AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
  FROM documents
),
clean AS (SELECT doc_id, token FROM postings WHERE token <> ''),
vocab AS (
  SELECT token, COUNT(*) AS n FROM clean GROUP BY token
),
total AS (SELECT SUM(n) AS t FROM vocab),
lp AS (
  SELECT token, round(ln(CAST(n AS DOUBLE) / t), {LOGPROB_DP}) AS logp
  FROM vocab, total
),
scores AS (
  SELECT c.doc_id,
         COUNT(*) AS n_tokens,
         CAST(SUM(CAST(lp.logp AS DECIMAL(25,{LOGPROB_DP}))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS avg_logprob
  FROM clean c JOIN lp ON c.token = lp.token
  GROUP BY c.doc_id
)"""


@register(
    "text_unigram_logprob",
    tags=("llm", "text", "quality", "lm"),
    oracle=f"""
WITH {_SQL_UNIGRAM_SCORES}
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       avg_logprob,
       avg_logprob < {LOW_QUALITY_LP} AS low_quality
FROM scores
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: train a unigram LM on the corpus
    itself (token -> ln(count/total)), then score every document by mean
    token logprob — the cheap stand-in for perplexity-based quality
    filters (KenLM-style). Low scores flag gibberish/OOV-heavy docs.

    Scale: the vocabulary is a corpus-level aggregate that is TINY
    relative to the corpus (Heaps' law) — it broadcasts back onto the
    postings, so the per-doc scoring pass has no vocab-side shuffle.
    Logprobs are rounded then decimal-summed: partition-order invariant
    and bitwise equal to the DuckDB oracle."""
    d = spread(load(spark, sf_dir, "documents"))
    postings = (
        d.select(
            "doc_id",
            F.explode_outer(F.split(F.lower("text"), "[^a-z]+")).alias("token"),
        )
        .filter(F.col("token").isNotNull() & (F.col("token") != ""))
    )
    vocab = postings.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = vocab.agg(F.sum("n").alias("t"))
    lp = vocab.join(F.broadcast(total), F.lit(True)).select(
        "token",
        F.round(
            F.log(F.col("n").cast("double") / F.col("t")), LOGPROB_DP
        ).alias("logp"),
    )
    dec = f"decimal(25,{LOGPROB_DP})"
    avg_lp = F.sum(F.col("logp").cast(dec)).cast("double") / F.count(
        F.lit(1)
    ).cast("double")
    return (
        postings.join(F.broadcast(lp), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            avg_lp.alias("avg_logprob"),
            (avg_lp < LOW_QUALITY_LP).alias("low_quality"),
        )
    )


BACKOFF = 0.4  # stupid-backoff discount for unseen bigrams

_SQL_LM_PAIRS = """
toks AS (
  SELECT doc_id, string_split_regex(lower(text), '[^a-z]+') AS tk FROM documents
),
doc_pairs AS (
  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
  FROM toks, LATERAL unnest(range(1, len(tk))) AS t(i)
  WHERE tk[i] <> '' AND tk[i+1] <> ''
)"""


@register(
    "text_bigram_logprob",
    tags=("llm", "text", "quality", "lm"),
    oracle=f"""
WITH {_SQL_LM_PAIRS},
big AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM doc_pairs GROUP BY w1, w2
),
lp_big AS (
  SELECT w1, w2,
         round(ln(CAST(c12 AS DOUBLE)
                  / SUM(c12) OVER (PARTITION BY w1)), {LOGPROB_DP}) AS logp
  FROM big
),
clean AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
  FROM documents
),
vocab AS (
  SELECT token, COUNT(*) AS n FROM clean WHERE token <> '' GROUP BY token
),
total AS (SELECT SUM(n) AS t FROM vocab),
lp_uni AS (
  SELECT token,
         round(ln({BACKOFF} * CAST(n AS DOUBLE) / t), {LOGPROB_DP}) AS logp_bo
  FROM vocab, total
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(coalesce(lb.logp, lu.logp_bo)
                     AS DECIMAL(25,{LOGPROB_DP}))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_logprob
FROM doc_pairs p
LEFT JOIN lp_big lb ON p.w1 = lb.w1 AND p.w2 = lb.w2
JOIN lp_uni lu ON p.w2 = lu.token
GROUP BY p.doc_id
""",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model document scoring with stupid backoff —
    one step closer to the KenLM-style perplexity filters used in
    corpus curation than ``text_unigram_logprob``: seen bigrams score
    ln(c12 / c1.), unseen ones back off to ln({BACKOFF} * unigram
    probability). Train-then-score = two passes over the corpus (model
    aggregation, scoring join) plus one token pass for the backoff
    table; both model tables are vocab-bounded (Heaps' law), so they
    checkpoint once and BROADCAST onto the scoring pass — no
    corpus-sized shuffle anywhere. Per-bigram logprobs round at
    {LOGPROB_DP} dp then decimal-sum: partition-order invariant,
    bitwise equal to the oracle."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), "[^a-z]+")

    def pair_frame():
        return (
            d.select("doc_id", toks.alias("tk"))
            .select(
                "doc_id",
                F.explode_outer(
                    F.filter(
                        F.zip_with(
                            F.col("tk"),
                            F.slice(F.col("tk"), 2, 2_000_000),
                            lambda a, b: F.struct(
                                a.alias("w1"), b.alias("w2")
                            ),
                        ),
                        lambda s: (s["w1"] != "") & (s["w2"] != ""),
                    )
                ).alias("bg"),
            )
            .filter(F.col("bg").isNotNull())
            .select("doc_id", "bg.w1", "bg.w2")
        )

    # Model tables: checkpoint so the scoring pass's broadcast builds
    # don't re-run the corpus tokenization (the PMI lesson).
    big = materialize(
        pair_frame()
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    lp_big = big.select(
        "w1",
        "w2",
        F.round(
            F.log(
                F.col("c12").cast("double")
                / F.sum("c12").over(Window.partitionBy("w1"))
            ),
            LOGPROB_DP,
        ).alias("logp"),
    )
    vocab = materialize(
        d.select(F.explode_outer(toks).alias("token"))
        .filter(F.col("token").isNotNull() & (F.col("token") != ""))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = vocab.agg(F.sum("n").alias("t"))
    lp_uni = vocab.join(F.broadcast(total), F.lit(True)).select(
        "token",
        F.round(
            F.log(F.lit(BACKOFF) * F.col("n").cast("double") / F.col("t")),
            LOGPROB_DP,
        ).alias("logp_bo"),
    )
    dec = f"decimal(25,{LOGPROB_DP})"
    logp = F.coalesce(F.col("logp"), F.col("logp_bo"))
    return (
        pair_frame()
        .join(F.broadcast(lp_big), ["w1", "w2"], "left")
        .join(
            F.broadcast(lp_uni), F.col("w2") == F.col("token")
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(logp.cast(dec)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_logprob"),
        )
    )


@register(
    "text_langid_confusion",
    tags=("llm", "text", "langid", "evaluation"),
    oracle=f"""
WITH scores AS (
  SELECT doc_id, lang AS labeled_lang,
         {_sql_lang_score('en')} AS score_en,
         {_sql_lang_score('es')} AS score_es,
         {_sql_lang_score('de')} AS score_de,
         {_sql_lang_score('fr')} AS score_fr
  FROM documents
),
pred AS (
  SELECT labeled_lang,
         CASE
           WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
           WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
           WHEN score_de >= score_fr THEN 'de'
           ELSE 'fr'
         END AS predicted_lang
  FROM scores
),
cells AS (
  SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM pred GROUP BY labeled_lang, predicted_lang
)
SELECT c.labeled_lang, c.predicted_lang, c.n,
       CAST(c.n AS DOUBLE)
         / CAST(SUM(c.n) OVER (PARTITION BY c.labeled_lang) AS DOUBLE)
         AS recall_share,
       (c.labeled_lang = c.predicted_lang) AS is_correct
FROM cells c
""",
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the language-ID classifier against the
    labeled ``lang`` column — the eval-harness shape: per
    (actual, predicted) cell its count and per-class recall share.
    Quality work is only as good as its evals; this keeps the
    classifier's error structure (which languages bleed into which)
    one query away.

    Same single corpus pass as ``text_language_id`` (scores are scalar
    expressions), then a cells reduce over a 16-row frame — the window
    share is arithmetic on exact integer counts."""
    d = spread(load(spark, sf_dir, "documents"))
    t = F.col("text")
    s = {lang: _lang_score(t, lang) for lang in LANG_MARKERS}
    predicted = (
        F.when(
            (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]),
            "en",
        )
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    cells = (
        d.select(
            F.col("lang").alias("labeled_lang"),
            predicted.alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    share = F.col("n").cast("double") / F.sum("n").over(
        Window.partitionBy("labeled_lang")
    ).cast("double")
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n",
        share.alias("recall_share"),
        (F.col("labeled_lang") == F.col("predicted_lang")).alias(
            "is_correct"
        ),
    )


ZIPF_DP = 9  # log-term quantization before the exact moment sums


@register(
    "text_zipf_fit",
    tags=("llm", "text", "statistics", "corpus"),
    oracle=f"""
WITH tok AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
  FROM documents
),
freqs AS (
  SELECT token, COUNT(*) AS freq FROM tok WHERE token <> '' GROUP BY token
),
ranked AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rnk
  FROM freqs
),
pts AS (
  SELECT round(ln(CAST(rnk AS DOUBLE)), {ZIPF_DP}) AS x,
         round(ln(CAST(freq AS DOUBLE)), {ZIPF_DP}) AS y
  FROM ranked
),
-- products are computed in DOUBLE and quantized ONCE: a
-- DECIMAL(20,9) * DECIMAL(20,9) product carries scale 18, whose
-- scaled sum exceeds 2^53 and casts to double a last-ulp apart
-- between engines (measured in r2 here).
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(20,{ZIPF_DP}))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(20,{ZIPF_DP}))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(x * y, {ZIPF_DP + 1}) AS DECIMAL(25,{ZIPF_DP + 1}))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(round(x * x, {ZIPF_DP + 1}) AS DECIMAL(25,{ZIPF_DP + 1}))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(y * y, {ZIPF_DP + 1}) AS DECIMAL(25,{ZIPF_DP + 1}))) AS DOUBLE) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS vocab_size,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
         AS zipf_intercept,
       ((n * sxy - sx * sy) * (n * sxy - sx * sy))
         / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
FROM m
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus rank-frequency curve: OLS of
    ln(freq) on ln(rank) over the full vocabulary — natural language
    sits near slope −1 with high r², while templated/synthetic corpora
    flatten or kink. A one-row corpus-health dial (alongside
    ``text_char_entropy``'s per-doc one) that also sanity-checks any
    tokenizer change: if the slope jumps, the tokenizer broke.

    ln only ever sees positive integers (ranks, counts); terms are
    quantized and summed as exact decimals (order-free) and the fit is
    the same closed-form normal-equation expression as
    ``agg_linreg_by_group``. Vocabulary-sized everything after the one
    word-count shuffle; the frequency rank is computed DISTRIBUTED
    (``distributed_row_number`` — range partitions + broadcast
    offsets), so even a 10^9-type vocabulary never funnels through a
    single-task sort (the r12 raw-grain global-window migration)."""
    d = spread(load(spark, sf_dir, "documents"))
    freqs = (
        d.select(
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    from ..operators.evalmetrics import distributed_row_number

    ranked = (
        distributed_row_number(freqs, [F.col("freq").desc(), "token"])
        .withColumnRenamed("_rnk", "rnk")
        .drop("_nt")
    )
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")), ZIPF_DP).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), ZIPF_DP).alias("y"),
    )
    dec1 = f"decimal(20,{ZIPF_DP})"
    dec2 = f"decimal(25,{ZIPF_DP + 1})"

    def q2(c):
        return F.sum(F.round(c, ZIPF_DP + 1).cast(dec2)).cast("double")

    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec1)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec1)).cast("double").alias("sy"),
        q2(F.col("x") * F.col("y")).alias("sxy"),
        q2(F.col("x") * F.col("x")).alias("sxx"),
        q2(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    slope = cov_n / var_x
    return m.select(
        n.cast("bigint").alias("vocab_size"),
        slope.alias("zipf_slope"),
        ((sy - slope * sx) / n).alias("zipf_intercept"),
        ((cov_n * cov_n) / (var_x * (n * syy - sy * sy))).alias("r2"),
    )


# --- source-distribution similarity (Jensen–Shannon) -----------------------

JSD_DP = 8
_LN2 = "CAST(0.6931471805599453 AS DOUBLE)"  # bare literal parses DECIMAL


@register(
    "text_jsd_source_similarity",
    tags=("llm", "text", "distribution", "similarity"),
    oracle=f"""
WITH toks AS (
  SELECT source, unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
  FROM documents
),
counts AS (
  SELECT source, token, COUNT(*) AS n FROM toks WHERE token <> ''
  GROUP BY source, token
),
totals AS (SELECT source, SUM(n) AS t FROM counts GROUP BY source),
dist AS (
  SELECT c.source, c.token, CAST(c.n AS DOUBLE) / t.t AS p
  FROM counts c JOIN totals t ON c.source = t.source
),
shared AS (
  SELECT a.source AS sa, b.source AS sb,
         COUNT(*) AS n_shared,
         CAST(SUM(CAST(round(a.p * ln(2.0 * a.p / (a.p + b.p)), {JSD_DP})
                       AS DECIMAL(25,{JSD_DP}))) AS DOUBLE) AS kl_a,
         CAST(SUM(CAST(round(b.p * ln(2.0 * b.p / (a.p + b.p)), {JSD_DP})
                       AS DECIMAL(25,{JSD_DP}))) AS DOUBLE) AS kl_b,
         CAST(SUM(CAST(a.p AS DECIMAL(25,{JSD_DP}))) AS DOUBLE) AS pa_shared,
         CAST(SUM(CAST(b.p AS DECIMAL(25,{JSD_DP}))) AS DOUBLE) AS pb_shared
  FROM dist a JOIN dist b ON a.token = b.token AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT sa, sb, CAST(n_shared AS BIGINT) AS n_shared,
       0.5 * (kl_a + kl_b)
         + 0.5 * {_LN2} * ((1.0 - pa_shared) + (1.0 - pb_shared)) AS jsd
FROM shared
""",
)
def text_jsd_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between every pair of sources' unigram
    distributions — which feeds are DISTRIBUTIONALLY near-duplicates
    (mirrors, scrapes, re-crawls) even when no document matches
    exactly: low JSD pairs are mixture-design candidates for merging,
    and the complement of `dq_dup_rate_by_source`'s exact-hash view.

    The disjoint-support mass needs no outer join: tokens present in
    only one distribution contribute exactly ½·ln2·(their mass), so
    everything reduces to SHARED-token sums — one inner self-join on
    the vocabulary-keyed per-source distribution (Heaps-bounded:
    O(sources²) output, O(vocab × sources) input). Probabilities are
    exact count ratios; each ln-term rounds at {JSD_DP} dp then sums
    as decimals; ln2 enters as an explicit double literal (bare SQL
    decimals parse DECIMAL and fold differently)."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = (
        d.select(
            "source",
            F.explode_outer(F.split(F.lower("text"), "[^a-z]+")).alias("token"),
        )
        .filter(F.col("token").isNotNull() & (F.col("token") != ""))
    )
    counts = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.groupBy("source").agg(F.sum("n").alias("t"))
    dist = counts.join(totals, "source").select(
        "source", "token", (F.col("n").cast("double") / F.col("t")).alias("p")
    )
    a = dist.select(
        F.col("source").alias("sa"), "token", F.col("p").alias("pa")
    )
    b = dist.select(
        F.col("source").alias("sb"), "token", F.col("p").alias("pb")
    )
    dec = f"decimal(25,{JSD_DP})"
    pa, pb = F.col("pa"), F.col("pb")
    shared = (
        a.join(b, "token")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            F.sum(
                F.round(pa * F.log(2.0 * pa / (pa + pb)), JSD_DP).cast(dec)
            ).cast("double").alias("kl_a"),
            F.sum(
                F.round(pb * F.log(2.0 * pb / (pa + pb)), JSD_DP).cast(dec)
            ).cast("double").alias("kl_b"),
            F.sum(pa.cast(dec)).cast("double").alias("pa_shared"),
            F.sum(pb.cast(dec)).cast("double").alias("pb_shared"),
        )
    )
    ln2 = 0.6931471805599453
    return shared.select(
        "sa",
        "sb",
        "n_shared",
        # No final rounding: every operand is already an exact decimal
        # cast or a rounded sum (bitwise identical across engines), so
        # the composite is identical too — and a final round() could
        # only REINTRODUCE a half-ulp tie.
        (
            0.5 * (F.col("kl_a") + F.col("kl_b"))
            + 0.5
            * ln2
            * ((1.0 - F.col("pa_shared")) + (1.0 - F.col("pb_shared")))
        ).alias("jsd"),
    )


# --- windowed co-occurrence PMI (word2vec-style context window) ------------

COOC_WINDOW = 2   # context radius: pairs (w_i, w_j) with j - i in [1, 2]
COOC_MIN_N = 8    # pair-count support floor


@register(
    "text_cooccurrence_pmi",
    tags=("llm", "text", "collocation", "pmi"),
    oracle=f"""
WITH toks AS (
  SELECT string_split_regex(lower(text), '[^a-z]+') AS tk FROM documents
),
pairs AS (
  SELECT least(tk[CAST(t.i AS INTEGER)],
               tk[CAST(t.i AS INTEGER) + CAST(d.o AS INTEGER)]) AS w1,
         greatest(tk[CAST(t.i AS INTEGER)],
                  tk[CAST(t.i AS INTEGER) + CAST(d.o AS INTEGER)]) AS w2
  FROM toks,
       LATERAL unnest(range(1, greatest(len(tk), 1))) AS t(i),
       LATERAL unnest(range(1, {COOC_WINDOW} + 1)) AS d(o)
  WHERE CAST(t.i AS INTEGER) + CAST(d.o AS INTEGER) <= len(tk)
    AND tk[CAST(t.i AS INTEGER)] <> ''
    AND tk[CAST(t.i AS INTEGER) + CAST(d.o AS INTEGER)] <> ''
),
pc AS (SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2),
m1 AS (
  SELECT w, SUM(n_pair) AS occ FROM (
    SELECT w1 AS w, n_pair FROM pc UNION ALL SELECT w2, n_pair FROM pc
  ) GROUP BY w
),
tot AS (SELECT SUM(n_pair) AS t FROM pc)
SELECT pc.w1, pc.w2, CAST(pc.n_pair AS BIGINT) AS n_pair,
       round(ln((CAST(pc.n_pair AS DOUBLE) * t)
                / (CAST(a.occ AS DOUBLE) * b.occ)), 8) AS pmi
FROM pc JOIN m1 a ON pc.w1 = a.w JOIN m1 b ON pc.w2 = b.w
CROSS JOIN tot
WHERE pc.n_pair >= {COOC_MIN_N}
""",
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI over a ±{COOC_WINDOW}-token CONTEXT WINDOW — the word2vec/
    GloVe co-occurrence statistic, where `text_bigram_pmi` only sees
    adjacent pairs: collocations with an intervening word ("merge …
    join") surface here and nowhere else. Pairs canonicalize
    (min, max) so both directions pool.

    Same scale contract as the bigram pass: pair generation is a JVM
    array comprehension (positions × {COOC_WINDOW} offsets — bounded
    fan-out, no self-join), the pair-count table materializes ONCE and
    marginals re-aggregate FROM it (no corpus rescan), both marginal
    frames broadcast. ln rounds at 8 dp (generic)."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), "[^a-z]+")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(F.col("tk")), F.lit(1))),
            lambda i: F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(COOC_WINDOW)),
                    lambda o: F.struct(
                        F.least(
                            F.try_element_at(F.col("tk"), i),
                            F.try_element_at(F.col("tk"), i + o),
                        ).alias("w1"),
                        F.greatest(
                            F.try_element_at(F.col("tk"), i),
                            F.try_element_at(F.col("tk"), i + o),
                        ).alias("w2"),
                        (i + o <= F.size(F.col("tk"))).alias("ok"),
                    ),
                ),
                lambda s: s["ok"]
                & (s["w1"] != "")
                & (s["w2"] != "")
                & s["w1"].isNotNull()
                & s["w2"].isNotNull(),
            ),
        )
    )
    pairs = (
        d.select(toks.alias("tk"))
        .select(F.explode_outer(pair_structs).alias("p"))
        .filter(F.col("p").isNotNull())
        .select("p.w1", "p.w2")
    )
    pc = materialize(
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    m1 = (
        pc.select(F.col("w1").alias("w"), "n_pair")
        .unionAll(pc.select(F.col("w2").alias("w"), "n_pair"))
        .groupBy("w")
        .agg(F.sum("n_pair").alias("occ"))
    )
    tot = pc.agg(F.sum("n_pair").alias("t"))
    pmi = F.round(
        F.log(
            (F.col("n_pair").cast("double") * F.col("t"))
            / (F.col("occ_a").cast("double") * F.col("occ_b"))
        ),
        8,
    )
    return (
        pc.filter(F.col("n_pair") >= COOC_MIN_N)
        .join(
            F.broadcast(m1.select(F.col("w").alias("w1"), F.col("occ").alias("occ_a"))),
            "w1",
        )
        .join(
            F.broadcast(m1.select(F.col("w").alias("w2"), F.col("occ").alias("occ_b"))),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", F.col("n_pair").cast("bigint").alias("n_pair"), pmi.alias("pmi"))
    )


@register(
    "text_quality_buckets_ccnet",
    tags=("llm", "text", "quality", "curation"),
    oracle=f"""
WITH {_SQL_UNIGRAM_SCORES},
langd AS (SELECT doc_id, lang FROM documents)
SELECT s.doc_id, d.lang, s.avg_logprob,
       CASE NTILE(3) OVER (PARTITION BY d.lang
                           ORDER BY s.avg_logprob DESC, s.doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket
FROM scores s JOIN langd d ON s.doc_id = d.doc_id
""",
)
def text_quality_buckets_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing: per language, rank documents by
    LM score and cut into head / middle / tail terciles — the curation
    scheme that keeps mixture decisions per-language (so low-resource
    languages are not graded against English perplexity) and feeds
    head-heavy sampling.

    Composes the registered unigram-LM scorer (same broadcast-vocab
    plan) with one per-language NTILE — total-ordered tie-breaks make
    the cut deterministic, and the bucket column is exactly what
    `sample_temperature_mixture` / `corpus_mixture_weights` consume
    upstream."""
    scores = text_unigram_logprob(spark, sf_dir).select(
        "doc_id", "avg_logprob"
    )
    langd = load(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), "doc_id"
    )
    return (
        scores.join(langd, "doc_id")
        .withColumn("nt", F.ntile(3).over(w))
        .select(
            "doc_id",
            "lang",
            "avg_logprob",
            F.when(F.col("nt") == 1, "head")
            .when(F.col("nt") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


@register(
    "text_lexical_stats",
    tags=("llm", "text", "quality"),
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
         AS n_unique,
       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         / len(string_split(text, ' ')) AS ttr,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
         AS n_tokens_ws,
       (CAST(length(replace(text, ' ', '')) AS DOUBLE))
         / len(string_split(text, ' ')) AS avg_word_len,
       CAST(len(regexp_extract_all(text, '[aeiou]+')) AS DOUBLE)
         / len(string_split(text, ' ')) AS syllables_per_word
FROM documents
""",
)
def text_lexical_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity and readability signals per document:
    type-token ratio (repetition-heavy boilerplate scores low), average
    word length, and vowel-run syllable density (the Flesch-family
    complexity proxy). Together with `text_quality_score` and
    `text_repetition_stats` these are the classic cheap columns a
    quality classifier consumes.

    Pure codegen projection — integer counts and ratios of identical
    doubles, no shuffle, no Python, exact in any engine."""
    d = spread(load(spark, sf_dir, "documents"))
    words = F.split(F.col("text"), " ")
    nw = F.size(words)
    nu = F.size(F.array_distinct(words))
    no_sp = F.length(F.regexp_replace(F.col("text"), " ", ""))
    return d.select(
        "doc_id",
        nw.cast("bigint").alias("n_words"),
        nu.cast("bigint").alias("n_unique"),
        (nu.cast("double") / nw).alias("ttr"),
        (F.length("text") - no_sp + F.lit(1))
        .cast("bigint")
        .alias("n_tokens_ws"),
        (no_sp.cast("double") / nw).alias("avg_word_len"),
        (
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[aeiou]+"), 0))
            .cast("double")
            / nw
        ).alias("syllables_per_word"),
    )


@register(
    "text_token_fertility",
    tags=("llm", "text", "tokens", "fertility"),
    oracle="""
WITH per_doc AS (
  SELECT lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
              AS BIGINT) AS bpe_tokens
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS ws_tokens_total,
       CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_tokens_total,
       CAST(SUM(bpe_tokens) AS DOUBLE) / SUM(ws_tokens) AS corpus_fertility,
       MIN(CAST(bpe_tokens AS DOUBLE) / ws_tokens) AS min_doc_fertility,
       MAX(CAST(bpe_tokens AS DOUBLE) / ws_tokens) AS max_doc_fertility
FROM per_doc
GROUP BY lang
""",
)
def text_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — tokens emitted per whitespace
    word, the standard multilingual-tokenizer health metric: a BPE
    vocabulary trained English-heavy shows fertility near 1 on English
    and 2-4x on underrepresented scripts, which silently taxes those
    languages' effective context length and training share. Reports
    per-language corpus fertility (ratio of exact token totals) plus
    the per-doc min/max spread under the same BPE-ish regex tokenizer
    used by ``text_token_count``.

    Scale shape: tokenization is a zero-shuffle projection on the
    scan; the rollup is one hash aggregate on `lang` with map-side
    partials. Determinism: corpus fertility divides two exact BIGINT
    sums once; per-doc extremes use min/max of doubles (order-free) —
    no float summation anywhere."""
    d = spread(load(spark, sf_dir, "documents"))
    t = F.col("text")
    per_doc = d.select(
        "lang",
        F.size(F.split(t, " ")).cast("bigint").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(t, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0)
        )
        .cast("bigint")
        .alias("bpe_tokens"),
    )
    fert = F.col("bpe_tokens").cast("double") / F.col("ws_tokens")
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ws_tokens").cast("bigint").alias("ws_tokens_total"),
        F.sum("bpe_tokens").cast("bigint").alias("bpe_tokens_total"),
        (
            F.sum("bpe_tokens").cast("double") / F.sum("ws_tokens")
        ).alias("corpus_fertility"),
        F.min(fert).alias("min_doc_fertility"),
        F.max(fert).alias("max_doc_fertility"),
    )


# Small inline valence lexicon (own list, AFINN-style scoring scheme:
# integer word scores in [-5, 5]). At production scale the lexicon is
# still a broadcast dictionary — sentiment scoring never shuffles text.
SENTIMENT_LEXICON = {
    "good": 3, "great": 4, "excellent": 5, "amazing": 4, "love": 3,
    "happy": 3, "best": 3, "win": 2, "nice": 2, "fast": 1,
    "improved": 2, "success": 3, "stable": 1, "clean": 1, "easy": 2,
    "bad": -3, "terrible": -4, "awful": -4, "hate": -3, "worst": -4,
    "slow": -1, "broken": -3, "fail": -3, "bug": -2, "crash": -4,
    "error": -2, "wrong": -2, "poor": -2, "hard": -1, "problem": -2,
}


def _sentiment_lexicon_values() -> str:
    return ", ".join(
        f"('{w}', {s})" for w, s in sorted(SENTIMENT_LEXICON.items())
    )


@register(
    "text_sentiment_lexicon",
    tags=("llm", "text", "sentiment"),
    oracle=f"""
WITH lex(word, score) AS (VALUES {_sentiment_lexicon_values()}),
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
  FROM documents
),
hits AS (
  SELECT t.doc_id, CAST(SUM(l.score) AS BIGINT) AS score,
         CAST(SUM(CASE WHEN l.score > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pos,
         CAST(SUM(CASE WHEN l.score < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_neg
  FROM toks t JOIN lex l ON t.word = l.word
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(h.score, 0) AS score,
       COALESCE(h.n_pos, 0) AS n_pos,
       COALESCE(h.n_neg, 0) AS n_neg,
       CASE WHEN COALESCE(h.score, 0) > 0 THEN 'positive'
            WHEN COALESCE(h.score, 0) < 0 THEN 'negative'
            ELSE 'neutral' END AS label
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
""",
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring — the distributed-Spark shape of
    the EDBT-2016 Twitter sentiment study (PAPERS.md): tokenize, join
    tokens against a BROADCAST valence lexicon (integer word scores),
    sum per document, label by sign. Docs with no lexicon hits stay in
    the output as neutral via the left join back to the corpus.

    Scale: the lexicon broadcasts (a few KB; real ones are a few MB),
    so the only corpus-sized shuffle is the per-doc partial-summed
    aggregation of matched tokens — text bodies never move for the
    join, and a million-doc-per-minute stream scores with the same
    plan under foreachBatch."""
    d = load(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        sorted(SENTIMENT_LEXICON.items()), "word string, score int"
    )
    toks = d.select(
        "doc_id", F.explode_outer(F.split(F.lower("text"), " ")).alias("word")
    )
    hits = (
        toks.join(F.broadcast(lex), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("score").cast("bigint").alias("score"),
            F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
            F.sum(F.when(F.col("score") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_neg"),
        )
    )
    score = F.coalesce("score", F.lit(0).cast("bigint"))
    return (
        d.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            score.alias("score"),
            F.coalesce("n_pos", F.lit(0).cast("bigint")).alias("n_pos"),
            F.coalesce("n_neg", F.lit(0).cast("bigint")).alias("n_neg"),
            F.when(score > 0, "positive")
            .when(score < 0, "negative")
            .otherwise("neutral")
            .alias("label"),
        )
    )


# --- interpolated Kneser-Ney bigram model ----------------------------------

KN_D = 0.75  # the standard absolute-discount constant (Chen & Goodman '99)


@register(
    "text_kneser_ney_bigram",
    tags=("llm", "text", "quality", "lm"),
    oracle=f"""
WITH {_SQL_LM_PAIRS},
big AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM doc_pairs GROUP BY w1, w2
),
t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM big)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
       greatest(CAST(c12 AS DOUBLE) - CAST({KN_D} AS DOUBLE),
                CAST(0 AS DOUBLE))
         / CAST(SUM(c12) OVER (PARTITION BY w1) AS DOUBLE)
       + ((CAST({KN_D} AS DOUBLE)
           * CAST(COUNT(*) OVER (PARTITION BY w1) AS DOUBLE))
          / CAST(SUM(c12) OVER (PARTITION BY w1) AS DOUBLE))
         * (CAST(COUNT(*) OVER (PARTITION BY w2) AS DOUBLE) / t.nt)
         AS p_kn
FROM big, t
""",
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram model (Chen & Goodman, "An
    Empirical Study of Smoothing Techniques for Language Modeling" —
    the smoothing KenLM uses, and KenLM perplexity is the canonical
    corpus-quality filter):

      P_KN(w2|w1) = max(c12 - D, 0)/c1
                    + (D * N1+(w1,.)/c1) * (N1+(.,w2)/N1+(.,.))

    The continuation weight N1+(.,w2) — how many DISTINCT predecessors
    w2 follows — is what distinguishes KN from plain absolute
    discounting: "francisco" is frequent but follows only "san", so its
    continuation probability is tiny. Every term is a window aggregate
    over the observed-bigram model table (c1 and N1+(w1,.) partition by
    w1, N1+(.,w2) by w2), so the model builds in ONE corpus pass plus
    vocabulary-bounded window shuffles; N1+(.,.) is a single scalar off
    the checkpointed model frame.

    Determinism: no ln(), no rounding — every factor is a ratio of
    exact-integer-valued doubles and the expression tree is mirrored
    IEEE op-for-op in the oracle, so the doubles match bitwise."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), "[^a-z]+")
    pairs = (
        d.select("doc_id", toks.alias("tk"))
        .select(
            F.explode(
                F.filter(
                    F.zip_with(
                        F.col("tk"),
                        F.slice(F.col("tk"), 2, 2_000_000),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    ),
                    lambda s: (s["w1"] != "") & (s["w2"] != ""),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    big = materialize(
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    n_tot = float(big.count())  # scalar over the checkpointed model table
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    c1 = F.sum("c12").over(w1w).cast("double")
    n1_fwd = F.count(F.lit(1)).over(w1w).cast("double")
    n1_bwd = F.count(F.lit(1)).over(w2w).cast("double")
    p_kn = (
        F.greatest(
            F.col("c12").cast("double") - F.lit(KN_D), F.lit(0.0)
        )
        / c1
        + ((F.lit(KN_D) * n1_fwd) / c1) * (n1_bwd / F.lit(n_tot))
    )
    return big.select(
        "w1", "w2", F.col("c12").cast("bigint").alias("c12"), p_kn.alias("p_kn")
    )


# --- Kneser-Ney document scoring (train-fit LM over held-out docs) ----------

KN_OOV_LOGP = -16.11809565  # round(ln(1e-7), 8), inlined: no ln at eval time


@register(
    "text_kneser_ney_doc_score",
    tags=("llm", "text", "quality", "lm", "perplexity-filter"),
    oracle=f"""
WITH {_SQL_LM_PAIRS},
tagged AS (
  SELECT p.*,
         substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 1) <= 'b' AS is_train
  FROM doc_pairs p
),
big AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM tagged WHERE is_train GROUP BY w1, w2
),
w1m AS (
  SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1_fwd FROM big GROUP BY w1
),
w2m AS (SELECT w2, COUNT(*) AS n1_bwd FROM big GROUP BY w2),
t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM big),
scorepairs AS (
  SELECT s.doc_id, s.w1, s.w2, b.c12, m1.c1, m1.n1_fwd, m2.n1_bwd
  FROM tagged s
  LEFT JOIN big b ON s.w1 = b.w1 AND s.w2 = b.w2
  LEFT JOIN w1m m1 ON s.w1 = m1.w1
  LEFT JOIN w2m m2 ON s.w2 = m2.w2
  WHERE NOT s.is_train
),
lp AS (
  SELECT doc_id,
         CASE WHEN c12 IS NOT NULL THEN 0 ELSE 1 END AS unseen,
         CASE WHEN c1 IS NULL OR n1_bwd IS NULL THEN 1 ELSE 0 END AS oov,
         CASE
           WHEN c12 IS NOT NULL THEN round(ln(
             greatest(CAST(c12 AS DOUBLE) - CAST({KN_D} AS DOUBLE),
                      CAST(0 AS DOUBLE)) / CAST(c1 AS DOUBLE)
             + ((CAST({KN_D} AS DOUBLE) * CAST(n1_fwd AS DOUBLE))
                / CAST(c1 AS DOUBLE))
               * (CAST(n1_bwd AS DOUBLE) / t.nt)), {LOGPROB_DP})
           WHEN c1 IS NOT NULL AND n1_bwd IS NOT NULL THEN round(ln(
             ((CAST({KN_D} AS DOUBLE) * CAST(n1_fwd AS DOUBLE))
              / CAST(c1 AS DOUBLE))
               * (CAST(n1_bwd AS DOUBLE) / t.nt)), {LOGPROB_DP})
           ELSE CAST({KN_OOV_LOGP} AS DOUBLE)
         END AS logp
  FROM scorepairs, t
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(unseen) AS BIGINT) AS n_unseen,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(CAST(logp AS DECIMAL(25,{LOGPROB_DP}))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS avg_logprob
FROM lp GROUP BY doc_id
""",
)
def text_kneser_ney_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KenLM-style perplexity filter proper: fit the interpolated
    Kneser-Ney bigram model (text_kneser_ney_bigram) on the TRAIN hash
    split only, then score every held-out document's bigrams under it —
    seen bigrams take the full interpolated probability, unseen
    bigrams with in-vocabulary parts back off to the continuation term
    lambda(w1) * P_cont(w2) (the case a same-corpus model never
    exercises), and out-of-vocabulary pairs take an inlined ln(1e-7)
    floor (no runtime ln for the constant). n_unseen / n_oov ride
    along so the filter's backoff pressure is visible per document.

    Scale: model tables are vocabulary-bounded (Heaps' law) and
    broadcast onto the scoring pass; per-bigram logprobs round at
    {LOGPROB_DP} dp then decimal-sum (partition-order invariant) — the
    text_bigram_logprob discipline with the KN model swapped in."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = F.split(F.lower(F.col("text")), "[^a-z]+")
    pairs = (
        d.select("doc_id", toks.alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.filter(
                    F.zip_with(
                        F.col("tk"),
                        F.slice(F.col("tk"), 2, 2_000_000),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    ),
                    lambda s: (s["w1"] != "") & (s["w2"] != ""),
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            "bg.w1",
            "bg.w2",
            (
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "b"
            ).alias("is_train"),
        )
    )
    big = materialize(
        pairs.filter("is_train")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    w1m = big.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1_fwd")
    )
    w2m = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n1_bwd"))
    nt = float(big.count())  # scalar over the checkpointed model table
    kd = F.lit(KN_D)
    c1d = F.col("c1").cast("double")
    seen_p = (
        F.greatest(F.col("c12").cast("double") - kd, F.lit(0.0)) / c1d
        + ((kd * F.col("n1_fwd").cast("double")) / c1d)
        * (F.col("n1_bwd").cast("double") / F.lit(nt))
    )
    backoff_p = ((kd * F.col("n1_fwd").cast("double")) / c1d) * (
        F.col("n1_bwd").cast("double") / F.lit(nt)
    )
    logp = (
        F.when(F.col("c12").isNotNull(), F.round(F.log(seen_p), LOGPROB_DP))
        .when(
            F.col("c1").isNotNull() & F.col("n1_bwd").isNotNull(),
            F.round(F.log(backoff_p), LOGPROB_DP),
        )
        .otherwise(F.lit(KN_OOV_LOGP))
    )
    scored = (
        pairs.filter(~F.col("is_train"))
        .join(F.broadcast(big), ["w1", "w2"], "left")
        .join(F.broadcast(w1m), "w1", "left")
        .join(F.broadcast(w2m), "w2", "left")
        .select(
            "doc_id",
            F.when(F.col("c12").isNotNull(), 0).otherwise(1).alias("unseen"),
            F.when(
                F.col("c1").isNull() | F.col("n1_bwd").isNull(), 1
            ).otherwise(0).alias("oov"),
            logp.alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("unseen").cast("bigint").alias("n_unseen"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        (
            F.sum(F.col("logp").cast(f"decimal(25,{LOGPROB_DP})")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_logprob"),
    )


# --- punycode / IDN decode (RFC 3492, hand-implemented) ----------------------
#
# Internationalized domain names ship ASCII-encoded ("xn--..."), and
# crawl pipelines must decode them BEFORE homoglyph/URL dedup or the
# same host appears under unboundedly many spellings. RFC 3492 is a
# small public algorithm (generalized variable-length integers with
# bias adaptation); the decoder below is hand-written and verified
# three ways: against the stdlib 'punycode' codec (an independent
# implementation, both directions), against the RFC's closed-form
# oracle strings, and by a hypothesis roundtrip over arbitrary
# unicode labels.

_PC_BASE, _PC_TMIN, _PC_TMAX = 36, 1, 26
_PC_SKEW, _PC_DAMP = 38, 700
_PC_INITIAL_BIAS, _PC_INITIAL_N = 72, 128


def _pc_adapt(delta: int, numpoints: int, firsttime: bool) -> int:
    delta = delta // _PC_DAMP if firsttime else delta // 2
    delta += delta // numpoints
    k = 0
    while delta > ((_PC_BASE - _PC_TMIN) * _PC_TMAX) // 2:
        delta //= _PC_BASE - _PC_TMIN
        k += _PC_BASE
    return k + (((_PC_BASE - _PC_TMIN + 1) * delta) // (delta + _PC_SKEW))


def punycode_decode(label: str) -> str:
    """RFC 3492 §6.2 decoding of a bare punycode label (no 'xn--')."""
    if "-" in label:
        pos = label.rindex("-")
        output = list(label[:pos])
        ext = label[pos + 1 :]
    else:
        output, ext = [], label
    for ch in output:
        if ord(ch) >= 128:
            raise ValueError(f"punycode basic part has non-ASCII {ch!r}")
    n, i, bias = _PC_INITIAL_N, 0, _PC_INITIAL_BIAS
    pos = 0
    while pos < len(ext):
        oldi, w, k = i, 1, _PC_BASE
        while True:
            if pos >= len(ext):
                raise ValueError("punycode: truncated variable-length integer")
            c = ext[pos]
            pos += 1
            if "a" <= c <= "z":
                digit = ord(c) - ord("a")
            elif "0" <= c <= "9":
                digit = ord(c) - ord("0") + 26
            elif "A" <= c <= "Z":
                digit = ord(c) - ord("A")
            else:
                raise ValueError(f"punycode: invalid digit {c!r}")
            i += digit * w
            t = max(_PC_TMIN, min(_PC_TMAX, k - bias))
            if digit < t:
                break
            w *= _PC_BASE - t
            k += _PC_BASE
        bias = _pc_adapt(i - oldi, len(output) + 1, oldi == 0)
        n += i // (len(output) + 1)
        i %= len(output) + 1
        if n > 0x10FFFF:
            raise ValueError("punycode: codepoint overflow")
        output.insert(i, chr(n))
        i += 1
    return "".join(output)


def punycode_encode(label: str) -> str:
    """RFC 3492 §6.3 encoding (the fixture twin; stdlib-interop-tested)."""
    basic = [c for c in label if ord(c) < 128]
    out = list(basic)
    h = b = len(basic)
    if basic:
        out.append("-")
    n, delta, bias = _PC_INITIAL_N, 0, _PC_INITIAL_BIAS
    codes = [ord(c) for c in label]
    while h < len(label):
        m = min(c for c in codes if c >= n)
        delta += (m - n) * (h + 1)
        n = m
        for c in codes:
            if c < n:
                delta += 1
            elif c == n:
                q, k = delta, _PC_BASE
                while True:
                    t = max(_PC_TMIN, min(_PC_TMAX, k - bias))
                    if q < t:
                        break
                    digit = t + (q - t) % (_PC_BASE - t)
                    out.append(
                        chr(digit + ord("a")) if digit < 26
                        else chr(digit - 26 + ord("0"))
                    )
                    q = (q - t) // (_PC_BASE - t)
                    k += _PC_BASE
                out.append(
                    chr(q + ord("a")) if q < 26 else chr(q - 26 + ord("0"))
                )
                bias = _pc_adapt(delta, h + 1, h == b)
                delta = 0
                h += 1
        delta += 1
        n += 1
    return "".join(out)


PUNY_N = 40


def _puny_label(i: int) -> str:
    # greek + cyrillic + ascii: mixed basic/non-basic, two scripts
    return f"host{chr(0x3B1 + i % 24)}{chr(0x430 + i % 30)}{i}"


def _puny_rows() -> list[tuple[int, str]]:
    # encode with the STDLIB codec — independent of the hand decoder
    # under test, so a symmetric encoder/decoder bug cannot hide
    return [
        (i, "xn--" + _puny_label(i).encode("punycode").decode("ascii"))
        for i in range(PUNY_N)
    ]


def _puny_oracle() -> str:
    values = ",\n  ".join(
        f"({i}, '{enc}')" for i, enc in _puny_rows()
    )
    return f"""
WITH encoded(label_id, encoded) AS (VALUES
  {values}
)
SELECT CAST(label_id AS BIGINT) AS label_id,
       encoded,
       'host' || chr(945 + label_id % 24) || chr(1072 + label_id % 30)
         || CAST(label_id AS VARCHAR) AS decoded,
       CAST(length('host' || chr(945 + label_id % 24)
                   || chr(1072 + label_id % 30)
                   || CAST(label_id AS VARCHAR)) AS BIGINT) AS n_codepoints
FROM encoded
"""


@register(
    "text_punycode_decode",
    tags=("text", "idn", "punycode", "pandas-udf"),
    oracle=_puny_oracle(),
)
def text_punycode_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDN label decoding: 'xn--' punycode labels (fixture encoded by
    the INDEPENDENT stdlib codec) decoded by the hand-written RFC 3492
    algorithm in an Arrow-batched map; the oracle reconstructs every
    decoded string from the closed-form label formula via chr(). At
    scale this is the normalization step in front of
    corpus_url_canonical_dedup — a stateless map, no shuffle."""
    from pyspark.sql.functions import pandas_udf

    rows = _puny_rows()
    src = spark.createDataFrame(rows, "label_id long, encoded string")
    decode = pandas_udf(
        lambda s: s.map(
            lambda x: punycode_decode(x[4:]) if x.startswith("xn--") else x
        ),
        "string",
    )
    return src.select(
        "label_id",
        "encoded",
        decode("encoded").alias("decoded"),
        F.length(decode("encoded")).cast("bigint").alias("n_codepoints"),
    )


# --- Gopher quality rules ------------------------------------------------------
#
# The Gopher/MassiveText rule set (Rae et al. 2021, App. A) is the
# reference heuristic filter most open pipelines (RefinedWeb, Dolma,
# FineWeb) start from. The subset expressible over this corpus's
# single-line documents: word-count bounds, mean-word-length bounds,
# >= 2 distinct stop words, and >= 80% alphabetic words. Everything is
# array arithmetic over the split word list — integer counts and one
# final division per metric, no explode (the per-doc word list stays
# inside one row), no Python. The CCNet-style perplexity bucketing
# (text_quality_buckets_ccnet) and repetition rules
# (text_repetition_stats) are separate registrations; together they
# cover the standard quality-filter stack.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = "3.0"
GOPHER_MAX_MEAN_LEN = "10.0"
# Gopher's English list is {the,be,to,of,and,that,have,with}; the rule
# is ">= 2 distinct stop words for the corpus language", so the list
# adapts to the synthetic vocabulary's function words — with the
# canonical list the rule rejects 100%% of docs (not load-bearing).
GOPHER_STOPWORDS = ("the", "a", "data", "key", "with")
GOPHER_MIN_STOPS = 2
GOPHER_MIN_ALPHA_FRAC = "0.8"


@register(
    "text_gopher_rules",
    tags=("llm", "text", "quality", "gopher"),
    oracle=f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
m AS (
  SELECT doc_id, source,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(list_reduce([0] || list_transform(ws, x -> len(x)),
                          (a, b) -> a + b) AS BIGINT) AS total_chars,
         CAST(len(list_distinct(list_filter(ws,
           x -> list_contains({list(GOPHER_STOPWORDS)}, x)))) AS BIGINT)
           AS distinct_stops,
         CAST(len(list_filter(ws, x -> regexp_matches(x, '^[a-z]+$')))
              AS BIGINT) AS alpha_words
  FROM w
)
SELECT doc_id, source, n_words,
       CAST(total_chars AS DOUBLE) / n_words AS mean_word_len,
       distinct_stops,
       CAST(alpha_words AS DOUBLE) / n_words AS alpha_frac,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
         AS pass_word_count,
       (CAST(total_chars AS DOUBLE) / n_words
          BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN})
         AS pass_mean_len,
       (distinct_stops >= {GOPHER_MIN_STOPS}) AS pass_stopwords,
       (CAST(alpha_words AS DOUBLE) / n_words >= {GOPHER_MIN_ALPHA_FRAC})
         AS pass_alpha,
       ((n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
        AND (CAST(total_chars AS DOUBLE) / n_words
               BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN})
        AND (distinct_stops >= {GOPHER_MIN_STOPS})
        AND (CAST(alpha_words AS DOUBLE) / n_words
               >= {GOPHER_MIN_ALPHA_FRAC})) AS gopher_pass
FROM m
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule evaluation: word-count bounds
    [{GOPHER_MIN_WORDS}, {GOPHER_MAX_WORDS}], mean word length in
    [3, 10], >= {GOPHER_MIN_STOPS} distinct stop words, >= 80%%
    alphabetic words — each metric, each flag, and the conjunction.
    All array ops on the in-row word list (no explode, no shuffle
    beyond the scan); at 100 TB this is a pure map stage that fuses
    into the ingest scan."""
    d = spread(load(spark, sf_dir, "documents"))
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    m = d.select(
        "doc_id",
        "source",
        F.size(ws).cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(ws, F.length), F.lit(0), lambda a, x: a + x
        )
        .cast("bigint")
        .alias("total_chars"),
        F.size(
            F.array_distinct(
                F.filter(ws, lambda x: F.array_contains(stops, x))
            )
        )
        .cast("bigint")
        .alias("distinct_stops"),
        F.size(F.filter(ws, lambda x: x.rlike("^[a-z]+$")))
        .cast("bigint")
        .alias("alpha_words"),
    )
    mean_len = F.col("total_chars").cast("double") / F.col("n_words")
    alpha_frac = F.col("alpha_words").cast("double") / F.col("n_words")
    p_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    p_ml = mean_len.between(
        float(GOPHER_MIN_MEAN_LEN), float(GOPHER_MAX_MEAN_LEN)
    )
    p_st = F.col("distinct_stops") >= GOPHER_MIN_STOPS
    p_al = alpha_frac >= float(GOPHER_MIN_ALPHA_FRAC)
    return m.select(
        "doc_id",
        "source",
        "n_words",
        mean_len.alias("mean_word_len"),
        "distinct_stops",
        alpha_frac.alias("alpha_frac"),
        p_wc.alias("pass_word_count"),
        p_ml.alias("pass_mean_len"),
        p_st.alias("pass_stopwords"),
        p_al.alias("pass_alpha"),
        (p_wc & p_ml & p_st & p_al).alias("gopher_pass"),
    )


# --- readability scores --------------------------------------------------------
#
# Flesch Reading Ease / Flesch-Kincaid grade are the classic
# per-document readability screens (quality-filter features next to
# the Gopher rules). Both need words, sentences, syllables. Sentences
# here are '.'-terminated runs (the synthetic corpus is unpunctuated,
# so min 1 sentence — the formulas degrade gracefully); syllables use
# the standard vowel-GROUP heuristic (maximal [aeiouy]+ runs, minus
# silent trailing 'e' when the word has >1 group, min 1 per word) —
# deterministic, engine-mirrorable string arithmetic, no dictionary.
# Everything is per-row array math fused into the scan; one integer
# division per metric at the end.


def _syllables_sql(word: str) -> str:
    groups = (
        f"len(list_filter(regexp_extract_all({word}, '[aeiouy]+'), x -> x <> ''))"
    )
    silent_e = (
        f"CASE WHEN regexp_matches({word}, '[^aeiouy]e$') AND {groups} > 1"
        " THEN 1 ELSE 0 END"
    )
    return f"GREATEST({groups} - {silent_e}, 1)"


@register(
    "text_readability",
    tags=("llm", "text", "quality", "readability"),
    oracle=f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws,
         GREATEST(len(list_filter(string_split(text, '.'),
                                  x -> trim(x) <> '')), 1) AS n_sentences
  FROM documents
),
m AS (
  SELECT doc_id, source, n_sentences,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(list_reduce([0] ||
                list_transform(ws, x -> {_syllables_sql('x')}),
                (a, b) -> a + b) AS BIGINT) AS n_syllables
  FROM w
)
SELECT doc_id, source, n_words, CAST(n_sentences AS BIGINT) AS n_sentences,
       n_syllables,
       206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
               - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
         AS flesch_ease,
       0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
         + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59
         AS fk_grade
FROM m
""",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease + Flesch-Kincaid grade per document from
    vowel-group syllable counts (silent-e adjusted, min 1/word).
    Integer counts, two divisions and fixed literal coefficients at
    the end — identical doubles cross-engine. Pure scan-fused map."""
    d = spread(load(spark, sf_dir, "documents"))
    ws = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    sentences = F.greatest(
        F.size(
            F.filter(
                F.split(F.col("text"), r"\."), lambda x: F.trim(x) != ""
            )
        ),
        F.lit(1),
    )

    def syllables(x):
        # vowel groups = sentinels after replacing each maximal vowel
        # run with one \x01 = split parts - 1
        groups = F.size(
            F.split(F.regexp_replace(x, "[aeiouy]+", "\x01"), "\x01")
        ) - F.lit(1)
        silent = F.when(
            x.rlike("[^aeiouy]e$") & (groups > 1), F.lit(1)
        ).otherwise(F.lit(0))
        return F.greatest(groups - silent, F.lit(1))

    m = d.select(
        "doc_id",
        "source",
        sentences.cast("bigint").alias("n_sentences"),
        F.size(ws).cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(ws, syllables), F.lit(0), lambda a, x: a + x
        )
        .cast("bigint")
        .alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return m.select(
        "doc_id",
        "source",
        "n_words",
        "n_sentences",
        "n_syllables",
        (F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw).alias(
            "flesch_ease"
        ),
        (F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)).alias(
            "fk_grade"
        ),
    )


# --- confusable skeleton (IDN homograph detection) ----------------------------
#
# The companion to punycode decoding: once an IDN label is in Unicode,
# spoof detection maps every character to its CONFUSABLE SKELETON
# (UTS #39's technique — visually-identical characters collapse to one
# canonical form) and compares skeletons where raw strings differ. The
# mapping here is the high-traffic Cyrillic/Greek -> Latin subset as a
# literal translate() table — per-codepoint, stateless, identical in
# both engines. The fixture derives domains from doc_id: every third
# domain is homograph-spoofed (Latin a/e/o/p/c swapped for their
# Cyrillic twins), so detection has exact ground truth.

CONFUSABLE_FROM = "аеорсхуіοα"
CONFUSABLE_TO = "aeopcxyio" + "a"  # cyr a e o r s h u i + greek omicron alpha
_TRUSTED_BRANDS = (
    "paypal", "google", "amazon", "apple", "spark", "github", "openai",
    "micro",
)


@register(
    "text_confusable_skeleton",
    tags=("text", "idn", "security", "homograph"),
    oracle=f"""
WITH brands(b) AS (VALUES {", ".join(f"('{b}')" for b in _TRUSTED_BRANDS)}),
doms AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN translate([{", ".join(f"'{b}'" for b in _TRUSTED_BRANDS)}]
                     [CAST(doc_id % {len(_TRUSTED_BRANDS)} AS INTEGER) + 1],
                     'aeo',
                     'аео')
              ELSE [{", ".join(f"'{b}'" for b in _TRUSTED_BRANDS)}]
                     [CAST(doc_id % {len(_TRUSTED_BRANDS)} AS INTEGER) + 1]
         END || '.com' AS domain
  FROM documents
),
sk AS (
  SELECT doc_id, domain,
         translate(domain, '{CONFUSABLE_FROM}', '{CONFUSABLE_TO}')
           AS skeleton,
         domain <> translate(domain, '{CONFUSABLE_FROM}', '{CONFUSABLE_TO}')
           AS has_confusables
  FROM doms
)
SELECT s.doc_id, s.domain, s.skeleton, s.has_confusables,
       (s.has_confusables AND t.b IS NOT NULL) AS is_spoof
FROM sk s
LEFT JOIN brands t ON t.b || '.com' = s.skeleton AND s.has_confusables
""",
)
def text_confusable_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homograph-spoof detection by confusable skeletonization: map
    the Cyrillic/Greek lookalike set onto Latin, then flag domains
    whose skeleton lands on a trusted brand while the raw string
    contains confusables. Pure translate() projections + one
    broadcast-sized brand join — the post-punycode screening step of
    a URL-ingest pipeline, shuffle-free at any scale."""
    d = spread(load(spark, sf_dir, "documents"))
    brand = F.element_at(
        F.array(*[F.lit(b) for b in _TRUSTED_BRANDS]),
        (F.col("doc_id") % len(_TRUSTED_BRANDS)).cast("int") + 1,
    )
    spoofed = F.translate(brand, "aeo", "аео")
    domain = F.concat(
        F.when(F.col("doc_id") % 3 == 0, spoofed).otherwise(brand),
        F.lit(".com"),
    )
    sk = d.select("doc_id", domain.alias("domain")).select(
        "doc_id",
        "domain",
        F.translate("domain", CONFUSABLE_FROM, CONFUSABLE_TO).alias("skeleton"),
        (
            F.col("domain")
            != F.translate("domain", CONFUSABLE_FROM, CONFUSABLE_TO)
        ).alias("has_confusables"),
    )
    trusted = spark.createDataFrame(
        [(b + ".com",) for b in _TRUSTED_BRANDS], "tb string"
    )
    return (
        sk.join(
            F.broadcast(trusted),
            (F.col("tb") == F.col("skeleton")) & F.col("has_confusables"),
            "left",
        )
        .select(
            "doc_id",
            "domain",
            "skeleton",
            "has_confusables",
            (F.col("has_confusables") & F.col("tb").isNotNull()).alias(
                "is_spoof"
            ),
        )
    )
