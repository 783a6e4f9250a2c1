"""BPE tokenizer training on-cluster (the tokenizer-fitting pass of an
LLM data pipeline).

Byte-pair encoding training never needs the corpus after ONE aggregation:
the classic algorithm (Sennrich et al. 2016; HF `tokenizers` does the
same) operates on the WORD-FREQUENCY table — count words once, then
iterate merges over that vocab-bounded frame. That shape is ideal for
Spark: the only corpus-sized stage is the initial word count (one
shuffle with map-side partials); every merge iteration is a pair-count
aggregate + argmax + string rewrite on O(vocab) rows over the ONE
checkpointed word-count base (the rewrite chain is at most n_merges
narrow projections deep — see the loop comment in bpe_train).

Symbols are '\\x00'-delimited inside a word string, so a merge is a
separator-wrapped `replace('\\0a\\0b\\0' -> '\\0ab\\0')` (applied twice —
see the guard comment in bpe_train) — left-to-right, non-overlapping,
whole symbols only — and stays a JVM string op.

The merge choice ties break by (count DESC, left ASC, right ASC), so
training is fully deterministic on any partitioning. The merge table is
the model: rows-only for the driver (the fixed-point loop is not
single-SQL-expressible); semantics are pinned by the classic
"low/lower/newest/widest" unit corpus in tests/test_llm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, spread
from ..iterate import materialize
from ..registry import register

N_MERGES = 8
SEP = "\x00"


BPE_SAMPLE_CEIL = "3"  # 4/16 hex buckets ≈ 25% of docs (sampled variant)


def _word_counts(
    spark: SparkSession, sf_dir: str, sample_ceil: str | None = None
) -> DataFrame:
    """One corpus pass: lowercase alpha words with frequencies. With
    ``sample_ceil``, only documents whose md5(doc_id) first hex digit
    is <= the ceiling contribute — the same deterministic, partition-
    and retry-invariant predicate as ``sample_hash_deterministic``,
    applied as a scan-level filter before the explode."""
    d = spread(load(spark, sf_dir, "documents"))
    if sample_ceil is not None:
        from .sampling import _hash_key  # the predicate's source of truth

        d = d.filter(F.substring(_hash_key("doc_id"), 1, 1) <= sample_ceil)
    return (
        d.select(
            F.explode_outer(F.split(F.lower("text"), "[^a-z]+")).alias("word")
        )
        .filter(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


BPE_LOOKAHEAD = 64  # top-k prefix collected per argmax round-trip


def bpe_train(words: DataFrame, n_merges: int = N_MERGES) -> list[dict]:
    """Run the merge loop over a (word, n) frame; returns the ordered
    merge table as plain dicts. Each iteration: adjacent-pair counts
    weighted by word frequency (aggregate over O(vocab) rows), argmax
    with a total-order tie-break (a bounded driver collect — the same
    bounded collect as the reference's limits lookup,
    MainApp.java:38-40), then one string-replace rewrite.

    Two-merges-per-collect lookahead (optimization r14, VERDICT r13
    ask #6): each round-trip collects the top-{BPE_LOOKAHEAD} pairs
    and, when the runner-up PROVABLY stays the argmax after merge 1,
    applies BOTH merges before the next aggregation job. Proof sketch
    (merge 1 = (l1, r1), runner-up = (l2, r2) at count c2):
    rewriting l1+r1 only changes counts of pairs TOUCHING {{l1, r1}}
    (old touched pairs lose occurrences; new pairs around the merged
    token are each bounded by a touched pair's old count; disjoint
    pairs are bitwise untouched). So if (a) every touched pair other
    than (l1, r1) has count < c2 STRICTLY, (b) the merged token string
    l1+r1 is not an already-existing symbol (else pre-existing and
    newly created occurrences share one name and counts could rise),
    and (c) the collected prefix provably contains every pair with
    count >= c2 (last prefix row < c2, or the prefix is the whole
    frame), and (d) merge 1 is not a self-merge (l1 != r1: merging (a,a)
    inside 'aaa' mints (aa,a), bounded by c1, not by a touched pair's
    count below c2), then post-merge no pair can reach c2 and (l2, r2) —
    whose own count is unchanged, since (a) forces it disjoint — is the
    unique (cnt desc, l, r) argmax with the SAME count the sequential
    loop would record. Any doubt falls back to a single merge, so the
    merge table is bitwise the sequential one's (verified: identical
    tables at sf0.001/0.01/0.1, sampled and full; batching fired 3 of 7
    opportunities at every SF — 8 merges in 5 collects)."""
    syms = materialize(words.select(
        F.col("n"),
        F.concat_ws(SEP, F.split(F.col("word"), "(?!^)(?=.)")).alias("s"),
    ))
    merges: list[dict] = []
    it = 0
    while it < n_merges:
        arr = F.split(F.col("s"), SEP)
        adj = F.filter(
            F.zip_with(
                arr,
                F.slice(arr, 2, 2_000_000),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            ),
            lambda p: p["r"].isNotNull(),
        )
        pairs = (
            syms.select("n", F.explode_outer(adj).alias("p"))
            .filter(F.col("p").isNotNull())
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
        )
        top = pairs.orderBy(
            F.col("cnt").desc(), F.col("l"), F.col("r")
        ).limit(BPE_LOOKAHEAD).collect()
        if not top:
            break
        b = top[0]
        merges.append(
            {
                "iteration": it,
                "left": b.l,
                "right": b.r,
                "merged": b.l + b.r,
                "pair_count": b.cnt,
            }
        )
        # WHOLE-SYMBOL boundary guard (advisor r6): a bare
        # replace('l<SEP>r') also fuses symbol pairs whose suffix/
        # prefix merely END/START with l/r (('st','he') under merge
        # ('t','h') would fuse as 's'+'th'). Wrapping the string in
        # SEP and matching SEP+l+SEP+r+SEP restricts the rewrite to
        # whole symbols. The guarded pattern consumes the trailing
        # separator, so back-to-back occurrences ('abab' under
        # ('a','b')) need a SECOND pass — after pass one the missed
        # occurrences are isolated (their neighbors merged), so two
        # passes always reach the fixpoint. Residual deviation from
        # Sennrich: inside runs of one repeated symbol ('aaaaa'),
        # pass one can pick occurrences right-to-left where Sennrich
        # scans left-to-right — same merge multiset, possibly
        # different adjacency for LATER iterations; pinned by the
        # unit-corpus tests.
        def _apply(sdf: DataFrame, left: str, right: str) -> DataFrame:
            pat = F.lit(SEP + left + SEP + right + SEP)
            rep = F.lit(SEP + left + right + SEP)
            guarded = F.replace(
                F.replace(
                    F.concat(F.lit(SEP), F.col("s"), F.lit(SEP)), pat, rep
                ),
                pat,
                rep,
            )
            return sdf.select("n", F.btrim(guarded, F.lit(SEP)).alias("s"))

        # No per-iteration checkpoint (optimization r13): the rewrite
        # chain is at most n_merges string-replace projections deep
        # over the ONE checkpointed word-count base — re-running k
        # cheap narrow rewrites inside iteration k's argmax job is far
        # cheaper than a materialization job per merge (the loop's
        # wall was ~80% scheduler latency on a ~1k-row frame). Unlike
        # the broadcast-bearing loops (pagerank, isotonic's old form),
        # nothing here embeds the previous iteration's plan twice: each
        # iteration consumes syms exactly once per collect.
        syms = _apply(syms, b.l, b.r)
        it += 1
        # Lookahead: apply the runner-up too when the docstring's
        # (a)-(d) conditions hold — its count is provably the one
        # the sequential loop's next aggregation would produce.
        if it < n_merges and len(top) >= 2:
            b2 = top[1]
            cnt2 = b2.cnt
            touched = {b.l, b.r}
            prefix_complete = (
                len(top) < BPE_LOOKAHEAD or top[-1].cnt < cnt2
            )
            token_is_new = all(m["merged"] != b.l + b.r for m in merges[:-1])
            no_touched_tie = not any(
                (p.l in touched or p.r in touched) and p.cnt >= cnt2
                for p in top[1:]
            )
            if (prefix_complete and token_is_new and no_touched_tie
                    and b.l != b.r):
                merges.append(
                    {
                        "iteration": it,
                        "left": b2.l,
                        "right": b2.r,
                        "merged": b2.l + b2.r,
                        "pair_count": b2.cnt,
                    }
                )
                syms = _apply(syms, b2.l, b2.r)
                it += 1
    return merges


def _bpe_train_oracle(n_merges: int = N_MERGES, sample_where: str = "") -> str:
    """Round-6 upgrade: the merge loop IS single-SQL-expressible after
    all — each data-dependent argmax becomes a MATERIALIZED 1-row CTE
    consumed by scalar subqueries in the next rewrite round (the
    unrolled-level technique of graph_shortest_path_counts). The
    separator is chr(1) (DuckDB varchars reject NUL); replace() is
    left-to-right non-overlapping in both engines, which is exactly
    the Spark side's F.replace semantics. The rewrite mirrors the
    Spark side's whole-symbol guard (wrap in the separator, guarded
    replace TWICE, trim) — note the oracle is a MIRROR of the rewrite
    rule, not an independent BPE: the symbol-boundary semantics are
    pinned independently by the unit-corpus tests in tests/test_llm.py,
    while this oracle pins the distributed aggregation/argmax path."""
    lines = [
        f"""WITH toks AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
  FROM documents {sample_where}
),
words AS (SELECT w, COUNT(*) AS n FROM toks WHERE w <> '' GROUP BY w),
w0 AS MATERIALIZED (
  SELECT n, array_to_string(string_split_regex(w, ''), chr(1)) AS s
  FROM words
),"""
    ]
    for k in range(1, n_merges + 1):
        lines.append(
            f"""p{k} AS (
  SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(n) AS BIGINT) AS cnt FROM (
    SELECT n, unnest(list_zip(a, a[2:len(a)])) AS pr FROM (
      SELECT n, string_split(s, chr(1)) AS a FROM w{k - 1})
  ) WHERE pr[2] IS NOT NULL GROUP BY pr[1], pr[2]
),
b{k} AS MATERIALIZED (
  SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1
),
w{k} AS MATERIALIZED (
  SELECT n, trim(
    replace(
      replace(chr(1) || s || chr(1),
              (SELECT chr(1) || l || chr(1) || r || chr(1) FROM b{k}),
              (SELECT chr(1) || l || r || chr(1) FROM b{k})),
      (SELECT chr(1) || l || chr(1) || r || chr(1) FROM b{k}),
      (SELECT chr(1) || l || r || chr(1) FROM b{k})),
    chr(1)) AS s
  FROM w{k - 1}
),"""
        )
    lines[-1] = lines[-1].rstrip(",")
    sel = "\nUNION ALL\n".join(
        f'SELECT CAST({k - 1} AS INTEGER) AS iteration, l AS "left", '
        f'r AS "right", l || r AS merged, cnt AS pair_count FROM b{k}'
        for k in range(1, n_merges + 1)
    )
    return "\n".join(lines) + "\n" + sel


def _merges_frame(spark: SparkSession, merges: list[dict]) -> DataFrame:
    """Ordered merge table as the driver-contract DataFrame (shared by
    the exact and sampled trainers so the model schema cannot drift)."""
    schema = (
        "iteration int, left string, right string, merged string, "
        "pair_count bigint"
    )
    if not merges:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        [
            (m["iteration"], m["left"], m["right"], m["merged"], m["pair_count"])
            for m in merges
        ],
        schema,
    )


@register(
    "text_bpe_train",
    tags=("llm", "text", "tokenizer", "iterative"),
    oracle=_bpe_train_oracle(),
)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE merge table on the corpus: one word-count shuffle,
    then N_MERGES iterations over the vocab-bounded symbol frame. The
    result IS the tokenizer model (ordered merge rules)."""
    return _merges_frame(spark, bpe_train(_word_counts(spark, sf_dir)))


@register(
    "text_bpe_train_sampled",
    tags=("llm", "text", "tokenizer", "iterative", "sampling"),
    oracle=_bpe_train_oracle(
        sample_where="WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) "
        f"<= '{BPE_SAMPLE_CEIL}'"
    ),
)
def text_bpe_train_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of BPE training (VERDICT r9 item 5): the exact
    loop's cost is ``n_merges`` full vocab passes *after* one corpus-
    sized word count — fine here, but at corpus scale the word-count
    pass wants to see a SAMPLE, not 100 TB. This variant feeds the
    SAME merge loop a hash-deterministic ~25% document sample
    (md5(doc_id) first hex digit <= BPE_SAMPLE_CEIL, the
    ``sample_hash_deterministic`` predicate as a scan-level filter —
    partition- and retry-invariant, so training is reproducible).

    Tokenizer quality is statistical: BPE merges depend on RELATIVE
    pair frequencies, which a uniform doc sample preserves (HF
    `tokenizers` and SentencePiece both default to sampled corpora at
    scale). `text_bpe_train` remains the exact-corpus oracle twin;
    tests/test_llm.py asserts the sampled table stays close to it on
    the fixture corpus (>= 6 of 8 merge pairs shared; measured 7-8 at
    sf0.001/sf0.01)."""
    return _merges_frame(
        spark, bpe_train(_word_counts(spark, sf_dir, BPE_SAMPLE_CEIL))
    )


# Applying a tokenizer is the inverse deployment shape: the merge table
# is a FIXED pretrained model (every production pipeline tokenizes with
# an existing tokenizer), so the rules inline as literals into a static
# plan — chained JVM string replaces, no Python, and a DuckDB oracle
# can replay the identical rule chain.
PRETRAINED_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("r", "e"), ("o", "n"), ("a", "t"), ("e", "s"), ("o", "r"),
]


def _bpe_encode_oracle_expr() -> str:
    """Mirror of the Spark-side guarded rule chain: per rule, wrap in
    chr(1), whole-symbol replace TWICE (back-to-back occurrences), and
    trim — see the guard comment in bpe_train for why."""
    e = "array_to_string(string_split_regex(w, ''), chr(1))"
    for l, r in PRETRAINED_MERGES:
        pat = f"chr(1) || '{l}' || chr(1) || '{r}' || chr(1)"
        rep = f"chr(1) || '{l}{r}' || chr(1)"
        e = (
            f"trim(replace(replace(chr(1) || {e} || chr(1), {pat}, {rep}),"
            f" {pat}, {rep}), chr(1))"
        )
    return e


@register(
    "text_bpe_encode",
    tags=("llm", "text", "tokenizer"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
  FROM documents
),
clean AS (SELECT doc_id, w FROM toks WHERE w <> ''),
encoded AS (
  SELECT doc_id, {_bpe_encode_oracle_expr()} AS s
  FROM clean
)
SELECT doc_id,
       CAST(SUM(len(string_split(s, chr(1)))) AS BIGINT) AS n_bpe_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_words
FROM encoded
GROUP BY doc_id
""",
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with a fixed pretrained BPE merge table:
    per word, split to characters and apply the merge rules IN ORDER
    (each rule is a whole-symbol-guarded left-to-right non-overlapping
    string replace on the separator-wrapped form, applied twice — the
    same guard as bpe_train, so a rule like ('e','r') cannot fuse the
    symbol pair (the, r) into 'ther'). The whole rule chain compiles
    into one codegen'd projection of nested JVM `replace` calls: zero
    shuffles besides the final per-doc count, zero Python, and token
    counts the oracle replays rule-for-rule."""
    d = spread(load(spark, sf_dir, "documents"))
    words = (
        d.select(
            "doc_id",
            F.explode_outer(F.split(F.lower("text"), "[^a-z]+")).alias("w"),
        )
        .filter(F.col("w").isNotNull() & (F.col("w") != ""))
    )
    s = F.concat_ws(SEP, F.split(F.col("w"), "(?!^)(?=.)"))
    for l, r in PRETRAINED_MERGES:
        pat = F.lit(SEP + l + SEP + r + SEP)
        rep = F.lit(SEP + l + r + SEP)
        wrapped = F.concat(F.lit(SEP), s, F.lit(SEP))
        s = F.btrim(
            F.replace(F.replace(wrapped, pat, rep), pat, rep), F.lit(SEP)
        )
    return (
        words.select("doc_id", s.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.size(F.split(F.col("s"), SEP))).alias("n_bpe_tokens"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )


# --- BPE APPLICATION (tokenize with a shipped merge table) ----------------
#
# `text_bpe_train` fits the merge table; this operator APPLIES one —
# the pass that actually runs at corpus scale (train once on a sample,
# encode 100 TB). The merge list here is a fixed literal vocabulary
# (pre-trained; the engine treats it as model weights, like the PQ
# codebooks in llm/pq.py), so the whole encode is oracle-checkable.
#
# Application semantics: merges apply IN PRIORITY ORDER; each merge is
# one greedy LEFT-TO-RIGHT non-overlapping pass over the word's token
# sequence (Sennrich et al. 2016 reference behavior). A naive
# string-replace can't express that (the trailing boundary of one
# match is the leading boundary of the next — 'ababa' loses the second
# 'ab'), so each pass is an explicit sequential FOLD with a list
# accumulator: merge when the accumulator's last token is `l` and the
# incoming token is `r`, else append. Spark `aggregate` and DuckDB
# `list_reduce` (with the single-element-list wrapping that gives
# list_reduce a list-typed accumulator — the ts_holt_linear trick)
# compute the identical fold.

BPE_MERGES: list[tuple[str, str]] = [
    ("s", "c"), ("a", "n"), ("sc", "an"), ("o", "r"), ("e", "r"),
    ("or", "d"), ("ord", "er"), ("i", "n"), ("w", "in"), ("j", "o"),
]


def _spark_merge_fold(arr_expr: str, l: str, r: str) -> str:
    m = l + r
    return (
        f"aggregate({arr_expr}, cast(array() as array<string>), "
        f"(acc, x) -> CASE WHEN size(acc) > 0 "
        f"AND element_at(acc, -1) = '{l}' AND x = '{r}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{m}')) "
        f"ELSE concat(acc, array(x)) END)"
    )


def _duck_merge_fold(arr_expr: str, l: str, r: str) -> str:
    m = l + r
    return (
        f"list_reduce(list_transform({arr_expr}, x -> [x]), "
        f"(acc, x) -> CASE WHEN len(acc) > 0 "
        f"AND acc[-1] = '{l}' AND x[1] = '{r}' "
        f"THEN list_append(array_pop_back(acc), '{m}') "
        f"ELSE list_append(acc, x[1]) END)"
    )


def _spark_encode_expr() -> str:
    e = "split(word, '(?!^)(?=.)')"
    for l, r in BPE_MERGES:
        e = _spark_merge_fold(e, l, r)
    return e


def _duck_encode_expr() -> str:
    e = "string_split(word, '')"
    for l, r in BPE_MERGES:
        e = _duck_merge_fold(e, l, r)
    return e


@register(
    "text_bpe_apply",
    tags=("llm", "text", "tokenizer"),
    oracle=f"""
WITH words AS (
  SELECT source, w AS word, COUNT(*) AS n
  FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS w
    FROM documents
  ) s
  WHERE w <> ''
  GROUP BY source, w
),
vocab AS (
  SELECT word,
         CAST(len({_duck_encode_expr()}) AS BIGINT) AS toks,
         CAST(len(word) AS BIGINT) AS chars
  FROM (SELECT DISTINCT word FROM words) v
)
SELECT w.source,
       CAST(SUM(w.n) AS BIGINT) AS n_words,
       CAST(SUM(w.n * v.chars) AS BIGINT) AS n_chars,
       CAST(SUM(w.n * v.toks) AS BIGINT) AS n_tokens,
       CAST(SUM(w.n * v.toks) AS DOUBLE) / CAST(SUM(w.n) AS DOUBLE)
         AS tokens_per_word,
       CAST(SUM(w.n * v.chars) AS DOUBLE) / CAST(SUM(w.n * v.toks) AS DOUBLE)
         AS chars_per_token
FROM words w JOIN vocab v ON w.word = v.word
GROUP BY w.source
""",
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the shipped {len(BPE_MERGES)}-merge BPE
    vocabulary and report per-source token economics (token count,
    tokens/word, chars/token — the numbers that size a training run
    and price an API corpus).

    Plan: ONE corpus-sized shuffle (the per-(source, word) count);
    the fold chain — {len(BPE_MERGES)} sequential greedy merge passes —
    runs only over the DISTINCT-WORD vocabulary (Heaps'-law bounded,
    sublinear in corpus size), then the vocabulary joins back onto the
    count table (broadcast at any realistic vocab size). Encoding is
    pure JVM array folds — no UDF, no Python."""
    d = spread(load(spark, sf_dir, "documents"))
    words = (
        d.select(
            "source",
            F.explode_outer(F.split(F.lower("text"), " ")).alias("word"),
        )
        .filter(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = (
        words.select("word")
        .distinct()
        .select(
            "word",
            F.expr(f"cast(size({_spark_encode_expr()}) as bigint)").alias("toks"),
            F.length("word").cast("bigint").alias("chars"),
        )
    )
    joined = words.join(F.broadcast(vocab), "word")
    return joined.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_words"),
        F.sum(F.col("n") * F.col("chars")).cast("bigint").alias("n_chars"),
        F.sum(F.col("n") * F.col("toks")).cast("bigint").alias("n_tokens"),
        (
            F.sum(F.col("n") * F.col("toks")).cast("double")
            / F.sum("n").cast("double")
        ).alias("tokens_per_word"),
        (
            F.sum(F.col("n") * F.col("chars")).cast("double")
            / F.sum(F.col("n") * F.col("toks")).cast("double")
        ).alias("chars_per_token"),
    )


# --- unigram-LM segmentation (the SentencePiece-style tokenizer twin) ---------
#
# BPE segments by replaying merges; the unigram LM (Kudo 2018,
# SentencePiece's default) segments each word with VITERBI under a
# piece-cost table (cost ~ -log p). Costs here are INTEGERS (scaled
# -log2 p), so the DP is exact in both engines — no float fold drift
# at all (contrast ml_viterbi_decode's 8-dp rounding). The DP value is
# a composite 64*cost + n_pieces: cost dominates (adjacent costs
# differ by >= 64 > max pieces/word), so min() resolves ties toward
# fewer pieces deterministically. Valid for words up to 63 chars;
# the corpus tops out at 8 (pytest-pinned).

_U_COSTS = {
    # multi-char pieces
    "the": 45, "ing": 50, "ion": 55, "ent": 57, "and": 52, "her": 54,
    "ter": 56,
    "er": 38, "in": 37, "on": 39, "an": 39, "re": 40, "at": 40, "es": 40,
    "or": 41, "ti": 42, "te": 42, "al": 42, "st": 42, "ar": 43, "nd": 43,
    "he": 38, "en": 40, "ed": 41, "to": 42, "it": 43, "ou": 44, "is": 44,
    # single characters (full a-z coverage -> every word segments)
    "a": 48, "e": 46, "i": 48, "o": 48, "u": 50,
    "t": 50, "n": 50, "s": 50, "r": 50, "h": 52, "l": 52, "d": 52,
    "c": 54, "m": 54,
    "b": 60, "f": 60, "g": 60, "k": 60, "p": 60, "v": 60, "w": 60,
    "y": 60, "j": 66, "q": 66, "x": 66, "z": 66,
}
_U_MAXLEN = max(len(p) for p in _U_COSTS)
_U_SCALE = 64  # composite = cost * 64 + n_pieces; words <= 63 chars


def _u_cost_sql(expr: str) -> str:
    whens = " ".join(
        f"WHEN '{p}' THEN {c}" for p, c in sorted(_U_COSTS.items())
    )
    return f"(CASE {expr} {whens} END)"


def unigram_segment_cost(word: str) -> tuple[int, int]:
    """Pure-Python replay of the DP (pytest twin of both engines):
    returns (total_cost, n_pieces) of the Viterbi segmentation."""
    big = 1 << 40
    dp = [0] + [big] * len(word)
    for i in range(1, len(word) + 1):
        best = big
        for length in range(1, min(_U_MAXLEN, i) + 1):
            c = _U_COSTS.get(word[i - length : i])
            if c is not None and dp[i - length] < big:
                best = min(best, dp[i - length] + _U_SCALE * c + 1)
        dp[i] = best
    return dp[-1] // _U_SCALE, dp[-1] % _U_SCALE


def _u_duck_fold() -> str:
    """DuckDB: integer Viterbi fold over word positions (list
    accumulator — the repo's list_reduce convention)."""
    cands = []
    for length in range(1, _U_MAXLEN + 1):
        cost = _u_cost_sql(f"substr(word, CAST(pp[1] AS INTEGER) - {length - 1}, {length})")
        cands.append(
            f"CASE WHEN pp[1] >= {length} AND {cost} IS NOT NULL "
            f"THEN acc[CAST(pp[1] AS INTEGER) - {length} + 1] "
            f"+ {_U_SCALE} * {cost} + 1 END"
        )
    return f"""list_reduce(
  [CAST([0] AS BIGINT[])]
    || list_transform(range(1, len(word) + 1), i -> [CAST(i AS BIGINT)]),
  (acc, pp) -> list_append(acc, least({", ".join(cands)}))
)"""


def _u_spark_dp(word_col):
    """Spark: the same fold via F.aggregate — JVM-only, no UDF."""
    cost_map = F.create_map(
        *[F.lit(x) for kv in sorted(_U_COSTS.items()) for x in kv]
    )
    big = F.lit(1 << 40).cast("long")

    def step(acc, i):
        cands = []
        for length in range(1, _U_MAXLEN + 1):
            piece = F.substring(word_col, i - F.lit(length - 1), length)
            cost = F.element_at(cost_map, piece)
            cands.append(
                F.when(
                    (i >= F.lit(length)) & cost.isNotNull(),
                    F.element_at(acc, (i - F.lit(length) + F.lit(1)).cast("int"))
                    + F.lit(_U_SCALE) * cost.cast("long")
                    + F.lit(1),
                ).otherwise(big)
            )
        return F.concat(acc, F.array(F.least(*cands)))

    dp = F.aggregate(
        F.sequence(F.lit(1), F.length(word_col)),
        F.array(F.lit(0).cast("long")),
        step,
    )
    return F.element_at(dp, F.length(word_col) + F.lit(1))


@register(
    "text_unigram_segment",
    tags=("llm", "text", "tokenizer"),
    oracle=f"""
WITH words AS (
  SELECT source, w AS word, COUNT(*) AS n
  FROM (
    SELECT source,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  ) s
  WHERE w <> ''
  GROUP BY source, w
),
vocab AS (
  SELECT word,
         CAST(len(word) AS BIGINT) AS chars,
         {_u_duck_fold()}[len(word) + 1] AS dp
  FROM (SELECT DISTINCT word FROM words) v
),
scored AS (
  SELECT word, chars, dp // {_U_SCALE} AS cost, dp % {_U_SCALE} AS pieces
  FROM vocab
)
SELECT w.source,
       CAST(SUM(w.n) AS BIGINT) AS n_words,
       CAST(SUM(w.n * s.chars) AS BIGINT) AS n_chars,
       CAST(SUM(w.n * s.pieces) AS BIGINT) AS n_pieces,
       CAST(SUM(w.n * s.cost) AS BIGINT) AS total_cost,
       CAST(SUM(w.n * s.pieces) AS DOUBLE) / CAST(SUM(w.n) AS DOUBLE)
         AS pieces_per_word
FROM words w JOIN scored s ON w.word = s.word
GROUP BY w.source
""",
)
def text_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM subword segmentation (SentencePiece's default
    algorithm): Viterbi-segment every word under the fixed integer
    piece-cost table and report per-source token economics — the
    third tokenizer family next to BPE train/encode/apply (HF
    `tokenizers` ships exactly these: BPE, WordPiece, Unigram).

    Plan: ONE corpus-sized shuffle (per-(source, word) counts); the
    DP — an `F.aggregate` integer fold over word positions, pure JVM,
    no UDF — runs only over DISTINCT words (Heaps'-law bounded), then
    joins back broadcast. Integer costs make the fold EXACT in both
    engines; the composite encoding resolves equal-cost ties toward
    fewer pieces, deterministically."""
    d = spread(load(spark, sf_dir, "documents"))
    words = (
        d.select(
            "source",
            F.explode_outer(F.split(F.lower("text"), "[^a-z]+")).alias("word"),
        )
        .filter(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dp = _u_spark_dp(F.col("word"))
    vocab = (
        words.select("word")
        .distinct()
        .select(
            "word",
            F.length("word").cast("bigint").alias("chars"),
            (dp / F.lit(_U_SCALE)).cast("long").alias("cost"),
            (dp % F.lit(_U_SCALE)).cast("long").alias("pieces"),
        )
    )
    joined = words.join(F.broadcast(vocab), "word")
    return joined.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_words"),
        F.sum(F.col("n") * F.col("chars")).cast("bigint").alias("n_chars"),
        F.sum(F.col("n") * F.col("pieces")).cast("bigint").alias("n_pieces"),
        F.sum(F.col("n") * F.col("cost")).cast("bigint").alias("total_cost"),
        (
            F.sum(F.col("n") * F.col("pieces")).cast("double")
            / F.sum("n").cast("double")
        ).alias("pieces_per_word"),
    )


# --- WordPiece segmentation (greedy longest-match-first) ----------------------
#
# The third HF tokenizer family (BPE, Unigram, WordPiece — BERT's
# algorithm): scan each word left to right, at every position take the
# LONGEST vocab piece (continuation positions consult the ##-piece
# set), and if NO piece matches the word becomes a single [UNK] token
# (HF semantics: any mid-word failure unks the whole word). The walk
# is an integer state machine [pos, n_pieces, unk] folded over word
# positions — exact in both engines, like the unigram DP. The ##-sets
# deliberately omit k/q/x/z so the UNK branch is live on real corpora.

_WP_INITIAL = {
    "the", "and", "ing",
    "th", "in", "re", "on", "an", "st", "er", "at", "or", "he", "is",
    "it", "to", "of",
    *"abcdefghijklmnopqrstuvwxyz",
}
_WP_CONT = {
    "ing", "ion", "ent", "ers",
    "er", "in", "on", "an", "re", "at", "es", "ed", "en", "nd", "te",
    "ti", "al", "ar", "or", "st", "nt", "ng",
    # no continuation k/q/x/z: rare-char coverage gaps are what real
    # WordPiece vocabs have, and they keep the [UNK] branch live on
    # the corpus itself ('spark' ends in k, which only exists as an
    # initial piece — so 'spark' whole-word-UNKs)
    *"abcdefghijlmnopsrtuvwy",
}
_WP_MAXLEN = 3


def wordpiece_segment(word: str) -> tuple[int, bool]:
    """Pure-Python twin: (n_pieces, is_unk). [UNK] counts as 1 piece."""
    pos, pieces = 0, 0
    while pos < len(word):
        vocab = _WP_INITIAL if pos == 0 else _WP_CONT
        for length in range(min(_WP_MAXLEN, len(word) - pos), 0, -1):
            if word[pos : pos + length] in vocab:
                pos += length
                pieces += 1
                break
        else:
            return 1, True
    return pieces, False


def _wp_in_sql(expr: str, pieces: set[str], length: int) -> str:
    opts = sorted(p for p in pieces if len(p) == length)
    return f"{expr} IN ({', '.join(repr(p) for p in opts)})"


_WP_UNK_SENTINEL = 1000  # any g >= this encodes "unk below here"


def _wp_duck_fold() -> str:
    """BACKWARD greedy fold: g[i] = pieces from position i to the end
    under longest-match-first; g[N+1] = 0; the j-th step (j = 1..N)
    computes g[i] for i = N+1-j, so the accumulator APPENDS one value
    per step with no skip branch. g[1] (= acc[N+1]) >= the sentinel
    means the greedy walk hit a no-match — whole-word [UNK].

    Why backward: the natural forward state machine carries a
    'pp[1] <> acc[1] THEN acc' skip branch, and THAT construct
    cross-contaminates rows under DuckDB 1.0's vectorized lambda
    evaluation (measured: multi-row evaluation returned another row's
    state for ~0.1% of words while single-row evaluation was correct).
    The append-per-step shape is the same one the unigram fold and
    ml_viterbi_decode use, which evaluates correctly."""
    branches = []
    for length in range(_WP_MAXLEN, 0, -1):
        sub = f"substr(word, CAST(len(word) + 1 - pp[1] AS INTEGER), {length})"
        cond = (
            f"(pp[1] >= {length} AND "
            f"(CASE WHEN pp[1] = len(word) "
            f"THEN {_wp_in_sql(sub, _WP_INITIAL, length)} "
            f"ELSE {_wp_in_sql(sub, _WP_CONT, length)} END))"
        )
        branches.append(
            f"WHEN {cond} THEN acc[CAST(pp[1] AS INTEGER) + 1 - {length}] + 1"
        )
    step = (
        "CASE "
        + " ".join(branches)
        + f" ELSE CAST({_WP_UNK_SENTINEL} AS BIGINT) END"
    )
    return f"""list_reduce(
  [CAST([0] AS BIGINT[])]
    || list_transform(range(1, len(word) + 1), j -> [CAST(j AS BIGINT)]),
  (acc, pp) -> list_append(acc, {step})
)"""


def _wp_spark_state(word_col):
    def member(piece, length, cont):
        vocab = _WP_CONT if cont else _WP_INITIAL
        opts = sorted(p for p in vocab if len(p) == length)
        return piece.isin(opts)

    def step(acc, i):
        pos = F.element_at(acc, 1)
        pieces = F.element_at(acc, 2)
        unk = F.element_at(acc, 3)
        expr = F.array(
            F.length(word_col).cast("long") + F.lit(1).cast("long"),
            F.lit(1).cast("long"),
            F.lit(1).cast("long"),
        )  # fallthrough: UNK
        for length in range(1, _WP_MAXLEN + 1):
            sub = F.substring(word_col, pos.cast("int"), length)
            fits = (pos + F.lit(length) - F.lit(1)) <= F.length(word_col)
            hit = fits & F.when(
                pos == F.lit(1), member(sub, length, cont=False)
            ).otherwise(member(sub, length, cont=True))
            expr = F.when(
                hit,
                F.array(
                    pos + F.lit(length).cast("long"),
                    pieces + F.lit(1).cast("long"),
                    unk,
                ),
            ).otherwise(expr)
        return F.when(i.cast("long") != pos, acc).otherwise(expr)

    return F.aggregate(
        F.sequence(F.lit(1), F.length(word_col)),
        F.array(
            F.lit(1).cast("long"), F.lit(0).cast("long"), F.lit(0).cast("long")
        ),
        step,
    )


@register(
    "text_wordpiece_segment",
    tags=("llm", "text", "tokenizer"),
    oracle=f"""
WITH words AS (
  SELECT source, w AS word, COUNT(*) AS n
  FROM (
    SELECT source,
           unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
    FROM documents
  ) s
  WHERE w <> ''
  GROUP BY source, w
),
vocab AS (
  SELECT word, CAST(len(word) AS BIGINT) AS chars,
         {_wp_duck_fold()}[len(word) + 1] AS g1
  FROM (SELECT DISTINCT word FROM words) v
),
scored AS (
  SELECT word, chars,
         CASE WHEN g1 >= {_WP_UNK_SENTINEL} THEN 1 ELSE g1 END AS pieces,
         g1 >= {_WP_UNK_SENTINEL} AS is_unk
  FROM vocab
)
SELECT w.source,
       CAST(SUM(w.n) AS BIGINT) AS n_words,
       CAST(SUM(CASE WHEN s.is_unk THEN w.n ELSE 0 END) AS BIGINT)
         AS n_unk_words,
       CAST(SUM(w.n * s.pieces) AS BIGINT) AS n_pieces,
       CAST(SUM(w.n * s.pieces) AS DOUBLE) / CAST(SUM(w.n) AS DOUBLE)
         AS pieces_per_word
FROM words w JOIN scored s ON w.word = s.word
GROUP BY w.source
""",
)
def text_wordpiece_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenization economics (BERT's greedy longest-match-
    first, HF semantics incl. whole-word [UNK] on any mid-word miss)
    per source. Same plan shape as text_unigram_segment: one
    corpus-sized shuffle, the greedy walk as an integer F.aggregate
    state machine over DISTINCT words only, broadcast join back.
    The continuation vocabulary omits k/q/x/z so the UNK path is
    exercised by real corpus words, not just fixtures."""
    d = spread(load(spark, sf_dir, "documents"))
    words = (
        d.select(
            "source",
            F.explode_outer(F.split(F.lower("text"), "[^a-z]+")).alias("word"),
        )
        .filter(F.col("word").isNotNull() & (F.col("word") != ""))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    st = _wp_spark_state(F.col("word"))
    vocab = (
        words.select("word")
        .distinct()
        .select(
            "word",
            F.element_at(st, 2).alias("pieces"),
            (F.element_at(st, 3) == F.lit(1)).alias("is_unk"),
        )
    )
    joined = words.join(F.broadcast(vocab), "word")
    return joined.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_words"),
        F.sum(F.when(F.col("is_unk"), F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_unk_words"),
        F.sum(F.col("n") * F.col("pieces")).cast("bigint").alias("n_pieces"),
        (
            F.sum(F.col("n") * F.col("pieces")).cast("double")
            / F.sum("n").cast("double")
        ).alias("pieces_per_word"),
    )
