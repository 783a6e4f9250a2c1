"""Semantic tests for the LLM-pipeline operators that have no SQL
oracle: MinHash-LSH recall vs exact Jaccard, SimHash banding, LSH-ANN
recall vs brute force, multimodal stub determinism and batch shape."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spark_streaming_test_spark.llm import dedup, multimodal, similarity


def test_minhash_lsh_matches_exact_pairs(spark, sf_dir):
    """LSH candidates, after exact verification, must (a) all truly be
    >= threshold (precision 1.0 by construction) and (b) recover a
    large fraction of the exact >= 0.5 pairs (recall)."""
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    # precision: every verified LSH pair is a true pair
    for pair, jac in lsh.items():
        assert jac >= 0.5
        if pair[0] < dedup.PAIRWISE_CAP and pair[1] < dedup.PAIRWISE_CAP:
            assert pair in exact, f"LSH produced pair {pair} not in exact set"
    # recall over the capped range the exact query covers
    if exact:
        found = sum(1 for p in exact if p in lsh)
        recall = found / len(exact)
        assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8 ({found}/{len(exact)})"


def test_minhash_signature_determinism(spark, sf_dir):
    """Same data, two runs, different partitioning -> identical
    signatures (hash-derived, no RNG)."""
    from spark_streaming_test_spark.catalog import load

    d = load(spark, sf_dir, "documents").limit(50)
    docs = d.select("doc_id", dedup._shingles(F.col("text")).alias("shingles"))
    s1 = {r["doc_id"]: r["signature"] for r in dedup.minhash_signatures(docs).collect()}
    s2 = {
        r["doc_id"]: r["signature"]
        for r in dedup.minhash_signatures(docs.repartition(7)).collect()
    }
    assert s1 == s2


def test_simhash_pairs_are_close(spark, sf_dir):
    """Banded SimHash candidates pass the exact Hamming filter, and
    signatures are reproducible."""
    rows = dedup.dedup_simhash(spark, sf_dir).collect()
    for r in rows:
        assert r["hamming"] <= 6
        assert r["doc_a"] < r["doc_b"]


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    """Bucketed ANN returns a subset of true neighbors; each query's
    candidates must rank identically to brute force on the overlap."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.sim_bruteforce_topk(spark, sf_dir).collect()
    }
    lsh_rows = similarity.sim_lsh_topk(spark, sf_dir).collect()
    assert lsh_rows, "LSH returned nothing — buckets degenerate"
    for r in lsh_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            assert abs(brute[key] - r["cosine"]) < 1e-9


def test_ivf_ann_recall_vs_bruteforce(spark, sf_dir):
    """IVF-probed ANN: every query must return candidates (nprobe cells
    are never empty — the query's own cell is probed), scores on the
    brute-force overlap must agree exactly, and recall of true top-k
    neighbors should be substantial for clustered embeddings."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.sim_bruteforce_topk(spark, sf_dir).collect()
    }
    ivf_rows = similarity.sim_ivf_topk(spark, sf_dir).collect()
    assert ivf_rows, "IVF returned nothing — quantizer degenerate"
    queries = {r["query_id"] for r in ivf_rows}
    assert len(queries) == similarity.N_QUERIES
    overlap = 0
    for r in ivf_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            assert abs(brute[key] - r["cosine"]) < 1e-9
            overlap += 1
    recall = overlap / len(brute)
    assert recall >= 0.3, f"IVF recall {recall:.2f} suspiciously low"


def test_mm_feature_stub_shape_and_determinism(spark, sf_dir):
    lane_cols = [f"f{i}" for i in range(multimodal.FEATURE_DIM)]
    df = multimodal.mm_feature_extract_stub(spark, sf_dir)
    assert [c for c in df.columns if c.startswith("f")] == lane_cols
    rows1 = {r["doc_id"]: tuple(r[c] for c in lane_cols) for r in df.collect()}
    rows2 = {r["doc_id"]: tuple(r[c] for c in lane_cols) for r in df.collect()}
    assert rows1 == rows2
    for feats in rows1.values():
        assert len(feats) == multimodal.FEATURE_DIM
        assert all(0.0 <= f < 1.0 for f in feats)


def test_mm_frame_sample_counts(spark, sf_dir):
    from spark_streaming_test_spark.catalog import load

    frames = multimodal.mm_frame_sample_stub(spark, sf_dir)
    got = {
        r["doc_id"]: r["n"]
        for r in frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    d = load(spark, sf_dir, "documents")
    # frames are 256-CHARACTER slices (oracle-expressible; see module)
    expected = {
        r["doc_id"]: -(-r["n_chars"] // 256)
        for r in d.select(
            "doc_id", F.length("text").alias("n_chars")
        ).collect()
    }
    assert got == expected


def test_decode_image_gate_or_pil_parity(tmp_path):
    """Both branches are meaningful, so neither environment skips:
    without PIL the documented NotImplementedError gate holds; with
    PIL its decode must match the pure-stdlib decoders (the oracle) on
    real fixture bytes — bit-exact for lossless formats, within the
    T.81 Annex A ±1 IDCT tolerance for JPEG."""
    if not multimodal.HAVE_IMAGE_LIBS:
        with pytest.raises(NotImplementedError):
            multimodal.decode_image(b"payload")
        return
    import numpy as np

    from spark_streaming_test_spark.llm import jpeg as jpeg_mod

    # BMP (exact)
    p = str(tmp_path / "t.bmp")
    multimodal.write_bmp24(
        p, 5, 4, lambda x, y: (10 * x, 20 * y, (7 * x + 3 * y) % 256)
    )
    buf = open(p, "rb").read()
    w, h, px = multimodal.decode_bmp24(buf)
    pw, ph, nc, pil_px = multimodal.decode_image(buf)
    assert (pw, ph, nc) == (w, h, 3) and np.array_equal(pil_px, px)

    # PNG (exact; exercises all five scanline filters)
    p = str(tmp_path / "t.png")
    multimodal.write_png_rgb8(
        p, 6, 6, lambda x, y: ((x * 40) % 256, (y * 30) % 256, (x * y) % 256)
    )
    buf = open(p, "rb").read()
    w, h, px = multimodal.decode_png_rgb8(buf)
    pw, ph, nc, pil_px = multimodal.decode_image(buf)
    assert (pw, ph, nc) == (w, h, 3) and np.array_equal(pil_px, px)

    # JPEG baseline + progressive (±1: IDCTs only agree that tightly)
    for enc in (
        lambda blocks: jpeg_mod.encode_jpeg_baseline(24, 16, blocks),
        lambda blocks: jpeg_mod.encode_jpeg_progressive(24, 16, blocks),
    ):
        blocks = [
            jpeg_mod.flat_ac44_blocks(100 + 10 * i, 1 + i % 7)
            for i in range(6)
        ]
        buf = enc(blocks)
        decode = (
            jpeg_mod.decode_jpeg_progressive
            if buf[3:4] == b"\xc2" or b"\xff\xc2" in buf[:200]
            else jpeg_mod.decode_jpeg_baseline
        )
        w, h, ncomp, px = decode(buf)
        pw, ph, nc, pil_px = multimodal.decode_image(buf)
        assert (pw, ph) == (w, h)
        assert (
            np.abs(pil_px.astype(int) - px.astype(int)).max() <= 1
        ), "PIL JPEG decode outside the Annex A tolerance"

def test_hll_sketch_rollup_accuracy(spark, sf_dir):
    """Region-level HLL estimates (merged from per-nation sketches) must
    land within 5% of the exact distinct counts (the query's own
    within_tol flag), and merging must preserve the nation count and
    exact customer totals per region."""
    from spark_streaming_test_spark.operators.aggregates import agg_hll_sketch_rollup
    from spark_streaming_test_spark.catalog import load

    est = {
        r["n_regionkey"]: (r["exact_customers"], r["n_nations"], r["within_tol"])
        for r in agg_hll_sketch_rollup(spark, sf_dir).collect()
    }
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    exact = {
        r["n_regionkey"]: (r["exact"], r["n_nations"])
        for r in cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey")
        .agg(
            F.countDistinct("c_custkey").alias("exact"),
            F.countDistinct("n_nationkey").alias("n_nations"),
        )
        .collect()
    }
    assert set(est) == set(exact)
    for rk, (n_cust, n_nat, within_tol) in est.items():
        true, true_nat = exact[rk]
        assert n_nat == true_nat
        assert n_cust == true
        assert within_tol, (rk, n_cust)


def test_dedup_cluster_matches_union_find(spark, sf_dir):
    """Label-propagation clusters must equal a driver-side union-find
    over the same LSH pairs; exactly one keeper (the min id) per
    cluster; docs in no pair keep themselves."""
    from spark_streaming_test_spark.llm.dedup import (
        dedup_cluster_canonical,
        dedup_minhash_lsh,
    )

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh(spark, sf_dir).collect()
    ]
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup_cluster_canonical(spark, sf_dir).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical root = min doc_id in component
    comp = {}
    for x in list(parent):
        comp.setdefault(find(x), []).append(x)
    expected_root = {}
    for root, members in comp.items():
        m = min(members + [root])
        for x in members + [root]:
            expected_root[x] = m

    for doc_id, (cluster, keep) in got.items():
        exp = expected_root.get(doc_id, doc_id)
        assert cluster == exp, (doc_id, cluster, exp)
        assert keep == (doc_id == cluster)


def test_mm_resize_stub_budget_and_determinism(spark, sf_dir):
    from spark_streaming_test_spark.llm.multimodal import mm_resize_stub

    rows = {r["doc_id"]: r for r in mm_resize_stub(spark, sf_dir).collect()}
    assert rows
    import hashlib

    md5_128_zero = hashlib.md5(b"\x00" * 128).hexdigest()
    for r in rows.values():
        assert r["new_bytes"] == 128
        assert len(r["resized_md5"]) == 32
        assert r["resized_md5"] != md5_128_zero  # no doc hit the
        # empty-payload zero-fill branch (docs are never empty)
    again = {
        r["doc_id"]: r["resized_md5"]
        for r in mm_resize_stub(spark, sf_dir).collect()
    }
    assert {k: v["resized_md5"] for k, v in rows.items()} == again


def test_kmeans_lloyd_inertia_non_increasing(spark, sf_dir):
    """Lloyd's must not diverge: re-running the assign/update loop and
    measuring inertia after each update gives a non-increasing series
    (allowing 1e-6 slack for the 6-dp distance rounding)."""
    from spark_streaming_test_spark.llm import clustering

    e = clustering._embeddings(spark, sf_dir)
    cents = clustering._collect_centroids(
        e.filter(F.col("vec_id") < clustering.K).select(
            F.col("vec_id").alias("cid"), F.col("x").alias("c")
        )
    )
    inertias = []
    for _ in range(3):
        assigned = clustering._assign(e, cents)
        inertias.append(
            assigned.agg(F.sum("d2").alias("i")).collect()[0]["i"]
        )
        dims = assigned.select("cid", F.posexplode("x").alias("dim", "v"))
        means = dims.groupBy("cid", "dim").agg(
            (F.sum("v") / F.count(F.lit(1))).alias("m")
        )
        cents = clustering._collect_centroids(
            means.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("cid", F.transform("dm", lambda s: s["m"]).alias("c"))
        )
    for prev, nxt in zip(inertias, inertias[1:]):
        assert nxt <= prev + 1e-6, inertias


def test_kmeans_lloyd_deterministic_and_total(spark, sf_dir):
    """Two runs produce identical cluster stats (hash seeding, decimal
    sums — no RNG, no partition-order dependence), clusters cover all K
    ids, and memberships sum to the corpus size."""
    from spark_streaming_test_spark.llm import clustering

    r1 = sorted(
        (r["cluster_id"], r["n_members"], r["inertia"], r["centroid_norm"])
        for r in clustering.emb_kmeans_lloyd(spark, sf_dir).collect()
    )
    r2 = sorted(
        (r["cluster_id"], r["n_members"], r["inertia"], r["centroid_norm"])
        for r in clustering.emb_kmeans_lloyd(spark, sf_dir).collect()
    )
    assert r1 == r2
    assert [c for c, *_ in r1] == list(range(clustering.K))
    n_corpus = clustering._embeddings(spark, sf_dir).count()
    assert sum(n for _, n, *_ in r1) == n_corpus


def test_decon_flagged_docs_truly_overlap(spark, sf_dir):
    """Every flagged training document must share at least one distinct
    5-gram with some eval document — re-derive grams in pure Python and
    verify; also check no eval doc is ever flagged."""
    from spark_streaming_test_spark.catalog import load
    from spark_streaming_test_spark.llm import decontamination as dc
    import hashlib

    flagged = {
        r["doc_id"]: r["n_matched_ngrams"]
        for r in dc.decon_ngram_overlap(spark, sf_dir).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }

    def is_eval(doc_id):
        return hashlib.md5(str(doc_id).encode()).hexdigest()[0] == dc.EVAL_PREFIX

    def grams(text):
        toks = text.lower().split(" ")
        n = dc.NGRAM_N
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    eval_grams = set()
    for did, text in docs.items():
        if is_eval(did):
            eval_grams |= grams(text)
    for did, n_matched in flagged.items():
        assert not is_eval(did), f"eval doc {did} flagged as train"
        got = len(grams(docs[did]) & eval_grams)
        assert got == n_matched, (did, got, n_matched)


def test_decon_rate_consistent_with_overlap(spark, sf_dir):
    """The per-source report's contaminated total equals the number of
    distinct flagged docs, and rates are in [0, 1]."""
    from spark_streaming_test_spark.llm import decontamination as dc

    n_flagged = dc.decon_ngram_overlap(spark, sf_dir).count()
    report = dc.decon_contamination_rate(spark, sf_dir).collect()
    assert sum(r["n_contaminated"] for r in report) == n_flagged
    for r in report:
        assert 0.0 <= r["contamination_rate"] <= 1.0
        assert r["n_contaminated"] <= r["n_train_docs"]


def test_repetition_stats_match_python(spark, sf_dir):
    """Spot-check the repetition signals against a pure-Python
    recomputation for 20 documents."""
    from spark_streaming_test_spark.llm import text_analysis as ta

    rows = ta.text_repetition_stats(spark, sf_dir).filter(F.col("doc_id") < 20).collect()
    from spark_streaming_test_spark.catalog import load

    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents").filter(F.col("doc_id") < 20).collect()
    }
    assert rows
    for r in rows:
        toks = texts[r["doc_id"]].lower().split(" ")
        trigs = [" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))]
        assert r["n_tokens"] == len(toks)
        assert r["distinct_frac"] == len(set(toks)) / len(toks)
        top = max(toks.count(t) for t in set(toks))
        assert r["top_token_frac"] == top / len(toks)
        assert r["dup_trigram_frac"] == 1.0 - len(set(trigs)) / len(trigs)


def test_pq_encode_properties(spark, sf_dir):
    """PQ sanity: codes lie in [0, K); every codebook seed (vec_id < K)
    encodes to its own codeword id in all subspaces (its subspace
    distance to itself is exactly 0)."""
    from spark_streaming_test_spark.llm import pq

    enc = pq.emb_pq_encode(spark, sf_dir)
    rows = {r["vec_id"]: (r["c0"], r["c1"], r["c2"], r["c3"]) for r in enc.collect()}
    for codes in rows.values():
        assert all(0 <= c < pq.K for c in codes)
    for seed in range(pq.K):
        assert rows[seed] == (seed,) * 4, (seed, rows[seed])


def test_pq_adc_self_recall_and_floor(spark, sf_dir):
    """The ADC query vector must rank itself first (its codes
    reconstruct it exactly — it is a seed), and code-only search must
    beat random selection on structure-free synthetic data
    (recall@10 >= 0.1 vs exact L2)."""
    from pyspark.sql import functions as F

    from spark_streaming_test_spark.llm import pq

    adc = pq.sim_pq_adc_topk(spark, sf_dir).collect()
    assert adc[0]["vec_id"] == pq.QUERY_VEC_ID
    e = (
        pq.load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("x"))
    )
    q = [float(v) for v in e.filter(F.col("vec_id") == pq.QUERY_VEC_ID).collect()[0]["x"]]
    d2 = (
        F.aggregate(F.zip_with("x", F.lit(q), lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda s, v: s + v)
    )
    exact = {
        r["vec_id"]
        for r in e.select("vec_id", d2.alias("d")).orderBy("d", "vec_id").limit(10).collect()
    }
    got = {r["vec_id"] for r in adc}
    assert len(exact & got) / 10 >= 0.1


# --- BPE tokenizer training ------------------------------------------------


def test_bpe_train_classic_corpus(spark):
    """Sennrich-style unit corpus: with words {low:5, lower:2, newest:6,
    widest:3}, the first merges must be (e,s)->es then (es,t)->est —
    the canonical worked example of the BPE paper."""
    from spark_streaming_test_spark.llm import bpe

    words = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "word string, n bigint",
    )
    merges = bpe.bpe_train(words, n_merges=4)
    assert [m["merged"] for m in merges[:2]] == ["es", "est"]
    # pair counts weight by word frequency: es = 6 + 3 = 9
    assert merges[0]["pair_count"] == 9
    assert merges[1]["pair_count"] == 9
    # every later merge must reference symbols that exist at that point
    assert all(m["pair_count"] > 0 for m in merges)


def test_bpe_train_whole_symbol_guard(spark):
    """The merge rewrite must fuse WHOLE symbols only (advisor r6): a
    corpus engineered so that after merging ('s','t') the word 'sthe'
    holds symbols [st, h, e] — a later ('t','h') merge must NOT strip
    the 't' out of 'st'. We drive the merges by frequency and then
    assert the pair counts never see a phantom ('t','h') pair born
    from inside the 'st' symbol."""
    from spark_streaming_test_spark.llm import bpe

    # 'st' dominates -> merge 1 = (s,t). Then in 'sthe' the symbols
    # are [st, h, e]; the unguarded rewrite would have let a (t,h)
    # merge fuse across the st|h boundary. (h,e) dominates round 2.
    words = spark.createDataFrame(
        [("st", 50), ("sthe", 10), ("the", 3)],
        "word string, n bigint",
    )
    merges = bpe.bpe_train(words, n_merges=3)
    got = [(m["left"], m["right"]) for m in merges]
    assert got[0] == ("s", "t"), got
    # after (s,t): 'sthe' = [st,h,e], 'the' = [t,h,e]
    # pairs: (st,h):10, (h,e):13, (t,h):3 -> round 2 merges (h,e)
    assert got[1] == ("h", "e"), got
    counts = {(m["left"], m["right"]): m["pair_count"] for m in merges}
    assert counts[("h", "e")] == 13, counts
    # round 3: (st,he):10 beats (t,he):3 — the guard keeps 'st' whole
    assert got[2] == ("st", "he"), got
    assert counts[("st", "he")] == 10, counts


def test_bpe_encode_no_cross_symbol_fusion(spark):
    """text_bpe_encode rule ('e','r') must not fuse the symbol pair
    (the, r): 'ther' tokenizes as [th, er]? No — as [the, r]: after
    (t,h) and (th,e) the word is [the, r], and no later rule merges
    that pair, so the token count is exactly 2 (the unguarded rewrite
    produced 1)."""
    import pandas as pd

    from spark_streaming_test_spark.llm import bpe

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "source": ["t"], "text": ["ther"]})
    )
    d = df.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
    )
    s = F.concat_ws(bpe.SEP, F.split(F.col("w"), "(?!^)(?=.)"))
    for l, r in bpe.PRETRAINED_MERGES:
        pat = F.lit(bpe.SEP + l + bpe.SEP + r + bpe.SEP)
        rep = F.lit(bpe.SEP + l + r + bpe.SEP)
        wrapped = F.concat(F.lit(bpe.SEP), s, F.lit(bpe.SEP))
        s = F.btrim(
            F.replace(F.replace(wrapped, pat, rep), pat, rep), F.lit(bpe.SEP)
        )
    [row] = d.select(F.split(s, bpe.SEP).alias("toks")).collect()
    assert row["toks"] == ["the", "r"], row["toks"]


def _bpe_sequential(words: dict[str, int], n_merges: int) -> list[dict]:
    """Plain one-merge-per-step BPE over the same separator-wrapped,
    twice-applied whole-symbol rewrite as bpe_train, no lookahead."""
    from collections import Counter

    from spark_streaming_test_spark.llm import bpe

    sep = bpe.SEP
    syms = {sep.join(w): n for w, n in words.items()}
    merges = []
    for it in range(n_merges):
        pairs: Counter = Counter()
        for s, n in syms.items():
            toks = s.split(sep)
            for lr in zip(toks, toks[1:]):
                pairs[lr] += n
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append({"iteration": it, "left": l, "right": r,
                       "merged": l + r, "pair_count": cnt})
        pat, rep = sep + l + sep + r + sep, sep + l + r + sep
        syms = {
            (sep + s + sep).replace(pat, rep).replace(pat, rep).strip(sep): n
            for s, n in syms.items()
        }
    return merges


def test_bpe_lookahead_skips_self_merge(spark):
    """W x 'aaa' + M x 'bc' with M < W: merge 1 is the self-merge
    (a, a) at 2W, which turns 'aaa' into [aa, a] and mints (aa, a) at
    W > M. The runner-up (b, c) is disjoint from {a}, so the lookahead
    must still refuse it: the merge table equals the sequential one."""
    from spark_streaming_test_spark.llm import bpe

    corpus = {"aaa": 5, "bc": 3}
    words = spark.createDataFrame(list(corpus.items()), "word string, n bigint")
    want = _bpe_sequential(corpus, 3)
    assert [(m["left"], m["right"]) for m in want[:2]] == [
        ("a", "a"), ("aa", "a")
    ]
    assert bpe.bpe_train(words, n_merges=3) == want


def test_bpe_train_deterministic_under_partitioning(spark):
    from spark_streaming_test_spark.llm import bpe

    words = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "word string, n bigint",
    )
    a = bpe.bpe_train(words.repartition(1), n_merges=3)
    b = bpe.bpe_train(words.repartition(7), n_merges=3)
    assert a == b


def test_bpe_train_query_runs(spark):
    from spark_streaming_test_spark import registry

    df = registry.queries()["text_bpe_train"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) == 8
    assert rows[0].iteration == 0
    # merged symbol is always the concatenation of its parts
    assert all(r.merged == r.left + r.right for r in rows)


def test_bpe_train_sampled_tracks_exact(spark):
    """The scale variant trains on a hash-deterministic ~25% doc
    sample; BPE merges depend on relative pair frequencies, so the
    sampled merge table must stay close to the exact-corpus one
    (measured 7-8 of 8 shared at sf0.001/sf0.01 — assert >= 6), and
    repeat runs must be bit-identical (the sample is hash-selected,
    not df.sample)."""
    from spark_streaming_test_spark import registry

    qs = registry.queries()
    sf = "/root/testdata/sf0.001"
    full = {
        (r.left, r.right) for r in qs["text_bpe_train"](spark, sf).collect()
    }
    samp_rows = qs["text_bpe_train_sampled"](spark, sf).collect()
    samp = {(r.left, r.right) for r in samp_rows}
    assert len(samp_rows) == 8
    assert all(r.merged == r.left + r.right for r in samp_rows)
    assert len(full & samp) >= 6, (full, samp)
    again = {
        (r.left, r.right)
        for r in qs["text_bpe_train_sampled"](spark, sf).collect()
    }
    assert samp == again


def test_pca_power_recovers_planted_component(spark, tmp_path):
    """emb_pca_power must recover a PLANTED dominant direction. The
    driver's synthetic embeddings are isotropic (top eigengap ratio
    ~0.98 — no power method converges in 8 iterations there; the
    oracle parity test still pins cross-engine equality on that data),
    so this test builds an anisotropic fixture: x = s*u + noise with a
    strong spike, where convergence is fast and the answer is known."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_streaming_test_spark.registry import all_queries

    rng = np.random.default_rng(7)
    d, n = 64, 300
    u = rng.normal(size=d)
    u /= np.linalg.norm(u)
    emb = rng.normal(scale=0.05, size=(n, d)) + np.outer(
        rng.normal(scale=1.0, size=n), u
    )
    sf_dir = str(tmp_path)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), type=pa.int64()),
                "embedding": pa.array(
                    [row.astype(np.float32) for row in emb],
                    type=pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * n, type=pa.int32()),
            }
        ),
        f"{sf_dir}/embeddings.parquet",
    )
    rows = all_queries()["emb_pca_power"].fn(spark, sf_dir).collect()
    got = {r["dim"]: r["loading"] for r in rows}
    lam = rows[0]["eigenvalue"]

    cov = np.cov(emb.astype(np.float32).astype(np.float64), rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, -1]
    if top[np.argmax(np.abs(top))] < 0:
        top = -top
    v = np.array([got[i] for i in range(d)])
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.999, cos
    assert abs(lam - evals[-1]) / evals[-1] < 0.02, (lam, evals[-1])
    # WQ-truncated norm slightly underestimates ||w||, so v lands a
    # hair over unit — bounded by the quantizer's relative error.
    assert 0.99 < np.linalg.norm(v) <= 1.0 + 1e-4


def test_compress_ratio_separates_repetitive_text(spark, tmp_path):
    """Repetitive text must score well below natural-ish text, and the
    metric must be deterministic across runs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spark_streaming_test_spark.registry import all_queries

    texts = [
        "spam " * 200,                                  # pure repetition
        "the quick brown fox jumps over the lazy dog while "
        "pack my box with five dozen liquor jugs and a sphinx "
        "of black quartz judges my vow under seventeen bright "
        "unrelated winter lanterns near the quiet harbor today",  # varied
        "abcdefghijklmnopqrstuvwxyz0123456789 " * 25,   # mid
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), type=pa.int64()),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["t"] * len(texts),
                "n_chars": pa.array(
                    [len(t) for t in texts], type=pa.int64()
                ),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    fn = all_queries()["text_compress_ratio"].fn
    rows = {r["doc_id"]: r for r in fn(spark, str(tmp_path)).collect()}
    assert rows[0]["compress_ratio"] < rows[2]["compress_ratio"]
    assert rows[2]["compress_ratio"] < rows[1]["compress_ratio"]
    assert rows[0]["is_repetitive"] and not rows[1]["is_repetitive"]
    again = {r["doc_id"]: r for r in fn(spark, str(tmp_path)).collect()}
    assert all(
        rows[k]["compress_ratio"] == again[k]["compress_ratio"] for k in rows
    )
    # the unregistered DEFLATE variant orders the same fixtures the
    # same way (zlib is not oracle-expressible; held here instead)
    from spark_streaming_test_spark.llm.curation import (
        zlib_compress_ratio_frame,
    )

    zr = {
        r["doc_id"]: r
        for r in zlib_compress_ratio_frame(spark, str(tmp_path)).collect()
    }
    assert zr[0]["compress_ratio"] < zr[2]["compress_ratio"]
    assert zr[2]["compress_ratio"] < zr[1]["compress_ratio"]
    assert zr[0]["is_repetitive"] and not zr[1]["is_repetitive"]


def test_token_dict_codec_roundtrip_and_length():
    """The compress-ratio encoder is a real codec: decode inverts
    encode, and the serialized length matches the closed form the
    DuckDB oracle recomputes — including >127 distinct tokens (2-byte
    varint, index width > 7 bits) and multi-byte UTF-8."""
    from spark_streaming_test_spark.llm.curation import (
        token_dict_decode,
        token_dict_encode,
    )

    cases = [
        "",
        "one",
        "a b a b a b",
        "naïve café déjà vu naïve café",
        " ".join(f"tok{i}" for i in range(300)),          # w = 9 bits
        " ".join(f"tok{i % 7}" for i in range(200)),
        "x" * 200 + " " + "x" * 200,                      # long tokens
    ]
    for text in cases:
        enc = token_dict_encode(text)
        assert token_dict_decode(enc) == text
        toks = text.split(" ")
        distinct = list(dict.fromkeys(toks))
        w = max(1, (len(distinct) - 1).bit_length())

        def vl(n):
            return 1 if n < 128 else 2

        expect = (
            2
            + vl(len(toks))
            + vl(len(distinct))
            + sum(vl(len(t.encode())) + len(t.encode()) for t in distinct)
            + -(-len(toks) * w // 8)
        )
        assert len(enc) == expect, text[:40]


def test_ivf_index_collect_is_bounded(spark, sf_dir):
    """The IVF coarse-quantizer index must be a FIXED-size driver
    collect: centroid count <= IVF_MAX_CENTROIDS no matter the corpus
    size (the round-3 verdict flagged the uncapped stride as an O(n)
    collect that grows 100x at 100x scale)."""
    similarity._IVF_CACHE.clear()
    cents, q_vecs = similarity._ivf_index(spark, sf_dir)
    assert len(cents) <= similarity.IVF_MAX_CENTROIDS
    assert len(q_vecs) == similarity.N_QUERIES
    assert all(
        cid % similarity.IVF_STRIDE == 0
        and cid < similarity.IVF_STRIDE * similarity.IVF_MAX_CENTROIDS
        for cid, _ in cents
    )


def test_lsh_hot_bucket_guard_bounds_candidates(spark):
    """Adversarial near-identical corpus: N clones of one document put
    all N docs in the SAME bucket of every band. Unguarded banding
    would emit N*(N-1)/2 candidate pairs (quadratic inside one bucket);
    the LSH_BUCKET_CAP star-edge guard must emit exactly N-1 distinct
    pairs, all anchored at the bucket's min doc_id — which still keeps
    the duplicate cluster connected for downstream components."""
    n = dedup.LSH_BUCKET_CAP + 36  # 100: decisively over the cap
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    ).select("doc_id", dedup._shingles(F.col("text")).alias("shingles"))
    pairs = dedup.lsh_band_candidates(docs).collect()
    assert len(pairs) == n - 1, f"expected {n-1} star edges, got {len(pairs)}"
    assert all(r["doc_a"] == 0 for r in pairs)
    assert {r["doc_b"] for r in pairs} == set(range(1, n))


def test_lsh_cold_buckets_unchanged_by_guard(spark):
    """Below the cap the guard is dormant: distinct documents that share
    no shingles produce no candidates, and a small clone cluster still
    produces its full quadratic pair set."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, text) for i in range(5)] + [
        (100 + i, f"totally different document number {i} " * 3)
        for i in range(5)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).select("doc_id", dedup._shingles(F.col("text")).alias("shingles"))
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_band_candidates(docs).collect()
    }
    clone_pairs = {(a, b) for a in range(5) for b in range(5) if a < b}
    assert clone_pairs <= pairs, "full pair set of the small clone cluster"
    assert all(a < 100 and b < 100 or a >= 100 for a, b in pairs)


def test_simhash_hot_piece_guard_star_edges(spark, tmp_path):
    """Adversarial corpus above SIMHASH_BUCKET_CAP: clones of one
    document land in the same piece bucket of every band; the guard
    must emit N-1 star edges (all hamming 0, anchored at the min
    doc_id), not N*(N-1)/2 quadratic pairs."""
    n = dedup.SIMHASH_BUCKET_CAP + 76  # 1100: decisively over the cap
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    sf = str(tmp_path / "sfx")
    spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")
    rows = dedup.dedup_simhash(spark, sf).collect()
    assert len(rows) == n - 1, f"expected {n-1} star edges, got {len(rows)}"
    assert all(r["doc_a"] == 0 and r["hamming"] == 0 for r in rows)
    assert {r["doc_b"] for r in rows} == set(range(1, n))


def test_bmp_decode_golden_bytes():
    """Hand-assembled 2x2 24-bit BMP (spec bytes, not via the writer):
    distinct corner colors prove the bottom-up flip and BGR->RGB swap."""
    import struct

    import numpy as np

    # pixels (RGB): topleft=(1,2,3) topright=(4,5,6)
    #               botleft=(7,8,9) botright=(10,11,12)
    # stored bottom-up, BGR, rows padded 6->8 bytes
    rows = [
        bytes((9, 8, 7)) + bytes((12, 11, 10)) + b"\x00\x00",   # bottom row
        bytes((3, 2, 1)) + bytes((6, 5, 4)) + b"\x00\x00",      # top row
    ]
    img = b"".join(rows)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + len(img), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(img),
                       0, 0, 0, 0)
    w, h, px = multimodal.decode_bmp24(hdr + info + img)
    assert (w, h) == (2, 2)
    assert px.tolist() == [[[1, 2, 3], [4, 5, 6]], [[7, 8, 9], [10, 11, 12]]]
    assert px.dtype == np.uint8


def test_wav_decode_walks_extra_chunks():
    """A LIST chunk between fmt and data (common in real recorders)
    must be skipped by the chunk walker; odd-sized chunks are
    word-aligned per the RIFF spec."""
    import struct

    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack(
        "<HHIIHH", 1, 1, 8000, 16000, 2, 16
    )
    lst = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd + pad
    data = b"data" + struct.pack("<I", 6) + struct.pack("<hhh", -5, 0, 7)
    body = b"WAVE" + fmt + lst + data
    buf = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, ch, samples = multimodal.decode_wav16(buf)
    assert (rate, ch) == (8000, 1)
    assert samples.tolist() == [-5, 0, 7]


def test_bmp_wav_writers_roundtrip():
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "x.bmp")
        multimodal.write_bmp24(p, 3, 2, lambda x, y: (x, y, x + y))
        w, h, px = multimodal.decode_bmp24(open(p, "rb").read())
        assert (w, h) == (3, 2)
        assert px[0, 2].tolist() == [2, 0, 2]  # top-right: x=2,y=0
        assert px[1, 0].tolist() == [0, 1, 1]  # bottom-left: x=0,y=1
        q = os.path.join(d, "x.wav")
        multimodal.write_wav16(q, 44100, [1, -32768, 32767])
        rate, ch, s = multimodal.decode_wav16(open(q, "rb").read())
        assert rate == 44100 and s.tolist() == [1, -32768, 32767]


def test_lsh_guard_partitioning_invariant(spark):
    """The guarded candidate set must be identical under any input
    partitioning — window counts, star anchors, and the self-join all
    depend only on values, never on physical layout."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, text) for i in range(80)] + [
        (200 + i, f"other doc number {i} with different words {i}") for i in range(20)
    ]
    base = spark.createDataFrame(rows, "doc_id long, text string")
    outs = []
    for parts in (1, 7, 32):
        docs = base.repartition(parts).select(
            "doc_id", dedup._shingles(F.col("text")).alias("shingles")
        )
        outs.append(
            sorted(
                (r["doc_a"], r["doc_b"])
                for r in dedup.lsh_band_candidates(docs).collect()
            )
        )
    assert outs[0] == outs[1] == outs[2]
    assert outs[0], "no candidates produced"


def test_token_dict_codec_hypothesis_roundtrip():
    """Property: decode(encode(t)) == t and the length formula holds
    for arbitrary single-space-joined unicode token lists."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_streaming_test_spark.llm.curation import (
        token_dict_decode,
        token_dict_encode,
    )

    token = st.text(
        alphabet=st.characters(blacklist_characters=" ", max_codepoint=0x2FFF),
        max_size=20,
    )

    @settings(max_examples=150, deadline=None)
    @given(st.lists(token, min_size=1, max_size=400))
    def roundtrip(tokens):
        text = " ".join(tokens)
        enc = token_dict_encode(text)
        assert token_dict_decode(enc) == text
        distinct = list(dict.fromkeys(text.split(" ")))
        w = max(1, (len(distinct) - 1).bit_length())

        def vl(n):
            out = 1
            while n >= 128:
                n >>= 7
                out += 1
            return out

        toks = text.split(" ")
        assert len(enc) == (
            2
            + vl(len(toks))
            + vl(len(distinct))
            + sum(vl(len(t.encode())) + len(t.encode()) for t in distinct)
            + -(-len(toks) * w // 8)
        )

    roundtrip()


def test_unigram_segment_dp_semantics(spark):
    """The integer Viterbi DP picks known segmentations: multi-char
    pieces beat char-by-char when cheaper, ties resolve toward fewer
    pieces, and the Spark fold agrees with the pure-Python twin on a
    word set that covers every piece length."""
    from spark_streaming_test_spark.llm.bpe import (
        _U_COSTS,
        _U_SCALE,
        _u_spark_dp,
        unigram_segment_cost,
    )
    import pyspark.sql.functions as F

    # 'the' as one piece (45) beats t+h+e (154) and th?+e etc.
    assert unigram_segment_cost("the") == (45, 1)
    # 'therein' -> the|re|in = 45+40+37 (cost 122, 3 pieces)
    assert unigram_segment_cost("therein") == (122, 3)
    # single exotic char
    assert unigram_segment_cost("q") == (66, 1)
    words = ["the", "therein", "q", "zzz", "ingestion", "standard",
             "onion", "a", "xylophone", "strength"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    dp = _u_spark_dp(F.col("word"))
    got = {
        r["word"]: (r["c"], r["p"])
        for r in df.select(
            "word",
            (dp / F.lit(_U_SCALE)).cast("long").alias("c"),
            (dp % F.lit(_U_SCALE)).cast("long").alias("p"),
        ).collect()
    }
    assert got == {w: unigram_segment_cost(w) for w in words}
    # every a-z char is priced: any lowercase word segments
    assert set("abcdefghijklmnopqrstuvwxyz") <= set(_U_COSTS)


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_unigram_segment_corpus_word_length_bound(sf):
    """The composite DP encoding (cost*64 + n_pieces) is valid for
    words up to 63 chars; pin that the corpus stays far inside it at
    EVERY local SF — the DP runs in driver sweeps at sf0.1 too, and a
    >63-char word would silently corrupt pieces into cost there while
    an sf0.001-only check stayed green (review r10)."""
    import duckdb

    mx = duckdb.sql(
        f"""SELECT max(strlen(w)) FROM (
             SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) w
             FROM read_parquet('/root/testdata/sf{sf}/documents.parquet'))"""
    ).fetchone()[0]
    assert mx <= 63


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_token_dict_varint_envelope(sf):
    """The text_compress_ratio oracle inlines varint lengths as a
    two-tier CASE (1 byte < 128, else 2), valid only while n_tokens,
    n_distinct and every token's byte length stay below 16384 (the
    encoder emits 3-byte varints beyond that). Pin the corpus inside
    that envelope at EVERY local SF, mirroring the unigram 63-char
    word bound — a datagen/SF change past the tier boundary must fail
    here, not silently diverge at driver hash-compare time
    (ADVICE r10)."""
    import duckdb

    n_tokens, n_distinct, tok_len = duckdb.sql(
        f"""SELECT max(len(tokens)),
                   max(len(list_distinct(tokens))),
                   max(list_max(list_transform(
                       tokens, t -> octet_length(encode(t)))))
            FROM (SELECT string_split(text, ' ') AS tokens
                  FROM read_parquet(
                      '/root/testdata/sf{sf}/documents.parquet'))"""
    ).fetchone()
    assert n_tokens < 16384, n_tokens
    assert n_distinct < 16384, n_distinct
    assert tok_len < 16384, tok_len


def test_wordpiece_greedy_semantics(spark):
    """Greedy longest-match-first with HF whole-word-UNK semantics:
    the Spark state machine agrees with the pure-Python twin, longest
    match wins even when it strands the tail (the greedy-vs-optimal
    signature), and q/x/z in continuation position unk the word."""
    from spark_streaming_test_spark.llm.bpe import (
        _wp_spark_state,
        wordpiece_segment,
    )
    import pyspark.sql.functions as F

    # 'the' one piece; 'thein' -> the|in(cont)
    assert wordpiece_segment("the") == (1, False)
    assert wordpiece_segment("thein") == (2, False)
    # mid-word q unks the WHOLE word (HF semantics)
    assert wordpiece_segment("aqua") == (1, True)
    # initial q is fine ('q' is in the initial set)
    assert wordpiece_segment("qi") == (2, False)
    words = ["the", "thein", "aqua", "qi", "standard", "ingestion",
             "zigzag", "onion", "a", "strength", "texture"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    st = _wp_spark_state(F.col("word"))
    got = {
        r["word"]: (r["p"], bool(r["u"]))
        for r in df.select(
            "word",
            F.element_at(st, 2).alias("p"),
            (F.element_at(st, 3) == F.lit(1)).alias("u"),
        ).collect()
    }
    assert got == {w: wordpiece_segment(w) for w in words}


def test_wordpiece_unk_branch_live_on_corpus(spark, sf_dir):
    """The omitted q/x/z continuation pieces must make the UNK path
    reachable on the real corpus (otherwise the n_unk_words column is
    never exercised by the driver's hash)."""
    from spark_streaming_test_spark.registry import all_queries

    rows = all_queries()["text_wordpiece_segment"].fn(spark, sf_dir).collect()
    assert sum(r["n_unk_words"] for r in rows) > 0
    assert all(r["n_pieces"] > 0 and r["n_words"] > 0 for r in rows)


def test_semdedup_census_semantics(spark, sf_dir):
    """dedup_semdedup: both kept branches live on the corpus; a
    dropped vector always has a SAME-CELL smaller-id neighbor above
    the threshold (the ε-ball rule), and a kept vector never does —
    re-derived from the query's own cell/embedding columns via a
    pure-Python pairwise check, independent of the SQL oracle."""
    import itertools
    import math

    from spark_streaming_test_spark.llm.similarity import (
        SEMDEDUP_TAU,
        dedup_semdedup,
        ivf_corpus_cells,
    )
    from spark_streaming_test_spark.catalog import load, spread

    out = {r["vec_id"]: r for r in dedup_semdedup(spark, sf_dir).collect()}
    kept = [v for v, r in out.items() if r["kept"]]
    dropped = [v for v, r in out.items() if not r["kept"]]
    assert kept and dropped, (len(kept), len(dropped))

    mem = ivf_corpus_cells(
        spark, sf_dir, spread(load(spark, sf_dir, "embeddings"))
    ).collect()
    emb = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in mem}
    cell = {r["vec_id"]: r["cell"] for r in mem}

    def cos(a, b):
        d = n1 = n2 = 0.0
        for x, y in zip(a, b):
            d += x * y
            n1 += x * x
            n2 += y * y
        return d / math.sqrt(n1 * n2)

    by_cell: dict[int, list[int]] = {}
    for v, c in cell.items():
        by_cell.setdefault(c, []).append(v)
    expect_drop = set()
    for members in by_cell.values():
        for b, a in itertools.combinations(sorted(members), 2):
            if cos(emb[a], emb[b]) > SEMDEDUP_TAU:
                expect_drop.add(a)
    assert expect_drop == set(dropped)
    # census covers every vector exactly once, cells match assignment
    assert set(out) == set(emb)
    assert all(out[v]["cell"] == cell[v] for v in out)


def test_semdedup_centroid_rep_semantics(spark, sf_dir):
    """dedup_semdedup_centroid_rep (the paper's rule): a vector is
    dropped iff some same-cell neighbor above the threshold is MORE
    CENTRAL (higher centroid cosine; tie → lower id) — re-derived with
    a pure-Python pairwise check independent of the SQL oracle. The
    kept set therefore always contains each dup-relation's most
    central member, and the census matches dedup_semdedup's cells."""
    import itertools
    import math

    from spark_streaming_test_spark.catalog import load, spread
    from spark_streaming_test_spark.llm.similarity import (
        SEMDEDUP_TAU,
        _ivf_index,
        dedup_semdedup_centroid_rep,
        ivf_corpus_cells,
    )

    out = {
        r["vec_id"]: r
        for r in dedup_semdedup_centroid_rep(spark, sf_dir).collect()
    }
    kept = [v for v, r in out.items() if r["kept"]]
    dropped = [v for v, r in out.items() if not r["kept"]]
    assert kept and dropped, (len(kept), len(dropped))

    mem = ivf_corpus_cells(
        spark, sf_dir, spread(load(spark, sf_dir, "embeddings"))
    ).collect()
    emb = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in mem}
    cell = {r["vec_id"]: r["cell"] for r in mem}
    cents = dict(_ivf_index(spark, sf_dir)[0])

    def cos(a, b):
        d = n1 = n2 = 0.0
        for x, y in zip(a, b):
            d += x * y
            n1 += x * x
            n2 += y * y
        return d / math.sqrt(n1 * n2)

    ccos = {v: cos(emb[v], cents[cell[v]]) for v in emb}
    by_cell: dict[int, list[int]] = {}
    for v, c in cell.items():
        by_cell.setdefault(c, []).append(v)
    expect_drop = set()
    for members in by_cell.values():
        for a, b in itertools.combinations(members, 2):
            if cos(emb[a], emb[b]) > SEMDEDUP_TAU:
                # drop the less central of the pair (tie: higher id)
                loser = (
                    a
                    if (ccos[b], -b) > (ccos[a], -a)
                    else b
                )
                expect_drop.add(loser)
    assert expect_drop == set(dropped)
    assert set(out) == set(emb)
    assert all(out[v]["cell"] == cell[v] for v in out)
    # the reported centrality matches the recomputation to float noise
    assert all(
        abs(out[v]["centroid_cos"] - ccos[v]) < 1e-9 for v in out
    )


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_embedding_array_uniformity(sf):
    """_embedding_pair_moments derives the marginal sums si/sj from
    per-dim aggregates instead of the pair fan-out — valid only while
    every embedding array has the same length and no NULLs (ragged
    arrays would make per-dim marginals over-count relative to
    pairs-present semantics). Pin that invariant at every local SF,
    the varint-envelope pattern."""
    import duckdb

    mn, mx, null_arrays, null_elems = duckdb.sql(
        f"""SELECT min(len(embedding)), max(len(embedding)),
                   sum(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END),
                   sum(len(list_filter(embedding, x -> x IS NULL)))
            FROM read_parquet(
                '/root/testdata/sf{sf}/embeddings.parquet')"""
    ).fetchone()
    assert mn == mx, (mn, mx)
    assert null_arrays == 0 and null_elems == 0
