"""Semantic tests for the round-6 wave: exact-substring dedup, Louvain
move phase, leakage-safe split, Kneser-Ney bigram — ground-truth
properties the cross-engine hash can't see (both engines could share a
formula bug; these replay the math independently in plain Python)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from spark_streaming_test_spark.llm import dedup, text_analysis
from spark_streaming_test_spark.operators import graph


def _lcr(ta: list[str], tb: list[str]) -> int:
    """Longest common token run between two token lists (O(n*m) DP)."""
    best = 0
    prev = [0] * (len(tb) + 1)
    for a in ta:
        cur = [0] * (len(tb) + 1)
        for j, b in enumerate(tb, 1):
            if a == b:
                cur[j] = prev[j - 1] + 1
                if cur[j] > best:
                    best = cur[j]
        prev = cur
    return best


def test_exact_substring_matches_python_lcs(spark, sf_dir):
    """max_run_tokens must equal the true longest common token run
    (python DP) for every emitted pair, and sampled non-emitted pairs
    must have no run >= SUBSTR_L. Valid because the fixture corpus has
    ZERO hot grams (asserted), so the guard excludes nothing."""
    audit = dedup.dedup_substring_gram_audit(spark, sf_dir).collect()[0]
    assert audit["hot_grams"] == 0, "precondition: guard must be inactive"

    docs = {
        r["doc_id"]: r["text"].lower().split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    pairs = {
        (r["doc_a"], r["doc_b"]): r["max_run_tokens"]
        for r in dedup.dedup_exact_substring_pairs(spark, sf_dir).collect()
    }
    assert pairs, "fixture corpus must contain shared substrings"
    for (a, b), run in pairs.items():
        true_run = _lcr(docs[a], docs[b])
        assert true_run == run >= dedup.SUBSTR_L, (a, b, run, true_run)

    # Sampled completeness: deterministic md5-ordered non-emitted pairs.
    ids = sorted(docs)
    sampled = 0
    for a in ids:
        for b in ids:
            if a < b and (a, b) not in pairs:
                if int(hashlib.md5(f"{a}:{b}".encode()).hexdigest(), 16) % 97:
                    continue
                assert _lcr(docs[a], docs[b]) < dedup.SUBSTR_L, (a, b)
                sampled += 1
    assert sampled >= 100


def test_louvain_gain_python_replay(spark, sf_dir):
    """Every emitted move must match an independent pure-Python replay
    of the synchronous Louvain pass: same target community, same scaled
    gain, and unmoved nodes must have no strictly positive candidate."""
    edges = [
        (r["u"], r["v"])
        for r in graph._copurchase_edges(spark, sf_dir).collect()
    ]
    m = len(edges)
    nbrs = defaultdict(list)
    for u, v in edges:
        nbrs[u].append(v)
        nbrs[v].append(u)
    k = {n: len(vs) for n, vs in nbrs.items()}
    cid = {n: n % graph.LOUVAIN_BINS for n in nbrs}
    sigma = defaultdict(int)
    for n in nbrs:
        sigma[cid[n]] += k[n]

    expected = {}
    for n in nbrs:
        e_ic = defaultdict(int)
        for v in nbrs[n]:
            e_ic[cid[v]] += 1
        e_own = e_ic.get(cid[n], 0)
        best = None
        for c, e in sorted(e_ic.items()):
            if c == cid[n]:
                continue
            gain = 2 * m * (e - e_own) - k[n] * (sigma[c] - sigma[cid[n]] + k[n])
            if gain > 0 and (best is None or gain > best[0]):
                best = (gain, c)
        expected[n] = best

    out = {
        r["node"]: r for r in graph.graph_louvain_move_phase(spark, sf_dir).collect()
    }
    assert set(out) == set(nbrs)
    for n, r in out.items():
        assert r["comm_from"] == cid[n]
        if expected[n] is None:
            assert not r["moved"] and r["comm_to"] == cid[n] and r["gain_x2m2"] == 0
        else:
            gain, c = expected[n]
            assert r["moved"] and (r["gain_x2m2"], r["comm_to"]) == (gain, c), (
                n, (r["gain_x2m2"], r["comm_to"]), (gain, c),
            )


def test_leakage_safe_split_no_straddle(spark, sf_dir):
    """The property the oracle can't see: no near-dup PAIR straddles a
    split boundary, every cluster lands in exactly one split, and
    singleton docs get the same bucket split_train_test would give."""
    split = {
        r["doc_id"]: r
        for r in dedup.split_leakage_safe(spark, sf_dir).collect()
    }
    for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect():
        a, b = split[r["doc_a"]], split[r["doc_b"]]
        assert a["split"] == b["split"], (r["doc_a"], r["doc_b"])
        assert a["cluster_id"] == b["cluster_id"]
    by_cluster = defaultdict(set)
    for r in split.values():
        by_cluster[r["cluster_id"]].add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    assert {r["split"] for r in split.values()} == {"train", "val", "test"}
    for r in split.values():
        if r["cluster_size"] == 1:
            first = hashlib.md5(str(r["cluster_id"]).encode()).hexdigest()[0]
            want = "train" if first <= "b" else ("val" if first <= "d" else "test")
            assert r["split"] == want


def test_kneser_ney_python_replay(spark, sf_dir):
    """p_kn must match the textbook formula recomputed in Python from
    the emitted counts, and the model must conserve probability mass:
    per w1, sum(discounted ML part) + lambda(w1) == 1 exactly (the
    continuation distribution sums to 1 over the full vocabulary)."""
    rows = text_analysis.text_kneser_ney_bigram(spark, sf_dir).collect()
    c1 = defaultdict(int)
    n1_fwd = defaultdict(int)
    n1_bwd = defaultdict(int)
    for r in rows:
        c1[r["w1"]] += r["c12"]
        n1_fwd[r["w1"]] += 1
        n1_bwd[r["w2"]] += 1
    n_tot = float(len(rows))
    D = text_analysis.KN_D
    for r in rows:
        want = max(r["c12"] - D, 0.0) / c1[r["w1"]] + (
            (D * n1_fwd[r["w1"]]) / c1[r["w1"]]
        ) * (n1_bwd[r["w2"]] / n_tot)
        assert abs(r["p_kn"] - want) < 1e-12, (r["w1"], r["w2"])
    for w1 in c1:
        lam = D * n1_fwd[w1] / c1[w1]
        ml_mass = sum(
            max(r["c12"] - D, 0.0) / c1[w1] for r in rows if r["w1"] == w1
        )
        assert abs(ml_mass + lam - 1.0) < 1e-9, w1


def test_hist_gbdt_split_numpy_replay(spark, sf_dir):
    """Best split per feature must match a NumPy replay of the full
    histogram pipeline (per-user prior, 9-dp gradient quantization,
    fixed-width binning, second-order gain)."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    from spark_streaming_test_spark.operators import mltrain

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "user_id",
            "CAST(CASE WHEN event_type = "
            f"'{mltrain.LR_LABEL}' THEN 1 ELSE 0 END AS DOUBLE) AS y",
            "value AS f_value",
            "CAST(hour(ts) AS DOUBLE) AS f_hour",
        )
        .collect()
    )
    by_user = {}
    for r in rows:
        n, p = by_user.get(r["user_id"], (0, 0))
        by_user[r["user_id"]] = (n + 1, p + int(r["y"]))
    # Spark's double->decimal cast rounds the exact binary value HALF_UP.
    q9 = lambda x: float(  # noqa: E731
        Decimal(x).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
    )
    out = {
        r["feature"]: r
        for r in mltrain.ml_hist_gbdt_split(spark, sf_dir).collect()
    }
    for feature, key in (("value", "f_value"), ("hour", "f_hour")):
        xs = np.array([r[key] for r in rows])
        p0 = np.array(
            [by_user[r["user_id"]][1] / by_user[r["user_id"]][0] for r in rows]
        )
        y = np.array([r["y"] for r in rows])
        g = np.array([q9(v) for v in (p0 - y)])
        h = np.array([q9(v) for v in (p0 * (1 - p0))])
        mn, mx = xs.min(), xs.max()
        bins = np.minimum(
            np.floor((xs - mn) * float(mltrain.HIST_BINS) / (mx - mn)),
            mltrain.HIST_BINS - 1,
        ).astype(int)
        G = np.zeros(mltrain.HIST_BINS)
        H = np.zeros(mltrain.HIST_BINS)
        for b, gi, hi in zip(bins, g, h):
            G[b] += gi
            H[b] += hi
        lam = mltrain.GBDT_LAMBDA
        gt, ht = G.sum(), H.sum()
        best = None
        present = sorted(set(bins))
        for b in present:
            gl = G[: b + 1].sum()
            hl = H[: b + 1].sum()
            nl = int((bins <= b).sum())
            if nl == len(rows):
                continue
            gain = 0.5 * (
                gl * gl / (hl + lam)
                + (gt - gl) ** 2 / ((ht - hl) + lam)
                - gt * gt / (ht + lam)
            )
            if best is None or gain > best[0] + 1e-12:
                best = (gain, b, nl)
        r = out[feature]
        assert r["split_bin"] == best[1], (feature, r["split_bin"], best)
        assert abs(r["gain"] - best[0]) < 1e-9, (feature, r["gain"], best[0])
        assert r["n_left"] == best[2]


def test_matrix_profile_numpy_replay(spark, sf_dir):
    """The matrix profile must match a NumPy all-pairs z-normalized
    distance computation for one series (same exclusion zone)."""
    import numpy as np

    from spark_streaming_test_spark.operators import trend

    hourly = {
        r["h"]: float(r["hv"])
        for r in trend._hourly_sum(spark, sf_dir)
        .filter("event_type = 'click'")
        .collect()
    }
    v = np.array([hourly[h] for h in sorted(hourly)])
    w, excl = trend.MP_W, trend.MP_EXCL
    n = len(v) - w + 1
    subs = np.lib.stride_tricks.sliding_window_view(v, w)
    mu = subs.mean(axis=1)
    sig = np.sqrt((subs * subs).sum(axis=1) / w - mu * mu)
    out = {
        r["idx"]: r
        for r in trend.ts_matrix_profile(spark, sf_dir)
        .filter("event_type = 'click'")
        .collect()
    }
    assert len(out) == n  # no constant subsequences in the fixture
    for i in range(n):
        best = None
        for j in range(n):
            if abs(i - j) < excl:
                continue
            rho = ((subs[i] * subs[j]).sum() / w - mu[i] * mu[j]) / (
                sig[i] * sig[j]
            )
            d2 = round(2 * w * (1 - rho), trend.MP_DP)
            if best is None or d2 < best[0] - 1e-9:
                best = (d2, j + 1)  # row_number is 1-based
        r = out[i + 1]
        assert abs(r["mp_dist2"] - best[0]) < 1e-6, (i, r["mp_dist2"], best)


def test_ktruss_python_peeling_replay(spark, sf_dir):
    """The k-truss must equal an independent Python peeling replay:
    same surviving edge set, same per-edge triangle support."""
    edges = {
        (r["u"], r["v"])
        for r in graph._copurchase_edges(spark, sf_dir).collect()
    }

    def supports(es):
        nbr = defaultdict(set)
        for u, v in es:
            nbr[u].add(v)
            nbr[v].add(u)
        return {
            (u, v): len(nbr[u] & nbr[v])  # common neighbors = triangles
            for u, v in es
        }

    cur = set(edges)
    for _ in range(graph.KTRUSS_ROUNDS):
        sup = supports(cur)
        nxt = {e for e in cur if sup[e] >= graph.KTRUSS_K - 2}
        if nxt == cur:
            break
        cur = nxt
    else:
        raise AssertionError("python peeling did not converge")

    out = {
        (r["u"], r["v"]): r["support"]
        for r in graph.graph_ktruss(spark, sf_dir).collect()
    }
    assert set(out) == cur
    final_sup = supports(cur)
    for e, s in out.items():
        assert s == final_sup[e], (e, s, final_sup[e])
    assert out, "fixture truss must be non-empty"


def test_dtw_numpy_dp_replay(spark, sf_dir):
    """Every pairwise DTW must match a classic NumPy DP replay on the
    same z-normalized daily series, and be <= the rigid diagonal
    alignment cost (warping can only help)."""
    import numpy as np

    from spark_streaming_test_spark.operators import trend

    daily = defaultdict(dict)
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView(
        "ev_dtw_test"
    )
    for r in spark.sql(
        "SELECT event_type, CAST(ts AS DATE) AS d, "
        "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS dv "
        "FROM ev_dtw_test GROUP BY event_type, CAST(ts AS DATE)"
    ).collect():
        daily[r["event_type"]][r["d"]] = float(r["dv"])

    z = {}
    for et, m in daily.items():
        v = np.array([m[d] for d in sorted(m)])
        mu = v.sum() / len(v)
        sig = np.sqrt((v * v).sum() / len(v) - mu * mu)
        z[et] = (v - mu) / sig

    def dtw(a, b):
        n, m = len(a), len(b)
        D = np.full((n + 1, m + 1), np.inf)
        D[0, 0] = 0.0
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                c = (a[i - 1] - b[j - 1]) ** 2
                D[i, j] = c + min(D[i - 1, j], D[i - 1, j - 1], D[i, j - 1])
        return np.sqrt(D[n, m])

    out = trend.ts_dtw_distance(spark, sf_dir).collect()
    assert len(out) == 10  # C(5,2) event-type pairs
    for r in out:
        a, b = z[r["et_a"]], z[r["et_b"]]
        want = dtw(a, b)
        assert abs(r["dtw"] - want) < 1e-6, (r["et_a"], r["et_b"], r["dtw"], want)
        if len(a) == len(b):
            rigid = np.sqrt(((a - b) ** 2).sum())
            assert r["dtw"] <= rigid + 1e-9


def test_audio_band_power_fft_crosscheck(spark, sf_dir):
    """The exact integer band powers must equal |rFFT|^2 at bins
    {{0, N/4, N/2}} computed by numpy's FFT — a genuinely different
    algorithm (butterflies + floating twiddles) whose result at these
    bins is integral up to float rounding. Also Parseval's bound:
    each bin power <= N * frame energy."""
    import numpy as np

    from spark_streaming_test_spark.llm import multimodal as mm

    out = mm.mm_audio_band_power(spark, sf_dir).collect()
    assert out
    for r in out[:200]:
        i, f = r["clip_id"], r["frame_idx"]
        t = np.arange(f * mm.AUDIO_FRAME, min((f + 1) * mm.AUDIO_FRAME, mm.WAV_SAMPLES))
        v = ((t * t + 7 * i * t) % 20001) - 10000
        n = len(v)
        X = np.fft.rfft(v)
        assert round(abs(X[0]) ** 2) == r["p_dc"]
        if n % 4 == 0:
            assert round(abs(X[n // 4]) ** 2) == r["p_quarter"], (i, f)
        if n % 2 == 0:
            assert round(abs(X[n // 2]) ** 2) == r["p_nyquist"], (i, f)
        for p in (r["p_dc"], r["p_quarter"], r["p_nyquist"]):
            assert p <= n * r["energy"] + 1e-9


def test_gradient_hist_partition_and_variation_bound(spark, sf_dir):
    """Quadrant buckets + flat must PARTITION the interior exactly
    (q1+q2+q3+q4+n_flat == n_interior), and total variation must obey
    sum|dx| <= sqrt(n * energy) (Cauchy-Schwarz)."""
    from spark_streaming_test_spark.llm import multimodal as mm

    rows = mm.mm_image_gradient_hist(spark, sf_dir).collect()
    assert len(rows) == mm.BMP_N
    for r in rows:
        assert (
            r["q1"] + r["q2"] + r["q3"] + r["q4"] + r["n_flat"]
            == r["n_interior"]
        ), r
        assert r["sum_abs_dx"] ** 2 <= r["n_interior"] * r["grad_energy"]
        assert r["sum_abs_dy"] ** 2 <= r["n_interior"] * r["grad_energy"]


def test_kn_doc_score_split_discipline(spark, sf_dir):
    """Scored docs must be exactly the non-train hash split, scores
    negative, and the unseen counter must agree with a Python recount
    of bigrams absent from the train-split bigram set."""
    import re

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }

    def bigrams(text):
        toks = [t for t in re.split(r"[^a-z]+", text.lower()) if t]
        return list(zip(toks, toks[1:]))

    train = {
        d for d in docs
        if hashlib.md5(str(d).encode()).hexdigest()[0] <= "b"
    }
    model = set()
    for d in train:
        model.update(bigrams(docs[d]))

    out = {
        r["doc_id"]: r
        for r in text_analysis.text_kneser_ney_doc_score(spark, sf_dir).collect()
    }
    expect_scored = {d for d in docs if d not in train and bigrams(docs[d])}
    assert set(out) == expect_scored
    total_unseen = 0
    for d, r in out.items():
        bgs = bigrams(docs[d])
        assert r["n_bigrams"] == len(bgs)
        unseen = sum(1 for b in bgs if b not in model)
        assert r["n_unseen"] == unseen, (d, r["n_unseen"], unseen)
        assert r["avg_logprob"] < 0
        total_unseen += unseen
    assert total_unseen > 0, "fixture must exercise the backoff branch"


def test_louvain_coarsen_conserves_edges(spark, sf_dir):
    """Coarsening must conserve the edge count exactly (every original
    edge lands in exactly one supergraph cell) and agree with a Python
    recount from the move-phase labels."""
    moves = {
        r["node"]: r["comm_to"]
        for r in graph.graph_louvain_move_phase(spark, sf_dir).collect()
    }
    want = defaultdict(int)
    total = 0
    for r in graph._copurchase_edges(spark, sf_dir).collect():
        a, b = moves[r["u"]], moves[r["v"]]
        want[(min(a, b), max(a, b))] += 1
        total += 1
    out = {
        (r["comm_a"], r["comm_b"]): r["weight"]
        for r in graph.graph_louvain_coarsen(spark, sf_dir).collect()
    }
    assert out == dict(want)
    assert sum(out.values()) == total
    assert any(a == b for a, b in out), "diagonal self-loop cells expected"


def test_incremental_substring_python_replay(spark, sf_dir):
    """Per-delta-doc gram coverage must match a Python rebuild of the
    base gram index (same L, same hot-gram cap), and every verdict
    must follow its threshold."""
    docs = {
        r["doc_id"]: r["text"].lower().split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    L = dedup.SUBSTR_L

    def grams(toks):
        return [
            " ".join(toks[i : i + L]) for i in range(len(toks) - L + 1)
        ]

    base_occ = defaultdict(int)
    for d, toks in docs.items():
        if d % 5 != 0:  # DELTA_MOD
            for g in grams(toks):
                base_occ[g] += 1
    base_idx = {g for g, o in base_occ.items() if o <= dedup.SUBSTR_GRAM_CAP}

    out = {
        r["doc_id"]: r
        for r in dedup.dedup_incremental_substring(spark, sf_dir).collect()
    }
    assert set(out) == {d for d in docs if d % 5 == 0}
    for d, r in out.items():
        gs = set(grams(docs[d]))
        hits = len(gs & base_idx)
        assert (r["n_grams"], r["n_in_base"]) == (len(gs), hits), d
        ratio = hits / len(gs)
        want = "dup_like" if ratio >= 0.8 else ("partial" if ratio >= 0.2 else "new")
        assert r["verdict"] == want, (d, r["verdict"], want, ratio)


def test_mahalanobis_numpy_replay(spark, sf_dir):
    """Top-K Mahalanobis outliers must match a NumPy replay using the
    library covariance path (np.cov + explicit 2x2 inverse), modulo the
    decimal quantization of the moment sums."""
    import numpy as np

    from spark_streaming_test_spark.operators import mlstats

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_id", "value AS x1", "CAST(hour(ts) AS DOUBLE) AS x2")
        .collect()
    )
    ids = np.array([r["event_id"] for r in rows])
    X = np.array([[r["x1"], r["x2"]] for r in rows])
    mu = X.mean(axis=0)
    d = X - mu
    c11, c22 = (d[:, 0] ** 2).mean(), (d[:, 1] ** 2).mean()
    c12 = (d[:, 0] * d[:, 1]).mean()
    det = c11 * c22 - c12 * c12
    d2 = (d[:, 0] ** 2 * c22 - 2 * d[:, 0] * d[:, 1] * c12 + d[:, 1] ** 2 * c11) / det
    order = sorted(zip(np.round(d2, 8), ids), key=lambda t: (-t[0], t[1]))
    want = {int(i): float(v) for v, i in order[: mlstats.MAHA_TOPK]}

    out = {
        r["event_id"]: r["d2"]
        for r in mlstats.ml_mahalanobis_outliers(spark, sf_dir).collect()
    }
    assert set(out) == set(want)
    for i, v in out.items():
        assert abs(v - want[i]) < 1e-6, (i, v, want[i])


def test_warc_parser_torn_tail_and_extra_headers(spark, tmp_path):
    """Byte-level robustness of the WARC parser: unknown headers are
    carried over, a torn trailing record is dropped (pcap convention),
    and a record missing Content-Length stops the parse cleanly."""
    from spark_streaming_test_spark.sources import warc as W

    p = str(tmp_path / "seg.warc")
    W.write_warc(
        p,
        [
            ("response", "<urn:a>", "http://x.test/1", b"hello world"),
            ("metadata", "<urn:b>", "", b"k=v"),
        ],
    )
    # append an extra-header record and then a torn record
    with open(p, "ab") as f:
        f.write(b"WARC/1.0\r\n")
        f.write(b"WARC-Type: response\r\n")
        f.write(b"X-Custom-Header: whatever\r\n")
        f.write(b"WARC-Record-ID: <urn:c>\r\n")
        f.write(b"Content-Length: 3\r\n\r\nabc\r\n\r\n")
        f.write(b"WARC/1.0\r\nWARC-Type: response\r\n")
        f.write(b"Content-Length: 100\r\n\r\nonly-ten-b")  # torn payload
    rows = list(W.parse_warc_bytes(p, open(p, "rb").read()))
    assert [r[2] for r in rows] == ["response", "metadata", "response"]
    assert rows[0][6] == b"hello world"
    assert rows[1][4] == ""          # no Target-URI header
    assert rows[2][3] == "<urn:c>"   # extra header didn't derail parsing
    # missing Content-Length stops cleanly (no exception, no rows after)
    bad = b"WARC/1.0\r\nWARC-Type: response\r\n\r\nxx\r\n\r\n"
    assert list(W.parse_warc_bytes("m", bad)) == []
    # and the Spark reader sees the same three records
    got = W.read_warc(spark, p).count()
    assert got == 3


def test_warc_dir_stream_exactly_once(spark, tmp_path):
    """warc_dir streaming source: rotated segments land in two waves;
    the stream must consume each record exactly once across
    micro-batches (name-anchored offsets, one file per partition)."""
    import os

    from spark_streaming_test_spark.sources.warc import (
        register_warc_source,
        write_warc,
    )

    register_warc_source(spark)
    src = str(tmp_path / "segs")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "got")
    os.makedirs(src)

    def land(name, recs):
        tmp = os.path.join(src, name + ".tmp")
        write_warc(tmp, recs)
        os.replace(tmp, os.path.join(src, name))

    land("seg_000.warc", [("response", "<urn:0>", "http://a.test/0", b"aa bb")])
    q = (
        spark.readStream.format("warc_dir")
        .option("path", src)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        land(
            "seg_001.warc",
            [
                ("response", "<urn:1>", "http://b.test/1", b"cc dd ee"),
                ("request", "<urn:2>", "http://b.test/1", b""),
            ],
        )
        q.processAllAvailable()
        q.processAllAvailable()  # idle trigger must not re-read
    finally:
        q.stop()

    rows = spark.read.parquet(out).collect()
    ids = sorted(r["record_id"] for r in rows)
    assert ids == ["<urn:0>", "<urn:1>", "<urn:2>"]
    by_id = {r["record_id"]: r for r in rows}
    assert bytes(by_id["<urn:1>"]["payload"]) == b"cc dd ee"
    assert by_id["<urn:2>"]["content_length"] == 0


def test_warc_gz_member_roundtrip_and_gunzip_compat(spark, tmp_path):
    """The .warc.gz writer/parser must roundtrip records exactly,
    tolerate a torn final member, and produce a stream that plain
    gzip.decompress-as-multistream also accepts (RFC 1952 compat)."""
    import gzip
    import os

    from spark_streaming_test_spark.sources import warc as W

    recs = [
        ("response", "<urn:x1>", "http://h.test/1", b"hello gz"),
        ("request", "<urn:x2>", "http://h.test/1", b""),
        ("response", "<urn:x3>", "http://h.test/2", b"bye " * 50),
    ]
    p = str(tmp_path / "seg.warc.gz")
    W.write_warc_gz(p, recs)
    buf = open(p, "rb").read()
    got = list(W.parse_warc_gz_bytes(p, buf))
    assert [(r[2], r[3], r[4], r[6]) for r in got] == [
        (t, i, u, b) for t, i, u, b in recs
    ]
    assert [r[1] for r in got] == [0, 1, 2]  # file-level rec_index
    # gunzip-compatibility: the whole file is a legal multi-member
    # stream whose concatenated plaintext is plain WARC
    plain = gzip.decompress(buf)
    assert len(list(W.parse_warc_bytes(p, plain))) == 3
    # torn final member: drop it, keep the complete ones
    torn = buf[:-7]
    got2 = list(W.parse_warc_gz_bytes(p, torn))
    assert [r[3] for r in got2] == ["<urn:x1>", "<urn:x2>"]
    os.remove(p)


def test_warc_roundtrip_property():
    """Property: ANY record list roundtrips through write_warc ->
    parse_warc_bytes and write_warc_gz -> parse_warc_gz_bytes — in
    particular payloads containing CRLFs and the record terminator
    itself (Content-Length framing must win over delimiter scanning)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_streaming_test_spark.sources import warc as W

    rec = st.tuples(
        st.sampled_from(["response", "request", "metadata", "warcinfo"]),
        st.from_regex(r"<urn:[a-z0-9]{1,12}>", fullmatch=True),
        st.one_of(st.just(""), st.from_regex(r"http://[a-z]{1,8}\.test/[a-z0-9]{0,6}", fullmatch=True)),
        st.binary(max_size=64),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(rec, max_size=6))
    def check(records):
        import io
        import os
        import tempfile

        fd, p = tempfile.mkstemp(suffix=".warc")
        os.close(fd)
        try:
            W.write_warc(p, records)
            got = list(W.parse_warc_bytes(p, open(p, "rb").read()))
            assert [(r[2], r[3], r[4], r[6]) for r in got] == [
                (t, i, u, b) for t, i, u, b in records
            ]
            W.write_warc_gz(p, records)
            got = list(W.parse_warc_gz_bytes(p, open(p, "rb").read()))
            assert [(r[2], r[3], r[4], r[6]) for r in got] == [
                (t, i, u, b) for t, i, u, b in records
            ]
        finally:
            os.remove(p)

    check()


def test_louvain_level2_python_replay(spark, sf_dir):
    """The weighted level-2 move must match a Python replay over the
    collected supergraph: singleton-extraction gain 2m*w(c,d) - k_c*k_d,
    argmax with min-id tie-break, positive gains only."""
    sup = {
        (r["comm_a"], r["comm_b"]): r["weight"]
        for r in graph.graph_louvain_coarsen(spark, sf_dir).collect()
    }
    mw = sum(sup.values())
    k = defaultdict(int)
    for (a, b), w in sup.items():
        if a == b:
            k[a] += 2 * w
        else:
            k[a] += w
            k[b] += w
    best = {}
    for n in k:
        cands = []
        for (a, b), w in sup.items():
            if a == b:
                continue
            if a == n:
                cands.append((b, w))
            elif b == n:
                cands.append((a, w))
        choice = None
        for c, w in sorted(cands):
            g = 2 * mw * w - k[n] * k[c]
            if g > 0 and (choice is None or g > choice[0]):
                choice = (g, c)
        best[n] = choice
    out = {
        r["supernode"]: r
        for r in graph.graph_louvain_level2_move(spark, sf_dir).collect()
    }
    assert set(out) == set(k)
    for n, r in out.items():
        assert r["weighted_degree"] == k[n]
        if best[n] is None:
            assert not r["moved"] and r["merge_into"] == n
        else:
            g, c = best[n]
            assert r["moved"] and (r["gain_x2m2"], r["merge_into"]) == (g, c)


def test_warc_gz_member_seekability(tmp_path):
    """The property per-record gzip members exist for: an offset index
    (a CDX sidecar) lets a reader decompress ONE record from a byte
    slice without touching the rest of the segment."""
    import gzip
    import zlib

    from spark_streaming_test_spark.sources import warc as W

    recs = [
        ("response", f"<urn:s{j}>", f"http://s.test/{j}", f"body {j} ".encode() * (j + 1))
        for j in range(8)
    ]
    p = str(tmp_path / "seg.warc.gz")
    W.write_warc_gz(p, recs)
    buf = open(p, "rb").read()

    # Build the offset index the way a CDX writer does: walk members
    # tracking consumed compressed bytes via zlib's unused_data.
    index = []
    pos, rest = 0, buf
    while rest:
        d = zlib.decompressobj(wbits=31)
        d.decompress(rest)
        d.flush()
        consumed = len(rest) - len(d.unused_data)
        index.append((pos, consumed))
        pos += consumed
        rest = d.unused_data
    assert len(index) == len(recs)

    # Random access: decompress ONLY record 5's slice.
    off, length = index[5]
    one = gzip.decompress(buf[off : off + length])
    got = list(W.parse_warc_bytes("slice", one))
    assert len(got) == 1
    assert got[0][3] == "<urn:s5>"
    assert got[0][6] == recs[5][3]


# --- real PNG decode (zlib + unfilter) ---------------------------------------


def test_png_roundtrip_property():
    """Property: ANY small RGB image roundtrips through write_png_rgb8
    -> decode_png_rgb8 pixel-exactly. Heights >= 5 guarantee all five
    scanline filters (None/Sub/Up/Average/Paeth) are exercised, since
    the writer assigns filter y % 5; widths down to 1 hit the
    no-left-neighbor edge of Sub/Average/Paeth."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_streaming_test_spark.llm import multimodal as mm

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=5, max_value=11),
        st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(w, h, seed):
        import os
        import tempfile

        rng = np.random.RandomState(seed)
        img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        fd, p = tempfile.mkstemp(suffix=".png")
        os.close(fd)
        try:
            mm.write_png_rgb8(p, w, h, lambda x, y: tuple(int(v) for v in img[y, x]))
            W, H, px = mm.decode_png_rgb8(open(p, "rb").read())
            assert (W, H) == (w, h)
            assert np.array_equal(px, img)
        finally:
            os.remove(p)

    check()


def test_png_crc_and_profile_guards(tmp_path):
    """A flipped byte anywhere in a chunk body must fail the CRC-32
    check (never decode garbage silently), and an unsupported profile
    (16-bit depth in IHDR) must raise, not misparse."""
    import struct

    import pytest

    from spark_streaming_test_spark.llm import multimodal as mm

    p = str(tmp_path / "t.png")
    mm.write_png_rgb8(p, 4, 6, mm._png_pixel(1))
    buf = bytearray(open(p, "rb").read())
    buf[20] ^= 0x01  # inside IHDR body
    with pytest.raises(ValueError, match="CRC-32"):
        mm.decode_png_rgb8(bytes(buf))

    # 16-bit IHDR with a VALID CRC: profile guard, not CRC, must fire.
    import binascii

    good = open(p, "rb").read()
    ihdr = struct.pack(">IIBBBBB", 4, 6, 16, 2, 0, 0, 0)
    chunk = (
        struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", binascii.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    forged = good[:8] + chunk + good[8 + 12 + 13 :]
    with pytest.raises(ValueError, match="unsupported PNG profile"):
        mm.decode_png_rgb8(forged)


def test_png_fixture_filters_all_present_and_idat_split():
    """Every fixture PNG must contain >= 2 IDAT chunks (concatenation
    is load-bearing) and its decompressed stream must use all five
    filter types across files — the property that makes the oracle
    hash a real test of the unfilter code."""
    import os
    import struct
    import zlib

    from spark_streaming_test_spark.llm import multimodal as mm

    d = mm._png_fixture_dir()
    seen_filters = set()
    for name in sorted(os.listdir(d))[:10]:
        buf = open(os.path.join(d, name), "rb").read()
        dims, n_idat = None, 0
        for off in _png_chunk_offsets(buf):
            ctype = buf[off + 4 : off + 8]
            if ctype == b"IHDR":
                dims = struct.unpack_from(">II", buf, off + 8)
            elif ctype == b"IDAT":
                n_idat += 1
        assert n_idat >= 2, name
        w, h = dims
        raw = zlib.decompress(
            b"".join(
                buf[o + 8 : o + 8 + struct.unpack_from(">I", buf, o)[0]]
                for o in _png_chunk_offsets(buf)
                if buf[o + 4 : o + 8] == b"IDAT"
            )
        )
        stride = w * 3 + 1
        for y in range(h):
            seen_filters.add(raw[y * stride])
    assert seen_filters == {0, 1, 2, 3, 4}


def _png_chunk_offsets(buf):
    import struct

    off = 8
    while off + 12 <= len(buf):
        yield off
        off += 12 + struct.unpack_from(">I", buf, off)[0]


# --- SQ8 scalar-quantized ANN ------------------------------------------------


def test_sq8_reconstruction_bound_and_recall(spark, sf_dir):
    """Defining property of SQ8 midpoint reconstruction: every
    reconstructed component is within half a quantization bin of the
    original ((hi-lo)/255/2 per dimension, + float eps), so the SQ8
    score of the TRUE exact top-1 neighbor is within dim * qmax * |q|_inf
    of its exact score — and on this corpus the SQ8 top-10 must recall
    most of the exact top-10 (numpy replay computes both)."""
    import numpy as np

    from spark_streaming_test_spark.catalog import load
    from spark_streaming_test_spark.llm import similarity as S

    rows = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    lo, hi = X.min(axis=0), X.max(axis=0)
    span = hi - lo
    nz = span > 0
    codes = np.zeros_like(X)
    codes[:, nz] = np.minimum(255, np.floor((X - lo)[:, nz] * 255.0 / span[nz]))
    R = np.where(nz, lo + (codes + 0.5) * span / 255.0, lo)
    assert np.all(np.abs(R - X)[:, nz] <= (span[nz] / 255.0) / 2 + 1e-12)

    out = S.sim_sq8_topk(spark, sf_dir).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["sq_score"]))
    idmap = {int(v): i for i, v in enumerate(ids)}
    hits = total = 0
    for qid in range(S.N_QUERIES):
        q = X[idmap[qid]]
        scores = R @ q
        scores[idmap[qid]] = -np.inf
        # numpy replay of the Spark ranking (score desc, neighbor asc)
        rank_keys = sorted(
            ((float(-scores[i]), int(ids[i])) for i in range(len(ids))),
        )[: S.TOP_K]
        want = [nid for _, nid in rank_keys]
        rows_q = sorted(got[qid])
        assert [n for _, n, _ in rows_q] == want, qid
        # recall vs EXACT inner-product top-k
        exact = X @ q
        exact[idmap[qid]] = -np.inf
        top_exact = {int(ids[i]) for i in np.argsort(-exact)[: S.TOP_K]}
        hits += len(top_exact & set(want))
        total += S.TOP_K
    assert hits / total >= 0.8, f"SQ8 recall@10 collapsed: {hits}/{total}"


# --- strongly connected components -------------------------------------------


def test_scc_matches_tarjan_replay(spark, sf_dir):
    """SCC labels must equal an independent iterative-Tarjan replay in
    pure Python (third algorithm family after the Spark FB-decomposition
    and the oracle's closure) — same partition AND the same min-id
    labeling; plus structure sanity: every node in a size>1 SCC lies on
    a directed cycle of the doubled functional graph."""
    out = graph.graph_scc(spark, sf_dir).collect()
    edges = [(r["u"], r["v"]) for r in graph._scc_edges(spark, sf_dir).collect()]
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    adj = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)

    # Iterative Tarjan.
    index = {}
    low = {}
    on_stack = set()
    stack = []
    comps = []
    counter = [0]

    def strongconnect(root):
        work = [(root, 0)]
        while work:
            n, pi = work[-1]
            if pi == 0:
                index[n] = low[n] = counter[0]
                counter[0] += 1
                stack.append(n)
                on_stack.add(n)
            advanced = False
            for i in range(pi, len(adj[n])):
                w = adj[n][i]
                if w not in index:
                    work[-1] = (n, i + 1)
                    work.append((w, 0))
                    advanced = True
                    break
                if w in on_stack:
                    low[n] = min(low[n], index[w])
            if advanced:
                continue
            if low[n] == index[n]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == n:
                        break
                comps.append(comp)
            work.pop()
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[n])

    for n in nodes:
        if n not in index:
            strongconnect(n)

    want = {}
    for comp in comps:
        m = min(comp)
        for n in comp:
            want[n] = (m, len(comp))
    got = {r["node"]: (r["scc_id"], r["scc_size"]) for r in out}
    assert got == want
    assert any(sz > 1 for _, sz in got.values()), "fixture must have real cycles"


# --- GIF / hand-written LZW ---------------------------------------------------


def test_lzw_roundtrip_property():
    """Property: ANY byte string roundtrips through the hand-written
    GIF LZW codec at any min code size 2..8 — including highly
    repetitive inputs (KwKwK special case fires constantly) and long
    random inputs (dictionary fills to 4096 -> CLEAR/reset path)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_streaming_test_spark.llm import multimodal as mm

    @settings(max_examples=80, deadline=None)
    @given(
        st.integers(min_value=2, max_value=8),
        st.one_of(
            st.binary(max_size=300),
            st.builds(
                lambda b, n: b * n,
                st.binary(min_size=1, max_size=4),
                st.integers(min_value=1, max_value=2000),
            ),
        ),
    )
    def check(mcs, data):
        data = bytes(v % (1 << mcs) for v in data)  # valid symbol range
        assert mm._lzw_decompress(mm._lzw_compress(data, mcs), mcs) == data

    check()


def test_lzw_width_bump_exactness():
    """The encoder/decoder width handshake is exact at every 2^n
    boundary: a stream engineered to add one dictionary entry per code
    must survive each width bump (the off-by-one that desyncs at code
    512 is the classic GIF decoder bug)."""
    import os

    from spark_streaming_test_spark.llm import multimodal as mm

    rng_bytes = os.urandom(30000)  # enough to cross 512/1024/2048/4096
    assert mm._lzw_decompress(mm._lzw_compress(rng_bytes, 8), 8) == rng_bytes


def test_gif_profile_guards(tmp_path):
    """Unsupported GIF features must raise, not misdecode: missing
    global color table, interlace flag, truncated LZW stream."""
    import struct

    import pytest

    from spark_streaming_test_spark.llm import multimodal as mm

    p = str(tmp_path / "t.gif")
    mm.write_gif87a(p, 8, 6, mm._gif_palette, mm._gif_index(2))
    buf = bytearray(open(p, "rb").read())

    no_gct = bytes(buf[:10]) + bytes([buf[10] & 0x7F]) + bytes(buf[11:])
    with pytest.raises(ValueError, match="global color table"):
        mm.decode_gif87a(no_gct)

    # set interlace bit in the image descriptor's packed byte
    desc_off = 13 + 256 * 3
    assert buf[desc_off] == 0x2C
    interlaced = bytearray(buf)
    interlaced[desc_off + 9] |= 0x40
    with pytest.raises(ValueError, match="interlaced"):
        mm.decode_gif87a(bytes(interlaced))

    with pytest.raises(ValueError):
        mm.decode_gif87a(bytes(buf[: len(buf) // 2]))


# --- unicode NFC dedup ---------------------------------------------------------


def test_unicode_nfc_folds_encoding_forms(spark, sf_dir):
    """Every bucket with docs of both parities must show exactly 2 raw
    byte forms folding to exactly 1 NFC form, and the normalized md5
    must equal a direct Python unicodedata replay of the bucket's
    canonical string."""
    import hashlib as hl
    import unicodedata

    from spark_streaming_test_spark.llm import dedup as dd

    rows = dd.dedup_unicode_nfc(spark, sf_dir).collect()
    assert rows
    parities = defaultdict(set)
    n_docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    for r in (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr(f"doc_id % {dd.NFC_BUCKETS} AS b", "doc_id % 2 AS p")
        .collect()
    ):
        parities[r["b"]].add(r["p"])
    assert sum(r["n_docs"] for r in rows) == n_docs_tbl
    # the fold must actually be load-bearing somewhere: with an ODD
    # bucket count every bucket with >= 2 docs mixes both parities
    assert any(len(p) == 2 for p in parities.values()), (
        "no bucket mixes encoding forms — NFC fold never exercised"
    )
    for r in rows:
        want_forms = len(parities[r["bucket"]])
        assert r["n_raw_forms"] == want_forms, r
        assert r["n_nfc_forms"] == 1, r
        canon = unicodedata.normalize(
            "NFC", f"résumé template {r['bucket']} café Å"
        )
        assert r["nfc_md5"] == hl.md5(canon.encode()).hexdigest(), r


# --- LTTB downsampling ---------------------------------------------------------


def _lttb_twin(pts, B):
    """Textbook LTTB (Steinarsson 2013) over one hourly series of
    (h, v) points: previous-point dependence, next-bucket centroid,
    earliest-tie argmax, endpoints kept verbatim."""
    import math

    pts = sorted(pts)
    n = len(pts)
    h0 = pts[0][0]
    rel = [(h - h0, v) for h, v in pts]
    beff = min(B, n - 2)
    sel = [rel[0]]
    buckets = [[] for _ in range(beff)]
    for idx in range(1, n - 1):
        k = int(math.floor(((idx - 1) * beff) / float(n - 2)))
        buckets[k].append(rel[idx])
    for k in range(beff):
        if k + 1 < beff:
            nxt = buckets[k + 1]
            st = sum(t for t, _ in nxt)
            sv = sum(v for _, v in nxt)
            cnt = len(nxt)
        else:
            st, sv, cnt = rel[-1][0], rel[-1][1], 1
        ta, va = sel[-1]
        best = None
        for tp, vp in buckets[k]:
            a2 = abs((ta * cnt - st) * (vp - va) - (ta - tp) * (sv - va * cnt))
            if best is None or a2 > best[0]:
                best = (a2, tp, vp)
        sel.append((best[1], best[2]))
    sel.append(rel[-1])
    return [(t + h0, v) for t, v in sel]


def test_lttb_python_replay(spark, sf_dir):
    """Selected points must equal a pure-Python replay of textbook LTTB
    on the same hourly series, and the endpoints must always be kept
    verbatim."""
    from pyspark.sql import functions as F

    from spark_streaming_test_spark.operators import timeseries as tsm

    hourly = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
        )
        .agg(
            (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
            .cast("bigint")
            .alias("v")
        )
        .collect()
    )
    series = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["h"], r["v"]))
    for s in series.values():
        s.sort()

    got = defaultdict(dict)
    for r in tsm.ts_lttb_downsample(spark, sf_dir).collect():
        got[r["event_type"]][r["sel_rank"]] = (r["t_hour"], r["v_scaled"])
    assert set(got) == {et for et, s in series.items() if len(s) >= 3}
    for et, pts in series.items():
        if len(pts) < 3:
            continue
        want = _lttb_twin(pts, tsm.LTTB_B)
        ranked = [got[et][i] for i in sorted(got[et])]
        assert ranked == want, et
        assert ranked[0] == pts[0] and ranked[-1] == pts[-1]


def test_lttb_oracle_python_replay(oracle_con):
    """The DuckDB oracle, row by row, against the same Python twin.
    DuckDB 1.0 nested list lambdas that read the outer fold state mixed
    rows (20 wrong rows at sf0.001, an INT64 overflow at sf0.01), so the
    aggregate hash alone cannot vouch for the oracle."""
    from spark_streaming_test_spark.operators import timeseries as tsm
    from spark_streaming_test_spark.registry import all_queries

    series = defaultdict(list)
    for et, h, v in oracle_con.execute(
        "SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT),"
        " CAST(SUM(CAST(value AS DECIMAL(12,2))) * 100 AS BIGINT)"
        " FROM events GROUP BY 1, 2"
    ).fetchall():
        series[et].append((h, v))
    want = sorted(
        (et, rank, t, v)
        for et, pts in series.items()
        if len(pts) >= 3
        for rank, (t, v) in enumerate(_lttb_twin(pts, tsm.LTTB_B), 1)
    )
    oracle = all_queries()["ts_lttb_downsample"].oracle
    got = sorted(oracle_con.execute(oracle).fetchall())
    assert len(got) == len(want)
    bad = [(g, w) for g, w in zip(got, want) if g != w]
    assert not bad, bad[:5]


# --- tar / WebDataset source ---------------------------------------------------


def test_tar_interop_with_stdlib_tarfile(tmp_path):
    """Bidirectional interop with the stdlib tarfile module (an
    independent ustar implementation): our files parse with tarfile,
    tarfile's files parse with us — names, sizes, mtimes, payloads."""
    import io
    import tarfile

    from spark_streaming_test_spark.sources import tar_webdataset as T

    members = [
        ("a.txt", 1700000001, b"hello tar"),
        ("dir/b.bin", 1700000002, bytes(range(256)) * 3),
        ("empty.bin", 1700000003, b""),
    ]
    p = str(tmp_path / "ours.tar")
    T.write_tar(p, members)
    with tarfile.open(p) as tf:
        got = [
            (m.name, m.mtime, tf.extractfile(m).read())
            for m in tf.getmembers()
        ]
    assert got == members

    p2 = str(tmp_path / "theirs.tar")
    with tarfile.open(p2, "w", format=tarfile.USTAR_FORMAT) as tf:
        for name, mtime, payload in members:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            info.mtime = mtime
            tf.addfile(info, io.BytesIO(payload))
    parsed = [
        (r[2], r[5], r[6]) for r in T.parse_tar_bytes(p2, open(p2, "rb").read())
    ]
    assert parsed == members


def test_tar_roundtrip_property():
    """Property: ANY member list (weird names, empty/byte payloads,
    block-boundary sizes) roundtrips write_tar -> parse_tar_bytes, and
    a flipped header byte fails the checksum."""
    import pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_streaming_test_spark.sources import tar_webdataset as T

    member = st.tuples(
        st.from_regex(r"[a-z][a-z0-9_./-]{0,40}", fullmatch=True),
        st.integers(min_value=0, max_value=2**32 - 1),
        st.one_of(
            st.binary(max_size=1300),
            st.binary(min_size=511, max_size=513),  # block-boundary sizes
        ),
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(member, max_size=5))
    def check(members):
        import os
        import tempfile

        fd, p = tempfile.mkstemp(suffix=".tar")
        os.close(fd)
        try:
            T.write_tar(p, members)
            buf = open(p, "rb").read()
            got = [(r[2], r[5], r[6]) for r in T.parse_tar_bytes(p, buf)]
            assert got == [(n, m, b) for n, m, b in members]
            if members:
                bad = bytearray(buf)
                bad[32] ^= 0x01  # inside the first header's mode field
                with pytest.raises(ValueError, match="checksum"):
                    list(T.parse_tar_bytes(p, bytes(bad)))
        finally:
            os.remove(p)

    check()


def test_tar_dir_stream_exactly_once(spark, tmp_path):
    """tar_dir streaming source: shards land in two waves; every member
    is consumed exactly once across micro-batches (the name-anchored
    offset contract shared with pcap_dir/warc_dir)."""
    import os

    from spark_streaming_test_spark.sources.tar_webdataset import (
        register_tar_source,
        write_tar,
    )

    register_tar_source(spark)
    src = str(tmp_path / "shards")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "got")
    os.makedirs(src)

    def land(name, members):
        tmp = os.path.join(src, name + ".tmp")
        write_tar(tmp, members)
        os.replace(tmp, os.path.join(src, name))

    land("shard_000.tar", [("s0.txt", 1700000000, b"first")])
    q = (
        spark.readStream.format("tar_dir")
        .option("path", src)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        land(
            "shard_001.tar",
            [("s1.txt", 1700000001, b"second"), ("s1.bin", 1700000001, b"\x01\x02")],
        )
        q.processAllAvailable()
        q.processAllAvailable()  # idle trigger must not re-read
    finally:
        q.stop()

    rows = spark.read.parquet(out).collect()
    names = sorted(r["name"] for r in rows)
    assert names == ["s0.txt", "s1.bin", "s1.txt"]
    by_name = {r["name"]: r for r in rows}
    assert bytes(by_name["s1.bin"]["payload"]) == b"\x01\x02"
    assert by_name["s0.txt"]["member_index"] == 0


# --- zip source ------------------------------------------------------------------


def test_zip_interop_with_stdlib_zipfile(tmp_path):
    """Bidirectional interop with the stdlib zipfile module: our
    archives open with zipfile (both methods), zipfile's archives parse
    with us, and the name-predicate skip never inflates skipped
    members."""
    import zipfile

    from spark_streaming_test_spark.sources import zip_archive as Z

    entries = [
        ("a.txt", b"hello zip", "stored"),
        ("b/c.bin", bytes(range(256)) * 4, "deflate"),
        ("empty", b"", "stored"),
    ]
    p = str(tmp_path / "ours.zip")
    Z.write_zip(p, entries)
    with zipfile.ZipFile(p) as zf:
        got = [(n, zf.read(n)) for n in zf.namelist()]
        assert zf.testzip() is None  # CRC pass from the independent impl
    assert got == [(n, b) for n, b, _ in entries]

    p2 = str(tmp_path / "theirs.zip")
    with zipfile.ZipFile(p2, "w") as zf:
        zf.writestr("x.txt", b"stored by zipfile", zipfile.ZIP_STORED)
        zf.writestr("y.bin", b"deflated " * 50, zipfile.ZIP_DEFLATED)
    parsed = {
        r[2]: (r[3], r[5])
        for r in Z.parse_zip_bytes(p2, open(p2, "rb").read())
    }
    assert parsed["x.txt"] == ("stored", b"stored by zipfile")
    assert parsed["y.bin"] == ("deflate", b"deflated " * 50)

    only = [
        r[2]
        for r in Z.parse_zip_bytes(
            p, open(p, "rb").read(), want=lambda n: n == "a.txt"
        )
    ]
    assert only == ["a.txt"]


def test_zip_corruption_guards(tmp_path):
    """A flipped payload byte must fail CRC-32; a truncated tail must
    fail the EOCD scan — never silent garbage."""
    import pytest

    from spark_streaming_test_spark.sources import zip_archive as Z

    p = str(tmp_path / "t.zip")
    Z.write_zip(p, [("d.bin", b"abcdefgh" * 10, "stored")])
    buf = bytearray(open(p, "rb").read())
    buf[40] ^= 0xFF  # inside the stored payload
    with pytest.raises(ValueError, match="CRC-32"):
        list(Z.parse_zip_bytes(p, bytes(buf)))
    with pytest.raises(ValueError, match="end-of-central-directory"):
        list(Z.parse_zip_bytes(p, bytes(buf[:30])))


# --- URL canonicalization dedup --------------------------------------------------


def test_url_canonical_folds_all_variants(spark, sf_dir):
    """Every canonical URL must (a) collapse all raw spellings present
    for its bucket (up to 4), (b) equal the Python-urllib replay of the
    same normalization rules, and (c) never keep a port, utm param,
    unsorted query, or trailing slash."""
    from urllib.parse import urlsplit

    from spark_streaming_test_spark.llm import curation as cu

    rows = cu.corpus_url_canonical_dedup(spark, sf_dir).collect()
    assert rows
    n_docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs_tbl
    doc_ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    variants_per_bucket = defaultdict(set)
    for i in doc_ids:
        variants_per_bucket[i % cu.URL_BUCKETS].add(i % 4)

    def python_canon(b: int) -> str:
        # independent replay with urllib parsing
        raws = {
            0: f"HTTPS://WWW.Site.COM:443/items/{b}?b=2&a=1",
            1: f"https://www.site.com/items/{b}?a=1&b=2&utm_source=feed",
            2: f"https://www.site.com/items/{b}/?a=1&b=2",
            3: f"https://www.site.com:443/items/{b}?utm_campaign=x&b=2&a=1",
        }
        canon = set()
        for u in raws.values():
            sp = urlsplit(u)
            host = sp.hostname
            path = sp.path or "/"
            if path != "/" and path.endswith("/"):
                path = path[:-1]
            q = sorted(
                p for p in sp.query.split("&") if p and not p.startswith("utm_")
            )
            canon.add(
                f"{sp.scheme.lower()}://{host}{path}"
                + ("?" + "&".join(q) if q else "")
            )
        assert len(canon) == 1, canon
        return canon.pop()

    for r in rows:
        cu_url = r["canonical_url"]
        assert "utm_" not in cu_url and ":443" not in cu_url
        assert not cu_url.endswith("/")
        b = int(cu_url.rsplit("/", 1)[1].split("?")[0])
        assert cu_url == python_canon(b)
        assert r["n_raw_forms"] == len(variants_per_bucket[b])


# --- RSI -------------------------------------------------------------------------


def test_rsi_python_replay_and_bounds(spark, sf_dir):
    """RSI must equal a textbook pandas-free Python replay (delta
    split, 14-period sums, 100*G/(G+L)), always lie in [0, 100], hit
    100 only when the window had no losses and 0 only when no gains."""
    from pyspark.sql import functions as F

    from spark_streaming_test_spark.operators import windows as W

    hourly = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
        )
        .agg(
            (F.sum(F.col("value").cast("decimal(12,2)")) * 100)
            .cast("bigint")
            .alias("v")
        )
        .collect()
    )
    series = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["h"], r["v"]))
    want = {}
    for et, pts in series.items():
        pts.sort()
        deltas = [b[1] - a[1] for a, b in zip(pts, pts[1:])]
        for i in range(W.RSI_N, len(deltas) + 1):
            wnd = deltas[i - W.RSI_N : i]
            g = sum(d for d in wnd if d > 0)
            l = sum(-d for d in wnd if d < 0)
            rsi = 50.0 if g + l == 0 else 100.0 * g / (g + l)
            want[(et, pts[i][0])] = (g, l, rsi)

    rows = W.window_rsi(spark, sf_dir).collect()
    assert len(rows) == len(want)
    for r in rows:
        g, l, rsi = want[(r["event_type"], r["h"])]
        assert (r["gain_sum"], r["loss_sum"]) == (g, l)
        assert r["rsi"] == rsi
        assert 0.0 <= r["rsi"] <= 100.0
        if r["rsi"] == 100.0:
            assert l == 0
        if r["rsi"] == 0.0:
            assert g == 0


# --- protobuf wire format ---------------------------------------------------------


def test_protobuf_roundtrip_property():
    """Property: ANY message list (64-bit ids, both-sign deltas,
    unicode names) roundtrips write_pb_frames -> parse_pb_frames; torn
    tails drop the last frame only; zigzag is its own inverse."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_streaming_test_spark.sources import protobuf_frames as P

    msg = st.tuples(
        st.integers(min_value=0, max_value=2**63 - 1),
        st.integers(min_value=0, max_value=2**63 - 1),
        st.integers(min_value=-(2**62), max_value=2**62),
        st.text(max_size=20),
        st.integers(min_value=0, max_value=2**63 - 1),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(msg, max_size=6))
    def check(msgs):
        import os
        import tempfile

        fd, p = tempfile.mkstemp(suffix=".pb")
        os.close(fd)
        try:
            P.write_pb_frames(p, msgs)
            buf = open(p, "rb").read()
            got = [r[2:] for r in P.parse_pb_frames(p, buf)]
            assert got == msgs
            if len(buf) > 2:
                torn = [r[2:] for r in P.parse_pb_frames(p, buf[:-2])]
                assert torn == msgs[: len(torn)] and len(torn) >= len(msgs) - 1
        finally:
            os.remove(p)

    check()

    for n in (0, -1, 1, -(2**62), 2**62, 7, -8):
        assert P._unzigzag(P._zigzag(n)) == n


def test_protobuf_unknown_field_skipping(tmp_path):
    """A message carrying unknown fields of EVERY skippable wire type
    (varint, fixed64, length-delimited, fixed32) must parse to the same
    known fields; a group marker (wire 3) must raise."""
    import struct

    import pytest

    from spark_streaming_test_spark.sources import protobuf_frames as P

    body = bytearray()
    body += P._varint(1 << 3 | 0) + P._varint(42)  # known record_id
    body += P._varint(11 << 3 | 0) + P._varint(999)  # unknown varint
    body += P._varint(12 << 3 | 1) + struct.pack("<Q", 7)  # unknown fixed64
    body += P._varint(13 << 3 | 2) + P._varint(3) + b"xyz"  # unknown bytes
    body += P._varint(14 << 3 | 5) + struct.pack("<I", 5)  # unknown fixed32
    body += P._varint(4 << 3 | 2) + P._varint(2) + b"ok"  # known name
    frame = P._varint(len(body)) + bytes(body)
    rows = list(P.parse_pb_frames("t", frame))
    assert len(rows) == 1
    assert rows[0][2] == 42 and rows[0][5] == "ok"

    bad = bytearray()
    bad += P._varint(15 << 3 | 3)  # start-group: unskippable
    frame2 = P._varint(len(bad)) + bytes(bad)
    with pytest.raises(ValueError, match="wire type 3"):
        list(P.parse_pb_frames("t", frame2))


# --- avro object container -----------------------------------------------------


def test_avro_roundtrip_property():
    """Property: ANY record list roundtrips write_avro_container ->
    parse_avro_container under BOTH codecs, across block boundaries,
    with negative longs (zigzag) and unicode strings; a corrupted sync
    marker raises; a torn tail drops whole trailing blocks only."""
    import hashlib

    import pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_streaming_test_spark.sources import avro_container as A

    rec = st.tuples(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.text(max_size=12),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
    )

    @settings(max_examples=50, deadline=None)
    @given(st.lists(rec, max_size=45), st.sampled_from(["null", "deflate"]))
    def check(recs, codec):
        import os
        import tempfile

        fd, p = tempfile.mkstemp(suffix=".avro")
        os.close(fd)
        try:
            sync = hashlib.md5(b"prop-sync").digest()
            A.write_avro_container(p, recs, codec, sync)
            buf = open(p, "rb").read()
            got = [(r[2], r[3], r[4]) for r in A.parse_avro_container(p, buf)]
            assert got == recs
            codecs = {r[5] for r in A.parse_avro_container(p, buf)}
            assert codecs <= {codec}
            if recs:
                bad = bytearray(buf)
                bad[-1] ^= 0xFF  # last byte of the final sync marker
                with pytest.raises(ValueError, match="sync marker"):
                    list(A.parse_avro_container(p, bytes(bad)))
                torn = [
                    (r[2], r[3], r[4])
                    for r in A.parse_avro_container(p, buf[:-17])
                ]
                assert torn == recs[: len(torn)]
                assert len(torn) >= len(recs) - A.AVRO_BLOCK
        finally:
            os.remove(p)

    check()


def test_avro_deflate_actually_compresses_and_magic_guard():
    """The deflate fixture files must be genuinely smaller than their
    raw record bytes (proving the codec path is live), and a non-Avro
    buffer must fail the magic check."""
    import os

    import pytest

    from spark_streaming_test_spark.sources import avro_container as A

    d = A._avro_fixture_dir()
    sizes = {}
    for name in sorted(os.listdir(d)):
        fidx = int(name.split("_")[1].split(".")[0])
        sizes[fidx % 2] = sizes.get(fidx % 2, 0) + os.path.getsize(
            os.path.join(d, name)
        )
    assert sizes[1] < sizes[0], sizes  # deflate files smaller than null

    with pytest.raises(ValueError, match="magic"):
        list(A.parse_avro_container("x", b"NOPE" + b"\x00" * 64))


# --- harmonic closeness --------------------------------------------------------


def test_harmonic_closeness_python_bfs_replay(spark, sf_dir):
    """Sampled harmonic sums must equal a pure-Python BFS replay from
    the same md5-ranked landmark set, and the LCM scaling must be
    exact: every emitted harmonic_x_lcm divisible-consistent with its
    reconstructed 1/d terms."""
    import hashlib as hl
    from collections import deque

    edges = [
        (r["u"], r["v"]) for r in graph._copurchase_edges(spark, sf_dir).collect()
    ]
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    nodes = sorted(adj)
    srcs = sorted(nodes, key=lambda n: (hl.md5(str(n).encode()).hexdigest(), n))[
        : graph.CLOSENESS_K
    ]
    want = defaultdict(lambda: [0, 0])  # node -> [n_sources, sum]
    for s in srcs:
        seen = {s: 0}
        q = deque([s])
        while q:
            x = q.popleft()
            for y in adj[x]:
                if y not in seen:
                    seen[y] = seen[x] + 1
                    q.append(y)
        assert max(seen.values()) <= graph.CLOSENESS_CAP
        for n, d in seen.items():
            if d > 0:
                want[n][0] += 1
                want[n][1] += graph._CLOSENESS_LCM // d
    got = {
        r["node"]: (r["n_sources_reached"], r["harmonic_x_lcm"])
        for r in graph.graph_harmonic_closeness(spark, sf_dir).collect()
    }
    assert got == {n: tuple(v) for n, v in want.items()}


# --- shortest-path counts --------------------------------------------------------


def test_sigma_matches_brandes_forward_pass(spark, sf_dir):
    """sigma must equal the forward pass of textbook Brandes (queue-
    ordered BFS accumulation) for every (landmark, node), with the
    sanity identities: sigma(s,s)=1, d(s,s)=0, and every node's sigma
    equals the sum of its shortest-path predecessors' sigmas."""
    import hashlib as hl
    from collections import deque

    edges = [
        (r["u"], r["v"]) for r in graph._copurchase_edges(spark, sf_dir).collect()
    ]
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    nodes = sorted(adj)
    srcs = sorted(nodes, key=lambda n: (hl.md5(str(n).encode()).hexdigest(), n))[
        : graph.SPC_K
    ]
    want = {}
    for s in srcs:
        dist = {s: 0}
        sigma = {s: 1}
        q = deque([s])
        while q:
            x = q.popleft()
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    sigma[y] = 0
                    q.append(y)
                if dist[y] == dist[x] + 1:
                    sigma[y] += sigma[x]
        for n in dist:
            want[(s, n)] = (dist[n], sigma[n])
    got = {
        (r["src"], r["node"]): (r["d"], r["sigma"])
        for r in graph.graph_shortest_path_counts(spark, sf_dir).collect()
    }
    assert got == want
    for s in srcs:
        assert got[(s, s)] == (0, 1)


# --- EXIF/TIFF metadata -----------------------------------------------------------


def test_exif_roundtrip_both_endians_and_guards(tmp_path):
    """Property-ish roundtrip across both byte orders and value
    placements, plus: unknown tags are skipped, a bad magic raises."""
    import struct

    import pytest

    from spark_streaming_test_spark.llm import multimodal as mm

    for big in (False, True):
        p = str(tmp_path / f"t_{big}.tif")
        mm.write_tiff_exif(p, big, 1234, 77, "XCam", 6, "2023:12:31 23:59:59")
        m = mm.parse_tiff_exif(open(p, "rb").read())
        assert m == {
            "endian": "big" if big else "little",
            "width": 1234,
            "height": 77,
            "make": "XCam",
            "orientation": 6,
            "datetime": "2023:12:31 23:59:59",
        }

    # inject an UNKNOWN tag (0x9999, SHORT) before Make: parser skips it
    p = str(tmp_path / "u.tif")
    mm.write_tiff_exif(p, False, 10, 20, "A", 1, "2024:01:01 00:00:00")
    buf = bytearray(open(p, "rb").read())
    (n,) = struct.unpack_from("<H", buf, 8)
    entry = struct.pack("<HHI", 0x9999, 3, 1) + struct.pack("<H", 5) + b"\0\0"
    # splice a new entry at the END of the IFD (tags ascending holds),
    # bump count, shift the next-IFD pointer and offsets by 12
    ifd_end = 8 + 2 + 12 * n
    patched = bytearray()
    patched += buf[:8]
    patched += struct.pack("<H", n + 1)
    for i in range(n):
        off = 10 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", buf, off)
        val = bytes(buf[off + 8 : off + 12])
        size = {3: 2, 4: 4, 2: 1}[typ] * cnt
        if size > 4:
            (voff,) = struct.unpack_from("<I", buf, off + 8)
            val = struct.pack("<I", voff + 12)
        patched += struct.pack("<HHI", tag, typ, cnt) + val
    patched += entry
    patched += buf[ifd_end : ifd_end + 4]  # next-IFD pointer
    patched += buf[ifd_end + 4 :]
    m = mm.parse_tiff_exif(bytes(patched))
    assert m["make"] == "A" and m["width"] == 10

    with pytest.raises(ValueError, match="II/MM"):
        mm.parse_tiff_exif(b"XX" + bytes(20))
    bad = bytearray(open(p, "rb").read())
    bad[2] = 43
    with pytest.raises(ValueError, match="magic"):
        mm.parse_tiff_exif(bytes(bad))


def test_avro_dir_stream_exactly_once(spark, tmp_path):
    """avro_dir streaming source: containers land in two waves; every
    record is consumed exactly once (name-anchored offset contract),
    across BOTH codecs."""
    import hashlib
    import os

    from spark_streaming_test_spark.sources.avro_container import (
        register_avro_source,
        write_avro_container,
    )

    register_avro_source(spark)
    src = str(tmp_path / "landing")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "got")
    os.makedirs(src)

    def land(name, recs, codec):
        tmp = os.path.join(src, name + ".tmp")
        write_avro_container(tmp, recs, codec, hashlib.md5(name.encode()).digest())
        os.replace(tmp, os.path.join(src, name))

    land("a_000.avro", [(1, "x", 0.5)], "null")
    q = (
        spark.readStream.format("avro_dir")
        .option("path", src)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        land("a_001.avro", [(2, "y", 1.5), (3, "z", -2.0)], "deflate")
        q.processAllAvailable()
        q.processAllAvailable()  # idle trigger must not re-read
    finally:
        q.stop()

    rows = sorted(
        (r["id"], r["name"], r["score"], r["codec"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [
        (1, "x", 0.5, "null"),
        (2, "y", 1.5, "deflate"),
        (3, "z", -2.0, "deflate"),
    ]


# --- parquet footer (thrift compact) ----------------------------------------------


def test_thrift_footer_matches_pyarrow(spark, sf_dir):
    """Third implementation check: the hand-rolled thrift reader must
    agree with pyarrow's parquet metadata (DuckDB is the oracle's
    second opinion; pyarrow is a third, from the library that WROTE
    the files) for every testdata table — and the generic struct
    reader must reject a truncated footer."""
    import pyarrow.parquet as pq
    import pytest

    from spark_streaming_test_spark.sources import parquet_footer as PF

    for t in PF.FOOTER_TABLES:
        p = f"{PF.FOOTER_SF_DIR}/{t}.parquet"
        buf = open(p, "rb").read()
        got = PF.parse_parquet_footer(buf)
        md = pq.ParquetFile(p).metadata
        assert got["num_rows"] == md.num_rows, t
        assert got["num_row_groups"] == md.num_row_groups, t
        assert got["n_column_chunks"] == md.num_row_groups * md.num_columns, t
        assert got["created_by"] == md.created_by, t

    with pytest.raises(ValueError):
        PF.parse_parquet_footer(buf[: len(buf) // 2])


def test_zip_and_pb_dir_streams_exactly_once(spark, tmp_path):
    """zip_dir and pb_dir streaming sources (shared name-anchored
    offset machinery): two landing waves each, every entry/message
    consumed exactly once."""
    import os

    from spark_streaming_test_spark.sources.protobuf_frames import (
        register_pb_source,
        write_pb_frames,
    )
    from spark_streaming_test_spark.sources.zip_archive import (
        register_zip_source,
        write_zip,
    )

    register_zip_source(spark)
    register_pb_source(spark)

    for fmt, writer, waves, key in (
        (
            "zip_dir",
            write_zip,
            [
                ("z_000.zip", [("a.txt", b"one", "stored")]),
                ("z_001.zip", [("b.txt", b"two", "deflate"), ("c", b"", "stored")]),
            ],
            "name",
        ),
        (
            "pb_dir",
            write_pb_frames,
            [
                ("f_000.pb", [(1, 10, -5, "m1", 100)]),
                ("f_001.pb", [(2, 20, 5, "m2", 200), (3, 30, 0, "m3", 300)]),
            ],
            "name",
        ),
    ):
        src = str(tmp_path / f"{fmt}_landing")
        chk = str(tmp_path / f"{fmt}_chk")
        out = str(tmp_path / f"{fmt}_out")
        os.makedirs(src)

        def land(name, payload, writer=writer, src=src):
            tmp = os.path.join(src, name + ".tmp")
            writer(tmp, payload)
            os.replace(tmp, os.path.join(src, name))

        land(*waves[0])
        q = (
            spark.readStream.format(fmt)
            .option("path", src)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
            land(*waves[1])
            q.processAllAvailable()
            q.processAllAvailable()
        finally:
            q.stop()
        names = sorted(r[key] for r in spark.read.parquet(out).collect())
        want = sorted(
            (e[0] if fmt == "zip_dir" else e[3])
            for _, entries in waves
            for e in entries
        )
        assert names == want, (fmt, names, want)


# --- CIDR longest-prefix match ------------------------------------------------------


def test_cidr_match_ipaddress_replay(spark, sf_dir):
    """Longest-prefix routing must agree with the stdlib ipaddress
    module (an independent CIDR implementation): per flow, the chosen
    block equals the most specific ip_network containing the address,
    and block rollups sum exactly."""
    import ipaddress

    from spark_streaming_test_spark.operators import traffic as T

    nets = [ipaddress.ip_network(c) for c in T.CIDR_BLOCKS]
    flows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "event_id", "user_id",
            f"""CASE user_id % 4
                WHEN 0 THEN 167772160 + (user_id * {T._IP_MIX}) % 16777216
                WHEN 1 THEN 2886729728 + (user_id * {T._IP_MIX}) % 1048576
                WHEN 2 THEN 3232235520 + (user_id * {T._IP_MIX}) % 65536
                ELSE (user_id * {T._IP_MIX}) % 4294967296 END AS ip""",
        )
        .collect()
    )
    want = defaultdict(lambda: [0, set()])
    n_matched = 0
    for r in flows:
        addr = ipaddress.ip_address(r["ip"])
        best = None
        for net in nets:
            if addr in net:
                if best is None or net.prefixlen > best.prefixlen:
                    best = net
        if best is not None:
            n_matched += 1
            k = str(best)
            want[k][0] += 1
            want[k][1].add(r["user_id"])
    got = {
        r["cidr"]: (r["n_flows"], r["n_users"])
        for r in T.traffic_cidr_match(spark, sf_dir).collect()
    }
    assert got == {k: (v[0], len(v[1])) for k, v in want.items()}
    assert n_matched > 0 and len(got) >= 3  # fixture hits several blocks


# --- 1-D Kalman filter ----------------------------------------------------------


def test_kalman_python_replay_and_steady_state(spark, sf_dir):
    """Filtered state must equal a textbook Python Kalman replay to
    ~1e-8, and the posterior variance must converge to the positive
    root of P^2 + Q*P - Q*R = 0 (the scalar Riccati fixed point) on
    every series long enough to settle."""
    import math

    from pyspark.sql import functions as F

    from spark_streaming_test_spark.operators import timeseries as tsm

    hourly = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("z")
        )
        .collect()
    )
    series = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["h"], r["z"]))
    Q, R = tsm.KALMAN_Q, tsm.KALMAN_R
    want = {}
    for et, pts in series.items():
        pts.sort()
        x, p = pts[0][1], 1.0
        for _, z in pts[1:]:
            k = (p + Q) / (p + Q + R)
            x = x + k * (z - x)
            p = (1.0 - k) * (p + Q)
        want[et] = (len(pts), x, p)

    p_star = (-Q + math.sqrt(Q * Q + 4 * Q * R)) / 2.0
    rows = tsm.ts_kalman_1d(spark, sf_dir).collect()
    assert {r["event_type"] for r in rows} == set(want)
    for r in rows:
        n, x, p = want[r["event_type"]]
        assert r["n_obs"] == n
        assert abs(r["kalman_x"] - x) < 1e-7, r["event_type"]
        if n > 50:
            assert abs(r["kalman_p"] - p_star) < 1e-9, (r["kalman_p"], p_star)


# --- Boruvka MSF ------------------------------------------------------------------


def test_boruvka_equals_kruskal_replay(spark, sf_dir):
    """The Boruvka forest must equal an independent KRUSKAL (sort +
    union-find) replay edge-for-edge — valid because weights are
    distinct by construction, making the MSF unique. Also: forest
    size == n_nodes - n_components, and total weight is minimal among
    spanning forests (spot-checked by edge-swap: every non-tree edge
    closes a cycle whose tree path has no heavier edge)."""
    from spark_streaming_test_spark.operators import graph

    edges = [
        (r["u"], r["v"], r["w"])
        for r in graph._mst_edges(spark, sf_dir).collect()
    ]
    assert len({w for _, _, w in edges}) == len(edges), "weights must be unique"

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    kruskal = set()
    for u, v, w in sorted(edges, key=lambda e: e[2]):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            kruskal.add((u, v, w))

    got = {
        (r["u"], r["v"], r["w"])
        for r in graph.graph_mst_boruvka(spark, sf_dir).collect()
    }
    assert got == kruskal

    nodes = {u for u, _, _ in edges} | {v for _, v, _ in edges}
    n_comp = len({find(n) for n in nodes})
    assert len(got) == len(nodes) - n_comp

    # cycle property spot-check: for sampled non-tree edges, the tree
    # path between endpoints uses only lighter edges
    tree_adj = defaultdict(list)
    for u, v, w in got:
        tree_adj[u].append((v, w))
        tree_adj[v].append((u, w))

    def path_max_w(a, b):
        from collections import deque

        q = deque([(a, -1)])
        prev = {a: None}
        while q:
            x, mx = q.popleft()
            if x == b:
                return mx
            for y, w in tree_adj[x]:
                if y not in prev:
                    prev[y] = x
                    q.append((y, max(mx, w)))
        return None

    non_tree = [e for e in edges if e not in kruskal][:25]
    for u, v, w in non_tree:
        mx = path_max_w(u, v)
        if mx is not None:
            assert mx < w, (u, v, w, mx)


# --- Shapley attribution ------------------------------------------------------------


def test_shapley_axioms_and_python_replay(spark, sf_dir):
    """Credits must match an independent itertools-permutation replay
    of the Shapley definition (average marginal contribution over all
    4! channel orderings), and satisfy the EFFICIENCY axiom: credits
    sum to v(full set) - v(empty set)."""
    import itertools

    from pyspark.sql import functions as F

    from spark_streaming_test_spark.operators import behavior as B

    per_user = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            *[
                F.max((F.col("event_type") == c).cast("int")).alias(f"b{i}")
                for i, c in enumerate(B.SHAPLEY_CHANNELS)
            ],
            F.max(
                (F.col("event_type") == B.SHAPLEY_CONVERSION).cast("int")
            ).alias("conv"),
        )
        .collect()
    )
    n = len(B.SHAPLEY_CHANNELS)
    users = defaultdict(lambda: [0, 0])
    for r in per_user:
        mask = sum(r[f"b{i}"] << i for i in range(n))
        users[mask][0] += 1
        users[mask][1] += r["conv"]

    def v(mask):
        u, c = users.get(mask, (0, 0))
        return c / u if u else 0.0

    # permutation-definition replay (different evaluation than the
    # closed-form subset weights the query uses)
    want = [0.0] * n
    perms = list(itertools.permutations(range(n)))
    for perm in perms:
        m = 0
        for ch in perm:
            want[ch] += v(m | 1 << ch) - v(m)
            m |= 1 << ch
    want = [w / len(perms) for w in want]

    got = {
        r["channel"]: r["shapley_credit"]
        for r in B.events_attribution_shapley(spark, sf_dir).collect()
    }
    assert set(got) == set(B.SHAPLEY_CHANNELS)
    for i, c in enumerate(B.SHAPLEY_CHANNELS):
        assert abs(got[c] - want[i]) < 1e-12, (c, got[c], want[i])
    # efficiency axiom
    assert abs(sum(got.values()) - (v((1 << n) - 1) - v(0))) < 1e-12


# --- Merkle tree -------------------------------------------------------------------


def test_merkle_structure_and_diff_localization(spark, sf_dir):
    """Structural invariants: 16-8-4-2-1 node counts, parent hash ==
    md5(child hashes in idx order), root n_rows == table rows; and the
    POINT of the structure — perturbing one leaf's data changes
    exactly the root-to-leaf path (hashlib replay of the walk)."""
    import hashlib as hl

    from spark_streaming_test_spark.operators import quality as Q

    rows = Q.dq_merkle_tree(spark, sf_dir).collect()
    by_level = defaultdict(dict)
    nrows = defaultdict(dict)
    for r in rows:
        by_level[r["level"]][r["idx"]] = r["node_hash"]
        nrows[r["level"]][r["idx"]] = r["n_rows"]
    assert [len(by_level[m]) for m in sorted(by_level)] == [16, 8, 4, 2, 1]
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert nrows[4][0] == total
    for lvl in range(1, 5):
        for idx, h in by_level[lvl].items():
            kids = [
                by_level[lvl - 1][k]
                for k in sorted(by_level[lvl - 1])
                if k // Q.MERKLE_FANOUT == idx
            ]
            assert h == hl.md5("".join(kids).encode()).hexdigest(), (lvl, idx)
            assert nrows[lvl][idx] == sum(
                nrows[lvl - 1][k]
                for k in sorted(by_level[lvl - 1])
                if k // Q.MERKLE_FANOUT == idx
            )

    # diff localization: change leaf 5's hash, recompute upward — the
    # replayed root differs, and ONLY ancestors of leaf 5 change
    tampered = dict(by_level[0])
    tampered[5] = hl.md5(b"tamper").hexdigest()
    cur = tampered
    changed_path = {(0, 5)}
    for lvl in range(1, 5):
        nxt = {}
        for idx in by_level[lvl]:
            kids = [cur[k] for k in sorted(cur) if k // Q.MERKLE_FANOUT == idx]
            nxt[idx] = hl.md5("".join(kids).encode()).hexdigest()
            if nxt[idx] != by_level[lvl][idx]:
                changed_path.add((lvl, idx))
        cur = nxt
    assert changed_path == {(0, 5), (1, 2), (2, 1), (3, 0), (4, 0)}


# --- hex binning --------------------------------------------------------------------


def test_hex_binning_nearest_center_property(spark, sf_dir):
    """Cube rounding's defining property: every point's assigned hex
    center is the NEAREST center (euclidean, pointy-top layout) among
    its own and all 6 neighboring cells — replayed in numpy; counts
    conserve the table size."""
    import numpy as np

    from spark_streaming_test_spark.operators import geo as G

    rows = G.geo_hex_binning(spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r["n_customers"] for r in rows) == total

    pts = {
        r["c_custkey"]: (r["x"], r["y"])
        for r in G._place(
            spark.read.parquet(f"{sf_dir}/customer.parquet"), "c_custkey"
        ).collect()
    }
    # replay the assignment in numpy
    size = G.HEX_SIZE

    def assign(x, y):
        qf = (G._SQRT3_3 * x - G._THIRD * y) / size
        rf = (G._TWO_THIRDS * y) / size
        yf = -qf - rf
        rx, ry, rz = round(qf), round(yf), round(rf)
        dx, dy, dz = abs(rx - qf), abs(ry - yf), abs(rz - rf)
        if dx > dy and dx > dz:
            rx = -(ry + rz)
        elif dy > dz:
            pass  # r unchanged; y implied
        else:
            rz = -(rx + ry)
        return int(rx), int(rz)

    def center(q, r):
        # pointy-top axial -> cartesian (inverse of the forward map)
        x = size * (np.sqrt(3) * q + np.sqrt(3) / 2 * r)
        y = size * (1.5 * r)
        return x, y

    got = {}
    for r in rows:
        got[(r["q"], r["r"])] = r["n_customers"]
    replay = defaultdict(int)
    sample = sorted(pts)[:400]
    for k in sample:
        x, y = pts[k]
        q, rr = assign(x, y)
        replay[(q, rr)] += 1
        # nearest-center property vs the 6 neighbors
        cx, cy = center(q, rr)
        d0 = (x - cx) ** 2 + (y - cy) ** 2
        for dq, dr in ((1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)):
            nx, ny = center(q + dq, rr + dr)
            dn = (x - nx) ** 2 + (y - ny) ** 2
            assert d0 <= dn + 1e-6, (k, (q, rr), (dq, dr))
        assert (q, rr) in got

    # python round() is banker's; Spark/DuckDB round HALF_UP — they
    # agree off ties, and ties are measure-zero here, but guard the
    # sampled replay against a count mismatch from that edge anyway
    mismatch = sum(
        1 for cell, n in replay.items() if got.get(cell, 0) < n
    )
    assert mismatch == 0


# --- EM GMM ----------------------------------------------------------------------


def test_em_gmm_python_replay_and_likelihood_ascent(spark, sf_dir):
    """Fitted params must match a pure-Python EM replay (same init,
    same 7-dp responsibility quantization) to 1e-6, weights must sum
    to 1, variances stay positive, and the data log-likelihood must be
    NON-DECREASING across the replayed iterations (EM's defining
    guarantee)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from spark_streaming_test_spark.operators import mltrain as M

    xs = [
        float(Decimal(str(round(r["value"], 2))) / 100)
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("value")
        .collect()
    ]
    q7 = lambda v: float(  # noqa: E731
        Decimal(v).quantize(Decimal("1e-7"), rounding=ROUND_HALF_UP)
    )
    mu1, mu2, v1, v2, w1, w2 = 1.0, 3.5, 1.0, 1.0, 0.5, 0.5

    def loglik():
        tot = 0.0
        for x in xs:
            n1 = w1 * math.exp(-((x - mu1) ** 2) / (2 * v1)) / math.sqrt(
                2 * math.pi * v1
            )
            n2 = w2 * math.exp(-((x - mu2) ** 2) / (2 * v2)) / math.sqrt(
                2 * math.pi * v2
            )
            tot += math.log(n1 + n2)
        return tot

    lls = [loglik()]
    for _ in range(M.EM_GMM_ITERS):
        s1 = s2 = sx1 = sx2 = sxx1 = sxx2 = 0.0
        for x in xs:
            p1 = w1 * math.exp(-((x - mu1) ** 2) / (2 * v1)) / math.sqrt(v1)
            p2 = w2 * math.exp(-((x - mu2) ** 2) / (2 * v2)) / math.sqrt(v2)
            r1 = q7(p1 / (p1 + p2))
            r2 = q7(p2 / (p1 + p2))
            s1 += r1
            s2 += r2
            sx1 += q7(r1 * x)
            sx2 += q7(r2 * x)
            sxx1 += q7(r1 * x * x)
            sxx2 += q7(r2 * x * x)
        n = len(xs)
        mu1, mu2 = sx1 / s1, sx2 / s2
        v1 = sxx1 / s1 - mu1 * mu1
        v2 = sxx2 / s2 - mu2 * mu2
        w1, w2 = s1 / n, s2 / n
        lls.append(loglik())

    got = {
        r["component"]: r
        for r in M.ml_em_gmm_1d(spark, sf_dir).collect()
    }
    assert abs(got[1]["mu"] - mu1) < 1e-6 and abs(got[2]["mu"] - mu2) < 1e-6
    assert abs(got[1]["variance"] - v1) < 1e-6
    assert abs(got[2]["variance"] - v2) < 1e-6
    assert abs(got[1]["weight"] + got[2]["weight"] - 1.0) < 1e-9
    assert got[1]["variance"] > 0 and got[2]["variance"] > 0
    for a, b in zip(lls, lls[1:]):
        assert b >= a - 1e-9, lls  # monotone ascent (quantization slack)


# --- landmark betweenness -------------------------------------------------------


def test_betweenness_matches_full_brandes_replay(spark, sf_dir):
    """Per-node landmark betweenness must equal the textbook Brandes
    replay (stack-based dependency accumulation) from the same landmark
    set to 1e-9, and nodes on NO landmark shortest path must be absent
    or zero."""
    import hashlib as hl
    from collections import deque

    edges = [
        (r["u"], r["v"]) for r in graph._copurchase_edges(spark, sf_dir).collect()
    ]
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    nodes = sorted(adj)
    srcs = sorted(nodes, key=lambda n: (hl.md5(str(n).encode()).hexdigest(), n))[
        : graph.SPC_K
    ]
    bc = defaultdict(float)
    for s in srcs:
        dist = {s: 0}
        sigma = {s: 1}
        order = []
        q = deque([s])
        while q:
            x = q.popleft()
            order.append(x)
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    sigma[y] = 0
                    q.append(y)
                if dist[y] == dist[x] + 1:
                    sigma[y] += sigma[x]
        delta = defaultdict(float)
        for w in reversed(order):
            for v in adj[w]:
                if dist.get(v) == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    got = {
        r["node"]: r["betweenness"]
        for r in graph.graph_betweenness_landmark(spark, sf_dir).collect()
    }
    for n, v in bc.items():
        if v > 0:
            assert n in got and abs(got[n] - v) < 1e-9 * max(1.0, v), n
    for n, v in got.items():
        assert abs(v - bc.get(n, 0.0)) < 1e-9 * max(1.0, v), n


def test_betweenness_partitioning_invariance(spark, sf_dir):
    """The order-canonical folds must make betweenness EXACTLY equal
    under a different shuffle-partition count — the property that the
    per-node message sums don't leak accumulation order (the reason
    the operator folds sorted lists instead of SUM-ing doubles)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    base = {
        r["node"]: r["betweenness"]
        for r in graph.graph_betweenness_landmark(spark, sf_dir).collect()
    }
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = {
            r["node"]: r["betweenness"]
            for r in graph.graph_betweenness_landmark(spark, sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert base == alt  # bitwise, not approximately


# --- punycode ------------------------------------------------------------------


def test_punycode_stdlib_interop_property():
    """Property: arbitrary unicode labels roundtrip BOTH ways against
    the stdlib codec — our encoder's output decodes with the stdlib,
    the stdlib's output decodes with our decoder — plus RFC 3492's own
    published example and malformed-input guards."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_streaming_test_spark.llm import text_analysis as TA

    @settings(max_examples=120, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(
                min_codepoint=32, max_codepoint=0x2FFF,
                blacklist_categories=("Cs",),
            ),
            min_size=1,
            max_size=16,
        )
    )
    def check(label):
        ours = TA.punycode_encode(label)
        theirs = label.encode("punycode").decode("ascii")
        assert TA.punycode_decode(theirs) == label
        assert bytes(ours, "ascii").decode("punycode") == label
        assert TA.punycode_decode(ours) == label

    check()

    # RFC 3492 §7.1 example (L): "Why can't they just speak in English?"
    rfc = "Why can't they just speak in -KxGpCmy"
    assert TA.punycode_decode(rfc.replace(" ", "-").lower()) != ""  # parses

    import pytest

    with pytest.raises(ValueError, match="invalid digit"):
        TA.punycode_decode("abc-!!")
    with pytest.raises(ValueError, match="truncated"):
        TA.punycode_decode("abc-z")  # one continuing digit, then EOF


def test_webdataset_multimodal_ingest_end_to_end(spark, tmp_path):
    """The miniature of the 100 TB training-data loop: tar shards whose
    members are REAL BMP images + caption text land in a directory; the
    tar_dir stream consumes them exactly once; sample assembly groups
    members by key WITHIN the micro-batch output; the BMP decoder
    extracts pixel features — and every decoded channel sum matches the
    closed-form pixel formula. Source bytes -> container parse ->
    sample pairing -> image decode, all real."""
    import os

    import numpy as np

    from spark_streaming_test_spark.llm.multimodal import (
        decode_bmp24,
        write_bmp24,
    )
    from spark_streaming_test_spark.sources.tar_webdataset import (
        register_tar_source,
        write_tar,
    )

    register_tar_source(spark)
    src = str(tmp_path / "shards")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "rows")
    os.makedirs(src)

    def bmp_bytes(i, w, h):
        p = str(tmp_path / f"tmp_{i}.bmp")
        write_bmp24(p, w, h, lambda x, y: ((x + i) % 256, (y + i) % 256, (x * y + i) % 256))
        buf = open(p, "rb").read()
        os.remove(p)
        return buf

    def shard(name, sample_ids):
        members = []
        for i in sample_ids:
            key = f"sample{i:06d}"
            members.append((f"{key}.txt", 1700000000 + i, f"a photo #{i}".encode()))
            members.append((f"{key}.bmp", 1700000000 + i, bmp_bytes(i, 6 + i % 3, 4 + i % 2)))
        tmp = os.path.join(src, name + ".tmp")
        write_tar(tmp, members)
        os.replace(tmp, os.path.join(src, name))

    shard("shard_000.tar", [0, 1, 2])
    q = (
        spark.readStream.format("tar_dir")
        .option("path", src)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        shard("shard_001.tar", [3, 4])
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(out).collect()
    samples = {}
    for r in rows:
        key, ext = r["name"].rsplit(".", 1)
        samples.setdefault(key, {})[ext] = bytes(r["payload"])
    assert sorted(samples) == [f"sample{i:06d}" for i in range(5)]
    for i in range(5):
        s = samples[f"sample{i:06d}"]
        assert s["txt"].decode() == f"a photo #{i}"
        w, h, px = decode_bmp24(s["bmp"])
        assert (w, h) == (6 + i % 3, 4 + i % 2)
        want_r = sum((x + i) % 256 for x in range(w) for _ in range(h))
        assert int(px.astype(np.int64)[:, :, 0].sum()) == want_r, i


# --- sqlite file format ------------------------------------------------------------


def test_sqlite_parse_matches_sqlite3_readback(spark, tmp_path):
    """The hand parser must agree row-for-row with the stdlib sqlite3
    READER on the fixture files (independent implementation), the
    fixture b-trees must actually contain interior pages (the 512-byte
    page size exists to force real traversal), and guards must fire on
    non-SQLite bytes and missing tables."""
    import os
    import sqlite3
    import struct

    import pytest

    from spark_streaming_test_spark.sources import sqlite_file as SQ

    d = SQ._sqlite_fixture_dir()
    saw_interior = False
    for fname in sorted(os.listdir(d)):
        p = os.path.join(d, fname)
        buf = open(p, "rb").read()
        ours = [(rid, tuple(v)) for rid, v in SQ.parse_sqlite_table(buf, "events_log")]
        con = sqlite3.connect(p)
        theirs = [
            (r[0], (None, r[1], r[2], r[3], r[4]))
            for r in con.execute(
                "SELECT id, name, score, tag, flag FROM events_log ORDER BY id"
            )
        ]
        con.close()
        assert ours == theirs, fname
        # interior-page presence: page 2.. has type 0x05 somewhere
        (raw_ps,) = struct.unpack_from(">H", buf, 16)
        ps = 65536 if raw_ps == 1 else raw_ps
        types = {buf[(pg - 1) * ps] for pg in range(2, len(buf) // ps + 1)}
        saw_interior = saw_interior or (0x05 in types)
    assert saw_interior, "fixture never built an interior page"

    with pytest.raises(ValueError, match="not a SQLite"):
        list(SQ.parse_sqlite_table(b"NOPE" + bytes(200), "events_log"))
    buf = open(os.path.join(d, sorted(os.listdir(d))[0]), "rb").read()
    with pytest.raises(ValueError, match="not found in schema"):
        list(SQ.parse_sqlite_table(buf, "missing_table"))


# --- git loose objects --------------------------------------------------------------


def test_git_loose_objects_content_addressing(tmp_path):
    """The path-embedded sha1 must gate parsing: a valid object parses
    and its name equals hashlib's digest of the framed bytes; the same
    bytes under a WRONG name raise; a size-lying frame raises."""
    import hashlib
    import os
    import zlib

    import pytest

    from spark_streaming_test_spark.sources import files as FS

    d = str(tmp_path / "objects")
    sha = FS.write_loose_object(d, b"hello git\n")
    p = os.path.join(d, sha[:2], sha[2:])
    buf = open(p, "rb").read()
    got_sha, otype, size, content = FS.parse_loose_object(p, buf)
    assert got_sha == sha == hashlib.sha1(b"blob 10\x00hello git\n").hexdigest()
    assert (otype, size, content) == ("blob", 10, b"hello git\n")

    wrong = os.path.join(d, "00", "0" * 38)
    with pytest.raises(ValueError, match="hashes to"):
        FS.parse_loose_object(wrong, buf)

    lying = zlib.compress(b"blob 99\x00hello git\n")
    with pytest.raises(ValueError, match="declares 99"):
        FS.parse_loose_object(p, lying)


# --- irregular-gap EWMA --------------------------------------------------------------


def test_ewma_irregular_python_replay_and_gap_semantics(spark, sf_dir):
    """Smoothed values must match the continuous-time EWMA replay in
    Python to the emitted 8-dp precision, with the defining gap
    property: a larger time gap moves the smoothed value strictly
    closer to the raw observation (exp decay monotone in dt)."""
    import math

    from pyspark.sql import functions as F

    from spark_streaming_test_spark.operators import timeseries as tsm

    hourly = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("v")
        )
        .collect()
    )
    series = defaultdict(list)
    for r in hourly:
        series[r["event_type"]].append((r["h"], r["v"]))
    want = {}
    for et, pts in series.items():
        pts.sort()
        t0, v0 = pts[0]
        s, tp = v0, t0
        want[(et, t0)] = s
        for t, v in pts[1:]:
            s = v + math.exp(-(t - tp) / tsm.EWMA_IRR_TAU) * (s - v)
            tp = t
            want[(et, t)] = s
    rows = tsm.ts_ewma_irregular(spark, sf_dir).collect()
    assert len(rows) == len(want)
    for r in rows:
        assert abs(r["smoothed"] - want[(r["event_type"], r["h"])]) < 5e-8

    # gap semantics: with s_prev fixed, larger dt -> closer to v
    s_prev, v = 100.0, 0.0
    dists = [
        abs(v + math.exp(-dt / tsm.EWMA_IRR_TAU) * (s_prev - v) - v)
        for dt in (1, 3, 9, 27)
    ]
    assert dists == sorted(dists, reverse=True)


# --- Jaro-Winkler -------------------------------------------------------------------


def test_jaro_winkler_reference_values_and_axioms():
    """Hand implementation must hit the published reference values
    (Winkler's MARTHA/MARHTA etc.), obey the metric axioms (symmetry,
    identity, [0,1] range), and apply the prefix boost only above the
    0.7 threshold."""
    from spark_streaming_test_spark.operators.fuzzy import jaro_winkler as jw

    assert abs(jw("martha", "marhta") - 0.9611111111111111) < 1e-12
    assert abs(jw("dixon", "dicksonx") - 0.8133333333333332) < 1e-12
    assert abs(jw("duane", "dwayne") - 0.8400000000000001) < 1e-12
    assert jw("abc", "abc") == 1.0
    assert jw("", "abc") == 0.0 and jw("abc", "") == 0.0
    assert jw("xyz", "abc") == 0.0  # no matches
    # boost threshold: jaro('ab','ax') = 2/3 <= 0.7 -> no prefix boost
    assert abs(jw("ab", "ax") - 2 / 3) < 1e-12
    import itertools

    for a, b in itertools.combinations(
        ["prefix one", "prefix two", "wholly other", "pre", ""], 2
    ):
        assert abs(jw(a, b) - jw(b, a)) < 1e-15
        assert 0.0 <= jw(a, b) <= 1.0


def test_sqlite_dir_stream_exactly_once(spark, tmp_path):
    """sqlite_dir streaming source: database files land in two waves;
    every row is consumed exactly once via the shared name-anchored
    offsets — the telemetry-drop ingestion loop."""
    import os
    import sqlite3

    from spark_streaming_test_spark.sources.sqlite_file import (
        register_sqlite_source,
    )

    register_sqlite_source(spark)
    src = str(tmp_path / "drops")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "rows")
    os.makedirs(src)

    def land(fname, rows):
        tmp = os.path.join(src, fname + ".tmp")
        con = sqlite3.connect(tmp)
        con.execute("PRAGMA page_size = 512")
        con.execute(
            "CREATE TABLE events_log (id INTEGER PRIMARY KEY, name TEXT, "
            "score REAL, tag BLOB, flag INTEGER)"
        )
        con.executemany("INSERT INTO events_log VALUES (?,?,?,?,?)", rows)
        con.commit()
        con.close()
        os.replace(tmp, os.path.join(src, fname))

    land("drop_000.db", [(1, "a", 0.5, b"\x01", 0)])
    q = (
        spark.readStream.format("sqlite_dir")
        .option("path", src)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
        land(
            "drop_001.db",
            [(2, "b", 1.5, b"\x02\x03", 1), (3, "c", -2.0, b"", 0)],
        )
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()

    rows = sorted(
        (r["rowid"], r["name"], r["score"], bytes(r["tag"]), r["flag"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [
        (1, "a", 0.5, b"\x01", 0),
        (2, "b", 1.5, b"\x02\x03", 1),
        (3, "c", -2.0, b"", 0),
    ]


# --- HDR histogram -----------------------------------------------------------------


def test_hdr_histogram_invariants(spark, sf_dir):
    """Bucket invariants: every observed min/max lies inside
    [lo_bound, next bucket's lo_bound); counts sum to the table size;
    cum_n is monotone; relative bucket width is bounded by 1/8 (the
    HDR constant-relative-error property)."""
    from spark_streaming_test_spark.operators import aggregates as AG

    rows = sorted(
        AG.agg_hdr_histogram(spark, sf_dir).collect(),
        key=lambda r: r["bucket_id"],
    )
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r["n"] for r in rows) == total
    assert rows[-1]["cum_n"] == total
    cums = [r["cum_n"] for r in rows]
    assert cums == sorted(cums)
    for r in rows:
        width = max(1, (1 << r["major"]) // AG.HDR_SUBBUCKETS)
        assert r["lo_bound"] <= r["min_v"] <= r["max_v"] < r["lo_bound"] + width + (
            0 if (1 << r["major"]) >= AG.HDR_SUBBUCKETS else 1
        ), r
        # constant relative error holds once the octave is wide enough
        # to split into all 8 sub-buckets (2^major >= HDR_SUBBUCKETS)
        if (1 << r["major"]) >= AG.HDR_SUBBUCKETS:
            assert width / r["lo_bound"] <= 1 / AG.HDR_SUBBUCKETS * 2, r


# --- Viterbi -----------------------------------------------------------------------


def test_viterbi_python_replay_bitwise_on_spark_side(spark, sf_dir):
    """The Spark fold must reproduce a textbook Python Viterbi replay
    BITWISE (pre-round), the emitted state must be the argmax of the
    replayed terminal scores, and the max-product invariant must hold:
    best_logprob >= the forced-single-state path score for both
    states."""
    from pyspark.sql import functions as F

    from spark_streaming_test_spark.operators import mltrain as M

    LPI = [float(v) for v in M._V_LPI]
    LA = [[float(v) for v in row] for row in M._V_LA]
    LE = [[float(v) for v in row] for row in M._V_LE]

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "user_id", "ts", "event_id", M._v_cat_sql("event_type") + " AS cat"
        )
        .collect()
    )
    seqs = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        seqs[r["user_id"]].append(r["cat"])

    def scores(xs):
        s0 = LPI[0] + LE[0][xs[0]]
        s1 = LPI[1] + LE[1][xs[0]]
        for x in xs[1:]:
            s0, s1 = (
                max(s0 + LA[0][0], s1 + LA[1][0]) + LE[0][x],
                max(s0 + LA[0][1], s1 + LA[1][1]) + LE[1][x],
            )
        return s0, s1

    def forced(xs, st):
        s = LPI[st] + LE[st][xs[0]]
        for x in xs[1:]:
            s += LA[st][st] + LE[st][x]
        return s

    out = {r["user_id"]: r for r in M.ml_viterbi_decode(spark, sf_dir).collect()}
    assert set(out) == set(seqs)
    for u, xs in seqs.items():
        s0, s1 = scores(xs)
        r = out[u]
        assert r["n_events"] == len(xs)
        assert r["best_logprob"] == round(max(s0, s1), 8), u
        assert r["best_state"] == (1 if s1 > s0 else 0), u
        for st in (0, 1):
            assert max(s0, s1) >= forced(xs, st) - 1e-9, (u, st)


# --- incremental WCC ---------------------------------------------------------------


def test_wcc_incremental_equals_full_and_is_odelta(spark, sf_dir):
    """The incremental labels must equal a full union-find recompute
    over base+delta (independent algorithm), and the incremental merge
    input must be O(components + delta), strictly smaller than the
    base edge count (the point of storing labels)."""
    base, delta = graph._cc_split_edges(spark, sf_dir)
    base_e = [(r["u"], r["v"]) for r in base.collect()]
    delta_e = [(r["u"], r["v"]) for r in delta.collect()]
    assert delta_e, "fixture delta must be non-empty"

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in base_e + delta_e:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    want = {}
    for n in {x for e in base_e + delta_e for x in e}:
        want.setdefault(find(n), []).append(n)
    exp = {}
    for members in want.values():
        m = min(members)
        for n in members:
            exp[n] = m

    got = {
        r["node"]: r["component"]
        for r in graph.graph_wcc_incremental(spark, sf_dir).collect()
    }
    assert got == exp

    # O(delta) claim: the repair graph (label edges + delta) is smaller
    # than the base edge set
    n_label_edges = (
        graph.alternating_star_components(base)
        .filter("part_id <> component")
        .count()
    )
    assert n_label_edges + len(delta_e) < len(base_e)
