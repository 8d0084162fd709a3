"""Dedup / similarity / text-stats / multimodal operators on the
driver-provided documents+embeddings tables (sf0.001) and synthetic docs."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from mirrorofmapgraph_spark.functions.hashing import token_hash_py
from mirrorofmapgraph_spark.operators.dedup import (
    exact_dedup,
    exact_duplicates,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from mirrorofmapgraph_spark.operators.multimodal import (
    decode_image,
    extract_audio_features,
    sample_frames,
    synthesize_assets,
)
from mirrorofmapgraph_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    near_duplicates_cosine,
)
from mirrorofmapgraph_spark.operators.textstats import fingerprints, text_stats

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def make_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


# ---- exact dedup -----------------------------------------------------------

def test_exact_dedup(spark):
    d = make_docs(spark, ["aa bb cc", "dd ee", "aa bb cc", "ff", "dd ee", "aa bb cc"])
    groups = {r["keep_id"]: r["n_docs"] for r in exact_duplicates(d).collect()}
    assert groups == {0: 3, 1: 2, 3: 1}
    kept = sorted(r["doc_id"] for r in exact_dedup(d).collect())
    assert kept == [0, 1, 3]


# ---- minhash LSH ----------------------------------------------------------

def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    texts = [
        base,
        base.replace("lazy", "sleepy"),          # near-dup of 0
        "completely different words entirely unrelated content about spark engines",
        base.replace("quick", "rapid").replace("far", "near"),  # near-dup-ish
    ]
    d = make_docs(spark, texts)
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_candidates(d, num_perm=64, bands=16, ngram=2).collect()
    }
    assert (0, 1) in pairs
    assert pairs[(0, 1)] > 0.3
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_minhash_est_matches_true_jaccard_roughly(spark):
    a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    b = "w1 w2 w3 w4 w5 w6 w7 w8 x9 x10 x11 x12"
    d = make_docs(spark, [a, b])
    rows = minhash_candidates(d, num_perm=128, bands=32, ngram=2).collect()
    assert len(rows) == 1
    est = rows[0]["est_jaccard"]
    # true 2-gram jaccard: shared=7 of (11+11-7)
    true_j = 7 / 15
    assert abs(est - true_j) < 0.25


def test_minhash_hot_bucket_star(spark):
    """1000 identical short docs collapse into one bucket per band; the
    star fallback must emit b-1 pairs per band (grouped -> 999 pairs
    total), not the 499,500-pair clique."""
    d = make_docs(spark, ["spam spam spam ham"] * 1000)
    pairs = minhash_candidates(d, num_perm=16, bands=4, ngram=2, max_bucket=64)
    rows = pairs.collect()
    assert len(rows) == 999  # star: rep(0) -> each other doc, once
    assert all(r["id_a"] == 0 for r in rows)
    assert all(r["est_jaccard"] == 1.0 for r in rows)
    # connectivity for dedup grouping is preserved: every doc reachable
    ids = {r["id_b"] for r in rows}
    assert ids == set(range(1, 1000))


def test_minhash_star_threshold_boundary(spark):
    """At or under max_bucket the full clique is emitted."""
    d = make_docs(spark, ["spam spam spam ham"] * 10)
    rows = minhash_candidates(d, num_perm=16, bands=4, ngram=2, max_bucket=10).collect()
    assert len(rows) == 45  # full clique of 10 identical docs


# ---- simhash ---------------------------------------------------------------

def test_simhash_deterministic_and_similar(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta"
    d = make_docs(spark, [a, a, "totally different text here now"])
    rows = {r["id"]: r["simhash"] for r in simhash_fingerprints(d).collect()}
    assert rows[0] == rows[1]
    assert rows[0] != rows[2]
    assert 0 <= rows[0] < (1 << 32)


def test_simhash_near_duplicates_pairs(spark):
    """Byte-band blocked simhash pairs: identical docs at hamming 0, a
    one-word edit within the band, unrelated text excluded."""
    from mirrorofmapgraph_spark.operators.dedup import simhash_near_duplicates

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d = make_docs(
        spark,
        [
            base,
            base,  # exact dup -> hamming 0
            base.replace("kappa", "lambda"),  # near dup
            "utterly different content with other words entirely now",
        ],
    )
    # tight band (max_hamming=3): dups + near-dup found, the unrelated doc
    # (hamming 5-6 from the others) correctly excluded
    rows = {(r["id_a"], r["id_b"]): r["hamming"] for r in
            simhash_near_duplicates(d, max_hamming=3).collect()}
    assert rows[(0, 1)] == 0
    assert (0, 2) in rows and rows[(0, 2)] <= 3
    assert not any(3 in p for p in rows)
    # wide band (max_hamming=8): the adaptive 9-band layout now recalls the
    # hamming-6 pair that 4-byte-band blocking silently missed (round-2
    # ADVICE bug) — every pair of these docs is within 8 bits
    wide = {(r["id_a"], r["id_b"]): r["hamming"] for r in
            simhash_near_duplicates(d, max_hamming=8).collect()}
    assert wide[(0, 3)] == 6 and wide[(0, 2)] == 1


def test_simhash_pairs_hot_bucket_star(spark):
    """Oversized byte-band buckets fall back to the min-id star."""
    from mirrorofmapgraph_spark.operators.dedup import simhash_near_duplicates

    d = make_docs(spark, ["same text every time here"] * 500)
    rows = simhash_near_duplicates(d, max_hamming=0, max_bucket=64).collect()
    assert len(rows) == 499
    assert all(r["id_a"] == 0 and r["hamming"] == 0 for r in rows)


# ---- ngram jaccard ---------------------------------------------------------

def test_ngram_jaccard_exact(spark):
    a = "w1 w2 w3 w4 w5"
    b = "w1 w2 w3 w4 x5"
    d = make_docs(spark, [a, b])
    rows = ngram_jaccard_pairs(d, ngram=2, threshold=0.1).collect()
    assert len(rows) == 1
    # 2-grams: a={w1w2,w2w3,w3w4,w4w5}, b={w1w2,w2w3,w3w4,w4x5}: 3/5
    assert math.isclose(rows[0]["jaccard"], 3 / 5, abs_tol=1e-9)


def test_ngram_jaccard_blocking(spark, docs):
    pairs = ngram_jaccard_pairs(
        docs, ngram=3, threshold=0.2, block_cols=("lang",)
    )
    assert pairs.count() >= 0  # runs within blocks; no cross-lang pairs
    # verify blocking respected: join back and compare langs
    langs = docs.select(F.col("doc_id").alias("id_a"), F.col("lang").alias("la"))
    langs_b = docs.select(F.col("doc_id").alias("id_b"), F.col("lang").alias("lb"))
    bad = pairs.join(langs, "id_a").join(langs_b, "id_b").filter(
        F.col("la") != F.col("lb")
    )
    assert bad.count() == 0


def test_ngram_size_blocking_lossless(spark, docs):
    """The log-ratio size blocking (on by default) must not change the
    final pair set vs the unblocked join — Jaccard >= t bounds the size
    ratio by 1/t, and double emission covers the bucket boundary."""
    blocked = ngram_jaccard_pairs(docs, ngram=3, threshold=0.2, size_blocking=True)
    full = ngram_jaccard_pairs(docs, ngram=3, threshold=0.2, size_blocking=False)
    b = {(r["id_a"], r["id_b"], r["jaccard"]) for r in blocked.collect()}
    f = {(r["id_a"], r["id_b"], r["jaccard"]) for r in full.collect()}
    assert b == f


def test_ngram_size_blocking_lossless_mixed_lengths(spark):
    """Docs straddling a log-ratio bucket boundary are still paired."""
    texts = [
        "w1 w2 w3 w4 w5",                       # 4 2-gram shingles
        "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17",  # 16
        "w1 w2 w3 w4 w5 w6 w7",                 # 6
        "a1 a2 a3",
    ]
    d = make_docs(spark, texts)
    blocked = ngram_jaccard_pairs(d, ngram=2, threshold=0.25, size_blocking=True)
    full = ngram_jaccard_pairs(d, ngram=2, threshold=0.25, size_blocking=False)
    assert (
        {(r["id_a"], r["id_b"]) for r in blocked.collect()}
        == {(r["id_a"], r["id_b"]) for r in full.collect()}
    )


# ---- token hash portability -------------------------------------------------

def test_token_hash_matches_python(spark):
    from mirrorofmapgraph_spark.functions.hashing import token_hash

    words = ["hello", "spark", "a", "xyzzy"]
    df = spark.createDataFrame([(w,) for w in words], "t string")
    got = {r["t"]: r["h"] for r in df.select("t", token_hash(F.col("t")).alias("h")).collect()}
    for w in words:
        assert got[w] == token_hash_py(w)


def test_vectorized_hash_kernels_match_jvm_formulations(spark):
    """The Arrow/numpy kernels (gram_hashes, minhash_signature, simhash32)
    must be bit-identical to the interpreted JVM folds they replaced —
    including unicode, null elements/arrays, empty grams and an empty gram
    at a batch tail (the reduceat boundary case)."""
    from mirrorofmapgraph_spark.functions import hashing as H

    gram_cases = [
        (1, ["a", "b c", "hello world foo", ""]),  # trailing empty gram
        (2, []),
        (3, None),
        (4, ["é", "你好 世界", "\U0001F600 xyz"]),  # BMP/CJK/non-BMP
        (5, [None, "a", None]),
        (6, ["x" * 5000]),
        (7, ["", "", ""]),
        (8, ["abc", ""]),  # trailing empty at the batch tail
    ]
    df = spark.createDataFrame(gram_cases, "id int, grams array<string>")
    rows = df.select(
        "id",
        H.gram_hashes(F.col("grams")).alias("new_h"),
        F.transform(F.col("grams"), lambda g: H.token_hash(g)).alias("old_h"),
    ).collect()
    for r in rows:
        assert r["new_h"] == r["old_h"], f"gram_hashes case {r['id']}"

    def old_sig(col, num_perm, seed=1):
        def perm_fn(a, b):
            return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(H.MERSENNE31)

        sigs = [
            F.array_min(F.transform(col, perm_fn(a, b)))
            for a, b in H.perm_params(num_perm, seed)
        ]
        return F.array(*[F.coalesce(s, F.lit(H.MERSENNE31)) for s in sigs])

    def old_simhash(col):
        def contrib_fn(k):
            return lambda acc, h: acc + F.when(
                F.shiftright(h, k).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))

        bits = []
        for k in range(32):
            contrib = F.aggregate(col, F.lit(0).cast("long"), contrib_fn(k))
            bits.append(
                F.when(contrib > 0, F.lit(1 << k).cast("long")).otherwise(F.lit(0))
            )
        out = bits[0]
        for b in bits[1:]:
            out = out + b
        return out

    hash_cases = [
        (1, [5, 17, 999999, 0]),
        (2, []),
        (3, None),
        (4, [2**31 - 2]),
        (5, list(range(1, 400))),
        (6, [H.MERSENNE31 - 1] * 3),
        (7, []),  # empty at the batch tail
    ]
    dh = spark.createDataFrame(hash_cases, "id int, hs array<long>")
    rows = dh.select(
        "id",
        H.minhash_signature(F.col("hs"), 32).alias("new_s"),
        old_sig(F.col("hs"), 32).alias("old_s"),
        H.simhash32(F.col("hs")).alias("new_f"),
        old_simhash(F.col("hs")).alias("old_f"),
    ).collect()
    for r in rows:
        assert r["new_s"] == r["old_s"], f"minhash case {r['id']}"
        assert r["new_f"] == r["old_f"], f"simhash case {r['id']}"


# ---- similarity ------------------------------------------------------------

def test_brute_force_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["score"]))
    norms = np.linalg.norm(mat, axis=1)
    for q in range(3):
        qv = mat[ids.index(q)]
        scores = mat @ qv / (norms * np.linalg.norm(qv))
        order = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))[:5]
        want = [ids[i] for i in order]
        got_ids = [v for _, v, _ in sorted(by_q[q])]
        assert got_ids == want
        for rank, vid, score in by_q[q]:
            assert abs(score - scores[ids.index(vid)]) < 1e-4


def test_brute_force_topk_caps_the_query_collect(spark, emb, monkeypatch):
    """The query side is collected to the driver and shipped to every
    task, so more than MAX_TOPK_QUERIES queries raise instead of
    collecting them; the cap itself still scores."""
    from mirrorofmapgraph_spark.operators import similarity

    monkeypatch.setattr(similarity, "MAX_TOPK_QUERIES", 3)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="MAX_TOPK_QUERIES=3"):
        brute_force_topk(emb, queries, k=5)
    three = brute_force_topk(emb, queries.filter(F.col("query_id") < 3), k=5)
    assert {r["query_id"] for r in three.collect()} == {0, 1, 2}


def test_lsh_topk_recall(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    approx = lsh_topk(emb, queries, k=5, dim=64, num_planes=12, bands=6)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    # self-match must always be found (identical vector -> identical buckets)
    for q in range(5):
        assert (q, q) in a
    # non-trivial recall on random data
    assert len(e & a) / len(e) > 0.2


def _planted_clusters(spark, n_clusters=20, per_cluster=10, dim=64, noise=0.02, seed=42):
    """Clustered corpus where pairwise within-cluster cosine is ~0.97
    (noise vector norm ~0.16 vs unit centroid) — the regime ANN is
    actually used in (embedding near-dup / retrieval)."""
    rng = np.random.RandomState(seed)
    cents = rng.randn(n_clusters, dim)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = cents[c] + noise * rng.randn(dim)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_lsh_planted_cluster_recall_and_pruning(spark):
    """On clustered data (within-cluster cosine >= ~0.9) the default
    24-plane/4-band LSH must reach recall >= 0.9 vs exact top-5 AND
    actually prune: the candidate set stays under 35% of the corpus."""
    from mirrorofmapgraph_spark.operators.similarity import simhash_buckets

    emb = _planted_clusters(spark)
    n = emb.count()
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    approx = lsh_topk(emb, queries, k=5, dim=64, num_planes=24, bands=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"recall {recall:.3f} < 0.9"
    # pruning: distinct (query, candidate) pairs << full scan
    cb = simhash_buckets(emb, dim=64, num_planes=24, bands=4)
    qb = simhash_buckets(
        queries.withColumnRenamed("query_id", "vec_id"), dim=64, num_planes=24, bands=4
    )
    n_q = queries.count()
    cand = (
        cb.select(F.col("vec_id").alias("c"), "band", "bucket")
        .join(qb.select(F.col("vec_id").alias("q"), "band", "bucket"), ["band", "bucket"])
        .select("q", "c").distinct().count()
    )
    frac = cand / (n * n_q)
    assert frac < 0.35, f"candidate fraction {frac:.3f} — LSH is not pruning"


def test_neardup_planted_recall(spark):
    """near_duplicates_cosine defaults (128 planes / 16 bands, t=0.85)
    recover >= 90% of planted exact-duplicate pairs."""
    emb = _planted_clusters(spark, n_clusters=10, per_cluster=6, noise=0.05)
    dup = emb.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label")
    both = emb.unionByName(dup)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in near_duplicates_cosine(both, dim=64, threshold=0.99).collect()
    }
    n = emb.count()
    found = sum((i, i + 10_000) in pairs for i in range(n))
    assert found / n >= 0.9, f"planted-dup recall {found / n:.2f}"


def test_near_duplicates_cosine(spark, emb):
    # plant an exact duplicate pair
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    both = emb.unionByName(dup)
    pairs = near_duplicates_cosine(both, dim=64, threshold=0.99).collect()
    assert any(r["id_a"] == 0 and r["id_b"] == 10000 for r in pairs)


# ---- text stats -------------------------------------------------------------

def test_text_stats_basics(spark):
    d = make_docs(spark, ["the cat and the hat", "a b c d e f g h", ""])
    rows = {r["doc_id"]: r for r in text_stats(d).collect()}
    assert rows[0]["n_tokens"] == 5
    assert rows[1]["n_tokens"] == 8
    assert rows[2]["n_tokens"] == 0
    assert math.isclose(rows[0]["stopword_ratio"], 3 / 5, abs_tol=1e-6)
    assert math.isclose(rows[1]["mean_word_len"], 1.0, abs_tol=1e-6)
    assert 0.0 <= rows[0]["quality"] <= 1.0


def test_quality_filter(spark):
    from mirrorofmapgraph_spark.operators.textstats import quality_filter

    d = make_docs(
        spark,
        [
            "the cat sat on the mat and then the dog came along to play outside today",
            "!!! ??? ... !!!",  # punct garbage
            "ok",  # too short
        ],
    )
    kept = [r["doc_id"] for r in quality_filter(d, min_quality=0.3, min_tokens=8).collect()]
    assert kept == [0]


def test_fingerprints_order_sensitive(spark):
    d = make_docs(spark, ["alpha beta gamma", "gamma beta alpha", "alpha beta gamma"])
    rows = {r["doc_id"]: r["fingerprint"] for r in fingerprints(d).collect()}
    assert rows[0] == rows[2]
    assert rows[0] != rows[1]


def test_text_stats_on_documents_table(spark, docs):
    st = text_stats(docs)
    assert st.count() == docs.count()
    assert st.filter(F.col("n_tokens") <= 0).count() == 0


# ---- multimodal stubs --------------------------------------------------------

def test_multimodal_image_plumbing(spark):
    assets = synthesize_assets(spark, n=30)
    feats = decode_image(assets, fake=True, feature_dim=8).collect()
    assert len(feats) == 10  # ids % 3 == 0
    for r in feats:
        assert len(r["feature"]) == 8
        assert all(0.0 <= v <= 1.0 for v in r["feature"])
    # determinism
    feats2 = decode_image(synthesize_assets(spark, n=30), fake=True, feature_dim=8).collect()
    assert {r["asset_id"]: r["feature"] for r in feats} == {
        r["asset_id"]: r["feature"] for r in feats2
    }


def test_multimodal_audio_and_frames(spark):
    assets = synthesize_assets(spark, n=30)
    audio = extract_audio_features(assets, fake=True).collect()
    assert len(audio) == 10 and all(r["rms"] > 0 for r in audio)
    frames = sample_frames(assets, every_n_bytes=64, fake=True).collect()
    assert len(frames) == 10 * 4  # 256-byte payloads / 64
    assert all(len(r["frame"]) == 64 for r in frames)


def _ppm(w, h, rgb):
    """Binary P6 payload with a constant (r, g, b) raster."""
    import numpy as np

    raster = np.tile(np.array(rgb, dtype=np.uint8), w * h).tobytes()
    return b"P6\n# comment\n%d %d\n255\n" % (w, h) + raster


def _wav(rate, samples):
    """16-bit mono PCM WAV payload from float samples in [-1, 1]."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes((np.asarray(samples) * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def test_multimodal_real_ppm_decode(spark):
    """Non-fake image path: real P6 parse through the same mapInPandas
    kernel — dimensions come from the decoded header (metadata deliberately
    lies here), features match a local numpy computation."""
    rows = [
        (0, "image", 999, 999, 0, _ppm(4, 2, (255, 0, 0))),   # pure red
        (1, "image", 999, 999, 0, _ppm(3, 3, (0, 128, 255))),
        (2, "audio", 0, 0, 8000, b"ignored"),                  # filtered out
    ]
    assets = spark.createDataFrame(
        rows,
        "asset_id long, kind string, meta_width int, meta_height int, "
        "sample_rate int, payload binary",
    )
    got = {r["asset_id"]: r for r in decode_image(assets, fake=False).collect()}
    assert set(got) == {0, 1}
    assert (got[0]["width"], got[0]["height"]) == (4, 2)  # header, not metadata
    assert (got[1]["width"], got[1]["height"]) == (3, 3)
    f0 = got[0]["feature"]
    # constant red: channel means (1, 0, 0), stds 0, luminance 0.299, edge 0
    assert f0[0] == pytest.approx(1.0) and f0[1] == 0.0 and f0[2] == 0.0
    assert f0[3] == f0[4] == f0[5] == 0.0
    assert f0[6] == pytest.approx(0.299, abs=1e-5) and f0[7] == 0.0
    assert got[1]["feature"][2] == pytest.approx(1.0)  # blue channel mean


def test_multimodal_real_wav_decode(spark):
    """Non-fake audio path: stdlib wave container parse + numpy PCM —
    n_samples/sample_rate from the real header, rms over [-1, 1] samples."""
    import numpy as np

    t = np.arange(800) / 8000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    rows = [
        (0, "audio", 0, 0, 0, _wav(8000, sine)),
        (1, "audio", 0, 0, 0, _wav(16000, np.zeros(100))),
    ]
    assets = spark.createDataFrame(
        rows,
        "asset_id long, kind string, meta_width int, meta_height int, "
        "sample_rate int, payload binary",
    )
    got = {r["asset_id"]: r for r in extract_audio_features(assets, fake=False).collect()}
    assert got[0]["n_samples"] == 800 and got[0]["sample_rate"] == 8000
    # rms of a 0.5-amplitude sine = 0.5 / sqrt(2)
    assert got[0]["rms"] == pytest.approx(0.5 / np.sqrt(2), rel=1e-3)
    assert got[1]["n_samples"] == 100 and got[1]["sample_rate"] == 16000
    assert got[1]["rms"] == 0.0


def test_multimodal_malformed_payloads_fail_loudly():
    """Codec-free decoders reject garbage with a clear error (the loud-
    failure convention of sources/mtx.py) — unit level, no Spark."""
    from mirrorofmapgraph_spark.operators.multimodal import _decode_ppm, _decode_wav

    with pytest.raises(ValueError, match="P6"):
        _decode_ppm(b"JFIF....")
    with pytest.raises(ValueError, match="truncated"):
        _decode_ppm(b"P6\n4 4\n255\n\x00\x00")  # raster too short
    with pytest.raises(Exception):  # wave rejects a non-RIFF container
        _decode_wav(b"not a riff chunk")


def _y4m(w, h, lumas, colorspace=b"C420jpeg"):
    """YUV4MPEG2 payload: header + per-frame luma plane (+ flat chroma)."""
    chroma = bytes((w // 2) * (h // 2)) * 2
    body = b"".join(b"FRAME\n" + luma + chroma for luma in lumas)
    return b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 %s\n" % (w, h, colorspace) + body


def test_multimodal_real_y4m_frame_sampling(spark):
    """Non-fake video path: YUV4MPEG2 container parse through the same
    mapInPandas kernel — every_n_frames sampling keeps SOURCE frame
    indices, and each emitted frame is the decoded raw luma plane."""
    lumas = [bytes([i] * 8) for i in range(5)]  # 4x2, 5 frames
    rows = [
        (0, "video", 0, 0, 0, _y4m(4, 2, lumas)),
        (1, "image", 0, 0, 0, b"filtered out"),
    ]
    assets = spark.createDataFrame(
        rows,
        "asset_id long, kind string, meta_width int, meta_height int, "
        "sample_rate int, payload binary",
    )
    got = sorted(
        sample_frames(assets, every_n_frames=2, fake=False).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["frame_idx"] for r in got] == [0, 2, 4]  # source indices
    assert [bytes(r["frame"]) for r in got] == [lumas[0], lumas[2], lumas[4]]


def test_multimodal_y4m_malformed_fails_loudly():
    from mirrorofmapgraph_spark.operators.multimodal import _decode_y4m

    with pytest.raises(ValueError, match="YUV4MPEG2"):
        _decode_y4m(b"RIFF....")
    with pytest.raises(ValueError, match="truncated"):
        _decode_y4m(b"YUV4MPEG2 W4 H2 C420\nFRAME\n\x00\x00")
    with pytest.raises(ValueError, match="FRAME marker"):
        _decode_y4m(b"YUV4MPEG2 W2 H2 C420\nJUNK\n" + bytes(6))
    with pytest.raises(ValueError, match="colorspace"):
        _decode_y4m(b"YUV4MPEG2 W2 H2 C999\nFRAME\n" + bytes(12))


# ---- grouped-star hot-bucket fallback (round-3 ADVICE fix) -----------------

def test_blocked_candidates_grouped_star(spark):
    """An oversized bucket holding TWO distinct fingerprint groups must
    keep each group fully connected through its own rep (within-group
    stars) and connect the groups rep-to-rep — so a duplicate cluster
    whose similarity to the bucket's global rep is below a downstream
    threshold no longer loses all its pairs."""
    from mirrorofmapgraph_spark.operators.dedup import blocked_candidate_pairs

    rows = [(i, 0, 0, 1 if i < 150 else 2) for i in range(300)]
    keyed = spark.createDataFrame(rows, "id long, band int, bucket long, _g long")
    got = {(r["id_a"], r["id_b"]) for r in
           blocked_candidate_pairs(keyed, max_bucket=64).collect()}
    want = {(0, i) for i in range(1, 150)}          # group-1 star (rep 0)
    want |= {(150, i) for i in range(151, 300)}     # group-2 star (rep 150)
    want |= {(0, 150)}                              # cross-group rep pair
    assert got == want


def test_blocked_candidates_small_bucket_clique(spark):
    from mirrorofmapgraph_spark.operators.dedup import blocked_candidate_pairs

    rows = [(i, 0, 0, i) for i in range(5)]  # all different groups, small
    keyed = spark.createDataFrame(rows, "id long, band int, bucket long, _g long")
    got = blocked_candidate_pairs(keyed, max_bucket=64).collect()
    assert len(got) == 10  # full C(5,2) clique


def test_simhash_band_layout_adapts_and_validates():
    from mirrorofmapgraph_spark.operators.dedup import simhash_band_layout

    assert simhash_band_layout(0) == [(0, 32)]
    assert simhash_band_layout(3) == [(0, 8), (8, 8), (16, 8), (24, 8)]
    lay = simhash_band_layout(8)
    assert len(lay) == 9 and sum(w for _, w in lay) == 32
    with pytest.raises(ValueError):
        simhash_band_layout(32)
    with pytest.raises(ValueError):
        simhash_band_layout(-1)


def test_candidate_verify_composition_superset(spark):
    """The composed pipeline (minhash_candidates -> verify_pairs) must find
    every pair the standalone exact operator finds on a corpus with true
    near-dups — i.e. LSH recall at the entry parameters covers the
    threshold band (deterministic: fixed texts, fixed seed)."""
    from mirrorofmapgraph_spark.operators.dedup import minhash_candidates, verify_pairs

    import random as _random

    rng = _random.Random(42)
    vocab = [f"word{i}" for i in range(200)]
    texts = []
    for i in range(12):  # 12 base docs + a high-jaccard variant of each
        base = [rng.choice(vocab) for _ in range(40)]
        var = list(base)
        for j in rng.sample(range(40), 3):  # 3-token edit -> jaccard ~0.8
            var[j] = rng.choice(vocab)
        texts.append(" ".join(base))
        texts.append(" ".join(var))
    texts += [" ".join(rng.choice(vocab) for _ in range(40)) for _ in range(20)]
    d = make_docs(spark, texts)

    threshold, ngram = 0.5, 3
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(d, ngram=ngram, threshold=threshold).collect()
    }
    assert len(exact) >= 10  # the fixture really contains near-dup pairs
    cand = minhash_candidates(d, num_perm=16, bands=8, ngram=ngram, seed=1,
                              max_bucket=64)
    composed = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in verify_pairs(d, cand, ngram=ngram, threshold=threshold).collect()
    }
    # verify is exact, so composed <= exact values-wise; recall check is
    # the real assertion: every exact pair must be recovered
    assert set(composed) == set(exact)
    assert composed == exact


def test_ivf_planted_cluster_recall_and_pruning(spark):
    """IVF-Flat on clustered data: queries and their true neighbors share
    a coarse cell (within-cluster cosine ~0.97), so recall vs exact top-5
    must be high while only ~nprobe/nlist of the corpus is scored."""
    from mirrorofmapgraph_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    emb = _planted_clusters(spark)
    queries = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, nlist=16, nprobe=4)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"IVF recall {recall}"
    # pruning: candidate volume bounded by the probed cells' population
    cents = ivf_centroids(emb, nlist=16)
    sizes = {r["cent_id"]: r["n"] for r in
             ivf_assign(emb, cents).groupBy("cent_id").agg(
                 F.count("*").alias("n")).collect()}
    assert sum(sizes.values()) == emb.count()  # partition of the corpus
    assert max(sizes.values()) < emb.count()   # more than one real cell


def test_ivf_lloyd_refinement_runs_and_keeps_recall(spark):
    """lloyd_iters > 0 (spherical k-means refinement) stays deterministic
    and does not hurt recall on clustered data."""
    from mirrorofmapgraph_spark.operators.similarity import ivf_topk

    emb = _planted_clusters(spark)
    queries = emb.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    refined = ivf_topk(emb, queries, k=5, nlist=16, nprobe=4, lloyd_iters=2)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in refined.collect()}
    assert len(e & a) / len(e) >= 0.9
    # determinism: same call -> identical rows
    again = ivf_topk(emb, queries, k=5, nlist=16, nprobe=4, lloyd_iters=2)
    assert sorted(map(tuple, refined.collect())) == sorted(map(tuple, again.collect()))


def test_ivf_lloyd_keeps_empty_cells(spark):
    """A Lloyd iteration must keep nlist stable even when a centroid's cell
    goes empty (the previous vector is retained, not silently dropped) —
    nlist can bound nprobe, so shrinkage would corrupt probing."""
    from mirrorofmapgraph_spark.operators.similarity import ivf_centroids

    emb = _planted_clusters(spark)
    # nlist far above the true cluster count: many seed cells collapse to
    # empty after one assignment pass
    cents = ivf_centroids(emb, nlist=48, lloyd_iters=2)
    rows = cents.collect()
    assert len(rows) == 48
    assert sorted(r["cent_id"] for r in rows) == list(range(1, 49))
    assert all(r["cvec"] is not None and len(r["cvec"]) > 0 for r in rows)


def test_ivf_lloyd_releases_superseded_generations(spark, stored_rdds):
    """ivf_centroids unpersists its seeds and releases every Lloyd
    generation but the one it returns: 3 iterations leave as many stored
    RDDs as 1."""
    from mirrorofmapgraph_spark.operators.similarity import ivf_centroids

    emb = _planted_clusters(spark, per_cluster=20)
    left = []
    for iters in (1, 3):
        before = stored_rdds()
        assert ivf_centroids(emb, nlist=8, lloyd_iters=iters).count() == 8
        left.append(len(stored_rdds() - before))
    assert left[1] == left[0], f"Lloyd loop leaked: {left} stored RDDs"


# ---- deterministic sampling ---------------------------------------------------

def _affine_ref(key, seed=1):
    from mirrorofmapgraph_spark.functions.hashing import MERSENNE31, perm_params

    a, b = perm_params(1, seed)[0]
    return ((key % MERSENNE31) * a + b) % MERSENNE31


def test_stratified_sample_matches_ref_and_nests(spark):
    import math

    from mirrorofmapgraph_spark.functions.hashing import MERSENNE31
    from mirrorofmapgraph_spark.operators.sampling import stratified_sample

    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.5, "de": 0.25}
    got = {
        r["doc_id"]
        for r in stratified_sample(
            df, "doc_id", rates, stratum="lang", default_rate=0.1, seed=1
        ).collect()
    }
    exp = {
        i for i, lang in rows
        if _affine_ref(i) < math.floor(rates.get(lang, 0.1) * float(MERSENNE31))
    }
    assert got == exp
    # nesting: halving every rate yields a subset (same hash, lower cut)
    half = {
        r["doc_id"]
        for r in stratified_sample(
            df, "doc_id", {k: v / 2 for k, v in rates.items()},
            stratum="lang", default_rate=0.05, seed=1,
        ).collect()
    }
    assert half <= got


def test_stratified_sample_rate_bounds(spark):
    import pytest as _pytest

    from mirrorofmapgraph_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
    with _pytest.raises(ValueError):
        stratified_sample(df, "doc_id", {"en": 1.5}, stratum="lang")


def test_reservoir_per_key_exact_quota_and_deterministic(spark):
    from mirrorofmapgraph_spark.operators.sampling import reservoir_per_key

    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(90)] + [(1000, "zz")]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = reservoir_per_key(df, "doc_id", 4, stratum="lang", seed=1).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append((r["rk"], r["doc_id"]))
    assert {k: len(v) for k, v in by_lang.items()} == {
        "en": 4, "de": 4, "fr": 4, "zz": 1,  # min(k, stratum size)
    }
    # mirror: rank by (hash, id) within each stratum
    for lang, members in by_lang.items():
        pool = sorted(
            (i for i, lg in rows if lg == lang),
            key=lambda i: (_affine_ref(i), i),
        )
        assert sorted(members) == [(j + 1, pool[j]) for j in range(len(members))]
    # repartition the input differently -> identical result
    again = reservoir_per_key(
        df.repartition(7), "doc_id", 4, stratum="lang", seed=1
    ).collect()
    assert sorted((r["lang"], r["rk"], r["doc_id"]) for r in again) == sorted(
        (r["lang"], r["rk"], r["doc_id"]) for r in got
    )
