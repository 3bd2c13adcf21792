"""Tests for the beyond-reference training-data operators: dedup,
similarity search, text analysis, multimodal plumbing.

Style: construct small inputs with KNOWN near-dup/similarity structure
and assert the operators find exactly it (plus numpy oracles for the
numeric paths)."""

from __future__ import annotations

import json
import math
import os
import signal
import subprocess
import sys
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from gratum_spark.operators import dedup, multimodal, similarity, text

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden trees"
)
NEAR = BASE.replace("warm", "cold")  # one word differs => high jaccard
FAR = (
    "completely different content about spark query engines and columnar "
    "execution with vectorized operators running on large clusters today"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, NEAR),
        (2, FAR),
        (3, BASE),  # exact duplicate of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    kept = dedup.exact_dedup(docs, ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2]

    kept2, rejected = dedup.exact_dedup_rejects(docs, ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in kept2.collect()) == [0, 1, 2]
    assert [r["doc_id"] for r in rejected.collect()] == [3]


def test_minhash_lsh_pairs(docs):
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    # identical docs 0/3 always pair; near-dup 0-1 and 1-3 at jaccard ~0.9
    assert (0, 3) in got
    assert (0, 1) in got and (1, 3) in got
    assert not any(2 in p for p in got)
    est = {(r["a"], r["b"]): r["est_jaccard"] for r in pairs.collect()}
    assert est[(0, 3)] == 1.0


def test_simhash_pairs(docs):
    pairs = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=10)
    got = {(r["a"], r["b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((0, 3)) == 0  # identical => hamming 0
    assert (0, 1) in got  # near-dup within 10 bits
    assert not any(2 in p for p in got)


def test_ngram_jaccard_exact_value(docs, spark):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.3)
    got = {(r["a"], r["b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 3)] == 1.0

    # python oracle for the 0-1 pair
    def sh(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    a, b = sh(BASE), sh(NEAR)
    expected = len(a & b) / len(a | b)
    assert got[(0, 1)] == pytest.approx(expected)


def test_embedding_cosine_pairs(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(16)
    near = base + rng.randn(16) * 0.01
    far = rng.randn(16)
    rows = [
        (0, [float(x) for x in base]),
        (1, [float(x) for x in near]),
        (2, [float(x) for x in far]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = dedup.embedding_cosine_pairs(df, "vec_id", "embedding", threshold=0.99, n_planes=4)
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    assert got == {(0, 1)}


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(11)
    vecs = rng.randn(50, 8).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]

    top = similarity.cosine_topk(df, q, k=5).collect()
    got_ids = [r["vec_id"] for r in top]

    qv = np.asarray(q, dtype=np.float64)
    m = vecs.astype(np.float64)
    cos = (m @ qv) / (np.linalg.norm(m, axis=1) * np.linalg.norm(qv))
    expect_ids = list(np.argsort(-cos)[:5])
    assert got_ids == expect_ids
    for r in top:
        assert r["cosine"] == pytest.approx(cos[r["vec_id"]], abs=1e-9)


def test_cosine_topk_many(spark):
    rng = np.random.RandomState(3)
    vecs = rng.randn(30, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(100, [float(x) for x in vecs[5]]), (200, [float(x) for x in vecs[9]])],
        "query_id long, embedding array<float>",
    )
    out = similarity.cosine_topk_many(df, queries, k=1).collect()
    best = {r["qid"]: r["vec_id"] for r in out}
    # each query vector's own row is its top-1 (cosine 1.0)
    assert best == {100: 5, 200: 9}


def test_ivf_topk_recall(spark):
    rng = np.random.RandomState(5)
    vecs = rng.randn(200, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    ).cache()
    q = [float(x) for x in vecs[42]]
    assignments, centroids = similarity.ivf_build(df, n_lists=4, n_iters=2)
    approx = similarity.ivf_topk(df, assignments, centroids, q, k=5, n_probe=2)
    ids = [r["vec_id"] for r in approx.collect()]
    # the query's own vector must be found (it lives in a probed list)
    assert 42 in ids
    assert len(ids) == 5


def test_ivf_probe_metric_matches_assignment(spark):
    """Metric consistency (r8): the probe must rank lists by the SAME
    inner-product metric _assign uses to build them, so an indexed
    vector's own list is always the #1 probed list and self-retrieval
    holds at n_probe=1 — the invariant the ann_ivf_planted driver
    oracle relies on. Adversarial centroid norms would break a
    cosine-ranked probe here; pin the aligned behavior. (n_probe=1 is
    the strict form: it additionally assumes the driver-side gemv and
    executor-side gemm agree on the argmax, which random gaussian data
    satisfies — centroid dots here are never last-ulp near-ties; the
    driver oracle itself probes 3 lists to absorb that case.)"""
    rng = np.random.RandomState(11)
    vecs = rng.randn(120, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    ).cache()
    assignments, centroids = similarity.ivf_build(df, n_lists=4, n_iters=2)
    assigned = {r["vec_id"]: r["list_id"] for r in assignments.collect()}
    for qid in (0, 17, 63, 99):
        top1 = similarity.ivf_topk(
            df, assignments, centroids,
            [float(x) for x in vecs[qid]], k=1, n_probe=1,
        ).collect()
        # n_probe=1 probes exactly the query's own cell -> self at rank 1
        assert [r["vec_id"] for r in top1] == [qid], (qid, assigned[qid])


def test_ivf_topk_empty_index_returns_empty(spark):
    """An empty centroid table (empty/fully-filtered corpus) must yield
    an empty top-k, not a numpy shape error in the probe ranking (r8
    review regression guard)."""
    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    empty_assign = spark.createDataFrame([], "vec_id long, list_id long")
    empty_cents = spark.createDataFrame([], "list_id long, centroid array<double>")
    out = similarity.ivf_topk(df, empty_assign, empty_cents, [1.0, 0.0], k=5, n_probe=2)
    assert out.count() == 0
    # batched variant: a non-empty query set against the empty index must
    # also degrade to an empty top-k (r9 advice — the guard was ivf_topk-only)
    qdf = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "query_id long, embedding array<float>"
    )
    out_many = similarity.ivf_topk_many(
        df, empty_assign, empty_cents, qdf, k=5, n_probe=2
    )
    assert out_many.columns == ["qid", "vec_id", "cosine"]
    assert out_many.count() == 0


def test_text_analysis(spark):
    df = spark.createDataFrame(
        [(0, "the cat and the hat"), (1, "one 2 three")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.apply_text_analysis(df, "doc_id", "text").collect()}
    assert out[0]["ws_tokens"] == 5
    assert out[0]["n_words"] == 5
    # bpe-ish: alpha runs + digit runs + other chars
    assert out[1]["bpe_tokens"] == 3
    assert out[0]["fingerprint"] == out[0]["fingerprint"]  # deterministic
    assert out[0]["pred_lang"] is not None


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(0, "Hello   World"), (1, "  hello world ")], "doc_id long, text string"
    )
    fps = [r[0] for r in df.select(text.fingerprint("text")).collect()]
    assert fps[0] == fps[1]


def test_multimodal_fake_decode(spark):
    df = spark.createDataFrame([(0, "abcd"), (1, "x" * 300)], "doc_id long, text string")
    with_bin = multimodal.attach_binary(df, "text")
    feats = {r["doc_id"]: r for r in multimodal.extract_image_features(
        with_bin, fake=True).collect()}
    assert feats[0]["n_bytes"] == 4
    assert feats[0]["width"] == 16 + 4 % 64
    # mean intensity of 'abcd' = mean(97..100)/255
    assert feats[0]["mean_intensity"] == pytest.approx(98.5 / 255.0)
    # >256-byte payload: mean over first 256 bytes only
    assert feats[1]["mean_intensity"] == pytest.approx(ord("x") / 255.0)


def test_multimodal_real_decode_gated(spark):
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present — gate not exercised")
    except ImportError:
        pass
    df = spark.createDataFrame([(0, "abcd")], "doc_id long, text string")
    with_bin = multimodal.attach_binary(df, "text")
    with pytest.raises(Exception) as ei:
        multimodal.extract_image_features(with_bin, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_media_metadata(spark):
    df = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
    out = multimodal.media_metadata(
        multimodal.attach_binary(df, "text"), "payload"
    ).collect()[0]["media_meta"]
    assert out["n_bytes"] == 3
    assert out["media_type"] == "image"
    import hashlib

    assert out["checksum"] == hashlib.md5(b"abc").hexdigest()


def test_sample_video_frames(spark):
    df = spark.createDataFrame([(0, "a" * 70)], "doc_id long, text string")
    with_bin = multimodal.attach_binary(df, "text")
    frames = multimodal.sample_video_frames(with_bin, every_n=30, fake=True).collect()
    assert [r["frame_no"] for r in frames] == [0, 1, 2]
    assert [len(bytes(r["frame"])) for r in frames] == [30, 30, 10]


def test_connected_components_chain_and_islands(spark):
    # two chains (0-1-2-3-4, 10-11-12) + an isolated edge (20,21):
    # a chain forces multi-round min-label propagation end to end
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (11, 10), (11, 12), (20, 21)],
        "a long, b long",
    )
    comp = {
        r["node"]: r["comp"]
        for r in dedup.connected_components(edges, "a", "b").collect()
    }
    assert comp == {
        0: 0, 1: 0, 2: 0, 3: 0, 4: 0,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_merges_rings(spark):
    # a cycle plus a bridge between two clusters
    edges = spark.createDataFrame(
        [(5, 6), (6, 7), (7, 5), (3, 4), (4, 5)], "a long, b long"
    )
    comp = {
        r["node"]: r["comp"]
        for r in dedup.connected_components(edges, "a", "b").collect()
    }
    assert set(comp.values()) == {3} and len(comp) == 5


def test_hash_split_deterministic_and_near_frac(spark):
    from gratum_spark.operators import sampling

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    s1 = sampling.hash_split(df, "k", 0.8)
    s2 = sampling.hash_split(df, "k", 0.8)
    counts = dict(
        (r["split"], r["n"])
        for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()
    )
    assert abs(counts["train"] / 5000 - 0.8) < 0.02
    # identical draw on re-run (no rand() anywhere)
    assert s1.exceptAll(s2).count() == 0
    # a different salt draws an independent split
    s3 = sampling.hash_split(df, "k", 0.8, salt="v2")
    assert s1.exceptAll(s3).count() > 0


def test_stratified_sample_caps_strata(spark):
    from gratum_spark.operators import sampling

    rows = [(i, "en" if i % 10 else "fr") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, lang string")
    out = sampling.stratified_sample(df, "lang", {"en": 0.1}, "k")
    n_en = out.filter("lang = 'en'").count()
    n_fr = out.filter("lang = 'fr'").count()
    assert n_fr == 200          # untouched stratum kept whole
    assert abs(n_en / 1800 - 0.1) < 0.03
    # deterministic
    assert out.exceptAll(sampling.stratified_sample(df, "lang", {"en": 0.1}, "k")).count() == 0


def test_minhash_estimate_tracks_true_jaccard(spark):
    """On crafted docs with known shingle overlap, the minhash estimate
    must land within banding tolerance of the true Jaccard."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy")  # high overlap
    far = "completely different words in this unrelated document " * 5
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "id long, text string"
    )
    # one split: the operator's fan-out path runs
    pairs = {
        (r["a"], r["b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(df.coalesce(1), "id", "text", threshold=0.0).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_hash_split_frac_one_keeps_all(spark):
    from gratum_spark.operators import sampling

    df = spark.range(500).withColumnRenamed("id", "k")
    s = sampling.hash_split(df, "k", train_frac=1.0)
    assert s.filter("split = 'train'").count() == 500
    assert sampling.hash_split(df, "k", train_frac=0.0).filter("split = 'train'").count() == 0


def test_stratified_sample_frac_one_keeps_stratum_whole(spark):
    from gratum_spark.operators import sampling
    from pyspark.sql import functions as F

    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
    )
    out = sampling.stratified_sample(df, "lang", {"en": 1.0, "fr": 0.0}, "k")
    assert out.filter("lang = 'en'").count() == 200
    assert out.filter("lang = 'fr'").count() == 0


def test_shingles_short_docs_yield_empty(spark):
    from pyspark.sql import functions as F

    from gratum_spark.functions import shingles_of_words, words

    df = spark.createDataFrame([("a b",), ("one two three four",), ("",)], "t string")
    out = [r["s"] for r in df.select(shingles_of_words(words(F.col("t")), 3).alias("s")).collect()]
    assert out[0] == [] and out[2] == []
    assert out[1] == ["one two three", "two three four"]


def test_redact_pii_patterns(spark):
    from pyspark.sql import functions as F

    from gratum_spark.operators import text

    df = spark.createDataFrame(
        [("write bob.smith+x@corp.example.org from 10.0.0.1 ssn 123-45-6789 tel +1 (555) 123-4567 ok",)],
        "t string",
    )
    got = df.select(text.redact_pii("t").alias("r")).first()["r"]
    assert got == "write <EMAIL> from <IP> ssn <SSN> tel <PHONE> ok"


def test_ngram_overlap_counts(spark):
    from gratum_spark.operators import text

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "totally different words here now"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(9, "a quick brown fox appears")], "doc_id long, text string")
    out = {r["doc_id"]: r["n_contaminated"] for r in text.ngram_overlap(docs, ev, n=3).collect()}
    # doc 1 shares 'quick brown fox' with the eval doc; doc 2 shares nothing
    assert out == {1: 1}


def test_repetition_signals(spark):
    from gratum_spark.operators import text

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.repetition_signals(docs).collect()}
    assert out[1]["n_words"] == 4 and out[1]["distinct_words"] == 1
    assert out[1]["dup_word_frac"] == 0.75 and out[1]["top_word_frac"] == 1.0
    assert out[2]["dup_word_frac"] == 0.0 and out[2]["top_word_frac"] == 0.25


def test_audio_features_fake_and_gate(spark):
    from gratum_spark.operators import multimodal

    docs = spark.createDataFrame([(1, "abcd")], "doc_id long, text string")
    with_bin = multimodal.attach_binary(docs, "text")
    out = multimodal.extract_audio_features(with_bin, fake=True).first()
    assert out["n_samples"] == 16 and out["sample_rate"] == 16000
    assert out["duration_sec"] == 16 / 16000.0

    try:
        import soundfile  # noqa: F401
    except ImportError:
        import pytest as _pytest

        with _pytest.raises(Exception, match="soundfile|NotImplemented"):
            multimodal.extract_audio_features(with_bin, fake=False).collect()


def test_minhash_verified_equals_exact(spark):
    from pyspark.sql import functions as F

    from gratum_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely unrelated words in this one text")],
        "doc_id long, text string",
    )
    verified = {
        (r["a"], r["b"]) for r in dedup.minhash_verified_pairs(docs, "doc_id", "text").collect()
    }
    exact = {
        (r["a"], r["b"])
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5).collect()
    }
    assert verified == exact == {(1, 2)}
    # verified jaccard is the EXACT value, not the estimate
    j = dedup.minhash_verified_pairs(docs, "doc_id", "text").first()["jaccard"]
    je = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5).first()["jaccard"]
    assert j == je


def test_quantize_and_normalize_embeddings(spark):
    import math

    from gratum_spark.operators import similarity

    emb = spark.createDataFrame(
        [(1, [3.0, -4.0]), (2, [0.0, 0.0]), (3, [1.27, 0.0])],
        "vec_id long, embedding array<double>",
    )
    q = {r["vec_id"]: r for r in similarity.quantize_embeddings(emb).collect()}
    assert q[1]["q"] == [95, -127] and abs(q[1]["scale"] - 4.0 / 127) < 1e-12
    assert q[2]["q"] == [0, 0] and q[2]["scale"] == 1.0  # zero vector guarded
    assert q[3]["q"] == [127, 0]

    n = {r["vec_id"]: r["embedding"] for r in similarity.normalize_embeddings(emb).collect()}
    assert abs(n[1][0] - 0.6) < 1e-9 and abs(n[1][1] + 0.8) < 1e-9
    assert abs(math.hypot(*n[3]) - 1.0) < 1e-9


def test_normalize_zero_vector_stays_zero(spark):
    from gratum_spark.operators import similarity

    emb = spark.createDataFrame([(1, [0.0, 0.0])], "vec_id long, embedding array<double>")
    assert similarity.normalize_embeddings(emb).first()["embedding"] == [0.0, 0.0]


def test_quota_sample_deterministic_cap(spark):
    from gratum_spark.operators import sampling

    rows = [(i, "big" if i < 50 else "small") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = sampling.quota_sample(df, "source", 5, "doc_id")
    by_src = {r["source"]: 0 for r in kept.collect()}
    for r in kept.collect():
        by_src[r["source"]] += 1
    assert by_src == {"big": 5, "small": 5}  # both groups capped at the quota
    # re-run: identical keep set (md5 ranking, not rand())
    a = {r["doc_id"] for r in kept.collect()}
    b = {r["doc_id"] for r in sampling.quota_sample(df, "source", 5, "doc_id").collect()}
    assert a == b
    # different salt draws a different (still size-5) sample of "big"
    c = {r["doc_id"] for r in sampling.quota_sample(df, "source", 5, "doc_id", salt="x").collect()}
    assert len(c) == 10 and c != a


def test_chunk_dedup_first_seen_wins(spark):
    from gratum_spark.operators import dedup

    shared = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, shared + " unique1 a b c d e f g h i"),
         (2, shared + " other words here that differ x y z w q")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in dedup.chunk_dedup_stats(docs, "doc_id", "text").collect()}
    # both docs have 2 chunks; doc 1 owns the shared first chunk
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["kept_frac"] == 0.5


def test_tfidf_top_terms(spark):
    from gratum_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [(1, "apple apple banana common common"),
         (2, "cherry cherry cherry common common"),
         (3, "banana date common common common")],
        "doc_id long, text string",
    )
    out = text_ops.tfidf_top_terms(docs, "doc_id", "text", k=1).collect()
    top = {r["id"]: r["term"] for r in out}
    # "common" appears in every doc -> idf ln(4/4)=0 -> never top
    assert top == {1: "apple", 2: "cherry", 3: "date"}
    ranks = {r["id"]: r["rank"] for r in out}
    assert set(ranks.values()) == {1}


def test_chunk_words_overlap_and_tail(spark):
    """chunk_words: overlapping windows advance by stride, cover every
    word, and the tail chunk may be short; a doc shorter than one window
    yields exactly one chunk."""
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 words
            (2, "a b c"),                               # shorter than size
        ],
        "doc_id long, text string",
    )
    out = text.chunk_words(docs, "doc_id", "text", size=4, stride=2)
    rows = {(r["id"], r["chunk_id"]): r for r in out.collect()}
    # doc 1: n_chunks = 1 + ceil((10-4)/2) = 4, starts 0,2,4,6
    d1 = sorted(k[1] for k in rows if k[0] == 1)
    assert d1 == [0, 1, 2, 3]
    assert rows[(1, 0)]["chunk_text"] == "w0 w1 w2 w3"
    assert rows[(1, 1)]["chunk_text"] == "w2 w3 w4 w5"  # overlap of 2
    assert rows[(1, 3)]["chunk_text"] == "w6 w7 w8 w9"
    assert all(rows[(1, i)]["n_words"] == 4 for i in range(4))
    # doc 2: single short chunk
    assert sorted(k[1] for k in rows if k[0] == 2) == [0]
    assert rows[(2, 0)]["chunk_text"] == "a b c" and rows[(2, 0)]["n_words"] == 3
    # tail shorter than size: 9 words, size 4, stride 2 -> last covers 6..8
    docs9 = spark.createDataFrame(
        [(3, " ".join(f"x{i}" for i in range(9)))], "doc_id long, text string"
    )
    out9 = {r["chunk_id"]: r for r in text.chunk_words(docs9, "doc_id", "text", 4, 2).collect()}
    assert out9[3]["chunk_text"] == "x6 x7 x8" and out9[3]["n_words"] == 3


def test_chunk_words_disjoint_covers_all_words(spark):
    """stride == size gives disjoint C4-style blocks whose word counts
    sum to the document length."""
    docs = spark.createDataFrame(
        [(7, " ".join(str(i) for i in range(23)))], "doc_id long, text string"
    )
    out = text.chunk_words(docs, "doc_id", "text", size=5, stride=5)
    rows = out.collect()
    assert sum(r["n_words"] for r in rows) == 23
    assert len(rows) == 5  # 4 full + 1 tail of 3


def test_global_prefix_sum_matches_sequential(spark):
    # distributed prefix sum (range shuffle + totals broadcast) must
    # equal the sequential running sum for any weights, across many
    # partitions (small rows over default partitioning forces multiple
    # range partitions)
    from gratum_spark.operators.packing import global_prefix_sum

    import random as _random

    rng = _random.Random(42)
    weights = [rng.randint(0, 9) for _ in range(500)]
    rows = [{"i": i, "w": w} for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "i long, w long")
    out = {r["i"]: r["offset"] for r in global_prefix_sum(df, "i", "w").collect()}
    acc = 0
    for i, w in enumerate(weights):
        assert out[i] == acc, f"row {i}: got {out[i]} want {acc}"
        acc += w


def test_pack_sequences_offset_assignment(spark):
    from gratum_spark.operators.packing import pack_sequences

    # docs of 3 tokens each, capacity 5: offsets 0,3,6,9,12 ->
    # packs 0,0,1,1,2; pack_offset = offset % 5
    rows = [{"i": i, "n": 3} for i in range(5)]
    df = spark.createDataFrame(rows, "i long, n long")
    got = {r["i"]: (r["pack_id"], r["pack_offset"])
           for r in pack_sequences(df, "i", "n", capacity=5).collect()}
    assert got == {0: (0, 0), 1: (0, 3), 2: (1, 1), 3: (1, 4), 4: (2, 2)}

    with pytest.raises(ValueError):
        pack_sequences(df, "i", "n", capacity=0)


def test_minhash_verified_pairs_cross_incremental(spark):
    # new batch vs corpus: the new doc that duplicates a corpus doc pairs
    # at jaccard 1.0; the near-dup pairs high; unrelated docs don't pair;
    # corpus-internal duplicates (10/11) must NOT appear (that's the
    # self-join operator's job, not the incremental one)
    new_rows = [(100, BASE), (101, FAR)]
    corpus_rows = [(10, BASE), (11, BASE), (12, NEAR),
                   (13, "totally unrelated words about cooking pasta "
                        "with garlic and olive oil in a big red pot")]
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string")
    corpus_df = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    out = dedup.minhash_verified_pairs_cross(
        new_df, corpus_df, "doc_id", "text", threshold=0.5
    )
    got = {(r["new_id"], r["corpus_id"]): r["jaccard"] for r in out.collect()}
    assert got[(100, 10)] == 1.0 and got[(100, 11)] == 1.0
    assert got[(100, 12)] > 0.7  # one-word-different near-dup (20/26 shingles)
    assert all(nid != 101 for nid, _ in got)  # FAR matches nothing
    assert all(cid != 13 for _, cid in got)
    assert all(nid in (100, 101) for nid, _ in got)  # no corpus-internal pairs


def _score_documents_worker_cache() -> dict:
    """The body of the worker-cache test, run in a child process: fake-
    model scores and token counts that differ from the Python model, and
    how many times the model loaded."""
    from gratum_spark.operators.inference import score_documents
    from gratum_spark.session import get_spark

    spark = get_spark("worker-cache")
    try:
        rows = [(i, f"doc {i} " + "word " * (i % 29)) for i in range(400)]
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
        out = score_documents(df, "doc_id", "text")
        got = {r["doc_id"]: (r["score"], r["n_tokens"]) for r in out.collect()}
        wrong = []
        for i, text in rows[:50]:
            n_chars, n_words = len(text), len(text.split(" "))
            expect = ((n_chars % 97) + (n_words % 13)) / 110.0
            if abs(got[i][0] - expect) >= 1e-12 or got[i][1] != n_words:
                wrong.append(i)
        return {"rows": len(got), "wrong": wrong, "loads": out._model_loads.value}
    finally:
        spark.stop()


def test_score_documents_fake_model_and_worker_cache():
    # batch-inference harness: fake-model scores must match the python
    # model, and the accumulator must show the model loaded once per
    # WORKER PROCESS, not once per partition/batch (16 partitions on a
    # 4-core session -> loads well under partitions). The session is the
    # child process's own local[4] one: in a shared session, the idle
    # Python workers that earlier tests leave behind (reaped only after
    # 60 s idle) serve the 16 tasks first, and none of them has the model.
    with tempfile.TemporaryDirectory(prefix="worker-cache-") as tmp:
        env = {**os.environ, "PYTHONPATH": REPO, "PYSPARK_PYTHON": sys.executable,
               "SPARK_GRAFT_MASTER": "local[4]"}
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "worker-cache"],
            cwd=tmp, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, start_new_session=True,
        )
        try:
            stdout, stderr = proc.communicate(timeout=300)
        finally:
            # the session's Python workers share the child's group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.communicate()
    lines = [ln for ln in stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, stderr[-4000:]
    result = json.loads(lines[-1][len("RESULT "):])
    assert result["rows"] == 400
    assert result["wrong"] == []
    loads = result["loads"]
    assert 1 <= loads < 16, f"model loaded {loads} times for 16 partitions"


def test_score_documents_real_model_gated(spark):
    try:
        import fasttext  # noqa: F401

        pytest.skip("fasttext present — gate not exercised")
    except ImportError:
        pass
    from gratum_spark.operators.inference import score_documents

    df = spark.createDataFrame([(0, "hello")], "doc_id long, text string")
    with pytest.raises(Exception) as ei:
        score_documents(df, "doc_id", "text", model="/no/such/model.bin").collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_score_documents_string_ids(spark):
    # r6 review finding: the output schema hardcoded the id as long;
    # crawl corpora use URL/UUID string ids
    from gratum_spark.operators.inference import score_documents

    df = spark.createDataFrame(
        [("https://a.example/x", "some text"), ("urn:uuid:1", "more words here")],
        "url string, text string",
    )
    got = {r["url"]: r["score"] for r in
           score_documents(df, "url", "text").collect()}
    assert set(got) == {"https://a.example/x", "urn:uuid:1"}


def test_pack_sequences_column_collision_raises(spark):
    from gratum_spark.operators.packing import global_prefix_sum, pack_sequences

    df = spark.createDataFrame([(1, 2, 3)], "i long, w long, offset long")
    with pytest.raises(ValueError, match="offset"):
        global_prefix_sum(df, "i", "w")
    df2 = spark.createDataFrame([(1, 2, 3)], "i long, w long, pack_id long")
    with pytest.raises(ValueError, match="pack_id"):
        pack_sequences(df2, "i", "w", capacity=4)


def test_build_packs_members_in_stream_order(spark):
    from gratum_spark.operators.packing import build_packs

    rows = [{"i": i, "n": 3, "txt": f"d{i}"} for i in range(5)]
    df = spark.createDataFrame(rows, "i long, n long, txt string")
    packs = build_packs(df, "i", "n", capacity=5, payload_cols=["txt"])
    got = {r["pack_id"]: ([m["txt"] for m in r["members"]],
                          r["n_members"], r["pack_tokens"])
           for r in packs.collect()}
    # offsets 0,3,6,9,12 / cap 5 -> packs {0:[d0,d1]}, {1:[d2,d3]}, {2:[d4]}
    assert got == {0: (["d0", "d1"], 2, 6),
                   1: (["d2", "d3"], 2, 6),
                   2: (["d4"], 1, 3)}


def test_corpus_index_stored_matches_direct(spark, tmp_path):
    # production incremental shape: write the corpus near-dup index once,
    # then the stored-index keep-set must equal the direct corpus_novel
    # answer (same banding from the persisted meta record)
    from gratum_spark.operators.dedup import (
        corpus_novel,
        corpus_novel_stored,
        write_corpus_index,
    )

    corpus_rows = [(10, BASE), (11, NEAR), (12, FAR)]
    new_rows = [(100, BASE), (101, "nothing like anything in the corpus "
                                   "at all just some fresh writing here"),
                (102, FAR)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    idx = str(tmp_path / "corpus_idx")
    write_corpus_index(corpus, "doc_id", "text", idx, threshold=0.5)

    direct = sorted(r["doc_id"] for r in
                    corpus_novel(new, corpus, "doc_id", "text").collect())
    stored = sorted(r["doc_id"] for r in
                    corpus_novel_stored(new, idx, "doc_id", "text").collect())
    assert stored == direct == [101]  # BASE and FAR duplicate the corpus


def test_ivf_stored_index_matches_direct(spark, tmp_path):
    # persisted ANN index: stored probe must equal the direct build's
    # probe (deterministic k-means), and list_id must be a partition
    # column so probes prune to their lists' directories
    import os as _os

    rng = np.random.RandomState(5)
    vecs = rng.randn(200, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<float>",
    ).cache()
    q = [float(x) for x in vecs[42]]

    assignments, centroids = similarity.ivf_build(df, n_lists=4, n_iters=2)
    direct = [r["vec_id"] for r in
              similarity.ivf_topk(df, assignments, centroids, q, k=5, n_probe=2).collect()]

    idx = str(tmp_path / "ivf_idx")
    similarity.write_ivf_index(df, idx, n_lists=4, n_iters=2)
    stored = [r["vec_id"] for r in
              similarity.ivf_topk_stored(df, idx, q, k=5, n_probe=2).collect()]
    assert stored == direct and 42 in stored
    assert any(d.startswith("list_id=") for d in _os.listdir(f"{idx}/assignments"))


def test_chunk_dedup_rewrite_removes_repeats_keeps_first(spark):
    # doc 0 owns both chunks; doc 1 repeats doc 0's first chunk then has
    # its own; doc 2 is doc 0 verbatim (every chunk owned elsewhere)
    a = "w1 w2 w3"
    b = "x1 x2 x3"
    rows = [
        (0, f"{a} {b}"),
        (1, f"{a} y1 y2 y3"),
        (2, f"{a} {b}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in dedup.chunk_dedup_rewrite(df, "doc_id", "text", chunk_words=3).collect()
    }
    assert out[0]["clean_text"] == f"{a} {b}" and out[0]["n_kept"] == 2
    assert out[1]["clean_text"] == "y1 y2 y3" and out[1]["n_kept"] == 1
    # fully-duplicated doc still yields a row, with empty rebuilt text
    assert out[2]["clean_text"] == "" and out[2]["n_kept"] == 0
    assert out[2]["n_chunks"] == 2


def test_semantic_dedup_first_wins_within_cluster(spark):
    # two tight groups along different axes + one isolated vector;
    # seeds = ids 0,1 => two clusters. Within each, the lowest id wins.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # dup of 0
        (3, [0.01, 0.999, 0.0, 0.0]),   # dup of 1
        (4, [0.98, 0.2, 0.0, 0.0]),     # dup of 0 (cos ~0.98), cluster 0
        (5, [-1.0, 0.5, 0.0, 0.0]),     # cosine to both seeds below threshold
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["id"]: r
        for r in dedup.semantic_dedup(
            df, "vec_id", "embedding", n_clusters=2, threshold=0.9
        ).collect()
    }
    assert out[0]["keep"] and out[1]["keep"]
    assert not out[2]["keep"] and not out[3]["keep"] and not out[4]["keep"]
    assert out[5]["keep"]
    assert len(out) == 6


def test_canonical_keep_best_prefers_quality_then_id(spark):
    rows = [
        (0, "Hello, World!", 10),
        (1, "hello world", 25),     # same canonical form, higher quality
        (2, "hello   WORLD?", 25),  # same quality as 1 -> id tie-break
        (3, "something else", 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, q long")
    out = {r["doc_id"]: r for r in dedup.canonical_keep_best(df, "doc_id", "text", "q").collect()}
    assert not out[0]["keep"]
    assert out[1]["keep"] and not out[2]["keep"]
    assert out[3]["keep"]
    assert out[0]["canon_key"] == out[1]["canon_key"] == out[2]["canon_key"]


def test_mixture_sample_epochs_and_determinism(spark):
    from gratum_spark.operators import sampling

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.mixture_sample(
        df, "source", "doc_id", alpha=0.0, target_total=300
    )
    pdf = out.toPandas()
    # alpha=0: equal group targets (150 each). big: 150/80 = 1.875 epochs,
    # small: 150/20 = 7.5 epochs -> every small row appears >= 7 times
    per_doc = pdf.groupby("doc_id").size()
    assert all(per_doc[d] >= 7 for d in range(80, 100))
    assert all(1 <= per_doc.get(d, 0) <= 2 for d in range(80))
    big_total = (pdf.source == "big").sum()
    small_total = (pdf.source == "small").sum()
    assert abs(big_total - 150) <= 25 and abs(small_total - 150) <= 25
    # exact determinism across runs
    again = sampling.mixture_sample(
        df, "source", "doc_id", alpha=0.0, target_total=300
    ).toPandas()
    a = pdf.sort_values(["doc_id", "epoch"]).reset_index(drop=True)
    b = again.sort_values(["doc_id", "epoch"]).reset_index(drop=True)
    assert a.equals(b)


def test_bm25_matches_reference_formula(spark):
    from gratum_spark.operators import retrieval

    corpus = [
        (0, "apple banana cherry"),
        (1, "apple apple durian"),
        (2, "banana banana banana cherry"),
        (3, "elderberry fig"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    queries = spark.createDataFrame(
        [(100, "apple banana")], "query_id long, query_text string"
    )
    out = retrieval.bm25_topk(docs, "doc_id", "text", queries, k=4)
    got = {r["doc_id"]: r["score"] for r in out.collect()}
    ranks = {r["doc_id"]: r["rank"] for r in out.collect()}

    # reference computation in plain python
    toks = {i: t.split() for i, t in corpus}
    N = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / N
    def df_t(t):
        return sum(1 for v in toks.values() if t in v)
    def bm25(q, d):
        s = 0.0
        for t in set(q.split()):
            tf = toks[d].count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (N - df_t(t) + 0.5) / (df_t(t) + 0.5))
            dl = len(toks[d])
            s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        return s
    expected = {d: bm25("apple banana", d) for d in toks if bm25("apple banana", d) > 0}
    assert set(got) == set(expected)
    for d, s in expected.items():
        assert abs(got[d] - s) < 1e-9
    # rank order: score desc, id asc
    ordered = sorted(expected.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [d for d, _ in ordered] == [d for d, _ in sorted(ranks.items(), key=lambda kv: kv[1])]


def test_collapse_repeats_words_and_chunks(spark):
    rows = [
        (0, "buy now buy now buy now limited offer"),
        (1, "the the the cat sat sat"),
        (2, "no repeats here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w1 = {r["id"]: r for r in text.collapse_repeats(df, "doc_id", "text", 1).collect()}
    assert w1[1]["clean_text"] == "the cat sat"
    assert w1[1]["n_units"] == 6 and w1[1]["n_kept"] == 3
    assert w1[2]["clean_text"] == "no repeats here at all"
    # word-level can't see the 2-word period; chunk level can
    assert w1[0]["clean_text"] == "buy now buy now buy now limited offer"
    w2 = {r["id"]: r for r in text.collapse_repeats(df, "doc_id", "text", 2).collect()}
    assert w2[0]["clean_text"] == "buy now limited offer"
    assert w2[0]["n_units"] == 4 and w2[0]["n_kept"] == 2


def test_pmi_bigrams_favors_exclusive_pair(spark):
    # "strong collocation": aa always followed by bb; filler words vary
    rows = [(i, "aa bb " + ("xx yy " * 3).strip()) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.pmi_bigrams(df, "doc_id", "text", min_count=5, k=3).collect()
    # aa bb: p(ab)=10/N2, p(a)=p(b)=10/N1 -> highest pmi
    assert out[0]["bigram"] == "aa bb"
    assert out[0]["n"] == 10
    import math
    n1 = 10 * 8  # tokens per doc = 8
    n2 = 10 * 7  # bigrams per doc = 7
    expect = math.log((10 / n2) / ((10 / n1) * (10 / n1)))
    assert abs(out[0]["pmi"] - round(expect, 6)) < 1e-9


def test_canary_scan_hits_and_clean(spark):
    docs = spark.createDataFrame(
        [
            (0, "the secret marker alpha is hidden here"),
            (1, "nothing to see"),
            (2, "marker alpha and marker beta both appear"),
        ],
        "doc_id long, text string",
    )
    canaries = spark.createDataFrame(
        [(100, "marker alpha"), (200, "marker beta")],
        "canary_id long, canary_text string",
    )
    out = {
        r["id"]: r
        for r in text.canary_scan(
            docs, "doc_id", "text", canaries, "canary_id", "canary_text"
        ).collect()
    }
    assert out[0]["n_hits"] == 1 and out[0]["first_canary"] == 100
    assert out[1]["n_hits"] == 0 and out[1]["first_canary"] is None
    assert out[2]["n_hits"] == 2 and out[2]["first_canary"] == 100


def test_decontaminate_embeddings_drops_near_eval(spark):
    eval_df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [
            (10, [0.99, 0.1, 0.0]),   # cos ~0.995 -> dropped
            (11, [0.0, 1.0, 0.0]),    # orthogonal -> kept
            (12, [-1.0, 0.0, 0.0]),   # opposite -> kept
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["id"]: r["keep"]
        for r in similarity.decontaminate_embeddings(
            corpus, "vec_id", "embedding", eval_df, threshold=0.9
        ).collect()
    }
    assert out == {10: False, 11: True, 12: True}


def test_bm25_stored_index_matches_direct(spark, tmp_path):
    from gratum_spark.operators import retrieval

    rows = [
        (i, " ".join(["red", "green", "blue", "cyan"][j % 4]
                     for j in range(i % 7 + 2)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = spark.createDataFrame(
        [(0, "red blue"), (1, "cyan")], "query_id long, query_text string"
    )
    path = str(tmp_path / "bm25idx")
    retrieval.write_postings_index(docs, "doc_id", "text", path, n_term_buckets=8)

    direct = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in retrieval.bm25_topk(docs, "doc_id", "text", queries, k=5).collect()
    )
    stored_df = retrieval.bm25_topk_stored(spark, path, queries, k=5)
    stored = sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in stored_df.collect()
    )
    assert stored == direct

    # the probe must prune the postings scan to the query terms' buckets
    from conftest import plan_of

    plan = plan_of(stored_df)
    head = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "term_bucket" in head


def test_resample_interpolate_semantics(spark):
    import datetime as dt

    from gratum_spark.operators.timeseries import resample_interpolate

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 0.0),
        (1, dt.datetime(2024, 1, 1, 2, 0, 0), 4.0),
        (1, dt.datetime(2024, 1, 1, 2, 30, 0), 10.0),
        (2, dt.datetime(2024, 1, 1, 5, 15, 0), 7.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = resample_interpolate(df, "k", "ts", "v", "1 hour").orderBy(
        "k", "grid_ts"
    ).collect()
    got = [(r["k"], r["grid_ts"].isoformat(), r["value"]) for r in out]
    assert got == [
        (1, "2024-01-01T00:00:00", 0.0),   # exact observation
        (1, "2024-01-01T01:00:00", 2.0),   # midpoint of 0->4
        (1, "2024-01-01T02:00:00", 4.0),   # exact observation
        (2, "2024-01-01T05:15:00", 7.0),   # single-point series = itself
    ]


def test_resample_interpolate_tail_forward_fills(spark):
    import datetime as dt

    from gratum_spark.operators.timeseries import resample_interpolate

    # span 0:00 -> 2:30 with the last event at 2:30: the 1h grid stops
    # at 2:00, between events 2:00(=interp of 0..3 over 0:00..2:30? no:
    # events at 0:00 (v=0) and 2:30 (v=3) -> 2:00 interpolates 2.4
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 0.0),
        (1, dt.datetime(2024, 1, 1, 2, 30, 0), 3.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = resample_interpolate(df, "k", "ts", "v", "1 hour").orderBy("grid_ts").collect()
    vals = [round(r["value"], 6) for r in out]
    assert vals == [0.0, 1.2, 2.4]


def test_semantic_dedup_composes_with_ivf_centroids(spark):
    """The production path the docstring promises: ivf_build's Lloyd
    centroids feed semantic_dedup_assigned directly."""
    rng = np.random.RandomState(17)
    base = rng.randn(20, 8)
    base[7] = base[3] * 1.001  # planted near-dup of id 3
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assignments, _ = similarity.ivf_build(df, n_lists=4, n_iters=2)
    assigned = df.join(assignments, on="vec_id").select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        F.col("list_id").alias("cluster"),
    )
    out = {r["id"]: r for r in dedup.semantic_dedup_assigned(assigned, 0.999).collect()}
    assert len(out) == 20
    # the planted dup pair shares a k-means cluster and the later id drops
    assert out[3]["cluster"] == out[7]["cluster"]
    assert out[3]["keep"] and not out[7]["keep"]
    assert sum(1 for r in out.values() if not r["keep"]) == 1


def test_pmi_from_stored_counts_matches_direct(spark, tmp_path):
    """The materialize-once path the pmi docstring names: ngram_counts
    written to parquet and re-read must score identically."""
    rows = [(i, "aa bb " + ("xx yy " * 3).strip()) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uni, bi = text.ngram_counts(df, "doc_id", "text")
    uni.write.mode("overwrite").parquet(str(tmp_path / "uni"))
    bi.write.mode("overwrite").parquet(str(tmp_path / "bi"))
    direct = [tuple(r) for r in text.pmi_bigrams(df, "doc_id", "text", 5, 5).collect()]
    stored = [
        tuple(r)
        for r in text.pmi_from_counts(
            spark.read.parquet(str(tmp_path / "uni")),
            spark.read.parquet(str(tmp_path / "bi")),
            5,
            5,
        ).collect()
    ]
    assert stored == direct and len(direct) > 0


def test_pagerank_edge_table_builds_on_one_exchange(spark):
    """The (src, dst, deg) edge-table build must stay a SINGLE shuffle:
    hash-partitioning on src satisfies the clustered distribution of
    both the (src,dst) dedup and the per-src degree window, so neither
    may add its own exchange (r15: distinct-then-repartition + a
    groupBy/join fold paid two full edge shuffles and a self-join).
    Also pins the fold's values against an independent groupBy count."""
    from pyspark.sql import functions as F

    from gratum_spark.operators.graph import _edge_table

    e = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3), (2, 3), (3, 1), (3, 2), (3, 2)],
        "src long, dst long",
    )
    ed = _edge_table(e)
    from conftest import plan_of

    plan = plan_of(ed)
    # exactly one shuffle exchange, no join, in the whole build subtree
    n_exchange = sum(
        1 for ln in plan.splitlines()
        if ln.strip().startswith("(") and ") Exchange" in ln
    )
    assert n_exchange == 1, plan
    assert "Join" not in plan, plan
    rows = {(r["src"], r["dst"]): r["deg"] for r in ed.collect()}
    dedup = e.dropDuplicates(["src", "dst"])
    want_deg = {
        r["src"]: r["n"]
        for r in dedup.groupBy("src").agg(F.count("*").alias("n")).collect()
    }
    assert set(rows) == {(1, 2), (1, 3), (2, 3), (3, 1), (3, 2)}
    for (s, _), d in rows.items():
        assert d == want_deg[s], (s, d, want_deg)


def test_pagerank_matches_numpy_power_iteration(spark):
    from gratum_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, damping=0.85, n_iters=5, undirected=True).collect()
    }

    # reference: same recurrence sequentially
    und = set(edges) | {(b, a) for a, b in edges}
    nodes = sorted({x for e in und for x in e})
    deg = {v: sum(1 for s, _ in und if s == v) for v in nodes}
    r = {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(5):
        nxt = {}
        for v in nodes:
            s = sum(r[s] / deg[s] for s, d in und if d == v)
            nxt[v] = (1.0 - 0.85) / len(nodes) + 0.85 * s
        r = nxt
    assert set(got) == set(r)
    for v in nodes:
        assert abs(got[v] - r[v]) < 1e-9
    # more connections -> more rank: 'a' (deg 3) outranks 'd' (deg 1)
    assert got["a"] > got["d"]


def test_pagerank_directed_star_keeps_all_nodes(spark):
    """Directed star s1..s3 -> hub: the spokes have zero in-degree (they
    must keep their (1-d)/N floor, not vanish from the frame) and the
    hub is a sink (its rank redistributes uniformly as dangling mass).
    Compare against the closed-form sequential recurrence and check the
    mass-conservation invariant sum(rank) == 1."""
    from gratum_spark.operators.graph import pagerank

    edges = [("s1", "hub"), ("s2", "hub"), ("s3", "hub")]
    df = spark.createDataFrame(edges, "src string, dst string")
    d, iters = 0.85, 4
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, damping=d, n_iters=iters, undirected=False).collect()
    }

    nodes = ["hub", "s1", "s2", "s3"]
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dm = r["hub"]  # the only sink
        nxt = {}
        for v in nodes:
            in_sum = sum(r[s] for s, t in edges if t == v)  # deg(si)=1
            nxt[v] = (1 - d) / n + d * (in_sum + dm / n)
        r = nxt
    # no node disappears (the old groupBy-rebuild dropped s1..s3 after
    # iteration 1) and every rank matches the closed-form value
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_broadcast_gate_picks_join_shape(spark):
    """The superstep join broadcasts the rank table only when the
    materialized node count fits the session broadcast budget; with the
    budget closed the plan must fall back to the shuffled-hash shape
    (no per-superstep broadcast of an over-budget node set at scale)."""
    from gratum_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")

    from conftest import plan_of

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        open_plan = plan_of(pagerank(df, n_iters=2, undirected=True))
        assert "BroadcastHashJoin" in open_plan
        assert "ShuffledHashJoin" not in open_plan

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        closed_plan = plan_of(pagerank(df, n_iters=2, undirected=True))
        assert "ShuffledHashJoin" in closed_plan

        # both shapes compute identical ranks (decimal sums are
        # order-independent, so this is exact equality)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        a = {r["node"]: r["rank"] for r in pagerank(df, n_iters=3).collect()}
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        b = {r["node"]: r["rank"] for r in pagerank(df, n_iters=3).collect()}
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_corpus_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "GAMMA2"), (4, "delta")], "doc_id long, text string"
    )
    got = {
        r["key"]: r["status"]
        for r in dedup.corpus_diff(old, new, "doc_id", "text").collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_select_by_budget_prefix_semantics(spark):
    from gratum_spark.operators import sampling

    rows = [
        (1, 10, 100),  # best quality, 10 tokens
        (2, 50, 90),   # second, 50 tokens
        (3, 30, 80),   # third, 30 tokens -> cumulative 90 > 60: cut here
        (4, 5, 70),    # better-ranked row 3's weight still counts: excluded
    ]
    df = spark.createDataFrame(rows, "id long, w long, q long")
    kept = {
        r["id"]: r["offset"]
        for r in sampling.select_by_budget(df, "id", "w", "q", 60).collect()
    }
    # prefix semantics: the quality-ranked PREFIX that fits whole — row 3
    # overflows and everything after it stays out even if it would fit
    assert kept == {1: 0, 2: 10}


def test_select_by_budget_quality_tie_breaks_by_key(spark):
    from gratum_spark.operators import sampling

    rows = [(9, 10, 5), (2, 10, 5), (5, 10, 5)]
    df = spark.createDataFrame(rows, "id long, w long, q long")
    kept = sorted(
        r["id"] for r in sampling.select_by_budget(df, "id", "w", "q", 20).collect()
    )
    assert kept == [2, 5]


def test_ivf_topk_many_matches_single_query(spark):
    """Batched IVF must return exactly what per-query ivf_topk returns
    on the same build (same probe ranking, same tie-breaks)."""
    rng = np.random.RandomState(11)
    vecs = rng.randn(150, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(150)],
        "vec_id long, embedding array<float>",
    ).cache()
    assignments, centroids = similarity.ivf_build(df, n_lists=4, n_iters=2)
    queries = spark.createDataFrame(
        [(qid, [float(x) for x in vecs[qid]]) for qid in (3, 77)],
        "query_id long, embedding array<float>",
    )
    many = similarity.ivf_topk_many(
        df, assignments, centroids, queries, k=5, n_probe=2
    ).collect()
    got = {qid: sorted((r["vec_id"], round(r["cosine"], 9))
                       for r in many if r["qid"] == qid) for qid in (3, 77)}
    for qid in (3, 77):
        single = similarity.ivf_topk(
            df, assignments, centroids,
            [float(x) for x in vecs[qid]], k=5, n_probe=2,
        ).collect()
        want = sorted((r["vec_id"], round(r["cosine"], 9)) for r in single)
        assert got[qid] == want


def test_ann_recall_full_probe_is_one(spark):
    """n_probe == n_lists scans every list, so IVF equals brute force
    and recall@k must be exactly 1.0 for every query."""
    rng = np.random.RandomState(12)
    vecs = rng.randn(120, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    ).cache()
    queries = spark.createDataFrame(
        [(qid, [float(x) for x in vecs[qid]]) for qid in (0, 50, 99)],
        "query_id long, embedding array<float>",
    )
    rec = similarity.ann_recall_at_k(
        df, queries, k=8, n_lists=4, n_iters=2, n_probe=4
    ).collect()
    assert len(rec) == 3
    assert all(r["recall"] == 1.0 for r in rec)


def test_ann_recall_partial_probe_bounded(spark):
    """Partial probe: recall is in [0, 1], the query's own vector keeps
    per-query recall > 0, and the result is deterministic run to run."""
    rng = np.random.RandomState(13)
    vecs = rng.randn(160, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(160)],
        "vec_id long, embedding array<float>",
    ).cache()
    queries = spark.createDataFrame(
        [(qid, [float(x) for x in vecs[qid]]) for qid in (7, 80)],
        "query_id long, embedding array<float>",
    )
    run = lambda: sorted(
        (r["qid"], round(r["recall"], 6))
        for r in similarity.ann_recall_at_k(
            df, queries, k=5, n_lists=4, n_iters=2, n_probe=2
        ).collect()
    )
    first = run()
    assert all(0.0 < rec <= 1.0 for _, rec in first)
    assert first == run()


def test_duplicate_spans_merges_overlapping_windows(spark):
    # docs 0 and 1 share a 12-token run; with k=4 the 9 overlapping
    # duplicated windows must merge into ONE maximal 12-token span
    shared = " ".join(f"a{i}" for i in range(12))
    rows = [
        (0, f"p1 p2 {shared} q1 q2 q3"),
        (1, f"r1 {shared} s1"),
        (2, "all tokens here are one of a kind truly"),
        (3, "tiny"),  # shorter than k: no windows at all
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in dedup.duplicate_spans(df, "doc_id", "text", k=4).collect()
    }
    assert out[0]["n_dup_spans"] == 1 and out[0]["dup_tokens"] == 12
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 12
    assert out[0]["n_tokens"] == 17 and out[1]["n_tokens"] == 14
    # clean and sub-k docs still yield rows, with zeros
    assert out[2]["n_dup_spans"] == 0 and out[2]["dup_frac"] == 0.0
    assert out[3]["n_dup_spans"] == 0 and out[3]["n_tokens"] == 1


def test_duplicate_spans_flags_within_doc_repeat_and_disjoint_spans(spark):
    # one doc that repeats its own 4-token phrase (far apart) => the
    # phrase duplicates against itself; both occurrences are spans
    phrase = "b1 b2 b3 b4"
    rows = [(0, f"{phrase} m1 m2 m3 m4 m5 m6 {phrase}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    (r,) = dedup.duplicate_spans(df, "doc_id", "text", k=4).collect()
    assert r["n_dup_spans"] == 2
    assert r["dup_tokens"] == 8
    assert r["dup_frac"] == 8 / 14


def test_duplicate_span_rewrite_cuts_all_occurrences_in_order(spark):
    shared = " ".join(f"c{i}" for i in range(8))
    rows = [
        (0, f"h1 h2 {shared} t1 t2"),
        (1, f"{shared}"),  # the whole doc is the duplicated span
        (2, "nothing here repeats anywhere in this corpus"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["id"]: r
        for r in dedup.duplicate_span_rewrite(df, "doc_id", "text", k=4).collect()
    }
    # aggressive variant: BOTH copies are cut, survivors keep order
    assert out[0]["clean_text"] == "h1 h2 t1 t2"
    assert out[0]["removed_tokens"] == 8
    assert out[1]["clean_text"] == "" and out[1]["removed_tokens"] == 8
    assert out[2]["clean_text"] == rows[2][1] and out[2]["removed_tokens"] == 0


def test_lm_score_matches_hand_computed_bigram_model(spark):
    # corpus: "a b a b", "a b c", "x". unigrams: a:3 b:3 c:1 x:1 => V=4
    # bigrams: "a b":3, "b a":1, "b c":1
    rows = [(0, "a b a b"), (1, "a b c"), (2, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in text.lm_score(df, "doc_id", "text", alpha=0.5).collect()}

    def nll(cb, cw, v=4.0, a=0.5):
        return round(-math.log((cb + a) / (cw + a * v)), 6)

    # doc 0: bigrams a b (x2), b a (x1)
    exp0 = (2 * nll(3, 3) + 1 * nll(1, 3)) / 3
    assert out[0]["n_bigrams"] == 3
    assert out[0]["avg_nll"] == pytest.approx(round(exp0, 6), abs=1e-9)
    assert out[0]["ppl"] == pytest.approx(round(math.exp(round(exp0, 6)), 6), abs=1e-9)
    # doc 1: a b, b c
    exp1 = (nll(3, 3) + nll(1, 3)) / 2
    assert out[1]["avg_nll"] == pytest.approx(round(exp1, 6), abs=1e-9)
    # single-token doc: row kept, no score
    assert out[2]["n_bigrams"] == 0 and out[2]["avg_nll"] is None


def test_lm_score_from_counts_floors_unseen_bigrams(spark):
    # reference model trained on one corpus, scoring a doc whose bigram
    # was never seen: both counts coalesce to 0 => nll = -ln(α/(αV))
    ref = spark.createDataFrame([(0, "a b a b")], "doc_id long, text string")
    uni, bi = text.ngram_counts(ref, "doc_id", "text")  # V=2
    tgt = spark.createDataFrame([(9, "q z")], "doc_id long, text string")
    (r,) = text.lm_score_from_counts(tgt, "doc_id", "text", uni, bi, alpha=0.5).collect()
    assert r["n_bigrams"] == 1
    assert r["avg_nll"] == pytest.approx(round(-math.log(0.5 / (0.5 * 2)), 6), abs=1e-9)


def test_dsir_logratios_matches_reference_model(spark):
    import hashlib

    from gratum_spark.operators import sampling

    rows = [
        (0, "the quick brown fox", "en"),
        (1, "the quick brown dog", "en"),
        (2, "der schnelle braune fuchs", "de"),
        (3, "x", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["id"]: r
        for r in sampling.dsir_logratios(
            df, df.filter("lang = 'en'"), "doc_id", "text", prefix_len=3
        ).collect()
    }

    # independent reference: same hashed-ngram model in plain python
    def grams(t):
        ws = t.lower().split(" ")
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    def bucket(g):
        return hashlib.md5(g.encode()).hexdigest()[:3]

    B, a = 4096, 0.5
    ct, cs = {}, {}
    for _, t, lang in rows:
        for g in grams(t):
            b = bucket(g)
            cs[b] = cs.get(b, 0) + 1
            if lang == "en":
                ct[b] = ct.get(b, 0) + 1
    nt, ns = sum(ct.values()), sum(cs.values())
    for doc_id, t, _ in rows:
        gs = grams(t)
        terms = [
            round(
                math.log((ct.get(bucket(g), 0) + a) / (nt + a * B))
                - math.log((cs.get(bucket(g), 0) + a) / (ns + a * B)),
                6,
            )
            for g in gs
        ]
        assert out[doc_id]["n_grams"] == len(gs)
        assert out[doc_id]["logratio_sum"] == pytest.approx(
            round(sum(terms), 6), abs=1e-9
        )
    # target-like docs must outscore off-target ones
    assert out[0]["avg_logratio"] > out[2]["avg_logratio"]


def test_merge_upsert_statuses_and_winners(spark):
    corpus = spark.createDataFrame(
        [(0, "alpha", 5), (1, "beta", 4), (2, "gamma", 5)],
        "doc_id long, text string, n long",
    )
    batch = spark.createDataFrame(
        [(1, "beta", 4), (2, "gamma2", 6), (3, "delta", 5)],
        "doc_id long, text string, n long",
    )
    out = {
        r["key"]: r
        for r in dedup.merge_upsert(corpus, batch, "doc_id", ["text", "n"]).collect()
    }
    assert len(out) == 4
    assert out[0]["merge_status"] == "kept" and out[0]["text"] == "alpha"
    assert out[1]["merge_status"] == "unchanged"
    # batch wins on update
    assert out[2]["merge_status"] == "updated" and out[2]["text"] == "gamma2"
    assert out[2]["n"] == 6
    assert out[3]["merge_status"] == "inserted" and out[3]["text"] == "delta"


def test_merge_upsert_hash_is_injective(spark):
    """Adversarial content-hash cases: a value containing the old
    separator/sentinel strings, NULL vs the literal string '<NULL>',
    and a column-boundary shift ('ab','c' vs 'a','bc') must all compare
    as CHANGED — a non-injective encoding labels them 'unchanged'."""
    corpus = spark.createDataFrame(
        [(0, "x|~|y", "z"), (1, None, "q"), (2, "ab", "c")],
        "doc_id long, a string, b string",
    )
    batch = spark.createDataFrame(
        [(0, "x", "~|y|z"), (1, "<NULL>", "q"), (2, "a", "bc")],
        "doc_id long, a string, b string",
    )
    out = {
        r["key"]: r["merge_status"]
        for r in dedup.merge_upsert(corpus, batch, "doc_id", ["a", "b"]).collect()
    }
    assert out == {0: "updated", 1: "updated", 2: "updated"}


def test_pagerank_first_superstep_needs_no_join(spark):
    """r16: rank_0 is the constant 1/N, so superstep 1's contribution
    is a projection over the checkpointed edge table — an n_iters=1
    run must contain no join (no broadcast build and no ranks-side
    shuffle), while the 5-iteration value checks elsewhere pin that
    the shortcut's numbers are identical to the joined recurrence."""
    from gratum_spark.operators.graph import pagerank

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = pagerank(df, n_iters=1, undirected=True)
    from conftest import plan_of

    plan = plan_of(out)
    assert "Join" not in plan
    # and the single-superstep values equal the sequential recurrence
    und = set(edges) | {(b, a) for a, b in edges}
    nodes = sorted({x for e in und for x in e})
    deg = {v: sum(1 for s, _ in und if s == v) for v in nodes}
    n = len(nodes)
    expect = {
        v: 0.15 / n + 0.85 * sum(1.0 / n / deg[s] for s, d in und if d == v)
        for v in nodes
    }
    got = {r["node"]: r["rank"] for r in out.collect()}
    assert set(got) == set(expect)
    for v in nodes:
        assert abs(got[v] - expect[v]) < 1e-12


def test_dsir_subset_path_equals_generic_path(spark):
    """r16: with target_within_source=True the target model derives
    from the source feature table by a semi join (no second tokenize
    pass); the scores must equal the generic two-pass path EXACTLY —
    per-doc bucket counts are exact partials of the corpus counts."""
    from gratum_spark.operators import sampling

    rows = [
        (1, "en", "the quick brown fox jumps over the lazy dog"),
        (2, "en", "the quick brown fox naps"),
        (3, "de", "der schnelle braune fuchs"),
        (4, "en", "lorem ipsum dolor sit amet the end"),
        (5, "fr", "le renard brun rapide"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    target = docs.filter(F.col("lang") == "en")
    generic = sampling.dsir_logratios(
        docs, target, "doc_id", "text"
    ).orderBy("id").toPandas()
    subset = sampling.dsir_logratios(
        docs, target, "doc_id", "text", target_within_source=True
    ).orderBy("id").toPandas()
    assert generic.equals(subset)


if __name__ == "__main__" and sys.argv[1:] == ["worker-cache"]:
    print("RESULT " + json.dumps(_score_documents_worker_cache()), flush=True)
