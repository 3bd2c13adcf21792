"""Deduplication operators for large-scale corpus curation.

Beyond-reference capability (the reference has only `unique` — exact,
single-column, in-memory HashSet at Pipeline.groovy:985-995). These are
the operators a 100 TB training-data pipeline needs: exact hash dedup,
MinHash+LSH near-dup, SimHash near-dup, exact n-gram Jaccard.

Scale design notes per operator are in the docstrings — the common
theme: candidate generation via hash/band *equality joins* (shuffle on
narrow keys) so nothing is ever O(n^2) across the cluster; exact
verification only within candidate buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import (
    minhash_signature_of_word_hashes,
    shingles_of_words,
    simhash64_np,
    words,
)
from ..pipeline import fan_scan, materialize

__all__ = [
    "exact_dedup",
    "exact_dedup_rejects",
    "minhash_lsh_pairs",
    "minhash_verified_pairs",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "chunk_dedup_stats",
    "chunk_dedup_rewrite",
    "semantic_dedup",
    "semantic_dedup_assigned",
    "canonical_keep_best",
    "corpus_diff",
    "merge_upsert",
    "duplicate_spans",
    "duplicate_span_rewrite",
    "embedding_cosine_pairs",
    "connected_components",
]


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per key: the one with the smallest order_col.

    Deterministic (unlike dropDuplicates) and scalable: one shuffle on
    the key. For very hot keys AQE skew-join handling does not apply to
    windows, so we use groupBy(min) + semi-join shape instead of a
    row_number window when only the winner row is needed — groupBy gets
    map-side partial aggregation; the join back is on (key, order).
    """
    winners = df.groupBy(*key_cols).agg(F.min(order_col).alias(order_col))
    return df.join(winners, on=key_cols + [order_col], how="leftsemi")


def exact_dedup_rejects(
    df: DataFrame, key_cols: list[str], order_col: str
) -> tuple[DataFrame, DataFrame]:
    """(kept, rejected) split via row_number window — for pipelines that
    need DUPLICATE reject accounting."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col))
    marked = df.withColumn("__rn__", F.row_number().over(w))
    return (
        marked.filter(F.col("__rn__") == 1).drop("__rn__"),
        marked.filter(F.col("__rn__") > 1).drop("__rn__"),
    )


def derive_banding(n_hashes: int, threshold: float, max_miss: float = 1e-3) -> tuple[int, int]:
    """Pick (bands, rows_per_band) with bands*rows == n_hashes such that
    the probability of MISSING a pair at exactly ``threshold`` Jaccard,
    (1 - t^rows)^bands, is <= max_miss — using the largest rows (fewest
    false candidates) that still meets it.

    Rationale (r2 advice): a fixed 16x4 banding has only ~64% recall at
    j=0.5, so an oracle that enumerates ALL pairs >= 0.5 catches the
    missed tail. 64 hashes at t=0.5 derive to 32x2 (miss ~1e-4 at the
    threshold, ~4e-10 by j=0.7); t=0.8 derives to 16x4.
    """
    for rows in range(n_hashes, 0, -1):
        if n_hashes % rows:
            continue
        bands = n_hashes // rows
        if (1.0 - threshold ** rows) ** bands <= max_miss:
            return bands, rows
    return n_hashes, 1


def _banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    n_hashes: int,
    bands: int,
    checkpoint_sig: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """One side's LSH stage: (signatures, exploded narrow (id, band, h)
    band-bucket rows). Shared by the self-join (_lsh_candidates) and the
    cross-corpus incremental variant. ``checkpoint_sig=False`` skips the
    eager signature checkpoint for callers that reference sig only once
    (the cross variant — checkpointing a corpus-sized signature table
    nobody re-reads pinned it in executor memory for nothing, r6
    review)."""
    rows_per_band = n_hashes // bands
    # signature computation is the CPU-heavy stage
    df = fan_scan(df)
    # Materialize words -> shingles -> signature as separate projections:
    # higher-order lambdas run interpreted with no subexpression reuse, so
    # an inlined split/shingle subtree would re-execute inside all
    # n_hashes transform lambdas (observed 100×+ slowdown). Multi-
    # referenced non-cheap aliases are kept by CollapseProject.
    sig = (
        df.select(
            F.col(id_col).alias("id"),
            # per-word xxhash64 JVM-side; shingling + minhash run
            # vectorized in numpy (no string shingles anywhere)
            F.transform(words(F.col(text_col)), lambda w: F.xxhash64(w)).alias("__wh__"),
        )
        .select(
            "id",
            minhash_signature_of_word_hashes(
                F.col("__wh__"), shingle_k, n_hashes
            ).alias("sig"),
        )
        .filter(F.col("sig").isNotNull())
    )
    # when the banding join references the signature subtree more than
    # once, materialize it once. sig is narrow — id + n_hashes longs.
    if checkpoint_sig:
        sig = materialize(sig, eager=True)

    # the banding join stays NARROW — (band, h, id) only. Carrying the
    # n_hashes-long signature array through the exploded band rows
    # shuffles ``bands`` copies of every signature per side (measured
    # ~2.5x on the whole operator); instead the (far smaller) distinct
    # pair set re-joins the checkpointed signature table on id.
    # r15: the ``bands``-entry struct array is built as ONE F.expr
    # string instead of a Python loop of Column calls — the loop made
    # ~6 Py4J round trips per band (~200 for 32 bands, a measured
    # ~0.2 s of plan-build latency per side at ~0.7 ms/call); the
    # parsed expression tree is identical.
    entries = ",".join(
        f"struct({b} as band, xxhash64(cast(slice(sig, {b * rows_per_band + 1},"
        f" {rows_per_band}) as string)) as h)"
        for b in range(bands)
    )
    banded = sig.select(
        "id", F.explode(F.expr(f"array({entries})")).alias("bh")
    ).select("id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
    return sig, banded


def _lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    n_hashes: int,
    bands: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared LSH candidate stage: (checkpointed signatures, distinct
    candidate (a, b) pairs). See minhash_lsh_pairs for the plan shape."""
    sig, banded = _banded_signatures(df, id_col, text_col, shingle_k, n_hashes, bands)
    pairs = (
        banded.select("band", "h", F.col("id").alias("a"))
        .join(banded.select("band", "h", F.col("id").alias("b")), on=["band", "h"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    return sig, pairs


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    Plan shape (all joins are equality joins — no cross product):
      1. signature: n_hashes expression-only min-hashes per doc (no UDF);
      2. banding: explode signature into ``bands`` (band_id, band_hash)
         rows — band_hash is xxhash64 over the band's slice;
      3. bucket join: self-join on (band_id, band_hash) with id<id —
         shuffle keyed on the 16-byte band key; docs agreeing on any
         band meet in exactly one shuffle partition;
      4. estimate: distinct pairs re-joined to signatures; estimated
         Jaccard = fraction of matching signature positions; filter by
         threshold.

    At 100 TB: stage 3's key cardinality ≈ n_docs × bands, uniformly
    hashed — no skew by construction unless many docs are *identical*
    (run exact_dedup first, which is cheaper anyway).
    Returns (a, b, est_jaccard) with a < b.

    Building this plan launches Spark jobs: the signatures are cut with
    an eager ``materialize``.
    """
    sig, pairs = _lsh_candidates(df, id_col, text_col, shingle_k, n_hashes, bands)
    sig_a = sig.select(F.col("id").alias("a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("b"), F.col("sig").alias("sig_b"))
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    est = (matches / F.lit(float(n_hashes))).alias("est_jaccard")
    return (
        pairs.join(sig_a, on="a")
        .join(sig_b, on="b")
        .select("a", "b", est)
        .filter(F.col("est_jaccard") >= threshold)
    )


def _candidate_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    cand_ids: DataFrame,
    shingle_k: int,
    id_alias: str,
) -> DataFrame:
    """Verify-side shingle table pruned to candidate ids (r16, guide
    §3.2): the semi-join sits BELOW the shingle projection, so only
    docs that appear in a candidate pair pay the interpreted shingle
    HOF and only their rows flow on — the exact-verify phase scales
    with the candidate set, not the corpus. ``cand_ids`` must be a
    1-column frame named ``id_alias`` (small — AQE broadcasts it).
    Returns (id_alias, __vsh__), un-materialized; callers cut it once
    when both join sides reference it."""
    return (
        df.select(F.col(id_col).alias(id_alias), F.col(text_col).alias("__t__"))
        .join(cand_ids, on=id_alias, how="leftsemi")
        .select(
            id_alias,
            shingles_of_words(words(F.col("__t__")), shingle_k).alias("__vsh__"),
        )
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int | None = None,
) -> DataFrame:
    """The production near-dup shape: MinHash-LSH candidate generation +
    EXACT n-gram Jaccard verification of only the candidates.

    Unlike ngram_jaccard_pairs (exact over ALL co-shingled pairs — the
    inverted-index blowup), this verifies O(candidates) pairs: every
    LSH candidate re-joins its two shingle sets and computes exact
    |A∩B|/|A∪B| with array expressions. Banding is DERIVED from the
    verify threshold (bands=None) so the miss probability at exactly
    j=threshold is <=1e-3 — a fixed 16x4 banding has only ~64% recall
    at j=0.5 and would drop borderline pairs the oracle enumerates;
    t=0.5 derives to 32 bands of 2 (miss ~1e-4 at the threshold,
    ~4e-10 by j=0.7). With recall pinned this way the verified output
    equals the full exact enumeration — which is what makes this
    hash-based plan oracle-checkable — while scaling as candidates,
    not pairs.
    Returns (a, b, jaccard) with exact jaccard >= threshold.

    Building this plan launches Spark jobs: the candidate pair set is
    cut with an eager ``materialize`` before the verify joins, so
    the call runs the shingle, signature and band-join stages and keeps
    the pairs in executor storage. The returned DataFrame is lazy from
    there on.
    """
    if bands is None:
        bands, _ = derive_banding(n_hashes, threshold)
    # candidate (a, b) pairs only — the exact verify replaces the
    # estimate, so the two signature re-joins minhash_lsh_pairs does to
    # compute est_jaccard would be pure overhead here
    _, cands = _lsh_candidates(df, id_col, text_col, shingle_k, n_hashes, bands)
    # r16 (guide §3.2): only docs that appear in a candidate pair need
    # their exact shingle set, but the verify side used to tokenize +
    # shingle the WHOLE corpus twice (once per join side) — the
    # interpreted shingle HOF over every non-candidate doc was pure
    # waste, and at 100 TB it made the verify phase scale with the
    # corpus instead of with the candidates. Materialize the (small)
    # pair set once (it feeds the id prune AND the verify join), then
    # semi-join-prune the corpus BEFORE the shingle projection: the
    # shingle set is computed once, for candidate docs only, and the
    # pruned table is shared by both join sides via one lazy cut.
    # Same rows by construction — inner joins on a/b keep exactly the
    # candidate ids the semi-join keeps.
    cands = materialize(cands, eager=True)
    cand_ids = (
        cands.select(F.col("a").alias("__vid__"))
        .unionByName(cands.select(F.col("b").alias("__vid__")))
        .dropDuplicates()
    )
    sh = materialize(
        _candidate_shingles(df, id_col, text_col, cand_ids, shingle_k, "__vid__")
    )
    sh_a = sh.select(F.col("__vid__").alias("a"), F.col("__vsh__").alias("sh_a"))
    sh_b = sh.select(F.col("__vid__").alias("b"), F.col("__vsh__").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = (inter.cast("double") / union.cast("double")).alias("jaccard")
    return (
        cands.join(sh_a, on="a")
        .join(sh_b, on="b")
        .select("a", "b", jac)
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_verified_pairs_cross(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int | None = None,
) -> DataFrame:
    """INCREMENTAL dedup: verified near-duplicate pairs BETWEEN a new
    batch and an existing corpus — the shape a daily-crawl pipeline
    runs (dedup today's documents against everything already kept)
    without re-self-joining the whole corpus.

    Same machinery as :func:`minhash_verified_pairs` but the band-bucket
    join is new×corpus instead of a self-join: the corpus side's
    signatures/banding are computed once per run and could be
    precomputed/stored by the caller (the band rows are pure functions
    of the text). At 100 TB the dominant exchange is still the narrow
    (band, h, id) bucket join, now sized new_batch×bands on one side —
    a daily batch is orders of magnitude smaller than the corpus, so
    candidate generation scales with the batch, not the corpus².
    Banding is derived from the threshold (see derive_banding), so with
    recall pinned the verified output equals the full exact cross
    enumeration — oracle-checkable like the self-join variant.

    Returns (new_id, corpus_id, jaccard) with exact n-gram Jaccard >=
    threshold; ids are reported per side (no a<b ordering — the tables
    are distinct; a doc appearing in both sides pairs with itself at
    jaccard 1.0, which is exactly what an incremental pipeline wants to
    catch).

    Building this plan launches Spark jobs: the candidate pair set is
    cut with an eager ``materialize``, so the call runs the
    signature and band-join stages of both inputs and keeps the pairs in
    executor storage. The returned DataFrame is lazy from there on.
    """
    if bands is None:
        bands, _ = derive_banding(n_hashes, threshold)
    _, banded_new = _banded_signatures(
        new_df, id_col, text_col, shingle_k, n_hashes, bands, checkpoint_sig=False
    )
    _, banded_corpus = _banded_signatures(
        corpus_df, id_col, text_col, shingle_k, n_hashes, bands, checkpoint_sig=False
    )
    cands = (
        banded_new.select("band", "h", F.col("id").alias("new_id"))
        .join(
            banded_corpus.select("band", "h", F.col("id").alias("corpus_id")),
            on=["band", "h"],
        )
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    # r16 (guide §3.2): semi-join-prune each verify side to the docs
    # that actually appear in a candidate pair before paying the
    # shingle HOF — the corpus side in particular used to re-shingle
    # the ENTIRE existing corpus to verify a daily batch's candidates.
    # The pair set is materialized once (it feeds both prunes and the
    # verify join); rows identical by construction (the later inner
    # joins keep exactly the pruned ids).
    cands = materialize(cands, eager=True)
    sh_new = _candidate_shingles(
        new_df, id_col, text_col,
        cands.select("new_id").dropDuplicates(), shingle_k, "new_id",
    ).withColumnRenamed("__vsh__", "sh_a")
    sh_corpus = _candidate_shingles(
        corpus_df, id_col, text_col,
        cands.select("corpus_id").dropDuplicates(), shingle_k, "corpus_id",
    ).withColumnRenamed("__vsh__", "sh_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = (inter.cast("double") / union.cast("double")).alias("jaccard")
    return (
        cands.join(sh_new, on="new_id")
        .join(sh_corpus, on="corpus_id")
        .select("new_id", "corpus_id", jac)
        .filter(F.col("jaccard") >= threshold)
    )


def write_corpus_index(
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int | None = None,
) -> None:
    """Precompute and store the corpus near-dup index — the production
    form of incremental dedup: the banded LSH rows and the exact-verify
    shingle sets are pure functions of the corpus text, so a daily
    pipeline builds them ONCE per corpus version and every incremental
    run reads the (much smaller) index instead of re-scanning and
    re-hashing 100 TB of text.

    Layout: ``{path}/banded`` (band, h, id — the narrow bucket-join side),
    ``{path}/shingles`` (id, sh — the verify side), ``{path}/meta``
    (the hash parameters; enforced at read time, because candidates from
    mismatched banding silently lose recall instead of erroring)."""
    if bands is None:
        bands, _ = derive_banding(n_hashes, threshold)
    _, banded = _banded_signatures(
        corpus_df, id_col, text_col, shingle_k, n_hashes, bands, checkpoint_sig=False
    )
    banded.write.mode("overwrite").parquet(f"{path}/banded")
    sh = corpus_df.select(
        F.col(id_col).alias("id"),
        shingles_of_words(words(F.col(text_col)), shingle_k).alias("sh"),
    )
    sh.write.mode("overwrite").parquet(f"{path}/shingles")
    spark = corpus_df.sparkSession
    meta = spark.createDataFrame(
        [(shingle_k, n_hashes, bands, float(threshold))],
        "shingle_k int, n_hashes int, bands int, threshold double",
    )
    meta.coalesce(1).write.mode("overwrite").json(f"{path}/meta")


def corpus_novel_stored(
    new_df: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Doc-level incremental keep-set against a STORED corpus index
    (see :func:`write_corpus_index`): same answer as
    :func:`corpus_novel`, but the corpus side is two parquet scans (the
    narrow banded table + the shingle table) instead of a full
    re-signature of the corpus text. Hash parameters come from the
    index's meta record so the new side's banding always matches the
    stored banding."""
    spark = new_df.sparkSession
    meta = spark.read.json(f"{index_path}/meta").collect()[0]
    shingle_k, n_hashes, bands = int(meta["shingle_k"]), int(meta["n_hashes"]), int(meta["bands"])
    threshold = float(meta["threshold"])

    _, banded_new = _banded_signatures(
        new_df, id_col, text_col, shingle_k, n_hashes, bands, checkpoint_sig=False
    )
    banded_corpus = spark.read.parquet(f"{index_path}/banded")
    cands = (
        banded_new.select("band", "h", F.col("id").alias("new_id"))
        .join(
            banded_corpus.select("band", "h", F.col("id").alias("corpus_id")),
            on=["band", "h"],
        )
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    sh_new = new_df.select(
        F.col(id_col).alias("new_id"),
        shingles_of_words(words(F.col(text_col)), shingle_k).alias("sh_a"),
    )
    sh_corpus = spark.read.parquet(f"{index_path}/shingles").select(
        F.col("id").alias("corpus_id"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    matched = (
        cands.join(sh_new, on="new_id")
        .join(sh_corpus, on="corpus_id")
        .filter(jac >= threshold)
        .select(F.col("new_id").alias(id_col))
        .dropDuplicates()
    )
    return new_df.join(matched, on=id_col, how="left_anti")


def corpus_novel(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int | None = None,
) -> DataFrame:
    """Doc-level incremental curation filter: the rows of ``new_df`` that
    do NOT near-duplicate the existing corpus (exact-verified Jaccard <
    threshold against every corpus doc). The daily-crawl keep-set in one
    plan: :func:`minhash_verified_pairs_cross` candidates -> matched new
    ids -> left anti join back to the full new rows. Docs too short to
    shingle have no candidates and are kept (novel by definition).

    At 100 TB the anti join is an equi-join on the id against the (far
    smaller) matched-id set; everything else is the cross-pair plan, so
    building this plan launches Spark jobs as that one does."""
    matched = (
        minhash_verified_pairs_cross(
            new_df, corpus_df, id_col, text_col,
            shingle_k=shingle_k, threshold=threshold,
            n_hashes=n_hashes, bands=bands,
        )
        .select(F.col("new_id").alias(id_col))
        .dropDuplicates()
    )
    return new_df.join(matched, on=id_col, how="left_anti")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    prefix_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs via 64-bit SimHash with prefix-bucket candidates.

    Candidates share one of 4 rotated ``prefix_bits`` prefixes (classic
    Charikar/Manku trick: hamming<=3 over 64 bits guarantees at least
    one of 4 16-bit blocks is identical). Verification = bit_count(xor)
    <= max_hamming. All expressions, equality joins only.
    Returns (a, b, hamming).

    Building this plan launches Spark jobs: the signatures are cut with
    an eager ``materialize``.
    """
    df = fan_scan(df)
    # hash words JVM-side (xxhash64), bit-vote vectorized in numpy;
    # materialize the (id, sh) signatures once — both self-join sides
    # reference this pandas-UDF subtree.
    sh = df.select(
        F.col(id_col).alias("id"),
        simhash64_np(
            F.transform(words(F.col(text_col)), lambda w: F.xxhash64(w))
        ).alias("sh"),
    )
    sh = materialize(sh, eager=True)
    n_blocks = 64 // prefix_bits
    blocks = [
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftrightunsigned(F.col("sh"), i * prefix_bits)
            .bitwiseAND(F.lit((1 << prefix_bits) - 1))
            .alias("key"),
        )
        for i in range(n_blocks)
    ]
    bucketed = sh.select("id", "sh", F.explode(F.array(*blocks)).alias("b")).select(
        "id", "sh", F.col("b.blk").alias("blk"), F.col("b.key").alias("key")
    )
    left = bucketed.select("blk", "key", F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    right = bucketed.select("blk", "key", F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming")
    return (
        left.join(right, on=["blk", "key"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
        .select("a", "b", ham)
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity pairs via inverted-index join.

    Plan: doc -> distinct k-shingles (expression) -> explode ->
    self-join on shingle (inverted index: docs sharing a shingle meet
    on that shuffle key) -> count common shingles per pair ->
    jaccard = common / (|A| + |B| - common).

    Scale caution: a shingle shared by m docs yields m^2 pair rows —
    extremely common shingles are stop-shingles and should be dropped
    (``max_doc_freq`` guard below caps the blow-up), the standard
    inverted-index mitigation.
    Returns (a, b, jaccard) with a < b, jaccard >= threshold.

    Building this plan launches Spark jobs: the shingle index and the
    per-doc sizes are cut eagerly with ``materialize``, and the doc
    count that sets the stop-shingle cap is collected.
    """
    df = fan_scan(df)
    # materialize the exploded index once: the (interpreted-HOF) shingle
    # computation is referenced by the size agg, the stop-shingle
    # frequency pass, and BOTH self-join sides — rebuilt it re-executes
    # 4x (measured ~2x query slowdown at bench scale).
    sh = df.select(F.col(id_col).alias("id"), words(F.col(text_col)).alias("__ws__"))
    sh = sh.select("id", F.explode(shingles_of_words(F.col("__ws__"), k)).alias("shingle"))
    sh = materialize(sh, eager=True)
    sizes = materialize(sh.groupBy("id").agg(F.count("*").alias("n")), eager=True)
    # stop-shingle guard: drop shingles present in >1% of docs (min 100),
    # with an ABSOLUTE cap — a relative-only cap stops capping at scale
    # (10 B docs would allow 100 M-doc shingles ⇒ 10^16 pair rows from a
    # single stop-shingle). n_docs reuses the sizes aggregate (one narrow
    # scan of the checkpointed index) instead of a second full-input scan.
    n_docs = sizes.count()
    max_doc_freq = min(max(100, n_docs // 100), 10_000)
    freq_ok = (
        sh.groupBy("shingle").agg(F.count("*").alias("df_"))
        .filter(F.col("df_") <= max_doc_freq)
        .select("shingle")
    )
    sh = sh.join(freq_ok, on="shingle", how="leftsemi")

    a = sh.select(F.col("shingle"), F.col("id").alias("a"))
    b = sh.select(F.col("shingle"), F.col("id").alias("b"))
    common = (
        a.join(b, on="shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    na = sizes.select(F.col("id").alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("b"), F.col("n").alias("nb"))
    jac = (
        F.col("common").cast("double")
        / (F.col("na") + F.col("nb") - F.col("common")).cast("double")
    ).alias("jaccard")
    # na/nb hold one row PER DOCUMENT — unbounded cardinality, so no
    # broadcast hint: a plain equi-join lets AQE broadcast only when the
    # side is actually small, and shuffles otherwise (the pair table is
    # already keyed on a/b).
    return (
        common.join(na, on="a")
        .join(nb, on="b")
        .select("a", "b", jac)
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: banded random-hyperplane
    LSH candidate generation + exact decimal-cosine verification.

    ``n_tables`` independent tables of ``n_planes`` Gaussian hyperplanes
    each (Charikar's SimHash LSH): a pair at angle θ collides in one
    table with p = (1-θ/π)^n_planes and becomes a candidate with
    1-(1-p)^n_tables — banding trades candidate volume for recall
    exactly like MinHash-LSH bands; a single table (the previous shape)
    had only ~4% recall at cosine 0.5. Planes are RandomState(seed)
    normals — deterministic across runs and executors.

    Scale shape: signatures are one Arrow-batched (batch × dim) @
    (dim × n_tables·n_planes) matmul per vector batch — no interpreted
    per-plane lambdas. Verification never materializes a candidate-pair
    list: rows group by (table, bucket) — ONE shuffle — and each bucket
    scores all its pairs in a single BLAS gram matrix, emitting only
    survivors (≥ threshold); the cross-table dedup then runs on the
    (tiny) survivor set instead of the (huge) candidate set. A banded
    self-join + dedup + vector re-attach shape measured 3× slower here:
    at recall-oriented band widths the candidate set is orders of
    magnitude larger than the survivor set, and it paid 4 shuffles to
    carry it. Bucket population is bounded by choosing n_planes ∝
    log2(N/target_bucket_size), keeping the per-bucket O(b²·dim) matmul
    constant-time as N grows.
    """
    from pyspark.sql.types import ArrayType, LongType

    total = n_planes * n_tables
    plane_cache: dict[int, "np.ndarray"] = {}

    def planes_for(dim: int):
        if dim not in plane_cache:
            plane_cache[dim] = np.random.RandomState(seed).randn(total, dim)
        return plane_cache[dim]

    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def table_buckets(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        bits = (mat @ planes_for(mat.shape[1]).T) > 0
        ids = (bits.reshape(len(mat), n_tables, n_planes) * weights).sum(axis=2)
        return pd.Series(ids.tolist())

    expl = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        table_buckets(F.col(vec_col)).alias("bks"),
    ).select("id", "v", F.posexplode("bks").alias("table", "bucket"))

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"a": [], "b": [], "cosine": []})
        ids = pdf["id"].to_numpy()
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        ai, bi = np.triu_indices(len(ids), k=1)
        keep = sims[ai, bi] >= threshold
        lo = np.minimum(ids[ai[keep]], ids[bi[keep]])
        hi = np.maximum(ids[ai[keep]], ids[bi[keep]])
        return pd.DataFrame({"a": lo, "b": hi, "cosine": sims[ai[keep], bi[keep]]})

    return (
        expl.groupBy("table", "bucket")
        .applyInPandas(bucket_pairs, "a long, b long, cosine double")
        .dropDuplicates(["a", "b"])
    )


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Cluster near-duplicate PAIRS into duplicate GROUPS: returns
    (node, component) where component is the minimum node id reachable
    through the pair graph — the step that turns any *_pairs operator's
    output into "keep one doc per cluster".

    Algorithm: iterative min-label propagation. Each round every node
    takes min(own label, neighbors' labels) — two shuffles per round
    (join on dst, groupBy src) — and converges in O(graph diameter)
    rounds. Dedup-pair graphs are near-star-shaped (tiny diameter), so
    this beats the constant-factor-heavier large-star/small-star
    alternation in practice; lineage is cut each round so the plan
    doesn't grow exponentially, and convergence is the driver-side count
    of changed labels (one scalar per round).

    Building this plan launches Spark jobs: each round cuts its label
    table with an eager ``materialize`` and counts the changed labels,
    two jobs per round for up to ``max_iter`` rounds. The cuts hold the
    symmetrized edge set (two (u, v) rows per distinct edge) and one
    (node, new_comp, comp) table per round.
    """
    sym = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = materialize(sym.dropDuplicates(["u", "v"]))

    labels = materialize(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels.select(F.col("node").alias("v"), "comp"), on="v")
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        updated = (
            labels.join(nbr_min.withColumnRenamed("u", "node"), on="node", how="left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias(
                    "new_comp"
                ),
                F.col("comp"),
            )
        )
        updated = materialize(updated, eager=True)
        changed = updated.filter(F.col("new_comp") != F.col("comp")).count()
        labels = updated.select("node", F.col("new_comp").alias("comp"))
        if changed == 0:
            break
    return labels


def chunk_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 10,
) -> DataFrame:
    """Chunk-level corpus dedup accounting (the C4/RefinedWeb line-dedup
    shape: a text unit repeated ANYWHERE in the corpus survives only in
    its first-seen document).

    Documents split into non-overlapping ``chunk_words``-word chunks
    (expression-only); each distinct chunk text is owned by its
    first-seen (doc, position); per doc this reports how much of it
    survives chunk dedup. Plan: explode -> one groupBy on the chunk
    text (map-side combinable min) -> re-join owners on chunk text ->
    per-doc agg. Two shuffles total; nothing is pairwise.

    At 100 TB the groupBy key space is huge but uniform (text chunks);
    boilerplate mega-chunks (the same cookie banner a billion times)
    are exactly what this removes, and their groups reduce to a single
    min before the second shuffle thanks to partial aggregation.

    Returns (id, n_chunks, n_kept, kept_frac) per document.
    """
    warr = words(F.col(text_col))
    n_chunks_expr = (F.size(warr) + F.lit(chunk_words - 1)) / F.lit(chunk_words)
    chunks = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0), n_chunks_expr.cast("int") - 1
                    ),
                    lambda i: F.concat_ws(
                        " ", F.slice(warr, i * chunk_words + 1, chunk_words)
                    ),
                )
            ).alias("pos", "chunk"),
        )
    )
    # first-seen owner per distinct chunk text: min over an encoded
    # (doc, position) — portable across engines as plain integer math
    owner_key = F.col("id") * F.lit(1_000_000) + F.col("pos")
    owners = chunks.groupBy("chunk").agg(F.min(owner_key).alias("__owner__"))
    kept = (
        chunks.join(owners, on="chunk")
        .withColumn("__keep__", (owner_key == F.col("__owner__")).cast("int"))
    )
    return (
        kept.groupBy("id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("__keep__").alias("n_kept"),
        )
        .select(
            "id",
            "n_chunks",
            "n_kept",
            (F.col("n_kept").cast("double") / F.col("n_chunks").cast("double")).alias(
                "kept_frac"
            ),
        )
    )


def chunk_dedup_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 10,
) -> DataFrame:
    """Chunk-level corpus dedup with document REASSEMBLY (the C4 /
    RefinedWeb cleaning step proper, where `chunk_dedup_stats` is only
    the accounting): every text unit repeated anywhere in the corpus is
    deleted except in its first-seen (doc, position), and each document
    is rewritten from its surviving chunks in original order.

    Plan: explode -> groupBy chunk text (map-side combinable min owner)
    -> re-join owners on chunk text -> per-doc `collect_list` of kept
    (pos, chunk) structs -> `array_sort` + `concat_ws`. Two shuffles,
    nothing pairwise; per-doc state is bounded by the doc's own chunk
    count, so the rebuild aggregation is safe at any corpus size. A doc
    whose every chunk is owned elsewhere still yields a row (empty
    ``clean_text``): `collect_list` skips the NULLs the keep-condition
    produces, leaving an empty array rather than dropping the group.

    Returns (id, n_chunks, n_kept, clean_text) per document.
    """
    warr = words(F.col(text_col))
    n_chunks_expr = (F.size(warr) + F.lit(chunk_words - 1)) / F.lit(chunk_words)
    chunks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks_expr.cast("int") - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(warr, i * chunk_words + 1, chunk_words)
                ),
            )
        ).alias("pos", "chunk"),
    )
    owner_key = F.col("id") * F.lit(1_000_000) + F.col("pos")
    owners = chunks.groupBy("chunk").agg(F.min(owner_key).alias("__owner__"))
    kept = chunks.join(owners, on="chunk").withColumn(
        "__keep__", owner_key == F.col("__owner__")
    )
    return (
        kept.groupBy("id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.col("__keep__").cast("int")).alias("n_kept"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("__keep__"), F.struct("pos", "chunk"))
                )
            ).alias("__kept__"),
        )
        .select(
            "id",
            "n_chunks",
            "n_kept",
            F.concat_ws(
                " ", F.transform("__kept__", lambda s: s["chunk"])
            ).alias("clean_text"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    partition the embedding space into clusters, then inside each
    cluster drop every vector whose cosine to ANY lower-id cluster
    member reaches ``threshold`` — first-wins, like `exact_dedup`.

    Clustering here is one deterministic assignment step against seed
    centroids (the ``n_clusters`` lowest-id vectors), which keeps the
    whole operator reproducible on any engine; the production path is
    the same code with `ivf_build`'s Lloyd-iterated centroids swapped
    in (both are (id, cluster) assignments — `semantic_dedup_assigned`
    consumes either).

    Scale shape: assignment is one Arrow-batched (batch × dim) @
    (dim × k) matmul per vector batch — no join, no shuffle; the dedup
    is ONE shuffle on cluster id, then a per-cluster BLAS gram matrix.
    In-cluster work is O(|c|²·dim) — the SemDeDup trade — so cluster
    count is the scale knob: hold |c| ≈ constant by growing
    ``n_clusters`` with N (the paper runs 50k clusters at web scale).

    Returns (id, cluster, keep) for every input row.
    """
    rows = (
        df.orderBy(id_col).limit(n_clusters).select(id_col, vec_col).collect()
    )
    cmat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)

    @F.pandas_udf("long")
    def best_cluster(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        # argmax takes the first (= lowest cluster id) on ties, matching
        # the oracle's ORDER BY cosine DESC, cluster ASC
        return pd.Series(np.argmax(mat @ cmat.T, axis=1).astype(np.int64))

    assigned = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        best_cluster(F.col(vec_col)).alias("cluster"),
    )
    return semantic_dedup_assigned(assigned, threshold)


def semantic_dedup_assigned(
    assigned: DataFrame, threshold: float
) -> DataFrame:
    """In-cluster first-wins cosine dedup over an (id, v, cluster)
    assignment (see `semantic_dedup`). One shuffle (groupBy cluster);
    each cluster scores its pairs in a single gram matrix and emits
    only (id, cluster, keep)."""

    def dedupe(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        mat = np.array(pdf["v"].tolist(), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        # drop j if any i<j has cos(i,j) >= threshold (earlier row wins,
        # whether or not that row itself survived — the EXISTS form, so
        # the rule is engine-replicable without iteration)
        dup = (np.tril(sims, k=-1) >= threshold).any(axis=1)
        return pd.DataFrame(
            {"id": pdf["id"], "cluster": pdf["cluster"], "keep": ~dup}
        )

    return assigned.groupBy("cluster").applyInPandas(
        dedupe, "id long, cluster long, keep boolean"
    )


def canonical_keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality_col: str,
) -> DataFrame:
    """Quality-aware canonical-form dedup: documents whose NORMALIZED
    text (lower-cased, punctuation stripped, whitespace collapsed)
    collides keep only the best-quality member — argmax(quality), ties
    to the lowest id — where `exact_dedup` keeps the first-seen.
    This is the keep-best policy real curation uses when near-identical
    mirrors differ in truncation/mojibake and "first" is arbitrary.

    Single window over the canonical key — one shuffle, no pairwise
    work; the canonical key is md5-portable so any engine reproduces
    the exact keep set.

    Returns (id, canon_key, keep).
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
    )
    key = F.md5(norm)
    w = Window.partitionBy("canon_key").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        df.select(F.col(id_col), F.col(quality_col), key.alias("canon_key"))
        .withColumn("keep", F.row_number().over(w) == 1)
        .select(F.col(id_col), F.col("canon_key"), F.col("keep"))
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    text_col: str,
) -> DataFrame:
    """Release-to-release corpus diff: per key, whether the document was
    added, removed, changed (same key, different content hash), or
    unchanged between two corpus versions — the audit table a dataset
    release publishes next to its card.

    One full-outer hash join on the key, content compared by md5 so
    the 100 TB text bodies never co-shuffle — each side reduces to
    (key, 16-byte hash) before the join. Engine-portable (md5).

    Returns (key, status) for every key present in either version.
    """
    o = old.select(
        F.col(key_col).alias("key"), F.md5(F.col(text_col)).alias("__oh__")
    )
    n = new.select(
        F.col(key_col).alias("key"), F.md5(F.col(text_col)).alias("__nh__")
    )
    j = o.join(n, on="key", how="full_outer")
    status = (
        F.when(F.col("__oh__").isNull(), F.lit("added"))
        .when(F.col("__nh__").isNull(), F.lit("removed"))
        .when(F.col("__oh__") != F.col("__nh__"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select("key", status.alias("status"))


def merge_upsert(
    corpus: DataFrame,
    batch: DataFrame,
    key_col: str,
    cmp_cols: list[str],
) -> DataFrame:
    """MERGE a new batch into a corpus by key (the Delta/Iceberg
    `MERGE INTO` reconciliation, as a pure copy-on-write DataFrame op):
    batch rows replace corpus rows with the same key, new keys insert,
    untouched corpus rows carry over. Output is the complete next
    corpus version plus a ``merge_status`` audit column — inserted /
    updated / unchanged (key matched, identical content) / kept
    (corpus-only) — the per-row ledger a release pipeline publishes
    with the new snapshot.

    One full-outer hash join on the key; content equality compares an
    md5 over the ``cmp_cols`` (engine-portable), computed per side
    BEFORE the join so text bodies co-shuffle once, not twice. A table
    format (Delta/Iceberg/Hudi) would add file-level pruning on top;
    the join shape is the same.

    Returns (key, *cmp_cols, merge_status).
    """

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        # injective content encoding: each column reduces to a
        # fixed-width token ('n' for NULL, 'v'+md5 hex otherwise) before
        # the outer md5 — a raw separator scheme can collide when a
        # value literally contains the separator or the NULL sentinel,
        # mislabeling an updated row as unchanged
        parts = [
            F.when(F.col(c).isNull(), F.lit("n")).otherwise(
                F.concat(F.lit("v"), F.md5(F.col(c).cast("string")))
            )
            for c in cmp_cols
        ]
        return df.select(
            F.col(key_col).alias("key"),
            *[F.col(c).alias(f"__{tag}_{c}__") for c in cmp_cols],
            F.md5(F.concat_ws("|", *parts)).alias(f"__{tag}_h__"),
        )

    j = hashed(corpus, "c").join(hashed(batch, "b"), on="key", how="full_outer")
    status = (
        F.when(F.col("__c_h__").isNull(), F.lit("inserted"))
        .when(F.col("__b_h__").isNull(), F.lit("kept"))
        .when(F.col("__c_h__") != F.col("__b_h__"), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        "key",
        *[
            F.coalesce(F.col(f"__b_{c}__"), F.col(f"__c_{c}__")).alias(c)
            for c in cmp_cols
        ],
        status.alias("merge_status"),
    )


def _duplicate_span_ranges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
) -> DataFrame:
    """Maximal duplicated token spans per document (shared core of
    `duplicate_spans` / `duplicate_span_rewrite`).

    The exact-substring dedup shape (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): a k-token window that
    occurs 2+ times ANYWHERE in the corpus (another doc or the same doc
    again) marks a duplicated region; overlapping/adjacent marked
    windows merge into maximal spans. Where the suffix-array original is
    a single-machine algorithm, the distributed shape is overlapping
    k-shingles + one corpus-wide count + gaps-and-islands:

      posexplode k-shingles (start positions 0..n-k, expression-only)
        -> groupBy shingle, count(*) >= 2      (map-side combinable)
        -> join hits back on shingle            (co-partitioned: the
           dup side just aggregated on the same key)
        -> window per doc ordered by start pos  (one shuffle on id;
           per-doc state bounded by the doc's own shingle count)
        -> islands merge: two marked windows chain into one span iff
           start gap <= k (same-length intervals sorted by start, so a
           lag(1) test is exact — no running-max needed).

    Three shuffles total, nothing pairwise, no all-pairs joins; the
    only corpus-sized key space is the shingle groupBy, which partial
    aggregation collapses before the exchange. Returns one row per
    maximal span: (id, span_start, span_end) in token positions,
    end inclusive.
    """
    # shingling is the CPU-heavy stage
    df = fan_scan(df)
    warr = words(F.col(text_col))
    n = F.size(warr)
    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    # r16: the position index is referenced TWICE (the dup-count
    # aggregate and the hits join probe), and Catalyst does not share
    # subplans — the k-word slice+concat shingle computation ran twice
    # per query. Materialize it once (eager, the same trade
    # ngram_jaccard_pairs makes for its inverted index). A/B at sf0.1,
    # alternating min-of-6: 1.43 -> 1.31 s, checkpoint wins every pair;
    # at scale it is one full corpus shingle pass instead of two.
    sh = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice(warr, i + 1, k)))
        ).alias("pos", "shingle"),
    )
    sh = materialize(sh, eager=True)
    dup = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("__occ__"))
        .filter(F.col("__occ__") >= 2)
        .select("shingle")
    )
    # No max-doc-freq cap here, deliberately — unlike the jaccard
    # candidate prefilter (dedup stop-shingle cap above), dropping a
    # high-frequency shingle HERE would change the answer: a window
    # repeated in 10 M docs is exactly the boilerplate this operator
    # exists to mark. The blow-up is bounded without it: `dup` holds
    # DISTINCT shingles, so each (id, pos) row joins back at most once
    # and `hits` <= total corpus shingle positions (linear in corpus
    # tokens — the same size as the explode that produced `sh`), while
    # the islands window partitions on id, so per-task state is bounded
    # by a single document's own position count, independent of how
    # corpus-frequent its shingles are.
    hits = sh.join(dup, on="shingle").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    brk = F.when(
        F.lag("pos").over(w).isNull() | (F.col("pos") > F.lag("pos").over(w) + k),
        F.lit(1),
    ).otherwise(F.lit(0))
    islands = hits.withColumn("__g__", F.sum(brk).over(w))
    return islands.groupBy("id", "__g__").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).alias("span_end"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
) -> DataFrame:
    """Per-document duplicated-span accounting: how many maximal
    k-token-window duplicate spans each document carries and what
    fraction of its tokens they cover (see `_duplicate_span_ranges`
    for the distributed plan). Every document yields a row — docs with
    no duplicated span report zeros via the final left join, which
    re-joins only (id, 2 longs), never the text bodies.

    Returns (id, n_tokens, n_dup_spans, dup_tokens, dup_frac).

    Building this plan launches Spark jobs: the shingle positions are
    cut with an eager ``materialize``.
    """
    spans = _duplicate_span_ranges(df, id_col, text_col, k)
    per_doc = spans.groupBy("id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_tokens"),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(words(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    return base.join(per_doc, on="id", how="left").select(
        "id",
        "n_tokens",
        F.coalesce(F.col("n_dup_spans"), F.lit(0).cast("long")).alias("n_dup_spans"),
        F.coalesce(F.col("dup_tokens").cast("long"), F.lit(0).cast("long")).alias(
            "dup_tokens"
        ),
        (
            F.coalesce(F.col("dup_tokens").cast("double"), F.lit(0.0))
            / F.col("n_tokens").cast("double")
        ).alias("dup_frac"),
    )


def duplicate_span_rewrite(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact-substring dedup with document REWRITE: every token covered
    by a duplicated span (`_duplicate_span_ranges`) is cut and the
    document is reassembled from the survivors in order. This is the
    aggressive variant that removes ALL occurrences of a duplicated
    region (the span that "owns" a phrase is just as boilerplate as its
    copies); the keep-first-occurrence policy at a fixed granularity is
    `chunk_dedup_rewrite`.

    The rebuild is expression-only: per-doc spans are collected into a
    bounded array (a doc's span count <= its token count / k), joined
    back to the one row that owns the text, and the token filter is a
    nested higher-order expression — no Python in the loop, no extra
    shuffle beyond `_duplicate_span_ranges`' three (the per-doc span
    array aggregates on the window's existing id-partitioning, and the
    final join re-shuffles only the span arrays against the corpus).

    Returns (id, n_tokens, removed_tokens, clean_text).

    Building this plan launches Spark jobs: the shingle positions are
    cut with an eager ``materialize``.
    """
    spans = (
        _duplicate_span_ranges(df, id_col, text_col, k)
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_start", "span_end"))
            ).alias("__spans__")
        )
    )
    warr = words(F.col(text_col))
    joined = df.select(
        F.col(id_col).alias("id"), warr.alias("__toks__")
    ).join(spans, on="id", how="left")
    sp = F.coalesce(
        F.col("__spans__"),
        F.expr("array()").cast("array<struct<span_start:int,span_end:int>>"),
    )
    indexed = F.transform(
        F.col("__toks__"),
        lambda t, i: F.struct(i.alias("pos"), t.alias("t")),
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            sp,
            lambda r: (s["pos"] >= r["span_start"]) & (s["pos"] <= r["span_end"]),
        ),
    )
    return joined.select(
        "id",
        F.size("__toks__").cast("long").alias("n_tokens"),
        (F.size("__toks__") - F.size(kept)).cast("long").alias("removed_tokens"),
        F.concat_ws(" ", F.transform(kept, lambda s: s["t"])).alias("clean_text"),
    )
