"""Text analysis operators for corpus curation at scale.

All expression-only (JVM, codegen'd): language-ID (characteristic-word
heuristic), quality scoring, token counting, document fingerprinting.
Each returns a DataFrame transform usable standalone or via
Pipeline.apply.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import shingles_of_words, words
from ..pipeline import fan_scan, materialize

__all__ = [
    "token_stats_named",
    "quality_score",
    "lang_id",
    "fingerprint",
    "redact_pii",
    "ngram_overlap",
    "repetition_signals",
    "tfidf_top_terms",
    "collapse_repeats",
    "pmi_bigrams",
    "ngram_counts",
    "pmi_from_counts",
    "canary_scan",
    "lm_score_from_counts",
    "lm_score",
    "DEFAULT_LANG_WORDS",
    "PII_PATTERNS",
]

# (pattern, replacement) pairs, applied in order. RE2-safe (no
# backreferences/lookaround) so the same patterns run identically in
# DuckDB/Trino/BigQuery for cross-engine audits. Email must run before
# phone so the digits in a local-part aren't half-eaten.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    (r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>"),
]

# Characteristic-word lists for the heuristic language identifier.
# For real text these would be per-language stopword lists; the shape of
# the operator (argmax over per-language hit counts, alphabetical
# tie-break => fully deterministic) is what matters.
DEFAULT_LANG_WORDS: dict[str, list[str]] = {
    "de": ["customer", "hash", "join", "row", "column"],
    "en": ["hash", "order", "table", "window", "row"],
    "es": ["slow", "agg", "hash", "merge", "vector"],
    "fr": ["scan", "data", "batch", "query", "small"],
    "zh": ["join", "small", "customer", "row", "column"],
}


def token_stats_named(col_name: str) -> dict[str, Column]:
    """Whitespace tokens + a BPE-ish regex token count (alpha runs,
    digit runs, single other chars)."""
    text = F.col(col_name)
    return {
        "ws_tokens": F.size(F.split(F.trim(text), "\\s+")),
        "bpe_tokens": F.size(
            F.expr(f"regexp_extract_all({col_name}, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        ),
    }


def quality_score(col_name: str) -> dict[str, Column]:
    """Heuristic quality signals: char/word counts, mean word length,
    non-alpha ratio, stopword ratio. Deterministic doubles (single
    division at the end — identical IEEE ops in any engine)."""
    text = F.col(col_name)
    n_chars = F.length(text)
    w = words(text)
    n_words = F.size(w)
    alpha_chars = F.length(F.regexp_replace(text, "[^a-z]", ""))
    stop_hits = F.size(F.array_intersect(w, F.array(*[F.lit(s) for s in ["the", "a", "of", "and"]])))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": alpha_chars.cast("double") / n_words.cast("double"),
        "non_alpha_ratio": (n_chars - alpha_chars - (n_words - 1)).cast("double")
        / n_chars.cast("double"),
        "stop_kinds": stop_hits,
    }


def lang_id(
    col_name: str, lang_words: dict[str, list[str]] | None = None
) -> Column:
    """Predict language: argmax over per-language characteristic-word
    intersection counts; alphabetical-first tie-break (deterministic).
    Expression-only — array_intersect per language + a CASE chain."""
    lw = lang_words or DEFAULT_LANG_WORDS
    w = words(F.col(col_name))
    scores = {
        lang: F.size(F.array_intersect(w, F.array(*[F.lit(s) for s in wl])))
        for lang, wl in sorted(lw.items())
    }
    m = F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    pred = None
    for lang in sorted(scores):  # alphabetical tie-break
        cond = scores[lang] == m
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return pred


def fingerprint(col_name: str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercased, whitespace collapsed). md5 is portable across engines,
    unlike xxhash64 — use this when fingerprints must be comparable
    outside Spark."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(col_name))), "\\s+", " ")
    return F.md5(norm)


def redact_pii(
    col_name: str, patterns: list[tuple[str, str]] | None = None
) -> Column:
    """PII scrubbing for training corpora: chained regexp_replace of
    emails/IPs/SSNs/phones with typed placeholder tokens. Expression-only
    (JVM, codegen'd) — a pure map over the scan, no shuffle, and the
    patterns are RE2-portable so other engines can reproduce the exact
    output for audits."""
    out = F.col(col_name)
    for pat, repl in patterns or PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def ngram_overlap(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Train/eval contamination check: per training doc, the count of
    DISTINCT word n-grams it shares with the eval corpus — the standard
    benchmark-decontamination primitive.

    Plan shape at 100 TB: the eval corpus's distinct grams are a small
    table (benchmarks are MBs) — broadcast them; the training side
    explodes its distinct grams (shingles are per-doc distinct already)
    and the broadcast-hash semi-ish join + groupBy(doc) count is one
    shuffle on the doc id, map-side combinable. No full self-join and no
    gram table shuffle of the 100 TB side.
    """
    dg = docs.select(
        F.col(id_col),
        F.explode(shingles_of_words(words(F.col(text_col)), n)).alias("g"),
    )
    eg = (
        eval_docs.select(
            F.explode(shingles_of_words(words(F.col(text_col)), n)).alias("g")
        )
        .distinct()
    )
    return (
        dg.join(F.broadcast(eg), on="g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated"))
    )


def repetition_signals(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style intra-document repetition signals: per doc, the
    fraction of duplicate word occurrences and the dominance of the
    single most frequent word — the standard "degenerate/repetitive
    text" quality gates for corpus curation.

    Plan: explode words → two-level aggregate (doc×word counts, then per
    doc). Both aggregates are map-side combinable; the shuffle key is
    (doc, word) then doc — no skew beyond document length, no Python.
    Returns (id, n_words, distinct_words, dup_word_frac, top_word_frac).
    """
    per_word = (
        df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count("*").alias("c"))
    )
    return (
        per_word.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_words"),
            F.count("*").alias("distinct_words"),
            F.max("c").alias("top_c"),
        )
        .select(
            F.col(id_col),
            "n_words",
            "distinct_words",
            (
                (F.col("n_words") - F.col("distinct_words")).cast("double")
                / F.col("n_words").cast("double")
            ).alias("dup_word_frac"),
            (F.col("top_c").cast("double") / F.col("n_words").cast("double")).alias(
                "top_word_frac"
            ),
        )
    )


def apply_text_analysis(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Convenience: id + all text-analysis columns in one select."""
    ts = token_stats_named(text_col)
    qs = quality_score(text_col)
    return df.select(
        F.col(id_col),
        ts["ws_tokens"].alias("ws_tokens"),
        ts["bpe_tokens"].alias("bpe_tokens"),
        qs["n_words"].alias("n_words"),
        qs["mean_word_len"].alias("mean_word_len"),
        lang_id(text_col).alias("pred_lang"),
        fingerprint(text_col).alias("fingerprint"),
    )


def chunk_words(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 128,
    stride: int | None = None,
) -> DataFrame:
    """Split documents into word-window chunks of ``size`` words
    advancing by ``stride`` (stride < size ⇒ overlapping context
    windows — the shape LLM training / embedding pipelines feed their
    tokenizers; stride == size ⇒ disjoint C4-style blocks, the unit
    ``dedup.chunk_dedup_stats`` deduplicates).

    Expression-only (split → sequence of chunk ids → posexplode →
    slice → concat_ws): no Python boundary, stays inside whole-stage
    codegen, and the explode is the only row-count change — no shuffle
    at all until the caller aggregates. Every document yields ≥1 chunk;
    chunk i covers words [i*stride, i*stride + size); the final chunk
    may be shorter (tail). n_chunks = 1 + ceil((n_words - size) /
    stride) when n_words > size.

    Returns (id, chunk_id, chunk_text, n_words).
    """
    if stride is None:
        stride = size
    if size < 1 or stride < 1:
        raise ValueError("size and stride must be >= 1")
    ws = F.split(F.col(text_col), " ")
    n = F.size(ws)
    last_chunk = F.when(n <= size, F.lit(0)).otherwise(
        F.ceil((n - F.lit(size)).cast("double") / F.lit(float(stride))).cast("int")
    )
    chunk_ws = F.slice(F.col("__ws__"), F.col("chunk_id") * stride + 1, size)
    return (
        df.select(
            F.col(id_col).alias("id"),
            ws.alias("__ws__"),
            F.explode(F.sequence(F.lit(0), last_chunk)).alias("chunk_id"),
        )
        .select(
            "id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.concat_ws(" ", chunk_ws).alias("chunk_text"),
            F.size(chunk_ws).cast("long").alias("n_words"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic keyword/topic signal
    used for corpus mixing and cluster labeling.

    Plan: explode words -> per-(doc, term) counts (one shuffle,
    map-side combinable) -> document frequencies from the SAME counts
    table (a second small agg keyed on term; its output is
    |vocabulary|-sized, joined back onto the counts on term — no
    broadcast hint, the counts are already term-keyed and AQE
    broadcasts the df side only when it is actually small) -> windowed
    top-k per doc. The fact table shuffles once either way.

    The corpus size N is a 1-row aggregate cross-joined in as a
    broadcast (NOT a driver-side .collect(): that would be a second
    Spark ACTION — a second full pass over a 100 TB corpus per
    invocation). The N branch scans only the pruned id column, and the
    whole operator stays one action / one plan.

    Determinism across engines: ranking compares ROUND(score, 6) with
    the term string as tie-break — a 1-ULP ln()/division divergence
    between engines can flip an UNROUNDED order, and ranks must agree
    exactly for audits (the reported score is the same rounded value).

    Returns (id, rank, term, score), score = tf * ln((N+1)/(df+1))
    rounded to 6 places.
    """
    from pyspark.sql import Window

    n_docs = df.select(F.col(id_col).alias("id")).agg(
        F.countDistinct("id").cast("double").alias("__n_docs__")
    )
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(words(F.col(text_col))).alias("term"))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    score = F.round(
        F.col("tf")
        * F.log((F.col("__n_docs__") + 1.0) / (F.col("df").cast("double") + 1.0)),
        6,
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("term").asc())
    # dfreq is corpus-vocabulary-sized — no broadcast hint; tf is already
    # term-keyed, so a shuffle join is the natural plan and AQE will
    # broadcast only when the vocabulary is actually small. The 1-row
    # n_docs frame stays a broadcast.
    return (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "rank", "term", "score")
    )


def collapse_repeats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    unit_words: int = 1,
) -> DataFrame:
    """Collapse CONSECUTIVE repeated units inside each document — the
    intra-doc half of repetition cleanup (stuttered words, copy-pasted
    paragraph runs), where `chunk_dedup_*` handles cross-doc repeats.
    A unit is ``unit_words`` words; a unit equal to its immediate
    predecessor is dropped, so "buy now buy now buy now" at
    unit_words=2 collapses to one "buy now".

    Expression-only and embarrassingly parallel: the whole operator is
    an array pipeline (split -> unit transform -> index-lambda filter
    -> rejoin) inside one Project — no shuffle, no UDF, no state
    beyond the row. Per-row cost is linear in doc length.

    Returns (id, n_units, n_kept, clean_text).
    """
    n = unit_words
    warr = words(F.col(text_col))
    if n == 1:
        # fast path: the units ARE the words — the generic
        # sequence+slice build below costs an interpreted slice per
        # unit (measured 3 s on 5k docs at sf0.1; this path runs in
        # the word-split itself)
        units = warr
    else:
        n_units_expr = ((F.size(warr) + F.lit(n - 1)) / F.lit(n)).cast("int")
        units = F.transform(
            F.sequence(F.lit(0), n_units_expr - 1),
            lambda i: F.concat_ws(" ", F.slice(warr, i * n + 1, n)),
        )
    with_units = df.select(F.col(id_col).alias("id"), units.alias("__units__"))
    # filter's lambda index is 0-based; element_at is 1-based, so
    # element_at(units, i) IS the predecessor of element i
    kept = F.filter(
        F.col("__units__"),
        lambda u, i: (i == F.lit(0))
        | (u != F.element_at(F.col("__units__"), i)),
    )
    return with_units.select(
        "id",
        F.size("__units__").cast("long").alias("n_units"),
        F.size(kept).cast("long").alias("n_kept"),
        F.concat_ws(" ", kept).alias("clean_text"),
    )


def ngram_counts(df: DataFrame, id_col: str, text_col: str) -> tuple[DataFrame, DataFrame]:
    """(unigram, bigram) corpus count tables: (w, cw) and (bg, cb).
    These are the materialization unit for vocabulary mining — at
    100 TB write them to parquet once and run `pmi_from_counts` (and
    any other collocation scoring) off the stored tables instead of
    re-tokenizing the corpus per query."""
    counts = _combined_gram_counts(df, text_col)
    return _split_gram_counts(counts)


def _bigram_array(warr) -> Column:
    """Adjacent-word bigram array from a word array column.

    The >=2 guard matters: sequence(0, -1) runs DESCENDING in Spark,
    so an unguarded single-token doc generates i=-1 and element_at
    reads out of bounds instead of yielding zero bigrams."""
    return F.when(
        F.size(warr) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(warr) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(warr, i + 1),
                F.element_at(warr, i + 2),
            ),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))


def _combined_gram_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(gram, c) counts for unigrams AND bigrams out of ONE tokenize
    pass + ONE aggregate (r15, guide §1.2/§2.4): the corpus was
    previously exploded twice (tokens, then bigrams) with a
    count-aggregate each. Words are split on a single space, so a
    unigram can never contain ' ' and a bigram always does — the two
    vocabularies are disjoint by construction and one shared count
    table serves both (`_split_gram_counts` separates them with a
    contains-space filter, no recount)."""
    df = fan_scan(df)  # tokenizing is the CPU-heavy stage
    warr = words(F.lower(F.col(text_col)))
    return (
        df.select(F.explode(F.concat(warr, _bigram_array(warr))).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("c"))
    )


def _split_gram_counts(counts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a `_combined_gram_counts` table into the (w, cw) unigram
    and (bg, cb) bigram tables (space-in-key discriminates; see
    `_combined_gram_counts`)."""
    uni = counts.filter(~F.col("g").contains(" ")).select(
        F.col("g").alias("w"), F.col("c").alias("cw")
    )
    bi = counts.filter(F.col("g").contains(" ")).select(
        F.col("g").alias("bg"), F.col("c").alias("cb")
    )
    return uni, bi


def pmi_from_counts(
    uni: DataFrame, bi: DataFrame, min_count: int = 5, k: int = 15
) -> DataFrame:
    """Top-k PMI collocations from (w, cw)/(bg, cb) count tables (see
    `ngram_counts` / `pmi_bigrams`). Totals fold in as 1-row
    broadcasts; the unigram vocabulary tables join plainly (they are
    vocabulary-sized — unbounded at corpus scale — so no broadcast
    hint; AQE broadcasts them only when actually small, matching
    `lm_score_from_counts`). Returns (bigram, n, pmi) — pmi rounded
    to 6dp."""
    n1 = uni.agg(F.sum("cw").cast("double").alias("n1"))
    n2 = bi.agg(F.sum("cb").cast("double").alias("n2"))
    a = F.split(F.col("bg"), " ").getItem(0)
    b = F.split(F.col("bg"), " ").getItem(1)
    ua = uni.select(F.col("w").alias("wa"), F.col("cw").alias("ca"))
    ub = uni.select(F.col("w").alias("wb"), F.col("cw").alias("cb2"))
    pmi = F.log(
        (F.col("cb").cast("double") / F.col("n2"))
        / (
            (F.col("ca").cast("double") / F.col("n1"))
            * (F.col("cb2").cast("double") / F.col("n1"))
        )
    )
    return (
        bi.filter(F.col("cb") >= min_count)
        .withColumn("wa", a)
        .withColumn("wb", b)
        .join(ua, on="wa")
        .join(ub, on="wb")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            F.col("bg").alias("bigram"),
            F.col("cb").alias("n"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("bigram").asc())
        .limit(k)
    )


def pmi_bigrams(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
    k: int = 15,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information:
    pmi(a,b) = ln( p(ab) / (p(a)·p(b)) ) over corpus bigram/unigram
    frequencies, thresholded at ``min_count`` occurrences (PMI is
    noise-dominated on rare pairs). The vocabulary-mining shape LM
    tokenizer/phrase pipelines run before merging multiwords.

    Plan: explodes feed map-side-combinable count aggregates; corpus
    totals fold in as 1-row broadcasts and the unigram tables join
    plainly onto the bigram counts (vocabulary ≪ corpus, but still
    unbounded — AQE broadcasts when actually small) — the only
    data-sized shuffles are count aggregates and the vocab joins.
    Catalyst does not share subplans, so the tokenize+count runs once
    per aggregate branch (~5 corpus scans, each linear); for a 100 TB
    corpus, materialize `ngram_counts`' tables once (write parquet)
    and run `pmi_from_counts` off the stored tables instead. Top-k is
    a single TakeOrdered.

    Returns (bigram, n, pmi) — pmi rounded to 6dp for engine parity.

    Building this plan launches Spark jobs: the count table is cut with
    an eager ``materialize``.
    """
    # The count tables are tiny (vocabulary-sized) but their subtree
    # tokenizes the whole corpus, and pmi_from_counts references the
    # unigram table twice (two word joins) plus both totals. r15: ONE
    # combined uni+bi count table out of one tokenize pass, eagerly
    # checkpointed once (was two checkpoints over two tokenize passes);
    # the uni/bi splits downstream are filters over the materialized
    # table — the in-operator version of the "materialize ngram_counts
    # once" advice the docstring gives for stored-table use at scale.
    counts = materialize(_combined_gram_counts(df, text_col), eager=True)
    uni, bi = _split_gram_counts(counts)
    return pmi_from_counts(uni, bi, min_count=min_count, k=k)


def lm_score_from_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    uni: DataFrame,
    bi: DataFrame,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document bigram-LM cross-entropy scoring from stored count
    tables — the CCNet-style perplexity quality filter: documents whose
    token transitions are improbable under a reference LM (here an
    add-alpha-smoothed bigram model from `ngram_counts`) are gibberish /
    boilerplate candidates; low-perplexity documents read like the
    reference corpus.

        nll(w1 w2) = -ln( (c(w1 w2) + α) / (c(w1) + α·V) )

    per-bigram, averaged over the document's bigrams (each term rounded
    to 6dp before aggregation so the score is engine-reproducible — the
    same trick as `tfidf_top_terms`).

    Plan: per-doc (id, bigram) counts aggregate map-side, join corpus
    bigram counts on the bigram key (co-partitioned: `bi` just
    aggregated on it), then the unigram table joins on the first word
    and V folds in as a 1-row broadcast. At 100 TB run this off
    materialized `ngram_counts` parquet — the model tables are the
    small side and the corpus is scanned once.

    Returns (id, n_bigrams, avg_nll, ppl); documents with fewer than
    two tokens keep their row with n_bigrams=0 and NULL scores.
    """
    base = df.select(F.col(id_col).alias("id"))
    df = fan_scan(df)  # before the CPU-heavy per-doc tokenize
    warr = words(F.lower(F.col(text_col)))
    doc_bi = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(_bigram_array(warr)).alias("bg"),
        )
        .groupBy("id", "bg")
        .agg(F.count("*").alias("m"))
    )
    return _score_from_doc_bigrams(base, doc_bi, uni, bi, alpha)


def _score_from_doc_bigrams(
    base: DataFrame,
    doc_bi: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    alpha: float,
) -> DataFrame:
    """Shared scoring tail of `lm_score_from_counts` / `lm_score`:
    joins per-doc bigram counts (id, bg, m) against the model tables
    and produces (id, n_bigrams, avg_nll, ppl) for every id in
    ``base``."""
    vocab = uni.agg(F.count("*").cast("double").alias("__v__"))
    u1 = uni.select(F.col("w").alias("__w1__"), F.col("cw").alias("__c1__"))
    # left joins + coalesce-to-0: with a held-out reference model an
    # unseen bigram/unigram must score at the smoothing floor
    # α/(c+αV), not vanish from the average (self-scoring always hits)
    nll = F.round(
        -F.log(
            (F.coalesce(F.col("cb"), F.lit(0)).cast("double") + F.lit(alpha))
            / (
                F.coalesce(F.col("__c1__"), F.lit(0)).cast("double")
                + F.lit(alpha) * F.col("__v__")
            )
        ),
        6,
    )
    scored = (
        doc_bi.join(bi, on="bg", how="left")
        .withColumn("__w1__", F.split(F.col("bg"), " ").getItem(0))
        .join(u1, on="__w1__", how="left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("id")
        .agg(
            F.sum("m").alias("n_bigrams"),
            # the weighted sum runs in decimal so it is exact and
            # order-independent (a plain double sum flipped the 6dp
            # rounding on ~1% of docs between engines); ×1e6 turns the
            # scale-6 decimal into exact integer micro-nats
            (F.sum(nll.cast("decimal(28,6)") * F.col("m")) * 1000000)
            .cast("long")
            .alias("__nmicro__"),
        )
        # the average must come out bit-identical on every engine, and a
        # double division rounded to 6dp is NOT: one doc in 5000 at
        # sf0.1 landed on a round-half tie and flipped the last digit
        # between engines (r8). (2N+m) div (2m) is round-half-up of N/m
        # in exact integer arithmetic (nll terms are >0: the smoothed
        # bigram probability is strictly < 1), so the 6dp average is an
        # integer everywhere and /1e6 yields the identical double.
        # n_bigrams >= 1 by construction (groups exist only for docs
        # that emitted a bigram), but guard anyway: a zero-count group
        # must yield null, not an ANSI DIVIDE_BY_ZERO
        .withColumn(
            "__avg__",
            F.when(
                F.col("n_bigrams") > 0,
                F.expr(
                    "cast((2 * __nmicro__ + n_bigrams) div (2 * n_bigrams) as double)"
                )
                / F.lit(1000000.0),
            ),
        )
    )
    return base.join(scored, on="id", how="left").select(
        "id",
        F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
        F.round(F.col("__avg__"), 6).alias("avg_nll"),
        F.round(F.exp(F.round(F.col("__avg__"), 6)), 6).alias("ppl"),
    )


def lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Self-scoring convenience for `lm_score_from_counts`: trains the
    bigram model on ``df`` itself and scores every document against it
    (the in-corpus outlier sweep). For a held-out reference model,
    materialize `ngram_counts` of the reference corpus and call
    `lm_score_from_counts` directly.

    Building this plan launches Spark jobs: the per-doc gram counts are
    cut with an eager ``materialize``."""
    # r15 single-scan shape: ONE tokenize pass builds the per-doc
    # (id, gram, m) count table (checkpointed — it is referenced by
    # four branches below), and BOTH model tables plus the per-doc
    # bigram features derive from it by aggregation/filter: the model
    # totals are sums of the per-doc partials, so the numbers are
    # identical to training uni/bi in their own passes. The previous
    # shape tokenized the corpus three times (uni, bi, doc_bi) behind
    # two checkpoints.
    base = df.select(F.col(id_col).alias("id"))
    src = fan_scan(df)
    warr = words(F.lower(F.col(text_col)))
    dg = (
        src.select(
            F.col(id_col).alias("id"),
            F.explode(F.concat(warr, _bigram_array(warr))).alias("g"),
        )
        .groupBy("id", "g")
        .agg(F.count("*").alias("m"))
    )
    dg = materialize(dg, eager=True)
    uni = (
        dg.filter(~F.col("g").contains(" "))
        .groupBy("g")
        .agg(F.sum("m").alias("cw"))
        .select(F.col("g").alias("w"), "cw")
    )
    bi = (
        dg.filter(F.col("g").contains(" "))
        .groupBy("g")
        .agg(F.sum("m").alias("cb"))
        .select(F.col("g").alias("bg"), "cb")
    )
    doc_bi = dg.filter(F.col("g").contains(" ")).select(
        "id", F.col("g").alias("bg"), "m"
    )
    return _score_from_doc_bigrams(base, doc_bi, uni, bi, alpha)


def canary_scan(
    df: DataFrame,
    id_col: str,
    text_col: str,
    canaries: DataFrame,
    canary_id_col: str,
    canary_text_col: str,
) -> DataFrame:
    """Exact-substring canary detection: which documents contain any of
    a (small) set of marker strings — the benchmark-canary /
    copyright-string sweep run before training. Complements
    `ngram_overlap` (token-level) with byte-level exact matching.

    The canary set broadcasts; the scan is a broadcast nested-loop
    `contains` join — one corpus pass, no shuffle of the corpus, cost
    O(rows × canaries × |text|). For canary sets beyond a few
    thousand, compile them into one combined regex (RE2-style
    alternation) or an Aho-Corasick pass in a pandas UDF instead.

    Returns (id, n_hits, first_canary) — first_canary is the lowest
    matching canary id, NULL when clean.
    """
    hit = canaries.select(
        F.col(canary_id_col).alias("__cid__"),
        F.col(canary_text_col).alias("__ctext__"),
    )
    joined = df.join(
        F.broadcast(hit),
        F.col(text_col).contains(F.col("__ctext__")),
        "left",
    )
    return joined.groupBy(F.col(id_col).alias("id")).agg(
        F.count("__cid__").alias("n_hits"),
        F.min("__cid__").alias("first_canary"),
    )
