"""Sampling / splitting operators for training-data pipelines.

Beyond-reference capability (the reference has no sampling of any
kind). The operators a corpus pipeline needs before training: a
deterministic, engine-portable train/test split and per-stratum
downsampling.

Scale posture: both are single-pass, shuffle-free map operations — the
split decision is a pure function of the row's own key, so it is stable
under re-partitioning, re-runs, cluster size changes, and even engine
changes (md5 is md5 everywhere). Never split with rand(): a retried
task re-draws and rows silently change sides mid-job.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline import fan_scan, materialize

__all__ = [
    "hash_split",
    "stratified_sample",
    "quota_sample",
    "mixture_sample",
    "select_by_budget",
    "dsir_logratios",
]


def _frac_pred(h: F.Column, frac: float) -> F.Column:
    """keep-predicate for an 8-hex-char uniform hash vs a fraction.

    Clamped: frac>=1.0 keeps everything (16^8 formats to NINE hex chars,
    and the lexicographic compare against a 9-char string would keep only
    hashes starting with '0' — ~1/16 of rows); frac<=0 keeps nothing."""
    if frac >= 1.0:
        return F.lit(True)
    if frac <= 0.0:
        return F.lit(False)
    return h < F.lit(format(int(frac * 16**8), "08x"))


def hash_split(
    df: DataFrame,
    key_col: str,
    train_frac: float = 0.8,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/test split on a key hash.

    A row lands in "train" iff the first 8 hex chars of
    md5(key || salt) — uniform over [0, 16^8) — fall below
    train_frac·16^8. Hex-string comparison makes the rule bit-portable
    across engines (the same SQL reproduces the exact same split in
    DuckDB/Trino/BigQuery for audits). Change ``salt`` to draw a fresh
    independent split without touching the data.
    """
    h = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), 1, 8
    )
    return df.withColumn(
        split_col,
        F.when(_frac_pred(h, train_frac), "train").otherwise("test"),
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic downsampling (e.g. cap the dominant
    language at 10%): keep a row iff its key-hash falls below its
    stratum's fraction. Same md5 rule as hash_split — reproducible and
    shuffle-free, unlike sampleBy's seed-and-partition-order dependent
    Bernoulli draw. Strata missing from ``fractions`` are kept whole.
    """
    h = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), 1, 8
    )
    cond = F.lit(True)
    for stratum, frac in fractions.items():
        cond = F.when(
            F.col(stratum_col) == stratum, _frac_pred(h, frac)
        ).otherwise(cond)
    return df.filter(cond)


def quota_sample(
    df: DataFrame,
    group_col: str,
    quota: int,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Per-group quota sampling — keep at most ``quota`` rows per group
    (the domain-cap staple of web-corpus curation: no single source may
    dominate the training mix).

    Selection is DETERMINISTIC and engine-portable: rows rank within
    their group by md5(key || salt) (uniform, so the quota takes an
    unbiased sample of the group), key as tie-break. Same audit
    property as hash_split: any SQL engine reproduces the exact keep
    set.

    Scale: one shuffle on ``group_col``. A hot group (one domain = half
    the corpus) serializes its rank into a single task, so for
    heavy-skew corpora pre-thin hot groups first with a cheap
    hash-threshold pass (keep rows with md5 below ~ 2*quota/|group|
    estimated from a count) and apply the exact window to the
    survivors; the window then sorts ~2*quota rows per group instead
    of |group|.
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__qrn__", F.row_number().over(w))
        .filter(F.col("__qrn__") <= quota)
        .drop("__qrn__")
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    alpha: float = 0.5,
    target_total: int = 1000,
    salt: str = "",
) -> DataFrame:
    """Temperature-weighted domain mixture resampling (the Pile /
    multilingual-LM recipe): re-draw a corpus of ~``target_total`` rows
    where group g contributes proportionally to count(g)^alpha.
    ``alpha`` = 1 keeps natural proportions, 0 makes groups uniform —
    between, it up-weights small domains without drowning large ones.

    Each group's target implies epochs(g) = target(g)/count(g) passes
    over the group: every row is emitted floor(epochs) times (epochs
    1..E) plus one fractional epoch E+1 drawn by the same md5-threshold
    rule as `hash_split` — deterministic per-row, so re-runs, retries,
    and other engines reproduce the exact multiset. (Epoch-counted
    repetition is how LM data loaders consume mixtures; downstream
    packing sees (key, epoch) as the sequence identity.)

    Plan shape: one tiny aggregate (distinct groups) broadcast back
    onto the stream — counts never leave the cluster and there is no
    shuffle of the data itself; the explode multiplies rows map-side.
    The fractional threshold is compared in hex-string space
    (lpad(hex(floor(frac·16^8)))) so the predicate is bit-identical on
    any engine with md5/hex, same as the rest of this module.

    Returns the input columns plus ``epoch`` (1-based).
    """
    counts = df.groupBy(group_col).agg(F.count("*").alias("__n__"))
    tot = counts.agg(
        F.sum(F.pow(F.col("__n__").cast("double"), F.lit(alpha))).alias("__tw__")
    )
    weights = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "__epochs__",
            F.lit(float(target_total))
            * F.pow(F.col("__n__").cast("double"), F.lit(alpha))
            / F.col("__tw__")
            / F.col("__n__").cast("double"),
        )
        .select(group_col, "__epochs__")
    )
    h = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt))), 1, 8
    )
    full = F.floor(F.col("__epochs__")).cast("int")
    frac = F.col("__epochs__") - full.cast("double")
    # hex threshold for the fractional epoch: frac is a COLUMN here, so
    # the python-literal _frac_pred doesn't apply — build the 8-hex-char
    # bound as an expression (floor() explicitly: DuckDB's double->int
    # cast rounds where Spark's truncates)
    thr = F.lower(
        F.lpad(F.hex(F.floor(frac * F.lit(float(16**8))).cast("bigint")), 8, "0")
    )
    joined = df.join(F.broadcast(weights), on=group_col)
    epochs_arr = F.when(
        full >= 1, F.sequence(F.lit(1), full)
    ).otherwise(F.array().cast("array<int>"))
    with_extra = F.when(h < thr, F.concat(epochs_arr, F.array(full + 1))).otherwise(
        epochs_arr
    )
    return (
        joined.select(*df.columns, F.explode(with_extra).alias("epoch"))
    )


def select_by_budget(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    quality_col: str,
    budget: int,
) -> DataFrame:
    """Quality-first corpus selection under a global weight budget (the
    "best N tokens" data-selection step): rows rank by (quality DESC,
    key ASC) and a row is kept iff the cumulative weight of every
    strictly-better row plus its own still fits the budget. Only rows
    that fit WHOLE are kept — no partial document.

    Runs on the same distributed prefix sum as sequence packing
    (operators/packing.py): one range shuffle on the (−quality, key)
    struct + a per-partition totals broadcast — no single-partition
    stage, unlike the SUM() OVER (ORDER BY …) plan the naive SQL
    compiles to.

    Returns the kept rows with their exclusive running ``offset``.
    """
    from .packing import global_prefix_sum

    order_key = F.struct(
        (-F.col(quality_col)).alias("__negq__"), F.col(key_col).alias("__k__")
    )
    with_off = global_prefix_sum(df, order_key, weight_col, out_col="offset")
    return with_off.filter(
        F.col("offset") + F.col(weight_col).cast("long") <= F.lit(budget)
    )


def dsir_logratios(
    source: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int = 3,
    alpha: float = 0.5,
    target_within_source: bool = False,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every SOURCE
    document by how much more likely its hashed n-gram features are
    under a TARGET-corpus model than under the source model —
    sum over the doc's (uni+bi)gram occurrences of

        ln( p_target(bucket) / p_source(bucket) )

    with add-α smoothing over the B hash buckets. High log-ratio ⇒ the
    doc "reads like" the target domain; feed the output to
    `select_by_budget` / `hash_split`-thresholding for the actual
    resampling step.

    Engine-portable hashing: the bucket key is the first ``prefix_len``
    hex chars of md5(gram) (B = 16^prefix_len buckets) — a STRING key,
    so any engine with md5 reproduces the bucketing exactly, same as
    this module's split/threshold rules.

    Scale shape: both model tables are bounded by B (4096 at the
    default), so they broadcast; per-doc feature counts aggregate
    map-side on (id, bucket); corpus totals fold in as 1-row
    broadcasts. The only data-sized shuffles are the count aggregates —
    the target corpus is scanned twice (counts + total) and the source
    three times; at 100 TB, materialize the two count tables once and
    reuse (they are the "trained model"). Per-bucket terms round to 6dp
    and the per-doc sum runs in decimal, so the scores are
    engine-exact.

    Returns (id, n_grams, logratio_sum, avg_logratio) for every source
    document; docs with no grams (empty text still yields one unigram)
    cannot occur, so no null handling is needed.

    ``target_within_source=True`` declares that every target row's id
    appears in ``source`` with identical text (the usual "in-domain
    slice of my corpus" setup): the target model is then derived from
    the source feature table by a semi join on id (identical counts —
    per-doc bucket counts are exact partials), skipping the second
    tokenize+hash pass over the target corpus entirely. It also needs
    ids that are unique on both sides, and nothing checks it: a target
    id that repeats is counted once instead of once per row (the semi
    join keeps each source row once), and a source id shared by several
    documents brings all of their grams into the target model. Either
    silently changes every score; pass ``False`` when ids may repeat.

    Building this plan launches Spark jobs: the source feature table and
    the target model table are cut eagerly with ``materialize``.
    """
    B = 16 ** prefix_len
    # tokenize/hash is the CPU-heavy stage
    source, target = fan_scan(source), fan_scan(target)

    def buckets(df: DataFrame) -> DataFrame:
        warr = F.split(F.lower(F.col(text_col)), " ")
        bi = F.when(
            F.size(warr) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(warr) - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(warr, i + 1), F.element_at(warr, i + 2)
                ),
            ),
        ).otherwise(F.expr("array()").cast("array<string>"))
        return df.select(
            F.col(id_col).alias("id"),
            F.explode(F.concat(warr, bi)).alias("__g__"),
        ).withColumn("__b__", F.substring(F.md5(F.col("__g__")), 1, prefix_len))

    # r15 scan accounting (guide §1.2): the target model table tokenizes
    # the target once (checkpointed — referenced by the feature join and
    # its total), and the SOURCE side is tokenized exactly once: the
    # per-doc feature table is computed first (checkpointed — referenced
    # by the scoring join, the derived model table, and its total), and
    # the source model counts are its per-bucket sums — identical
    # numbers to counting the raw gram stream, one corpus pass fewer
    # than the previous shape (which tokenized the source for the model
    # AND again for the features).
    # r15 (guide §2.6): the target-model aggregate and the source
    # feature table are INDEPENDENT jobs — materialize both checkpoint
    # cuts from a 2-thread pool so the scheduler back-fills one job's
    # straggler tail with the other's tasks (and the two Catalyst
    # optimizations overlap too) instead of running them strictly
    # sequentially. Results are unaffected: each job is the same
    # deterministic aggregate it was, just submitted concurrently.
    # r16 (guide §1.2 "don't compute things twice"): when the caller
    # declares the target a SUBSET of the source (the common DSIR setup
    # — "the in-domain slice of my corpus"), the target model is the
    # per-bucket sum of the target docs' rows of the source feature
    # table: identical integers to tokenizing the target again (per-doc
    # bucket counts are exact partials of the corpus count), with the
    # ENTIRE second tokenize+md5 pass over the target corpus removed.
    # The semi join keys on id — small side, AQE broadcasts it.
    if target_within_source:
        doc_feats = materialize(
            buckets(source).groupBy("id", "__b__").agg(F.count("*").alias("__m__")),
            eager=True,
        )
        tgt_counts = materialize(
            doc_feats.join(
                target.select(F.col(id_col).alias("id")), on="id", how="leftsemi"
            )
            .groupBy("__b__")
            .agg(F.sum("__m__").alias("__ct__")),
            eager=True,
        )
    else:
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_tgt = pool.submit(
                lambda: materialize(
                    buckets(target).groupBy("__b__").agg(F.count("*").alias("__ct__")),
                    eager=True,
                )
            )
            f_src = pool.submit(
                lambda: materialize(
                    buckets(source).groupBy("id", "__b__").agg(F.count("*").alias("__m__")),
                    eager=True,
                )
            )
            tgt_counts = f_tgt.result()
            doc_feats = f_src.result()
    src_counts = doc_feats.groupBy("__b__").agg(F.sum("__m__").alias("__cs__"))
    tgt_total = tgt_counts.agg(F.sum("__ct__").cast("double").alias("__nt__"))
    src_total = src_counts.agg(F.sum("__cs__").cast("double").alias("__ns__"))
    lr = F.round(
        F.log(
            (F.coalesce(F.col("__ct__"), F.lit(0)).cast("double") + F.lit(alpha))
            / (F.col("__nt__") + F.lit(alpha * B))
        )
        - F.log(
            (F.coalesce(F.col("__cs__"), F.lit(0)).cast("double") + F.lit(alpha))
            / (F.col("__ns__") + F.lit(alpha * B))
        ),
        6,
    )
    return (
        doc_feats.join(F.broadcast(tgt_counts), on="__b__", how="left")
        .join(F.broadcast(src_counts), on="__b__", how="left")
        .crossJoin(F.broadcast(tgt_total))
        .crossJoin(F.broadcast(src_total))
        .groupBy("id")
        .agg(
            F.sum("__m__").alias("n_grams"),
            F.sum(lr.cast("decimal(28,6)") * F.col("__m__")).alias("__s__"),
        )
        .select(
            "id",
            "n_grams",
            F.round(F.col("__s__").cast("double"), 6).alias("logratio_sum"),
            F.round(
                F.col("__s__").cast("double") / F.col("n_grams"), 6
            ).alias("avg_logratio"),
        )
    )
