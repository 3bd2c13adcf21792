"""Physical-plan quality gates: these assert the SHAPE of the plans the
engine produces, not their results — scan pushdown, column pruning,
broadcast join selection, map-side partial aggregation, and whole-stage
codegen. A regression here is a 100-TB performance bug even when every
value is still correct at test scale.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from gratum_spark.plans import queries as Q
from gratum_spark.sources import table


# shared pre-AQE explain helper (see its docstring in conftest.py)
from conftest import plan_of  # noqa: E402


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_filter_pushed_to_parquet_scan(spark, sf):
    """An engine filter must reach the parquet reader as PushedFilters,
    not run post-scan only."""
    df = table(spark, sf, "orders").filter({"o_orderstatus": "O"}).df
    plan = plan_of(df.select("o_orderkey"))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_orderstatus)" in plan or "EqualTo(o_orderstatus" in plan


def test_projection_prunes_scan_columns(spark, sf):
    """Selecting 2 of 9 orders columns must shrink ReadSchema to those
    columns — a full-width scan at 100 TB reads TBs it throws away."""
    df = table(spark, sf, "orders").df.select("o_orderkey", "o_totalprice")
    plan = plan_of(df)
    read = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "o_orderkey" in read and "o_totalprice" in read
    assert "o_comment" not in read and "o_orderdate" not in read


def test_dimension_joins_broadcast(spark, sf):
    """q5's region/nation/customer dimension joins must be broadcast —
    shuffling the fact table on a dimension key is the classic scale
    bug the reference's cached-right-side join avoided by design."""
    plan = plan_of(Q.q5_region_revenue(spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_aggregation_is_partial_then_final(spark, sf):
    """groupBy aggregates must combine map-side (partial_) before the
    shuffle; a final-only plan ships every input row to the reducers."""
    plan = plan_of(Q.q1_pricing_summary(spark, sf))
    assert "partial_" in plan
    assert plan.count("HashAggregate") >= 2


def test_expression_pipeline_fuses_to_one_project(spark, sf):
    """Eight chained column ops (clip/rename/add_field/trim/set_field)
    must collapse into a single Project over the scan — per-operator
    materialization or a Python fallback would each show up as extra
    plan nodes. (AQE's pre-execution explain omits WholeStageCodegen
    labels, so fusion is asserted structurally.)"""
    plan = plan_of(Q.op_column_ops(spark, sf))
    assert "EvalPython" not in plan
    body = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert body.count("Project") == 1


def test_text_stats_no_python_udf(spark, sf):
    """Token counting / quality scoring is expression-only by design —
    a Python UDF appearing in this plan means the hot path fell off the
    JVM."""
    plan = plan_of(Q.text_stats(spark, sf))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_chunking_is_expression_only_single_scan(spark, sf):
    """chunk_words must stay JVM-side (split/sequence/explode/slice are
    all codegen expressions) and read the corpus once — chunking 100 TB
    must cost one scan plus the explode, nothing else."""
    plan = plan_of(Q.text_chunks(spark, sf))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("(1) Scan parquet") == 1


def test_sort_limit_uses_top_k(spark, sf):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (streaming
    top-k per partition), never a full global sort."""
    plan = plan_of(Q.q3_top_orders(spark, sf))
    assert "TakeOrderedAndProject" in plan


def test_semi_join_stays_semi(spark, sf):
    """The semi-join query must keep LeftSemi in the physical plan —
    rewriting it as inner-join + distinct doubles the shuffle."""
    plan = plan_of(Q.op_semi_join(spark, sf))
    assert "LeftSemi" in plan


def test_grouping_sets_single_scan(spark, sf):
    """GROUPING SETS must expand in one scan (Expand operator), not
    union N re-reads of the table."""
    plan = plan_of(Q.op_grouping_sets(spark, sf))
    assert "Expand" in plan
    assert "Union" not in plan
    assert plan.count("(1) Scan parquet") == 1


def test_unpivot_single_scan(spark, sf):
    """UNPIVOT must be a single-scan Expand/Generate, not a UNION ALL
    of per-column re-scans."""
    plan = plan_of(Q.op_unpivot(spark, sf))
    assert "Expand" in plan
    assert "Union" not in plan
    assert plan.count("(1) Scan parquet") == 1


def test_bucketed_join_skips_shuffle(spark, sf, tmp_path):
    """Joining two tables bucketed on the same key must produce a plan
    with NO Exchange on either side — the write-time bucketing replaces
    the per-query shuffle, which at 100 TB is the difference between a
    join costing a scan and costing a full-network data move."""
    from gratum_spark.sinks import write_bucketed

    orders = table(spark, sf, "orders").df
    cust = table(spark, sf, "customer").df
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    write_bucketed(
        orders, "b_orders", ["o_custkey"], 8, path=str(tmp_path / "b_orders")
    )
    write_bucketed(
        cust, "b_customer", ["c_custkey"], 8, path=str(tmp_path / "b_customer")
    )
    # hint a merge join: at test scale the 16 MB auto-broadcast would
    # otherwise win and mask whether bucketing removed the shuffle
    joined = spark.table("b_orders").hint("merge").join(
        spark.table("b_customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    plan = plan_of(joined)
    assert "Exchange" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # values survive the bucketed round-trip
    assert joined.count() == orders.join(cust, orders.o_custkey == cust.c_custkey).count()


def test_partitioned_write_enables_partition_pruning(spark, sf, tmp_path):
    """A filter on the partition column of a partition_by'd parquet sink
    must prune at the directory level (PartitionFilters in the scan) —
    at 100 TB this is the difference between reading one partition and
    reading the lake."""
    d = str(tmp_path / "byflag")
    li = table(spark, sf, "lineitem").df.select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(d)
    got = spark.read.parquet(d).filter(F.col("l_returnflag") == "R")
    plan = plan_of(got)
    assert "PartitionFilters" in plan
    head = plan[plan.index("PartitionFilters") :].splitlines()[0]
    assert "l_returnflag" in head
    # and the non-partition data filters stay out of PartitionFilters
    assert got.count() == li.filter("l_returnflag = 'R'").count()


def test_contamination_broadcasts_eval_grams(spark, sf):
    """ngram_overlap must broadcast the (small) eval-gram side; a
    shuffle-hash join here would shuffle the 100 TB training grams."""
    df = Q.text_contamination(spark, sf)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_redact_pii_is_expression_only(spark, sf):
    """PII redaction must stay JVM-side (no Python workers in the map)."""
    df = Q.text_redact_pii(spark, sf)
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_range_join_broadcasts_band_table_no_fact_shuffle(spark, sf):
    """The non-equi band join must plan as BroadcastNestedLoopJoin of the
    3-row band table — never a CartesianProduct, and the lineitem side
    must reach the join unshuffled (the only hash shuffle in the plan is
    the 3-group post-aggregation exchange). Pinned so a bench outlier on
    op_range_join can never again be a plan mystery (r4: recorded 20.9 s
    was sandbox noise; steady-state 1.3 s on this exact shape)."""
    plan = plan_of(Q.op_range_join(spark, sf))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    hash_shuffles = [
        line for line in plan.splitlines() if "hashpartitioning(" in line
    ]
    assert len(hash_shuffles) == 1 and "band" in hash_shuffles[0]
    assert "partial_" in plan  # agg combines map-side before that shuffle


def test_minhash_band_join_carries_only_band_h_id(spark, sf):
    """The LSH banding self-join must stay NARROW: every shuffle in the
    candidate-pair plan moves at most (band, h, id) — the n_hashes-long
    signature array must never ride through the exploded band rows
    (measured ~2.5x whole-operator cost when it did; dedup.py keeps the
    signatures checkpointed and re-joins them per-candidate instead)."""
    import re

    from gratum_spark.operators.dedup import _lsh_candidates

    docs = table(spark, sf, "documents").df
    _sig, pairs = _lsh_candidates(docs, "doc_id", "text", 3, 64, 16)
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    exchanges = [
        p for p in re.split(r"\n\s*\n", plan) if re.match(r"\(\d+\) Exchange", p)
    ]
    assert exchanges, "expected the (band, h) shuffle in the candidate plan"
    for ex in exchanges:
        assert "sig" not in ex, f"signature array crossed a shuffle:\n{ex}"
        m = re.search(r"Input \[(\d+)\]", ex)
        assert m and int(m.group(1)) <= 3, f"wide shuffle in band join:\n{ex}"


def test_incremental_dedup_band_join_is_narrow_equi(spark, sf):
    """The cross-corpus (new batch x corpus) band join must have the same
    narrow shape as the self-join: an equality join on (band, h) moving
    at most (band, h, id) per side — no signature arrays through the
    shuffle and no cross product anywhere."""
    import re

    from pyspark.sql import functions as FF

    from gratum_spark.operators.dedup import minhash_verified_pairs_cross

    docs = table(spark, sf, "documents").df
    out = minhash_verified_pairs_cross(
        docs.filter(FF.col("doc_id") % 10 == 0),
        docs.filter(FF.col("doc_id") % 10 != 0),
        "doc_id",
        "text",
        threshold=0.5,
    )
    plan = plan_of(out)
    # every join is an equi-join (the band-bucket join may plan as
    # broadcast at small SF or shuffle at scale — both are fine shapes;
    # BNLJ/cartesian would be the quadratic failure)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # nothing wide crosses an exchange of either kind before the verify
    # stage: the banded rows are (band, h, id) and the candidate set is
    # (new_id, corpus_id) — the n_hashes signature array must stay out
    exchanges = [
        p for p in re.split(r"\n\s*\n", plan)
        if re.match(r"\(\d+\) (Broadcast)?Exchange", p)
    ]
    assert exchanges
    for ex in exchanges:
        assert "sig#" not in ex, f"signature array crossed an exchange:\n{ex}"
        m = re.search(r"Input \[(\d+)\]", ex)
        if m:
            assert int(m.group(1)) <= 3, f"wide exchange in cross band join:\n{ex}"


def test_asof_join_no_cartesian(spark, sf):
    """The as-of join is a union + per-key window (last-non-null carry),
    NOT a range cross-product: any CartesianProduct/BNLJ here would be
    O(n*m) at scale instead of one per-key shuffle."""
    plan = plan_of(Q.op_asof_join(spark, sf))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_dedup_single_bucket_shuffle(spark, sf):
    """embedding_cosine_pairs must reach its per-bucket BLAS scoring with
    ONE hash shuffle on (table, bucket) — a candidate-pair self-join
    shape (4 shuffles carrying the vector payload) measured 3x slower
    and grows with the candidate set, not the survivor set.

    Inspects the operator directly (same args as the dedup_embedding
    catalog query): since r15 the catalog query pins its result rows
    before the final sort (materialize()), which replaces the upstream plan
    with a LogicalRDD scan in explain output."""
    from gratum_spark.operators import dedup as D

    emb = table(spark, sf, "embeddings").df
    plan = plan_of(
        D.embedding_cosine_pairs(
            emb, "vec_id", "embedding", threshold=0.5, n_planes=6, n_tables=16
        )
    )
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan
    bucket_shuffles = [
        line
        for line in plan.splitlines()
        if "hashpartitioning(" in line and "bucket" in line
    ]
    assert len(bucket_shuffles) == 1


def test_tfidf_is_one_action(spark, sf):
    """tfidf_top_terms must fold the corpus size N into the plan (1-row
    broadcast cross join), not .collect() it — a driver-side N is a
    second full pass over a 100 TB corpus per invocation.

    Inspects the operator directly (same args as the text_tfidf catalog
    query): since r15 the catalog query pins its result rows before the
    final sort (materialize()), whose AQE materialization legitimately runs
    the upstream stages at build time and replaces the plan with a
    LogicalRDD scan — the no-collect guarantee lives in the operator."""
    from gratum_spark.operators import text as T2

    sc = spark.sparkContext
    # baseline: even a bare parquet read runs one footer/schema job, so
    # "no extra action" means the tfidf build runs exactly as many jobs
    # as its single table read does — the old .collect() added one more
    sc.setLocalProperty("spark.jobGroup.id", "tfidf_baseline_read")
    try:
        table(spark, sf, "documents")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    baseline = len(sc.statusTracker().getJobIdsForGroup("tfidf_baseline_read"))
    sc.setLocalProperty("spark.jobGroup.id", "tfidf_plan_build")
    try:
        df = T2.tfidf_top_terms(
            table(spark, sf, "documents").df, "doc_id", "text", k=3
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    built = len(sc.statusTracker().getJobIdsForGroup("tfidf_plan_build"))
    assert built <= baseline
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row N rides a broadcast


def test_pinned_preserves_rows_and_truncates_plan(spark, sf):
    """materialize() (r15, pin-before-global-sort) must be a pure
    materialization point: identical rows/schema to the unpinned shape,
    while the downstream plan reads a LogicalRDD scan instead of
    re-deriving (and re-executing, via the range-sort sampler) the tail
    subtree."""
    base = (
        table(spark, sf, "orders")
        .df.select("o_orderkey", "o_totalprice")
        .withColumn("bucket", F.col("o_orderkey") % 7)
    )
    plain = base.orderBy("bucket", "o_orderkey")
    pinned = Q.materialize(base).orderBy("bucket", "o_orderkey")
    assert plain.schema == pinned.schema
    assert plain.collect() == pinned.collect()
    assert "Scan ExistingRDD" in plan_of(Q.materialize(base))


def test_fan_scan_is_noop_when_scan_has_parallelism(spark, sf):
    """fan_scan (r15, scale-adaptive scan fan-out) must insert its
    round-robin exchange ONLY when the scan has fewer splits than the
    session's cores — at real scale, where scans have ample splits, it
    must add no shuffle at all (identity, not even a new plan node)."""
    par = spark.sparkContext.defaultParallelism
    wide = table(spark, sf, "lineitem").df.repartition(par)
    assert Q.fan_scan(wide) is wide
    narrow = table(spark, sf, "lineitem").df.coalesce(1)
    fanned = Q.fan_scan(narrow)
    assert fanned is not narrow
    assert "RoundRobinPartitioning" in plan_of(fanned)


def test_q1_filter_pushdown_survives_fan_scan(spark, sf):
    """q1's shipdate filter must still reach the parquet scan as a
    pushed predicate with fan_scan's repartition in between — Catalyst
    moves filters below a Repartition; losing the pushdown would trade
    a single-task partial aggregate for a full-table read at scale."""
    plan = plan_of(Q.q1_pricing_summary(spark, sf))
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan[plan.index("PushedFilters") :].splitlines()[0]
    # at test scale (1-split scan, 4-core session) the fan-out is live
    assert "RoundRobinPartitioning" in plan
    # partial aggregation must still sit between the exchanges
    assert "partial_" in plan


def test_fan_scan_runs_no_job_and_keeps_shuffled_input(spark, sf):
    """fan_scan is called while plans are built, so it must not run
    Spark jobs. Counting the splits of an input that sits above a
    shuffle would: AQE runs the shuffle stages to build its RDD. Such
    an input is already spread by the shuffle and comes back as is."""
    sc = spark.sparkContext
    orders = table(spark, sf, "orders").df
    customer = table(spark, sf, "customer").df
    inputs = {
        "fan_scan_groupby": orders.groupBy("o_orderstatus").count(),
        "fan_scan_join": orders.join(
            customer.hint("merge"), orders.o_custkey == customer.c_custkey
        ),
    }
    for group, df in inputs.items():
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = Q.fan_scan(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == [], group
        assert out is df, group


def _round_robin_exchanges(monkeypatch, frame_type, build) -> int:
    """Round-robin exchanges in every plan ``build()`` makes: its
    result's and those of the frames it cuts with ``localCheckpoint``
    (an eager cut hides its subtree from the result's plan)."""
    plans = []
    cut = frame_type.localCheckpoint

    def recording(self, *args, **kwargs):
        plans.append(plan_of(self))
        return cut(self, *args, **kwargs)

    monkeypatch.setattr(frame_type, "localCheckpoint", recording)
    plans.append(plan_of(build()))
    monkeypatch.undo()
    return sum(p.count("RoundRobinPartitioning") for p in plans)


def test_operator_fans_out_only_an_input_with_few_splits(spark, monkeypatch):
    """An operator input with defaultParallelism splits already is left
    alone (no extra shuffle at scale); a one-split input is round-robined
    exactly once before the CPU-heavy signature stage."""
    from gratum_spark.operators import dedup

    par = spark.sparkContext.defaultParallelism
    docs = spark.range(0, 200, 1, numPartitions=par).select(
        "id",
        F.concat_ws(
            " ", F.lit("the quick brown fox"), (F.col("id") % 7).cast("string"), F.lit("jumps")
        ).alias("text"),
    )
    wide = _round_robin_exchanges(
        monkeypatch, type(docs), lambda: dedup.minhash_lsh_pairs(docs, "id", "text")
    )
    narrow = _round_robin_exchanges(
        monkeypatch, type(docs), lambda: dedup.minhash_lsh_pairs(docs.coalesce(1), "id", "text")
    )
    assert (wide, narrow) == (0, 1)


def test_filter_map_closure_predicates_are_arrow_batched(spark, sf):
    """Condition-map closure predicates (per-value and whole-row "*")
    must cross the Python boundary Arrow-batched (ArrowEvalPython), not
    row-at-a-time pickled (BatchEvalPython) — same boundary as the
    closure-filter path."""
    p = table(spark, sf, "customer").filter(
        {"c_mktsegment": lambda v: v == "BUILDING", "*": lambda r: r["c_custkey"] > 0}
    )
    plan = plan_of(p.df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan


def test_flatten_window_has_no_data_sized_single_partition_stage(spark, sf):
    """flatten_window's run-ids must be distributed: the plan range-
    shuffles on the order key and runs partition-local windows; the only
    single-partition stages allowed are in the per-partition boundary
    digest (one row per partition, post-aggregation). A SinglePartition
    exchange on the data path would serialize the full input through one
    task."""
    import re

    from pyspark.sql import functions as FF

    from gratum_spark.pipeline import _local_run_id_frame

    events = table(spark, sf, "events").clip("event_id", "event_type").df
    # stage 1 (pre-checkpoint): range shuffle + partition-local windows,
    # and NO single-partition stage anywhere
    stage1 = _local_run_id_frame(
        events,
        FF.col("event_id"),
        FF.col("event_type"),
        lambda cur, prv: ~prv.eqNullSafe(cur),
    )
    s1 = plan_of(stage1)
    assert "rangepartitioning" in s1
    assert "SinglePartition" not in s1

    # full operator: the run-id frame is materialized once (consistency
    # checkpoint -> RDD scan) so the digest and the data branch can never
    # disagree on range boundaries; the only SinglePartition exchanges
    # are the tiny boundary-digest windows over the per-pid aggregate
    p = table(spark, sf, "events").clip("event_id", "event_type")
    out = p.flatten_window(
        "event_type",
        lambda pdf: pdf.head(1),
        "event_id long, event_type string",
        order_by="event_id",
    )
    plan = plan_of(out.df)
    # FlatMapGroupsInArrow since r12: the per-run fn runs through the
    # NaN-exact applyInArrow adapter (float null/NaN preserved)
    assert "FlatMapGroupsInArrow" in plan
    assert "Scan ExistingRDD" in plan  # the consistency checkpoint
    paras = re.split(r"\n\s*\n", plan)
    single = [q for q in paras if re.match(r"\(\d+\) Exchange", q) and "SinglePartition" in q]
    assert len(single) <= 2
    for q in single:
        assert re.search(r"Input \[\d\]: \[__pid__", q), f"data-path SinglePartition:\n{q}"


def test_prefix_sum_packing_has_no_data_sized_single_partition_stage(spark, sf):
    """global_prefix_sum / pack_sequences (operators/packing.py) must be
    distributed like the run-id machinery they mirror: range shuffle +
    partition-local running sums + a per-partition totals broadcast. The
    naive formulation — SUM() OVER (ORDER BY ...) with no partitioning —
    plans as a SinglePartition exchange of the whole data."""
    import re

    from pyspark.sql import functions as FF

    from gratum_spark.operators.packing import pack_sequences

    docs = table(spark, sf, "documents").df.select(
        "doc_id", FF.size(FF.split(FF.col("text"), " ")).cast("long").alias("n")
    )
    out = pack_sequences(docs, "doc_id", "n", capacity=2048)
    plan = plan_of(out)
    assert "Scan ExistingRDD" in plan  # the consistency checkpoint
    paras = re.split(r"\n\s*\n", plan)
    single = [q for q in paras if re.match(r"\(\d+\) Exchange", q) and "SinglePartition" in q]
    # only the tiny per-pid totals window may single-partition
    assert len(single) <= 1
    for q in single:
        assert re.search(r"Input \[\d\]: \[__pid__", q), f"data-path SinglePartition:\n{q}"
    # pre-checkpoint stage: range shuffle, no SinglePartition at all
    from gratum_spark.operators.packing import global_prefix_sum as _gps
    import gratum_spark.pipeline as _pl

    orig = _pl.materialize
    _pl.materialize = lambda d: d  # peek under the checkpoint
    try:
        import gratum_spark.operators.packing as _pk

        pk_orig = _pk.materialize
        _pk.materialize = lambda d: d
        try:
            raw = _gps(docs, "doc_id", "n")
            s1 = plan_of(raw)
        finally:
            _pk.materialize = pk_orig
    finally:
        _pl.materialize = orig
    assert "rangepartitioning" in s1
    data_singles = [
        q for q in re.split(r"\n\s*\n", s1)
        if re.match(r"\(\d+\) Exchange", q) and "SinglePartition" in q
        and not re.search(r"Input \[\d\]: \[__pid__", q)
    ]
    assert not data_singles


def test_add_step_rejects_dont_rescan_wider(spark, sf):
    """add_step's kept branch must project only the output schema
    (mapInPandas is inherent; the scan beneath should still prune)."""
    p = (
        table(spark, sf, "customer")
        .clip("c_custkey", "c_mktsegment")
        .add_step(lambda r: r)
    )
    plan = plan_of(p.df)
    assert "c_acctbal" not in plan  # unused columns never reach the step


def test_bm25_broadcasts_queries_and_stats(spark, sf):
    """BM25's query-term / doc-frequency / corpus-stats joins must all
    broadcast — the only data-sized shuffles allowed are the postings /
    doclens aggregates and their id-join. A shuffled query join would
    re-partition the whole postings table per query batch."""
    plan = plan_of(Q.text_bm25(spark, sf))
    assert "EvalPython" not in plan
    assert plan.count("BroadcastExchange") >= 3
    # corpus constants fold in as a broadcast nested-loop (1-row side)
    assert "BroadcastNestedLoopJoin" in plan


def test_mixture_sample_no_data_shuffle(spark, sf):
    """Mixture resampling must not shuffle the corpus: group weights
    reduce to a handful of rows and broadcast back; the explode
    multiplies rows map-side. Any non-broadcast Exchange on the
    document stream is a scale regression."""
    from gratum_spark.operators import sampling

    docs = table(spark, sf, "documents").df
    out = sampling.mixture_sample(docs, "source", "doc_id", 0.5, 1000)
    plan = plan_of(out)
    lines = plan.split("== Physical Plan ==")[1].splitlines()
    # formatted explain puts each Exchange's partitioning on the
    # following "Arguments:" line — pair them up
    for i, line in enumerate(lines):
        if line.strip().endswith(" Exchange"):
            args = next(l for l in lines[i + 1 :] if "Arguments:" in l)
            # the only hash exchanges allowed are the tiny per-group
            # aggregates (keyed on source / single-row total)
            assert "hashpartitioning(source" in args or "SinglePartition" in args, args


def test_semantic_dedup_single_cluster_shuffle(spark, sf):
    """semantic_dedup is one shuffle on cluster id: assignment is an
    Arrow-batched matmul (no join), dedup groups by cluster. More than
    one data-sized exchange means the assignment fell into a join."""
    from gratum_spark.operators import dedup as D

    emb = table(spark, sf, "embeddings").df
    out = D.semantic_dedup(emb, "vec_id", "embedding", n_clusters=8, threshold=0.3)
    plan = plan_of(out)
    lines = plan.split("== Physical Plan ==")[1].splitlines()
    args = [
        next(l for l in lines[i + 1 :] if "Arguments:" in l)
        for i, line in enumerate(lines)
        if line.strip().endswith(" Exchange")
    ]
    assert len(args) == 1, args
    assert "hashpartitioning(cluster" in args[0]


def test_collapse_repeats_is_expression_only_no_shuffle(spark, sf):
    """Repeat collapse is a per-row array pipeline: no Exchange, no
    Python, one scan."""
    from gratum_spark.operators import text as T2

    docs = table(spark, sf, "documents").df
    plan = plan_of(T2.collapse_repeats(docs, "doc_id", "text", 1))
    body = plan.split("== Physical Plan ==")[1]
    assert "Exchange" not in body
    assert "EvalPython" not in body
    assert body.count("(1) Scan parquet") == 1


def test_canary_scan_broadcasts_canaries(spark, sf):
    """The canary set must broadcast (nested-loop on contains) — the
    corpus itself shuffles only for the per-doc aggregate."""
    plan = plan_of(Q.text_canary(spark, sf))
    assert "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan


def test_decontaminate_is_single_pass_no_shuffle(spark, sf):
    """Embedding decontamination is one Arrow-batched corpus pass: the
    eval matrix is closed over, so the plan has no Exchange and no
    join."""
    plan = plan_of(Q.emb_decontaminate(spark, sf))
    body = plan.split("== Physical Plan ==")[1]
    # the final orderBy in the query adds a range exchange; the operator
    # itself must contribute none -> at most that single sort exchange
    exchanges = [l for i, l in enumerate(body.splitlines())
                 if l.strip().endswith(" Exchange")]
    assert len(exchanges) <= 1
    assert "Join" not in body
    assert "ArrowEvalPython" in body


def test_corpus_report_single_scan_expand(spark, sf):
    """The dataset-card aggregate must profile the corpus in ONE scan:
    the two distinct aggregates expand (not re-scan), and the plan has
    no join or union back to the table."""
    plan = plan_of(Q.corpus_report(spark, sf))
    body = plan.split("== Physical Plan ==")[1]
    assert body.count("(1) Scan parquet") == 1
    assert "Expand" in body
    assert "Join" not in body and "Union" not in body


def test_resample_interpolate_single_shuffle(spark, sf):
    """Gap-fill must cost ONE data shuffle: grid generation is map-side
    off the bounds aggregate, and both window passes share the (key,
    ts) partitioning. A second data-sized exchange means the forward
    pass re-sorted into its own shuffle."""
    from gratum_spark.operators.timeseries import resample_interpolate

    ev = table(spark, sf, "events").df
    out = resample_interpolate(ev, "user_id", "ts", "value", "6 hours")
    plan = plan_of(out)
    lines = plan.split("== Physical Plan ==")[1].splitlines()
    args = [
        next(l for l in lines[i + 1 :] if "Arguments:" in l)
        for i, line in enumerate(lines)
        if line.strip().endswith(" Exchange")
    ]
    # allowed: the per-key bounds aggregate (tiny, keyed on user) and
    # the one (key)-partitioned window exchange
    assert all("hashpartitioning(__k__" in a or "hashpartitioning(user_id" in a
               for a in args), args
    assert len(args) <= 2, args
    # r15: the forward pass must NOT use a shrinking (unbounded-
    # FOLLOWING) frame — Spark re-evaluates that aggregate from the
    # current row to the partition end for every row, O(n²) per key;
    # the reversed-sort growing frame computes the same values
    # incrementally (measured 1.87 -> 0.64 s at sf0.1, bit-identical)
    assert "unboundedfollowing" not in plan.lower(), "shrinking frame is back"


def test_duplicate_spans_plan_shape(spark, sf):
    """Exact-substring span dedup must stay non-pairwise: no cartesian /
    BNLJ anywhere, no data-sized SinglePartition exchange, and the
    gaps-and-islands window + span aggregation reuse ONE id-partitioned
    exchange (hashpartitioning(id) satisfies groupBy(id, island), so
    EnsureRequirements must not insert a second shuffle between them)."""
    from gratum_spark.operators.dedup import duplicate_spans

    docs = table(spark, sf, "documents").df
    plan = plan_of(duplicate_spans(docs, "doc_id", "text", k=10))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    id_shuffles = [
        line
        for line in plan.splitlines()
        if "Exchange hashpartitioning(id" in line
    ]
    assert len(id_shuffles) <= 1, id_shuffles


@contextmanager
def _no_size_based_broadcast(spark):
    """Disable size-estimated broadcasts so only HINTED broadcasts
    survive in the plan. At test scale every table sits under the
    broadcast threshold, so a count of BroadcastHashJoins can't tell a
    hint (which would OOM on an unbounded table at 100 TB) from the
    planner's own size-based choice (which is safe — it re-decides at
    real scale). With the threshold at -1, any remaining broadcast IS a
    hint."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_join_default_broadcast_is_size_aware(spark, sf):
    """join()'s default hint must be conditional on the right side's
    estimated size: a small right Pipeline still broadcasts (gratum
    parity — the reference caches the whole right side), but one past
    the cap falls to AQE/sort-merge instead of inheriting an
    OOM-at-100× broadcast. broadcast=True/False stay absolute
    overrides. Size-estimation broadcasts are disabled so the only
    BroadcastHashJoin that can appear is the engine's own hint."""
    from gratum_spark.pipeline import BROADCAST_CAP_CONF

    left = table(spark, sf, "orders")
    right = table(spark, sf, "customer")
    with _no_size_based_broadcast(spark):
        # default + small right side → hinted broadcast
        plan = plan_of(left.join(right, {"o_custkey": "c_custkey"}).df)
        assert "BroadcastHashJoin" in plan
        # default + right side past the cap → no hint, sort-merge
        spark.conf.set(BROADCAST_CAP_CONF, "1")
        try:
            plan = plan_of(left.join(right, {"o_custkey": "c_custkey"}).df)
            assert "BroadcastHashJoin" not in plan
            assert "SortMergeJoin" in plan
            # explicit True overrides the cap
            plan = plan_of(
                left.join(right, {"o_custkey": "c_custkey"}, broadcast=True).df
            )
            assert "BroadcastHashJoin" in plan
        finally:
            spark.conf.unset(BROADCAST_CAP_CONF)
        # explicit False never hints even for a tiny right side
        plan = plan_of(
            left.join(right, {"o_custkey": "c_custkey"}, broadcast=False).df
        )
        assert "BroadcastHashJoin" not in plan


def test_join_collection_right_side_broadcasts(spark, sf):
    """A from_collection right side is RDD-backed, so Catalyst reports
    the unknown-size sentinel — the driver-measured size hint recorded
    by the source must carry the broadcast default instead (gratum's
    typical dimension-table join). A collection estimated PAST the cap
    must not hint; and a size-INCREASING transform on the collection
    side (add_field) drops the hint and falls to AQE rather than
    hinting blind (size-non-increasing transforms keep it — see
    test_join_collection_hint_propagation)."""
    from gratum_spark.pipeline import BROADCAST_CAP_CONF
    from gratum_spark.sources import from_collection

    left = table(spark, sf, "nation")
    dim = from_collection(
        spark,
        [{"n_regionkey": i, "r_label": f"reg{i}"} for i in range(5)],
        ordered=False,
    )
    assert dim._size_hint_bytes and dim._size_hint_bytes > 0
    with _no_size_based_broadcast(spark):
        # small collection right side → hinted broadcast
        plan = plan_of(left.join(dim, {"n_regionkey": "n_regionkey"}).df)
        assert "BroadcastHashJoin" in plan
        # collection past the cap → no hint
        spark.conf.set(BROADCAST_CAP_CONF, "1")
        try:
            plan = plan_of(left.join(dim, {"n_regionkey": "n_regionkey"}).df)
            assert "BroadcastHashJoin" not in plan
            assert "SortMergeJoin" in plan
        finally:
            spark.conf.unset(BROADCAST_CAP_CONF)
        # size-increasing transform: hint dropped → AQE path
        grown = dim.add_field("pad", lambda row: "x" * 64)
        assert grown._size_hint_bytes is None
        plan = plan_of(left.join(grown, {"n_regionkey": "n_regionkey"}).df)
        assert "BroadcastHashJoin" not in plan


def test_join_collection_hint_propagation(spark, sf):
    """The driver-measured collection size hint propagates through
    size-NON-INCREASING transforms (r12, ADVICE #1 residual): a
    filtered/clipped/limited/sorted/renamed dimension table keeps the
    measured upper bound and still gets the broadcast hint; add_field
    and set_field invalidate it (output may be larger than measured)."""
    from gratum_spark.sources import from_collection

    left = table(spark, sf, "nation")
    dim = from_collection(
        spark,
        [{"n_regionkey": i, "r_label": f"reg{i}", "extra": i} for i in range(5)],
        ordered=False,
    )
    hint = dim._size_hint_bytes
    assert hint and hint > 0
    keeps = {
        "filter(map)": dim.filter({"n_regionkey": lambda v: v is not None}),
        "filter(closure)": dim.filter(lambda row: True),
        "trim": dim.trim(),
        "unique": dim.unique("n_regionkey"),
        "limit": dim.limit(10),
        "clip": dim.clip("n_regionkey", "r_label"),
        "remove_field": dim.remove_field("extra"),
        "rename": dim.rename_fields({"r_label": "label"}),
        "sort": dim.sort("n_regionkey"),
        "chained": dim.filter(lambda row: True).clip("n_regionkey").limit(10),
    }
    for name, p in keeps.items():
        assert p._size_hint_bytes == hint, (name, p._size_hint_bytes)
    drops = {
        "add_field": dim.add_field("pad", lambda row: "x"),
        "set_field": dim.set_field("r_label", "bigger-constant"),
    }
    for name, p in drops.items():
        assert p._size_hint_bytes is None, name
    with _no_size_based_broadcast(spark):
        # filtered dimension table still broadcasts under the cap
        filtered = dim.filter(lambda row: True).clip("n_regionkey", "r_label")
        plan = plan_of(left.join(filtered, {"n_regionkey": "n_regionkey"}).df)
        assert "BroadcastHashJoin" in plan


def test_join_broadcast_cap_conf_malformed_falls_back(spark, sf):
    """A non-integer autoBroadcastCap conf value ('256m') must not fail
    join() at plan-build time: it warns and uses the 256 MB default."""
    import warnings as _warnings

    from gratum_spark.pipeline import BROADCAST_CAP_CONF

    left = table(spark, sf, "orders")
    right = table(spark, sf, "customer")
    spark.conf.set(BROADCAST_CAP_CONF, "256m")
    try:
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            joined = left.join(right, {"o_custkey": "c_custkey"})
        assert any(BROADCAST_CAP_CONF in str(w.message) for w in caught)
        assert joined.df.count() > 0  # plan still builds and runs
    finally:
        spark.conf.unset(BROADCAST_CAP_CONF)


def test_ngram_jaccard_never_hints_per_doc_sizes(spark, sf):
    """ngram_jaccard_pairs' na/nb tables hold one row PER DOCUMENT —
    a broadcast hint there is a multi-hundred-GB driver ship at 10 B
    docs. With size-based broadcast off, the plan must contain zero
    BroadcastHashJoins (every join falls back to shuffle)."""
    from gratum_spark.operators.dedup import ngram_jaccard_pairs

    docs = table(spark, sf, "documents").df
    with _no_size_based_broadcast(spark):
        plan = plan_of(ngram_jaccard_pairs(docs, "doc_id", "text"))
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan


def test_tfidf_never_hints_vocab_df_table(spark, sf):
    """tfidf_top_terms' document-frequency table is corpus-vocabulary
    sized. Only the 1-row n_docs cross join may broadcast (BNLJ); the
    tf⋈dfreq join must be shuffle-shaped when size-estimation is off."""
    from gratum_spark.operators.text import tfidf_top_terms

    docs = table(spark, sf, "documents").df
    with _no_size_based_broadcast(spark):
        plan = plan_of(tfidf_top_terms(docs, "doc_id", "text"))
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total only
    assert "SortMergeJoin" in plan


def test_pmi_never_hints_unigram_vocab(spark, sf):
    """pmi_from_counts joins the unigram vocabulary onto bigram counts —
    both unbounded. Only the two 1-row totals may broadcast."""
    from gratum_spark.operators.text import ngram_counts, pmi_from_counts

    docs = table(spark, sf, "documents").df
    uni, bi = ngram_counts(docs, "doc_id", "text")
    with _no_size_based_broadcast(spark):
        plan = plan_of(pmi_from_counts(uni, bi))
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan


def test_bm25_prunes_dft_before_broadcast(spark, sf):
    """bm25_topk may broadcast dft ONLY after a left-semi prune against
    the query vocabulary (bounded by |query terms|); the raw
    full-vocabulary dft must never carry a hint. The semi-join shows up
    as LeftSemi in the plan, and the postings⋈doclens id-join stays a
    shuffle when size-estimation is off."""
    from gratum_spark.operators.retrieval import bm25_topk

    docs = table(spark, sf, "documents").df
    qs = spark.createDataFrame(
        [(1, "machine learning"), (2, "data quality")],
        ["query_id", "query_text"],
    )
    with _no_size_based_broadcast(spark):
        plan = plan_of(bm25_topk(docs, "doc_id", "text", qs))
    assert "LeftSemi" in plan
    assert "SortMergeJoin" in plan  # the data-sized id-join shuffles


def test_ivf_topk_never_hints_candidate_ids(spark, sf):
    """ivf_topk's candidate id set is (n_probe/n_lists) of the CORPUS —
    unbounded, so the semi-join must carry no broadcast hint (with
    size-estimation off it falls back to a shuffle join)."""
    from gratum_spark.operators.similarity import ivf_build, ivf_topk

    emb = table(spark, sf, "embeddings").df
    assignments, centroids = ivf_build(emb, n_lists=4, n_iters=1)
    q = emb.limit(1).collect()[0]["embedding"]
    with _no_size_based_broadcast(spark):
        plan = plan_of(
            ivf_topk(emb, assignments, centroids, [float(x) for x in q], n_probe=2)
        )
    assert "BroadcastHashJoin" not in plan
    assert "LeftSemi" in plan


def test_intersect_never_hints_key_set(spark, sf):
    """intersect's right-side distinct key set is unbounded (the
    reference held it in a single-node HashMap — the exact OOM shape to
    avoid); no broadcast hint allowed."""
    orders = table(spark, sf, "orders")
    cust = table(spark, sf, "customer").df.select(
        F.col("c_custkey").alias("o_custkey")
    )
    with _no_size_based_broadcast(spark):
        plan = plan_of(orders.intersect(cust, "o_custkey").df)
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan


def test_verify_shingles_pruned_to_candidates(spark, sf):
    """minhash verify (r16): the exact-Jaccard verify side must
    semi-join-prune to candidate ids BELOW the shingle projection —
    re-shingling the whole corpus per join side is the 100-TB scale bug
    (verify must scale with candidates, not the corpus). The cross
    plan shows it directly: one parquet text scan per side (the LSH
    subtree is materialized behind the candidate cut) with a LeftSemi
    under each shingle projection."""
    from gratum_spark.operators.dedup import (
        _candidate_shingles,
        minhash_verified_pairs_cross,
    )

    docs = table(spark, sf, "documents").df
    out = minhash_verified_pairs_cross(
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter(F.col("doc_id") % 10 != 0),
        "doc_id",
        "text",
        threshold=0.5,
    )
    plan = plan_of(out)
    assert plan.count("Join type: LeftSemi") == 2
    # detail headers count physical nodes once ("(n) Scan parquet")
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2

    # the helper itself: prune below the projection, rows = candidates only
    cand_ids = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("__vid__")
    )
    sh = _candidate_shingles(docs, "doc_id", "text", cand_ids, 3, "__vid__")
    hplan = plan_of(sh)
    assert "LeftSemi" in hplan
    got = {r["__vid__"] for r in sh.collect()}
    assert got == {r["doc_id"] for r in docs.filter(F.col("doc_id") < 3).collect()}


def test_span_shingle_index_materialized_once(spark, sf):
    """r16: _duplicate_span_ranges' position index feeds both the
    dup-count aggregate and the hits join; it must be a materialized
    cut (two ExistingRDD reads of one checkpoint), not a duplicated
    shingle explode — re-shingling the corpus per reference is the
    scale bug (one pass vs two at 100 TB)."""
    import re

    from gratum_spark.operators.dedup import duplicate_spans

    docs = table(spark, sf, "documents").df
    plan = plan_of(duplicate_spans(docs, "doc_id", "text", k=10))
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 0
    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) >= 2


def test_save_then_go_job_budget(spark, sf, tmp_path):
    """save() writes the accounting plan — kept rows plus the tag counts
    observed on the way — so it launches no more Spark jobs than a noop
    write of the kept plan alone, and go() on its result launches none:
    the rejects are counted from the tag column in the write, not by
    re-running a plan branch per rejecting step. Job counts are exact,
    so timing noise cannot move this check."""
    sc = spark.sparkContext
    p = (
        table(spark, sf, "customer")
        .clip("c_custkey", "c_nationkey", "c_mktsegment")
        .filter({"c_mktsegment": ["BUILDING", "MACHINERY"]}, name="segment")
        .add_field("num", "IF(c_custkey % 5 = 0, 'x', CAST(c_custkey AS STRING))")
        .as_int("num")
        .filter(lambda r: r["c_custkey"] % 7 != 0, name="sevens")
        .unique("c_nationkey")
    )

    def jobs(group, fn):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    _, noop = jobs(
        "budget_noop_write",
        lambda: p.df.write.format("noop").mode("overwrite").save(),
    )
    result, saved = jobs("budget_save", lambda: p.save(str(tmp_path / "budget")))
    stat, went = jobs("budget_go", result.go)
    assert saved <= noop
    assert went == 0
    assert stat.loaded == p.df.count()
    assert stat.loaded > 0
    assert stat.rejections_for("IGNORE_ROW") > 0
    assert stat.rejections_for("INVALID_FORMAT") > 0


def test_save_write_plan_keeps_filtered_rows_in_scan(spark, sf):
    """Pins the known cost of one-pass save(): the write runs the
    accounting plan, where a filter tags the rows it rejects instead of
    dropping them, so its predicate does not reach the parquet scan and
    a save over a selective filter reads the whole table. The kept plan
    (``.df``) still pushes it. A change that gets the predicate back into
    the write's scan should update this pin."""
    p = table(spark, sf, "orders").filter(
        "o_orderdate >= DATE'1995-01-01'", name="recent"
    )
    kept = plan_of(p.df)
    written, _ = p._observed_for_save()
    write = plan_of(written)
    assert "PushedFilters: [" in kept
    assert "GreaterThanOrEqual(o_orderdate" in kept
    assert "PushedFilters" not in write


def test_write_and_go_plans_carry_no_payload(spark, sf):
    """Rejected-row payloads (a VARIANT per tagged row) exist only in the
    plan rejections_df() builds. The write plan and the accounting plan
    that go() aggregates must not carry them: column pruning does not
    remove an unused column through add_step's mapInPandas."""
    p = (
        table(spark, sf, "customer")
        .clip("c_custkey", "c_mktsegment")
        .add_field("num", "IF(c_custkey % 5 = 0, 'x', CAST(c_custkey AS STRING))")
        .as_int("num")
        .filter({"c_mktsegment": ["BUILDING", "MACHINERY"]}, name="segment")
        .add_step("keep", lambda r: r)
        .unique("c_mktsegment")
    )
    written, _ = p._observed_for_save()
    for plan in (plan_of(written), plan_of(p._acct.build())):
        assert "variant" not in plan.lower()
    assert "to_variant_object" in plan_of(p.rejections_df())


def test_rejections_df_scans_source_once(spark, sf):
    """rejections_df() over k row-local rejecting steps reads the source
    once: the rejected rows ride the accounting plan, instead of one
    plan branch per step that re-runs the steps above it."""
    import re

    rej = (
        table(spark, sf, "orders")
        .filter("o_totalprice > 1000", name="price")
        .filter({"o_orderstatus": ["O", "F"]}, name="status")
        .as_int("o_orderpriority")
        .rejections_df()
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan_of(rej))) == 1
