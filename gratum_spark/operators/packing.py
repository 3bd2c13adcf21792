"""Sequence packing: assign rows (documents / chunks) to fixed-capacity
context windows by global token offset — the step between a curated
corpus and a training dataloader (GPT-style pipelines concatenate
documents in a deterministic order and slice fixed-size windows, so a
row's pack is determined by its global running token offset).

Built on a DISTRIBUTED PREFIX SUM — no single-partition stage:

1. range-shuffle on the order key (partitions globally ordered);
2. partition-local running sums via a partition-local window;
3. a one-row-per-partition totals digest whose exclusive prefix runs in
   a window over #partitions rows (thousands, not data-sized) and
   rejoins as a broadcast.

The same shape as pipeline._distributed_run_ids (shares its
``materialize`` cut: the totals digest and the offset join both
consume the range-shuffled frame, and RangePartitioner boundaries are
nondeterministic across plan branches). At 100 TB: one range exchange
of the data + one broadcast of ~#partitions rows; every other stage is
partition-local.

No counterpart in the reference (a single-JVM push-row engine packs
trivially in its one stream); this is the beyond-reference LLM-pipeline
surface (SURVEY §2 extension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..pipeline import materialize


def global_prefix_sum(
    df: DataFrame,
    order_by: Column | str,
    weight: Column | str,
    out_col: str = "offset",
) -> DataFrame:
    """Add ``out_col`` = EXCLUSIVE global prefix sum of ``weight`` in
    ``order_by`` order (the first row gets 0). Equivalent to SQL
    ``SUM(weight) OVER (ORDER BY order_by ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING)`` without the single-partition global
    window that plan would execute as.

    ``order_by`` must be a UNIQUE key: ties leave the within-tie offset
    assignment nondeterministic (standard ROWS-frame window semantics —
    the tie-group's total is still correct, but which tied row gets
    which offset can vary between runs)."""
    ordc = F.col(order_by) if isinstance(order_by, str) else order_by
    wc = F.col(weight) if isinstance(weight, str) else weight

    clash = set(df.columns) & {out_col, "__pid__", "__lsum__", "__base__", "__w__"}
    if clash:
        raise ValueError(
            f"global_prefix_sum would overwrite existing column(s) {sorted(clash)}; "
            f"rename them first (double-underscore names are reserved temporaries)"
        )

    d = df.repartitionByRange(ordc).withColumn(
        "__pid__", F.spark_partition_id()
    )
    wloc = Window.partitionBy("__pid__").orderBy(ordc)
    d = d.withColumn(
        "__lsum__",
        F.sum(wc).over(wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    ).withColumn("__w__", wc)
    d = materialize(d)

    totals = d.groupBy("__pid__").agg(F.sum("__w__").alias("__tot__"))
    wp = Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
    bases = totals.withColumn(
        "__base__", F.coalesce(F.sum("__tot__").over(wp), F.lit(0))
    ).select("__pid__", "__base__")

    return (
        d.join(F.broadcast(bases), on="__pid__")
        .withColumn(out_col, F.col("__base__") + F.col("__lsum__") - F.col("__w__"))
        .drop("__pid__", "__lsum__", "__base__", "__w__")
    )


def pack_sequences(
    df: DataFrame,
    order_by: Column | str,
    weight: Column | str,
    capacity: int,
) -> DataFrame:
    """Assign each row a ``pack_id`` and ``pack_offset``: rows are laid
    out in ``order_by`` order as one continuous token stream and cut
    into ``capacity``-token windows; a row belongs to the window its
    FIRST token lands in (offset-based assignment — rows may straddle a
    boundary, as training pipelines that concatenate-and-slice do;
    greedy no-straddle bin packing is inherently sequential and not a
    scalable semantics).

    Adds columns: ``offset`` (global exclusive prefix sum of weight),
    ``pack_id`` (offset // capacity), ``pack_offset`` (offset %
    capacity)."""
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    clash = set(df.columns) & {"pack_id", "pack_offset"}
    if clash:
        raise ValueError(
            f"pack_sequences would overwrite existing column(s) {sorted(clash)}"
        )
    d = global_prefix_sum(df, order_by, weight, out_col="offset")
    # `div` is long integer division — float division would lose exactness
    # past 2^53 total tokens, which 100 TB of text exceeds
    return d.withColumn("pack_id", F.expr(f"offset div {int(capacity)}")).withColumn(
        "pack_offset", F.col("offset") % capacity
    )


def build_packs(
    df: DataFrame,
    order_by: str,
    weight: Column | str,
    capacity: int,
    payload_cols: "list[str] | None" = None,
) -> DataFrame:
    """Materialize the packs: one row per ``pack_id`` carrying the
    members IN STREAM ORDER — the shard a training dataloader consumes.
    One groupBy shuffle on pack_id over the pack_sequences assignment;
    in-pack order comes from sort_array over (order_key, payload)
    structs, so no per-group window is needed.

    Output: (pack_id, members array<struct<ord, pack_offset, ...payload>>,
    n_members, pack_tokens)."""
    payload_cols = payload_cols or []
    d = pack_sequences(df, order_by, weight, capacity)
    member = F.struct(
        F.col(order_by).alias("ord"),
        F.col("pack_offset").alias("pack_offset"),
        *[F.col(c) for c in payload_cols],
    )
    wc = F.col(weight) if isinstance(weight, str) else weight
    return (
        d.groupBy("pack_id")
        .agg(
            F.sort_array(F.collect_list(member)).alias("members"),
            F.count("*").alias("n_members"),
            F.sum(wc).alias("pack_tokens"),
        )
        .orderBy("pack_id")
    )
