"""Pipeline: the DataFrame-native re-expression of gratum's ETL pipeline.

Reference model (gratum): a Pipeline is a named ordered list of Steps fed
by one Source; rows are Map<String,Object> pushed one at a time; steps
mutate/reject rows; ``go()`` returns a LoadStatistic
(reference: src/main/groovy/gratum/etl/Pipeline.groovy:67-81,1333-1358).

Spark design — wrap, don't re-implement:
  * a Pipeline holds a lazy ``DataFrame`` (the Catalyst logical plan IS
    the step chain), the recipe for its reject-accounting plan (a tag
    column over the same scan, which also yields the rejected rows —
    see :mod:`gratum_spark.rejections`), and deferred hooks (branches,
    on_rejection, after).
  * every operator is a pure function DataFrame -> DataFrame plus reject
    bookkeeping; nothing executes until ``go()`` / ``start()`` / a sink.
  * Catalyst supplies what gratum never had: predicate pushdown, column
    pruning, join selection (broadcast for small build sides — matching
    gratum's cached-right hash join), whole-stage codegen, AQE.

Scale posture: all hot-path operators are built-in Spark expressions
(JVM, codegen'd). Python closures are supported for API parity but run
over Arrow batches, converted to row dicts, and are documented as the
slow path.
Order-dependent operators (fill_down_by, flatten_window, unique
first-wins, limit) key off an explicit ``_row_order`` column stamped at
the source scan — file/partition order, stable under later shuffles.
"""

from __future__ import annotations

import functools
import re
import time
import warnings
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass, replace
from typing import Any, NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .rejections import (
    REJECT_CATEGORY,
    REJECT_REASON,
    REJECT_STEP,
    LoadStatistic,
    Rejection,
    RejectionCategory,
    now_ms,
)
from .rejections import REJECT_PAYLOAD as PAYLOAD
from .rejections import REJECT_TAG as TAG

ROW_ORDER = "_row_order"

__all__ = ["Pipeline", "ROW_ORDER", "stamp_row_order"]


def stamp_row_order(df: DataFrame) -> DataFrame:
    """Add the ``_row_order`` column defining "input order" for the
    order-dependent operators (unique first-wins, fill_down, flatten
    window — SURVEY §4.2 risk #2).

    For file scans that expose ``_metadata.row_index`` (parquet/orc —
    the 100 TB path) the stamp is (file_path, row_index): a pure
    function of the DATA's location, identical no matter how the scan
    was split, how many executors ran, or what got retried. Other
    sources (CSV/JSON text, in-memory) fall back to
    ``monotonically_increasing_id`` — partition-major file order, stable
    for a fixed split configuration (documented caveat: mii values
    change if the partition count changes, though relative file order
    is preserved for unsplit text files).
    """
    # inputFiles() is non-empty only for file-scan plans — pre-check so
    # non-file sources don't hit (and noisily log) the analyzer error
    # for the unresolvable _metadata column. CSV/JSON scans do have a
    # _metadata struct, but without row_index: read its field names
    # first instead of letting the analyzer fail (and log) every time.
    try:
        meta = df.select("_metadata").schema[0].dataType if df.inputFiles() else None
    except Exception:
        meta = None
    if meta is not None and "row_index" in meta.fieldNames():
        return df.withColumn(
            ROW_ORDER,
            F.struct(
                F.col("_metadata.file_path").alias("f"),
                F.col("_metadata.row_index").alias("i"),
            ),
        )
    # same struct<f,i> shape as the metadata stamp so differently-
    # sourced pipelines stay union-compatible (concat)
    return df.withColumn(
        ROW_ORDER,
        F.struct(F.lit("").alias("f"), F.monotonically_increasing_id().alias("i")),
    )


# join()'s size-aware broadcast default: hint only when the right
# side's optimizer-estimated size is under this cap (overridable per
# session via the conf key). 256 MB sits comfortably inside executor
# memory on a real cluster and far beyond any right side the reference
# could cache in a single-node HashMap.
BROADCAST_CAP_CONF = "spark.gratum.join.autoBroadcastCap"
_BROADCAST_CAP_DEFAULT = 256 * 1024 * 1024


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Optimizer-estimated size of a DataFrame's plan, driver-side only
    (runs analysis + optimization, never a job). None when stats are
    unavailable or the estimate is the unknown sentinel (Long.MaxValue-
    scale), so callers fall back to AQE instead of trusting garbage."""
    try:
        # py4j converts the scala.math.BigInt to a Python int directly
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    # Catalyst reports defaultSizeInBytes (Long.MaxValue) when it has no
    # idea; anything in that region means "unknown", not "huge".
    if size < 0 or size >= (1 << 62):
        return None
    return size


def _is_regex(v: Any) -> bool:
    return isinstance(v, re.Pattern)


# ------------------------------------------------------------ row closures
# The one boundary for every Python closure that takes a row: filter and
# the Condition-map closures, add_field, fill_down_by's decider,
# add_step, flat_map and reduce_rows. Rows cross as Arrow data, and a
# closure sees the values ``Row.asDict(recursive=True)`` gives for the
# same row on the driver, as add_step's schema probe and exchange() do:
# None for every null, an int for an integral type, float('nan') for a
# NaN, a naive datetime in the Python process's local time for a
# timestamp (the session time wherever the two zones agree, as both are
# UTC under get_spark on a UTC host), a list for an array and a dict for
# a map or a struct. pandas cannot hold that contract: it renders a null
# long as NaN, an int next to a null as a float, and a null timestamp as
# NaT. Closures never see the ``_row_order`` stamp.


def _py_fix(t, out: bool = False) -> Callable[[Any], Any] | None:
    """The per-value step that pyarrow's Python conversion of Arrow type
    ``t`` leaves to do, or None when there is none. ``to_pylist`` gives
    a timestamp as an aware datetime and a map as key-value pairs;
    ``out=True`` gives the step back for ``from_pylist``, which would
    take a naive datetime as UTC where PySpark takes it as local time.
    The step passes None through."""
    import datetime

    import pyarrow as pa

    if pa.types.is_timestamp(t):
        if t.tz is None:
            return None
        if out:
            f = lambda v: v.astimezone(datetime.timezone.utc)  # noqa: E731
        else:
            f = lambda v: v.astimezone().replace(tzinfo=None)  # noqa: E731
    elif pa.types.is_map(t):
        kf, vf = _py_fix(t.key_type, out), _py_fix(t.item_type, out)
        if out and kf is None and vf is None:
            return None  # from_pylist takes a dict as a map
        kf, vf = kf or (lambda k: k), vf or (lambda x: x)
        f = lambda v: {  # noqa: E731
            kf(k): vf(x) for k, x in (v.items() if isinstance(v, dict) else v)
        }
    elif pa.types.is_struct(t):
        fixes = [(x.name, g) for x in t if (g := _py_fix(x.type, out))]
        if not fixes:
            return None
        f = lambda v: {**v, **{n: g(v.get(n)) for n, g in fixes}}  # noqa: E731
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        g = _py_fix(t.value_type, out)
        if g is None:
            return None
        f = lambda v: [g(x) for x in v]  # noqa: E731
    else:
        return None
    return lambda v: None if v is None else f(v)


def _rows_from_arrow(data) -> list:
    """Arrow rows as the row dicts a closure takes. ``data`` is a
    RecordBatch, or a StructArray whose null entries become None."""
    import pyarrow as pa

    if isinstance(data, pa.StructArray):
        names, columns = [f.name for f in data.type], data.flatten()
    else:
        names, columns = data.schema.names, data.columns
    values = []
    for col in columns:
        fix, vals = _py_fix(col.type), col.to_pylist()
        values.append(vals if fix is None else [fix(v) for v in vals])
    rows = [dict(zip(names, r)) for r in zip(*values)] if values else [{} for _ in range(len(data))]
    if isinstance(data, pa.StructArray) and data.null_count:
        rows = [r if ok else None for r, ok in zip(rows, data.is_valid().to_pylist())]
    return rows


def _truncates(v, t) -> bool:
    """Whether pyarrow stores Python value ``v`` under Arrow type ``t``
    without an error but not exactly: it casts a float with a fraction,
    or a NaN, into an integral type without a word."""
    import pyarrow as pa

    if v is None:
        return False
    if pa.types.is_integer(t):
        return isinstance(v, float) and not v.is_integer()
    if pa.types.is_struct(t):
        return isinstance(v, dict) and any(_truncates(v.get(f.name), f.type) for f in t)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return any(_truncates(x, t.value_type) for x in v)
    if pa.types.is_map(t):  # a dict, or key-value pairs
        return any(_truncates(x, t.item_type) for x in dict(v).values())
    return False


def _rows_to_arrow(rows: list, schema, unfit: Callable[[int, str], dict] | None = None):
    """Row dicts as an Arrow RecordBatch under ``schema`` (a pyarrow
    schema): the inverse of :func:`_rows_from_arrow`. None is a null,
    float('nan') a NaN value, a missing key a null; keys outside
    ``schema`` are dropped. A batch whose values all fit their fields
    converts in one call. A value its field cannot hold exactly (Arrow
    refuses it, or :func:`_truncates`) raises ValueError naming the
    field; with ``unfit``, row ``i`` is replaced by ``unfit(i, reason)``."""
    import pyarrow as pa

    fixes = [(f.name, g) for f in schema if (g := _py_fix(f.type, out=True))]
    if fixes:
        rows = [{**r, **{n: g(r.get(n)) for n, g in fixes}} for r in rows]
    cols = {n: [r.get(n) for r in rows] for n in schema.names}
    if not any(
        not set(map(type, cols[f.name])) <= {int, type(None)} if pa.types.is_integer(f.type)
        else pa.types.is_nested(f.type) and any(_truncates(v, f.type) for v in cols[f.name])
        for f in schema
    ):
        try:
            return pa.RecordBatch.from_pydict(cols, schema=schema)
        except (ValueError, TypeError, OverflowError):  # ArrowInvalid, ArrowTypeError
            pass  # found row by row below
    fitted = []
    for i, r in enumerate(rows):
        for f in schema:
            v = r.get(f.name)
            try:
                if _truncates(v, f.type):
                    raise ValueError("not exactly")
                pa.array([v], type=f.type)
            except (ValueError, TypeError, OverflowError) as e:
                why = f"field {f.name!r} cannot hold {v!r} as {f.type}: {e}"
                if unfit is None:
                    raise ValueError(f"a row closure's result: {why}") from None
                r = unfit(i, why)
                break
        fitted.append(r)
    return pa.RecordBatch.from_pylist(fitted, schema=schema)


def _row_udf(fn: Callable[..., Any], return_type, live: Column | None = None, timer=None,
             unfit: Callable[[Any], Any] | None = None):
    """Arrow UDF that calls ``fn`` once per row. Each argument Column is
    a struct, and ``fn`` takes one row dict per argument (see
    :func:`_rows_from_arrow`); its results convert back under
    ``return_type``, where a struct type takes dicts. ``timer`` (an
    accumulator) adds the milliseconds the rows spend in Python. A
    result ``res`` that ``return_type`` cannot hold exactly becomes
    ``unfit(res)``, or fails the task without it. With ``live``
    (:func:`_live`), the accounting plan's form: only the live rows
    convert and reach ``fn``, as gratum never hands a rejected row to a
    later closure; every other row gets a null result."""
    from pyspark.sql.pandas.types import to_arrow_schema

    gated = live is not None
    rt = _parse_ddl(None, return_type) if isinstance(return_type, str) else return_type
    out_schema = to_arrow_schema(StructType([StructField("v", rt)]))

    def _eval(*cols):
        if gated:
            *cols, alive = cols
            cols = [c.filter(alive) for c in cols]
        t0 = time.perf_counter()
        res = [fn(*r) for r in zip(*map(_rows_from_arrow, cols))]
        if timer is not None:
            timer.add((time.perf_counter() - t0) * 1000.0)
        if gated:
            it = iter(res)
            res = [next(it) if ok else None for ok in alive.to_pylist()]
        refit = None if unfit is None else (lambda i, _: {"v": unfit(res[i])})
        return _rows_to_arrow([{"v": v} for v in res], out_schema, refit).column(0)

    udf = F.arrow_udf(_eval, rt)
    return udf if not gated else lambda *cols: udf(*cols, live)


def _map_rows(df: DataFrame, fn, schema: StructType | str) -> DataFrame:
    """``df.mapInArrow`` for a row closure: ``fn(batches, arrow_schema)``
    takes ``df``'s Arrow batches under its own column names and yields
    batches under ``arrow_schema``, the Arrow form of ``schema``
    (StructType or DDL). The rows convert with :func:`_rows_from_arrow`
    and :func:`_rows_to_arrow`."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = _parse_ddl(df.sparkSession, schema)
    arrow_schema = to_arrow_schema(schema)
    df, names, _ = _safe_names(df)
    return df.mapInArrow(
        lambda batches: fn((b.rename_columns(names) for b in batches), arrow_schema), schema
    )


def _local_run_id_frame(
    df: DataFrame,
    ordc: Column,
    payload: Column,
    starts_new_run: Callable[[Column, Column], Column],
) -> DataFrame:
    """Stage 1 of the distributed run-id: range-shuffle on the order key
    (partitions globally ordered) + partition-local run-ids via local
    windows. Split out so plan-quality tests can assert this stage's
    shape (rangepartitioning, no SinglePartition) directly — the full
    operator wraps it in a ``materialize`` cut that hides the plan
    behind an RDD scan."""
    d = df.repartitionByRange(ordc).withColumn("__pid__", F.spark_partition_id())
    wloc = Window.partitionBy("__pid__").orderBy(ordc)
    new_run = F.when(F.row_number().over(wloc) == 1, F.lit(True)).otherwise(
        starts_new_run(payload, F.lag(payload).over(wloc))
    )
    return d.withColumn(
        "__lid__",
        F.sum(F.when(new_run, 1).otherwise(0)).over(
            wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage: the returned frame reads ``df``'s rows from
    stored blocks (a ``Scan ExistingRDD``) instead of re-deriving its
    subtree. The engine's one materialization barrier, used wherever a
    subtree is referenced by several plan branches (Catalyst does not
    share subplans), wherever an iterative plan would otherwise grow per
    round, and wherever branches must agree on partitioning.

    A checkpoint, not ``cache()``: checkpoint blocks are released by the
    ContextCleaner once the plans that reference them are dropped, while
    a bare cache with no unpersist accumulates storage memory across a
    long-lived session.

    Consistency: every consumer of the returned frame reads IDENTICAL
    partitions. Plan branches that depend on one nondeterministic
    partitioning need that: RangePartitioner samples its boundaries
    with an RDD-id-dependent seed, so two physical instantiations of a
    range shuffle can place boundary rows (and ``spark_partition_id``)
    differently.

    ``eager=True`` runs a Spark job now, while the caller builds its
    plan; a lazy cut materializes inside the first action that reads
    it.

    Reliability: with no checkpoint dir on the session the cut is a
    ``localCheckpoint``. Its blocks live on executors and are NOT
    replayable: losing an executor after the cut fails the query
    (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``) instead of recomputing.
    Local mode keeps this zero-copy default. With a checkpoint dir set
    (``spark.sparkContext.setCheckpointDir("hdfs://...")``) the frame is
    checkpointed there instead, replayable from shared storage at the
    cost of a file-system write. That path PERSISTS first: an
    unpersisted reliable checkpoint runs a second job that recomputes
    the lineage to write the files, doubling upstream work and letting
    a nondeterministic lineage write partitions that differ from what
    the first consumer read. An eager cut unpersists its input once the
    files are written, leaving no cache entry behind; a lazy cut keeps
    its input persisted (one input-sized MEMORY_AND_DISK cache entry
    per lazy cut, for the life of the session)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    kept = df.persist()
    out = kept.checkpoint(eager=eager)
    if eager:
        kept.unpersist()
    return out


# Scale-adaptive fan-out (r15, guide §2.5 "input skew"), the one policy
# for CPU-heavy work that sits on an input before its first exchange
# (tokenize/shingle/hash operators, exact-decimal partial aggregation).
# At the bench SFs every table is ONE parquet row group, so a scan is a
# single task no matter what maxPartitionBytes/openCostInBytes say (a
# row group is indivisible — verified empirically: openCost 128KB gives
# 32 byte-range splits but every row still lands in the one split
# holding the row-group midpoint, zero speedup). Round-robin repartition
# to the session parallelism, but ONLY when the input actually has fewer
# splits than cores: the condition reads the real partition count from
# the engine, so at 100 TB, where a table scan has thousands of splits,
# no shuffle is inserted and the plan is byte-identical. Join-heavy
# queries gain nothing — their fact scan feeds a join exchange that
# already redistributes.
def fan_scan(df: DataFrame) -> DataFrame:
    """``df`` round-robined to ``defaultParallelism`` partitions when it
    has fewer splits than that, else ``df`` itself. Launches no Spark
    job: an input whose physical plan holds an exchange (or a subquery,
    which AQE also plans as stages) is returned as is — a shuffle has
    already spread its rows, and building its RDD to count splits would
    run the stages below it. Otherwise the count comes from the RDD of
    the input's plan, which reads file splits but runs nothing."""
    qe = df._jdf.queryExecution()
    nodes = (
        line.lstrip(" :|+-*()0123456789").split(" ", 1)[0]
        for line in qe.executedPlan().treeString().splitlines()
    )
    if any(n.endswith("Exchange") or n in ("AdaptiveSparkPlan", "Subquery") for n in nodes):
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if qe.toRdd().getNumPartitions() < par:
        return df.repartition(par)
    return df


def _distributed_run_ids(
    df: DataFrame,
    ordc: Column,
    payload: Column,
    starts_new_run: Callable[[Column, Column], Column],
    continues_run: Callable[[Column, Column], Column],
    extra_drop: Iterable[str] = (),
) -> DataFrame:
    """Global-order "consecutive run" ids WITHOUT a single-partition
    stage (shared by flatten_window and fill_down_by's decider form).

    "Consecutive in source order" only needs adjacent-row comparisons,
    so run-ids stitch from per-partition pieces: range-shuffle on the
    order key (partitions globally ordered), local run-ids via
    partition-local windows, then a one-row-per-partition boundary
    digest (first/last payload, run count) whose prefix arithmetic runs
    in a window over #partitions rows — thousands, not data-sized — and
    rejoins as a broadcast. The digest aggregates over the checkpointed
    run-id frame (no second source scan); the local-window stage adds
    one pid-hash shuffle Catalyst can't elide (it cannot prove
    spark_partition_id alignment). Both are data-parallel; the pre-r5
    global ordered window serialized the entire input through one task.

    ``starts_new_run(cur, prev)`` decides a run break between adjacent
    rows (prev row exists); ``continues_run(first, prev_last)`` decides
    whether a partition's first row continues its predecessor's last
    run. Returns df + ``__gid__`` with helper columns dropped.
    """
    d = _local_run_id_frame(df, ordc, payload, starts_new_run)
    # CONSISTENCY CUT — load-bearing, not an optimization. The digest
    # aggregate and the gid join both consume d; left as two plan
    # branches they would each re-execute the range shuffle and could
    # draw different boundaries, silently misaligning __pid__ between
    # the digest and the data.
    d = materialize(d)
    stats = d.groupBy("__pid__").agg(
        F.max("__lid__").alias("__nruns__"),
        F.min_by(payload, ordc).alias("__first__"),
        F.max_by(payload, ordc).alias("__last__"),
    )
    ws = Window.orderBy("__pid__")  # tiny: one row per partition
    stats = stats.withColumn("__prevlast__", F.lag("__last__").over(ws)).withColumn(
        "__srn__", F.row_number().over(ws)
    )
    stats = stats.withColumn(
        "__cont__",
        F.when(F.col("__srn__") == 1, 0)
        .when(continues_run(F.col("__first__"), F.col("__prevlast__")), 1)
        .otherwise(0),
    )
    bases = stats.withColumn(
        "__G__", F.sum(F.col("__nruns__") - F.col("__cont__")).over(ws)
    ).select("__pid__", (F.col("__G__") - F.col("__nruns__")).alias("__base__"))
    return (
        d.join(F.broadcast(bases), on="__pid__")
        .withColumn("__gid__", F.col("__base__") + F.col("__lid__"))
        .drop("__pid__", "__lid__", "__base__", *extra_drop)
    )


# English month names for lenient text-month parsing (MMM/MMMM) —
# DateFormatSymbols order: full names before short so the regex's
# first-match mirrors SimpleDateFormat's full-then-short matchString
# calls; "May" is its own short form. (?i:) = case-insensitive, scoped
# to the names only — identical semantics in Java regex (regexp_extract)
# and Python 3.11 re (the fuzz model re-runs the same pattern).
_MONTH_FULL = [
    "January", "February", "March", "April", "May", "June",
    "July", "August", "September", "October", "November", "December",
]
_MONTH_SHORT = [
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
]
_MONTH_NAME_ALT = "(?i:" + "|".join(
    _MONTH_FULL + [s for s in _MONTH_SHORT if s not in _MONTH_FULL]
) + ")"
MONTH_NAME_TO_NUM = {
    **{n.lower(): i + 1 for i, n in enumerate(_MONTH_FULL)},
    **{n.lower(): i + 1 for i, n in enumerate(_MONTH_SHORT)},
}

# English weekday names for E-runs (r12). DateFormatSymbols order with
# full names before short for the same longest-match reason as months;
# every short name is a prefix of its full name, so full-first matters.
_WEEKDAY_FULL = [
    "Sunday", "Monday", "Tuesday", "Wednesday",
    "Thursday", "Friday", "Saturday",
]
_WEEKDAY_SHORT = ["Sun", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat"]
_WEEKDAY_NAME_ALT = "(?i:" + "|".join(_WEEKDAY_FULL + _WEEKDAY_SHORT) + ")"

# Zone fields (r12) are only in lenient scope when the HOST default zone
# is fixed UTC (this container: TZ=UTC): a parsed offset shifts the
# instant, and the final date LABEL is the instant rendered in the JVM
# default zone — label = instant only under a zero fixed offset. On a
# non-UTC or DST host the zone formats fall to the strict parse.
# Import-time libc fallback only (r13, ADVICE): the zone that actually
# renders the reference's labels is the JVM default — as_date derives
# the gate from the live session via _jvm_tz_fixed_utc instead, and
# this libc probe remains the last resort when no JVM is reachable.
_HOST_TZ_UTC = time.timezone == 0 and time.daylight == 0


def _jvm_tz_fixed_utc(spark: "Any") -> bool:
    """True when the session's label-rendering zone is fixed UTC (r13,
    ADVICE). SimpleDateFormat renders the parsed instant in the JVM
    default TimeZone, so that zone — not the Python driver's libc TZ —
    decides whether lenient zone-offset math (label == instant) is
    sound. Read the JVM default's full ZoneRules: the zone must be a
    FIXED offset of zero for ALL instants — rawOffset==0 + no-DST alone
    admits zones with HISTORICAL transitions (Africa/Abidjan's pre-1912
    LMT -0:16:08), whose pre-cutover labels differ from UTC (r13
    ADVICE). Java normalizes the fixed-UTC alias family (UTC, Etc/UTC,
    Zulu, GMT0, UCT, ...) to ZoneOffset.UTC via ZoneId.normalized(),
    so isFixedOffset() + totalSeconds==0 admits exactly those ids with
    no hand-maintained table. When the Py4J gateway is unreachable
    (e.g. Spark Connect), the import-time libc probe is the primary
    fallback — the JVM default inherits the host zone, while the
    session timeZone conf is settable independently of it and proves
    nothing about label rendering (r13 ADVICE) — ANDed with the conf
    naming a fixed-UTC alias when the conf is readable."""
    try:
        jvm = spark._jvm  # noqa: SLF001
        rules = (
            jvm.java.util.TimeZone.getDefault().toZoneId()
            .normalized().getRules()
        )
        return (
            rules.isFixedOffset()
            and rules.getOffset(jvm.java.time.Instant.EPOCH)
            .getTotalSeconds() == 0
        )
    except Exception:  # pragma: no cover - Connect/gateway-less sessions
        pass
    if not _HOST_TZ_UTC:
        return False
    try:
        sess = (spark.conf.get("spark.sql.session.timeZone") or "").upper()
        # This alias list mirrors the fixed-UTC zone ids
        # ZoneId.normalized() folds to ZoneOffset.UTC (every entry
        # probed: isFixedOffset() + totalSeconds==0 on this container's
        # Java 17, including the Etc/ links and Greenwich — r14 ADVICE,
        # low) — extend from that semantics if Spark Connect ever
        # becomes the primary session type here (it is only consulted
        # when the gateway probe above is unreachable, and only to VETO
        # the libc probe).
        return sess in ("UTC", "GMT", "Z", "+00:00", "ETC/UTC", "ETC/GMT",
                        "GMT0", "UCT", "ZULU", "UNIVERSAL", "GREENWICH",
                        "ETC/ZULU", "ETC/UNIVERSAL", "ETC/UCT",
                        "ETC/GMT0", "ETC/GMT+0", "ETC/GMT-0",
                        "ETC/GREENWICH")
    except Exception:  # pragma: no cover
        return True  # conf unreadable: the libc probe stands alone

# z/Z zone-field text (probed against Java 17, see _simple_date_pattern):
# RFC-822 [+-]HHMM (whitespace-skipped), the custom GMT+H:MM / GMT+HH:MM
# form (case-insensitive, NO whitespace skip, and COMMITTED once a sign
# follows GMT — "GMT+01:0" rejects outright, it does not fall back to
# bare GMT), whitespace + bare GMT (the zone-NAME matcher path, which
# matches "GMT" with offset 0 and leaves any +hh:mm as trailing input),
# or the fixed zero-offset alias "UTC" (r13, ADVICE: name-matcher only —
# probed: "UTC+01:00" parses as offset 0 with "+01:00" left as trailing
# input, there is no custom UTC+h:mm form, whitespace optional,
# case-insensitive). Other zone names are a documented reject — and
# "UT"/"PST" etc. differ by JDK locale table ("UT" FAILS on this
# container's Java 17, probed, so only UTC is admitted).
_ZONE_RFC822_GMT_RX = (
    "((?:[ \\t]*[+-][0-9]{4})"
    "|(?i:GMT)(?:[+-][0-9]{1,2}:[0-9]{2}|(?![+-]))"
    "|[ \\t]+(?i:GMT)"
    "|[ \\t]*(?i:UTC))"
)
_ZONE_ISO_RX = {  # X run length -> ISO-8601 forms (whitespace-skipped)
    1: "([ \\t]*(?:Z|[+-][0-9]{2}))",
    2: "([ \\t]*(?:Z|[+-][0-9]{4}))",
    3: "([ \\t]*(?:Z|[+-][0-9]{2}:[0-9]{2}))",
}


def _obey_count_rx(n: int, sign: bool = True) -> str:
    """Capture-group regex for an obeyCount numeric field of width ``n``
    (r12, adjacent fixed-width runs like "yyyyMMdd" — all probed against
    Java 17). SimpleDateFormat parses such a field from the SUBSTRING of
    the next ``n`` characters: leading space/tab counts toward the
    width, an optional minus is accepted (DecimalFormat; '+' is not),
    then maximal digits within the remaining width — and the consumed
    length may be shorter than ``n`` (probed: "24\\t0105" under
    yyyyMMdd parses y=24 from the "24\\t0" substring and the month
    field starts at the tab). The group is ATOMIC ((?>...)): Java never
    backtracks a parsed field, so "202401" under yyyyMMdd must reject
    (empty day) rather than re-splitting into y=2024 M=0 d=1. The
    capture may include the leading whitespace — consumers lstrip.
    ``sign=False`` for year fields (a negative year is the documented
    BC-era reject, like the separated-field year regex)."""
    alts = []
    for k in range(n):
        for s in ("", "-") if sign else ("",):
            dmax = n - k - len(s)
            if dmax < 1:
                continue
            ws = "[ \\t]{%d}" % k if k else ""
            alts.append("%s%s[0-9]{1,%d}" % (ws, s, dmax))
    return "((?>" + "|".join(alts) + "))"


# Pattern letters known to compile in Spark's >=3.0 datetime parser (the
# try_to_timestamp strict path), with the MAXIMUM RUN LENGTH the
# formatter build accepts for each — every bound probed on this
# container's Spark / Java 17 ('HHH' and the narrow text forms
# 'MMMMM' / 'aa' / 'zzzzz' all throw at BUILD, not parse). Any other
# letter — 'E'/'F'/'q'/'Q' are format-only, week-based
# 'Y'/'W'/'w'/'u'/'e'/'c' and several others are banned outright —
# makes the formatter BUILD throw (SparkUpgradeException /
# IllegalArgumentException) on the first row of the job rather than
# returning null for the row (r12 ADVICE; verified: try_to_timestamp
# throws, not nulls). Formats whose unquoted letter RUNS all stay
# inside these bounds skip the probe entirely, so the common formats
# cost nothing at plan build; a safe-letter format that exceeds a
# bound (e.g. "HHH:mm") is probed — the r12 set-only screen wrongly
# skipped those and let the job crash mid-task (r13 ADVICE, medium).
_SPARK_PARSE_MAX_RUN = {
    "y": 6, "M": 4, "d": 2, "H": 2, "h": 2, "K": 2, "k": 2,
    "m": 2, "s": 2, "S": 9, "a": 1, "X": 5, "x": 5, "Z": 5, "z": 4,
}
_SPARK_PARSE_SAFE_LETTERS = frozenset(_SPARK_PARSE_MAX_RUN)
# Substrings identifying a FORMATTER-COMPILE failure in the probe's
# exception text (Spark's error-class tags plus the wrapped JVM
# classes). Anything else — a dead gateway, a stopped session — is
# transient and must NOT be cached (r13 ADVICE: a poisoned cache made
# every later as_date plan build report a bogus 'cannot compile').
_FMT_COMPILE_MARKERS = (
    "INCONSISTENT_BEHAVIOR_CROSS_VERSION",  # SparkUpgradeException tag
    "INVALID_DATETIME_PATTERN",             # e.g. 'XXXXXX', unclosed quote
    "SparkUpgradeException",
    "IllegalArgumentException",
    "DateTimeException",
)
_STRICT_FMT_ERR: dict[str, "str | None"] = {}


def _probe_exc_is_compile(exc: Exception) -> bool:
    """Classify a probe exception as a formatter-COMPILE failure (cache
    it) vs transient (re-raise uncached). Primary signal: the marker
    substrings in the exception TEXT. Fallback (r14 verdict watch item):
    when the text gives no match but the exception is a Py4J error
    carrying ``java_exception``, walk the JVM cause chain and match the
    markers against the CLASS NAMES — Spark's error-class tags are
    stable but the rendered message text is not, and a Spark upgrade
    that reworks its error text must degrade to a clean plan-build
    ValueError, not a raw re-raise out of the probe."""
    msg = str(exc)
    if any(mk in msg for mk in _FMT_COMPILE_MARKERS):
        return True
    je = getattr(exc, "java_exception", None)
    for _ in range(8):  # bounded cause-chain walk
        if je is None:
            return False
        try:
            name = je.getClass().getName()
            if any(mk in name for mk in _FMT_COMPILE_MARKERS):
                return True
            je = je.getCause()
        except Exception:  # gateway died mid-walk: treat as transient
            return False
    return False


def _strict_format_error(spark: "Any", fmt: str) -> "str | None":
    """Return None when Spark's strict parser can evaluate ``fmt``, else
    the first line of the compile error (r12 ADVICE, medium). Screens
    statically via _SPARK_PARSE_MAX_RUN — every unquoted letter run
    must be a known-safe letter within its probed maximum run length
    (r13 ADVICE: the set-only screen wrongly skipped 'HHH:mm' /
    'MMMMM-dd-yyyy', whose builds throw) — then probes the formatter
    with a cached 1-row local job, so a pattern Spark cannot compile
    (e.g. a near-miss of the lenient subset like "EEE'day', yyyy-MM-dd")
    fails AT PLAN BUILD with a clear message instead of throwing
    SparkUpgradeException out of a task mid-job. Only compile failures
    are cached: a transient gateway/session error propagates unrecorded
    so it cannot poison later plan builds (r13 ADVICE)."""
    unquoted = re.sub(r"'[^']*'", "", fmt)
    # Quote-stripping can MERGE runs around a literal ("H'x'H" -> "HH");
    # merging only ever lengthens a run, so the screen stays
    # conservative — an extra probe at worst, never a wrong skip.
    # A quote SURVIVING the strip is unterminated ("HH'mm"), and
    # '#'/'{'/'}' are DateTimeFormatter-reserved — both make the build
    # throw (probed: INVALID_DATETIME_PATTERN / INCONSISTENT_BEHAVIOR_
    # CROSS_VERSION) even when every letter run is safe, so they force
    # the probe instead of skipping it (r14 ADVICE, medium; '[' / ']'
    # optional-section markers compile fine, probed, and need no force).
    if not (set(unquoted) & set("'#{}")) and all(
        m.group(1) in _SPARK_PARSE_MAX_RUN
        and len(m.group(0)) <= _SPARK_PARSE_MAX_RUN[m.group(1)]
        for m in re.finditer(r"([A-Za-z])\1*", unquoted)
    ):
        return None
    if fmt not in _STRICT_FMT_ERR:
        try:
            spark.range(1).select(
                F.try_to_timestamp(F.lit("probe"), F.lit(fmt))
            ).collect()
            _STRICT_FMT_ERR[fmt] = None
        except Exception as exc:  # Py4J wraps several JVM error classes
            if not _probe_exc_is_compile(exc):
                raise  # transient (gateway/session) — never cached
            _STRICT_FMT_ERR[fmt] = (
                str(exc).strip().splitlines()[0][:300] or type(exc).__name__
            )
    return _STRICT_FMT_ERR[fmt]


def _zone_offset_ms(s: "str | None") -> "int | None":
    """Parse a zone-field capture (one of the shapes the zone regexes
    above admit) into an offset in milliseconds; None = out of bounds
    (hours > 23 or minutes > 59 — probed: Java rejects "+2400", "+0060",
    "GMT+24:00" outright). "" means the format has no zone field and "Z"
    / "GMT" are zero. Shared verbatim by the engine UDFs and the fuzz
    model — one source of truth for the offset arithmetic."""
    if s is None:
        return None
    s = s.lstrip(" \t")
    if s == "" or s == "Z":
        return 0
    if s.upper() == "UTC":
        # fixed zero-offset zone-name alias (r13; probed: Java's name
        # matcher accepts UTC case-insensitively at offset 0, never a
        # UTC+h:mm custom form — "UT" is NOT in this JDK's table)
        return 0
    if s[:3].upper() == "GMT":
        rest = s[3:]
        if not rest:
            return 0
        sign = 1 if rest[0] == "+" else -1
        hh, _, mm = rest[1:].partition(":")
        h, m = int(hh), int(mm)
    else:
        sign = 1 if s[0] == "+" else -1
        digits = s[1:]
        if ":" in digits:
            hh, _, mm = digits.partition(":")
            h, m = int(hh), int(mm)
        elif len(digits) == 2:
            h, m = int(digits), 0
        else:
            h, m = int(digits[:2]), int(digits[2:4])
    if h > 23 or m > 59:
        return None
    return sign * (h * 3600 + m * 60) * 1000


def _simple_date_pattern(
    fmt: str,
    host_tz_utc: "bool | None" = None,
) -> (
    tuple[str, int, int, int, bool, bool,
          tuple[int, int, int, int, str, int] | None, int]
    | None
):
    """Translate a SimpleDateFormat date pattern (numeric fields, plus
    English text months) into a prefix-anchored Java-regex + (year,
    month, day) capture-group indices + a flag saying whether the month
    group captures a month NAME rather than digits + a flag saying the
    year run is 'y'/'yy' (century-WINDOWED on exactly-2-digit input —
    r11; the windowed UDF applies the textual rule) + time-of-day
    capture info (r12) — a 6-tuple (hour group, minute group, second
    group, millis group, hour KIND, am/pm group) with 0 for a field
    absent from the pattern and kind one of 'H'/'h'/'K'/'k'/'' — or
    None when the pattern has no time fields at all — plus (r12) a zone
    capture-group index (0 = no zone field) as the 8th element — for
    as_date's lenient path. Returns None when the pattern falls outside
    the supported subset (pattern letters beyond
    y/M/d/H/m/s/S/h/K/k/a/E/z/Z/X — week/era/day-of-year fields —, an
    X-run longer than 3, any zone run on a non-fixed-UTC host, an
    unterminated quote, two hour fields, a letter-leading quoted
    literal directly after a month/weekday name) — the caller then
    keeps the strict parse for that format.

    Adjacent fixed-width numeric runs (r12, "yyyyMMdd" — obeyCount, all
    probed against Java 17): a numeric field directly followed by
    ANOTHER numeric field parses from the substring of the next
    run-length characters — leading space/tab counts toward the width,
    a minus is accepted (not on years), maximal digits within the
    remaining width, no backtracking (atomic group: "202401" under
    yyyyMMdd rejects on the empty day instead of re-splitting). The
    LAST field of an adjacent chain — and any numeric field before a
    text field, zone, literal or pattern end — stays greedy (probed:
    "105Jan2024" under ddMMMyyyy parses day 105; "hha" on "130PM"
    parses hour 130).

    Zone fields (r12, all probed against Java 17): z/Z runs of any
    length parse the RFC-822 form [+-]HHMM (hours <= 23, minutes <= 59,
    whitespace skipped before the sign), the custom GMT form
    GMT[+-]H:MM / GMT[+-]HH:MM (case-insensitive, no whitespace skip,
    COMMITTED once a sign follows GMT — "GMT+01:0" rejects outright
    rather than falling back to bare GMT), bare GMT (offset 0), and
    whitespace + bare GMT (Java's zone-NAME matcher accepts the GMT
    name there with offset 0, leaving any following +hh:mm as ordinary
    input). X runs parse the ISO-8601 forms by count — X: Z or [+-]HH;
    XX: Z or [+-]HHMM; XXX: Z or [+-]HH:MM ("Z" case-SENSITIVE,
    whitespace skipped). The parsed offset shifts the INSTANT after
    wall-field resolution — computeTime resolves the calendar fields
    (including the hybrid-calendar cutover pick) on the WALL values and
    subtracts the offset afterwards, so wall "1582-10-15 00:30 +0100"
    lands one instant-hour before the cutover and labels back JULIAN as
    1582-10-04 (probed) — and the final label is that instant rendered
    in the JVM default zone, which is why zone runs are only in scope
    on a fixed-UTC host. Zone NAMES: bare GMT and the fixed zero-offset
    alias UTC (r13) parse at offset 0. Documented divergence: other
    locale-table names (PST, EST, ...) reject where Java accepts them
    ("UT" also rejects — probed: it FAILS on this container's Java 17).

    Day-of-week (r12): 'E' runs of any length match an English weekday
    name (full names tried before short — every short name is a prefix
    of its full name, so the order is load-bearing), case-insensitive,
    no whitespace skip, and the matched value is IGNORED: with year,
    month and day all present (required by this subset),
    Calendar.computeTime's selectFields never consults DAY_OF_WEEK
    (probed: a wrong weekday name still parses to the y/M/d date).

    Am/pm hours (r12, all probed against Java 17): 'h' (1-12 clock)
    maps a parsed value of EXACTLY 12 to 0 at parse time (the
    subParse maxValue+1 rule — "-12" stays -12), 'k' (1-24) maps 24 to
    0, 'K' (0-11) is unadjusted; 'a' matches AM/PM case-insensitively
    as a TEXT field (no whitespace skip, like month names; partial "P"
    rejects). PM contributes +12 h ONLY when the pattern's hour field
    is h/K or absent — with H/k the parsed marker is ignored, exactly
    Calendar.computeTime's HOUR_OF_DAY-precedence branch.

    Quoted literals (r12): SimpleDateFormat quoting reproduced —
    ``'...'`` is literal text, ``''`` is a literal single quote (inside
    or outside a quoted section), and literals match exactly with no
    whitespace skip (same probed rule as unquoted literals).

    Time fields (r12, probed against Java 17 — see the ``dates`` fuzz
    campaign's time pool): H/m/s/S parse like every other numeric field
    (maximal digit run, space/tab skip before the field, a single minus
    accepted), and leniently contribute
    ``H*3600000 + m*60000 + s*1000 + S`` milliseconds to the instant —
    hour 24 rolls to the next day, negative fields roll backward, and
    the day offset participates in the hybrid-calendar pick exactly
    like Java's computeTime (the time-derived day offset is added to
    the fixed date BEFORE the cutover comparison; as_date folds it into
    the day field, which is equivalent because lenient getFixedDate is
    linear in day-of-month).

    Text months (M-run of length >= 3, r10): SimpleDateFormat's
    matchString behaviors probed against the real Java 17 parser and
    reproduced — case-INSENSITIVE (regionMatches(true, ...); "june"/
    "JUNE" parse), full names tried before short names (subParse tries
    getMonths() then getShortMonths(); the regex lists full-name
    alternatives first — no month name is a prefix of another within
    either list, and regex backtracking from full to short can never
    rescue a parse Java rejects because the divergent suffix is always
    alphabetic while the element after a month is always a non-alpha
    literal or a digit run), NO whitespace skip before the name
    (probed: "2024- Jan-05" REJECTS under yyyy-MMM-dd where
    "2024- 01-05" parses under yyyy-MM-dd — the numeric-field skip
    does not apply to text fields), adjacency with numeric runs is
    fine in both directions ("05Jan2024", "June15" probed), and
    locale-English names only (the `dates` fuzz campaign pins the Java
    oracle to Locale.ENGLISH to match).

    Group numbers are regex capture-group indices in pattern order, so
    callers address fields positionally via ``regexp_extract``.

    Field shapes probed against the real Java 17 SimpleDateFormat (see
    the `dates` fuzz campaign): each numeric field parses a maximal
    digit run, space/tab runs are skipped immediately BEFORE each
    numeric field (" 2024- 01-\\t02" parses; whitespace before a
    literal does not: "2024 -01-02" fails), and DecimalFormat lets a
    single minus through — month/day get ``-?`` (the calendar rolls
    backward, which the date arithmetic reproduces exactly); a minus
    on the YEAR flips into BC-era normalization, which stays a reject
    here (documented divergence). Literals match exactly, once."""
    # Tokenize with SimpleDateFormat's quoting rules: unquoted letter
    # runs are pattern fields, everything else (including quoted
    # sections, with '' = one literal quote) is literal text.
    tokens: list[tuple[bool, str]] = []  # (is_field_run, text)

    def _lit(text: str) -> None:
        if tokens and not tokens[-1][0]:
            tokens[-1] = (False, tokens[-1][1] + text)
        else:
            tokens.append((False, text))

    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "'":
            if fmt[i + 1 : i + 2] == "'":
                _lit("'")  # '' outside a quoted section
                i += 2
                continue
            i += 1
            buf = []
            while i < len(fmt):
                if fmt[i] == "'":
                    if fmt[i + 1 : i + 2] == "'":  # '' inside = one quote
                        buf.append("'")
                        i += 2
                        continue
                    i += 1
                    break
                buf.append(fmt[i])
                i += 1
            else:
                # unterminated quote: SimpleDateFormat's constructor
                # throws — fall to the strict parse for this format
                return None
            _lit("".join(buf))
        elif ch.isalpha() and ch.isascii():
            j = i
            while j < len(fmt) and fmt[j] == ch:
                j += 1
            tokens.append((True, fmt[i:j]))
            i = j
        else:
            j = i
            while j < len(fmt) and fmt[j] != "'" and not (
                fmt[j].isalpha() and fmt[j].isascii()
            ):
                j += 1
            _lit(fmt[i:j])
            i = j

    def _is_numeric_run(r: str) -> bool:
        # month runs of length >= 3 are text fields; everything else in
        # the numeric letters parses digits
        return r[0] in "yMdHhKkmsS" and not (r[0] == "M" and len(r) >= 3)

    parts: list[str] = []
    groups: dict[str, int] = {}
    month_text = False
    y_window = False
    hour_kind = ""
    prev_prefix_text = False  # month/weekday NAME just emitted (see guard)
    for ti, (is_run, text) in enumerate(tokens):
        if not is_run:
            if text:
                if prev_prefix_text and text[0].isalpha() and text[0].isascii():
                    # A letter-leading literal (only reachable via
                    # quoting) directly after a month/weekday name is a
                    # regex-vs-matchString divergence: Java consumes the
                    # LONGEST name with no backtracking ("MMM'uary'" on
                    # "January 2024" consumes "January" then REJECTS on
                    # the literal), while a regex alternation would
                    # backtrack full -> short and accept. Out of lenient
                    # scope -> strict fallback.
                    return None
                parts.append(re.escape(text))
                prev_prefix_text = False
            continue
        run = text
        if run[0] == "y":
            key = "y"
            # SimpleDateFormat windows y-runs of count <= 2 — 'y' AND
            # 'yy' — whenever the matched text is EXACTLY two digits
            # (r11; the textual rule itself lives in the windowed UDF)
            y_window = len(run) <= 2
        elif run[0] == "M":
            key = "M"
            if len(run) >= 3:  # text month (MMM/MMMM parse identically)
                month_text = True
        elif run[0] == "d" and len(run) <= 2:
            key = "d"
        elif run[0] in "HhKk" and len(run) <= 2:
            key = "hour"  # one hour field of any kind (r12)
            hour_kind = run[0]
        elif run[0] in "ms" and len(run) <= 2:
            key = run[0]  # minute / second (r12)
        elif run[0] == "S" and len(run) <= 3:
            key = "S"  # milliseconds — parse count is irrelevant (r12)
        elif run[0] == "a":
            key = "a"  # AM/PM marker, text field (r12)
        elif run[0] == "E":
            # Day-of-week (r12): subParse tries getWeekdays() then
            # getShortWeekdays() for ANY run length (probed: "E" parses
            # "Sunday"), case-insensitive, no whitespace skip. With
            # y/M/d all present — which this subset requires —
            # computeTime's selectFields ignores DAY_OF_WEEK entirely
            # (the WOM/DOWIM/WOY aggregate stamps stay UNSET, so
            # DAY_OF_MONTH always carries the best stamp): a mismatched
            # weekday name parses fine and contributes nothing (probed:
            # "Mon, 2024-01-05" under "EEE, yyyy-MM-dd" -> 2024-01-05,
            # a Friday). The name must still MATCH — garbage rejects.
            key = "E"
        elif run[0] in "zZX":
            # zone field (r12): offset forms + GMT/UTC names, host must
            # be fixed UTC (see the docstring; _zone_offset_ms bounds
            # the values). The gate defaults to the libc probe; as_date
            # passes the session's JVM default zone instead (r13,
            # ADVICE — the JVM zone is what renders the label in the
            # reference, and it can differ from the driver's libc TZ).
            gate = _HOST_TZ_UTC if host_tz_utc is None else host_tz_utc
            if not gate or (run[0] == "X" and len(run) > 3):
                return None
            key = "zone"
        else:
            return None
        text_field = (key == "M" and month_text) or key in ("a", "E", "zone")
        if key in groups:
            return None
        groups[key] = len(groups) + 1
        if key == "zone":
            parts.append(
                _ZONE_ISO_RX[len(run)] if run[0] == "X"
                else _ZONE_RFC822_GMT_RX
            )
            prev_prefix_text = False
        elif text_field:
            # no whitespace skip before a text field (probed; see above)
            parts.append(
                "((?i:AM|PM))" if key == "a"
                else "(" + _WEEKDAY_NAME_ALT + ")" if key == "E"
                else "(" + _MONTH_NAME_ALT + ")"
            )
            prev_prefix_text = key != "a"  # AM/PM has no prefix pairs
        else:
            nxt = tokens[ti + 1] if ti + 1 < len(tokens) else None
            if nxt is not None and nxt[0] and _is_numeric_run(nxt[1]):
                # obeyCount (r12, probed): a numeric field directly
                # followed by ANOTHER numeric field parses from a
                # width-bounded substring ("yyyyMMdd"); before a text
                # field / literal / end it stays greedy ("ddMMMyyyy"
                # consumes day 105 from "105Jan2024" — probed)
                parts.append(_obey_count_rx(len(run), sign=key != "y"))
            else:
                parts.append(
                    "[ \\t]*([0-9]+)" if key == "y"
                    else "[ \\t]*(-?[0-9]+)"
                )
            prev_prefix_text = False
    if not {"y", "M", "d"} <= set(groups):
        return None
    tg = (
        groups.get("hour", 0), groups.get("m", 0),
        groups.get("s", 0), groups.get("S", 0),
        hour_kind, groups.get("a", 0),
    )
    return (
        "^" + "".join(parts),
        groups["y"], groups["M"], groups["d"],
        month_text, y_window,
        tg if any(tg) else None,
        groups.get("zone", 0),
    )


# ------------------------------------------------ NaN-exact pandas adapters
# flatten_window and GroupedPipeline.apply_in_pandas hand the user
# function a pandas DataFrame by contract, so they keep a pandas
# conversion; every row closure goes through the converter pair above
# instead. PySpark's pandas serializers conflate float NULL and NaN in
# BOTH directions: Spark->pandas renders null as numpy NaN (plain
# float64 has no null), and pandas->Arrow treats NaN as the null
# sentinel (pa.Array.from_pandas semantics). The reference's rows carry
# Double.NaN faithfully (a parsed "NaN" survives any step), so these two
# run through applyInArrow with the adapters below: float columns travel
# as pandas nullable Float64/Float32 (NaN is a value, NA is null — exact
# both ways, probed), timestamps are localized tz-naive like PySpark's
# own serializer, and everything else converts as from_pandas always
# did. Caught by fuzz campaign `chain` at seed 661 (as_double("NaN") ->
# flatten_window nulled the NaN). Known residual conflation: a pandas fn
# that CONSTRUCTS a fresh plain-float64 output column gets from_pandas
# NaN->null (use a nullable Float64 column to be exact).


def _nullable_float_dtype(t):
    import pyarrow as pa

    if t.equals(pa.float64()):
        return pd.Float64Dtype()
    if t.equals(pa.float32()):
        return pd.Float32Dtype()
    return None


def _pdf_from_arrow(batch) -> pd.DataFrame:
    """Arrow batch -> pandas with float nulls exact (nullable dtypes)
    and timestamps tz-naive (parity with PySpark's own serializer)."""
    import pyarrow as pa

    pdf = batch.to_pandas(types_mapper=_nullable_float_dtype)
    for name, field in zip(batch.schema.names, batch.schema):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            pdf[name] = pdf[name].dt.tz_convert("UTC").dt.tz_localize(None)
    return pdf


def _pdf_to_arrow(pdf: pd.DataFrame, arrow_schema):
    """pandas -> Arrow batch under an explicit schema, preserving NaN
    values: nullable-float columns keep their mask; OBJECT columns
    targeting a float field are null only where the cell is None/NA (a
    float('nan') cell is a value, unlike from_pandas semantics)."""
    import numpy as np
    import pyarrow as pa

    arrays = []
    for field in arrow_schema:
        col = pdf[field.name]
        if pa.types.is_floating(field.type) and col.dtype == object:
            n = len(col)
            mask = np.fromiter(
                (v is None or v is pd.NA for v in col), bool, n
            )
            vals = np.array(
                [0.0 if m else float(v) for v, m in zip(col, mask)],
                dtype="float64",
            )
            arrays.append(pa.array(vals, type=field.type, mask=mask))
        elif pa.types.is_timestamp(field.type) and field.type.tz is not None:
            s = col
            if getattr(s.dtype, "tz", None) is None:
                s = pd.to_datetime(s).dt.tz_localize("UTC")
            arrays.append(pa.Array.from_pandas(s, type=field.type))
        else:
            arrays.append(pa.Array.from_pandas(col, type=field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)


def _safe_names(df: DataFrame) -> tuple[DataFrame, list[str], dict[str, str]]:
    """(frame, original names, {renamed name: safe name}) for handing
    ``df`` to mapInArrow/applyInArrow. PySpark looks each input column
    up by its unquoted name there, so a name holding a dot or a backtick
    fails at plan build; such columns get a positional name, which the
    Arrow function swaps back. The plan is unchanged when no name needs
    it."""
    names = df.columns
    safe = {c: f"__col{i}__" for i, c in enumerate(names) if "." in c or "`" in c}
    if safe:
        df = df.toDF(*[safe.get(c, c) for c in names])
    return df, names, safe


def _apply_in_pandas_exact(df: DataFrame, keys: list[str], fn, schema) -> DataFrame:
    """``df.groupBy(*keys).applyInPandas(fn, schema)`` with float
    null/NaN exact (applyInArrow). ``fn``: pandas DataFrame -> pandas
    DataFrame; float columns arrive as nullable Float64/Float32."""
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = _parse_ddl(df.sparkSession, schema)
    arrow_schema = to_arrow_schema(schema)
    df, names, safe = _safe_names(df)

    def _arrow_fn(table):
        import pyarrow as pa

        pdf = _pdf_from_arrow(table.rename_columns(names))
        out = fn(pdf)
        return pa.Table.from_batches([_pdf_to_arrow(out, arrow_schema)])

    return df.groupBy(*[safe.get(k, k) for k in keys]).applyInArrow(_arrow_fn, schema)


def _parse_ddl(session, ddl: str):
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(ddl)


_GREGORIAN_CUTOVER_JDN = 2299161  # 1582-10-15 (Gregorian), Java's default
_JDN_EPOCH = 2440588  # 1970-01-01 (Gregorian)
_JDN_YEAR1_JULIAN = 1721424  # 0001-01-01 (Julian label)
_JDN_YEAR9999_MAX = 5373484  # 9999-12-31 (Gregorian label)


@F.pandas_udf(LongType())
def _hybrid_lenient_epoch_days(
    y: pd.Series, mo: pd.Series, d: pd.Series,
    rem_ms: pd.Series, zone: pd.Series,
) -> pd.Series:
    """Java GregorianCalendar lenient field resolution -> proleptic
    epoch days (null = out of lenient scope), for as_date's lenient
    path. Arrow-batched, all-numpy int64 — deliberately NOT a Column
    tree: the hybrid-calendar CASE cascade repeats its subtrees dozens
    of times once Catalyst inlines the aliases back into the
    kept/reject Filters, and the single resulting boolean expression
    cannot be method-split, so generated Java blows Janino's 64 KB
    limit and every action logs a codegen ERROR before falling back to
    interpreted mode (measured; logical-plan staging doesn't help —
    whole-stage codegen fuses the Projects again). One opaque
    vectorized node keeps every surrounding stage codegen'd.

    Reproduces SimpleDateFormat's default hybrid Julian/Gregorian
    calendar EXACTLY — probed against the real Java 17 parser on 11k+
    field combinations (tools/fuzz_semantics.py campaign ``dates`` and
    its cutover-dense calibration sweep): months normalize first
    (month 0 = December of y-1, 13 = January of y+1), then the day
    offset is day arithmetic from the 1st; computeTime picks the
    calendar system by the RAW year field and the resulting instant —
    year < 1582 resolves purely Julian (even when the roll lands past
    the cutover), year >= 1582 resolves Gregorian unless the instant
    falls before 1582-10-15, in which case it re-resolves Julian (this
    also swallows the ten skipped labels Oct 5-14 1582, exactly like
    Java). Formatting picks the calendar back by the instant alone:
    labels are Gregorian from the cutover (proleptic DateType is
    label-exact there, so epoch days = fd - epoch JDN) and Julian
    before it (label recovered from exact 1461-day 4-year blocks
    anchored at Julian 0001-01-01, then re-encoded as the proleptic
    epoch days of that LABEL).

    Out-of-scope -> null (the format falls through, then
    INVALID_FORMAT): null/unparsed fields, input year outside
    [1, 9999], |month| > 120000, |day| > 4000000 (bounds keep the
    int64 arithmetic far from overflow; Java would keep normalizing),
    a resulting year outside [1, 9999] (Spark DateType label bound),
    and the Julian leap days Feb 29 of centurial non-multiple-of-400
    years (~11 labels in 1500 years) which proleptic-Gregorian
    DateType cannot represent.

    Zone fields (r12): ``rem_ms`` is the wall time-of-day remainder
    (0 for date-only patterns) and ``zone`` the captured zone text
    ("" = no zone field). The offset shifts the INSTANT after wall
    resolution — label = hybrid label of the shifted instant's day
    (fixed-UTC host; see _simple_date_pattern) — and an out-of-bounds
    offset (_zone_offset_ms None) rejects the row.
    """
    import numpy as np

    yv = y.to_numpy(dtype="float64", na_value=np.nan)
    mov = mo.to_numpy(dtype="float64", na_value=np.nan)
    dv = d.to_numpy(dtype="float64", na_value=np.nan)
    remv = rem_ms.to_numpy(dtype="float64", na_value=np.nan)
    offv = pd.to_numeric(
        zone.map(_zone_offset_ms), errors="coerce"
    ).to_numpy(dtype="float64", na_value=np.nan)
    ok = (
        ~np.isnan(yv) & ~np.isnan(mov) & ~np.isnan(dv)
        & ~np.isnan(remv) & ~np.isnan(offv)
        & (yv >= 1) & (yv <= 9999)
        & (np.abs(mov) <= 120000) & (np.abs(dv) <= 4000000)
    )
    yi = np.nan_to_num(yv, nan=2000.0).astype(np.int64)
    moi = np.nan_to_num(mov, nan=1.0).astype(np.int64)
    di = np.nan_to_num(dv, nan=1.0).astype(np.int64)
    rem_eff = (
        np.nan_to_num(remv, nan=0.0).astype(np.int64)
        - np.nan_to_num(offv, nan=0.0).astype(np.int64)
    )
    ed, rep, _fd = _hybrid_resolve_np(
        yi, moi, di, rem_eff // 86400000
    )
    out = pd.Series(ed, dtype="Int64")
    out[~(ok & rep)] = None
    return out


def _hybrid_resolve_np(yi, moi, di, shift=None):
    """GregorianCalendar lenient computeTime over int64 field arrays ->
    (proleptic epoch days of the resulting hybrid-calendar LABEL,
    representable-mask, instant JDN). Fields may be far out of range
    (months normalize first, then the day offset walks from the 1st);
    callers bound |inputs| so the int64 arithmetic stays far from
    overflow. Mask False = result label outside [0001-01-01,
    9999-12-31] or an unrepresentable (Julian-only) centurial leap day.
    The raw instant JDN is returned regardless of representability —
    the windowed UDF's ambiguous-year before-check compares INSTANTS
    (java.util.Date.before), even when the first resolution's label is
    out of DateType's range. Shared by the plain and century-windowed
    as_date UDFs.

    ``shift`` (r12, zone fields): day delta between the WALL fixed date
    and the UTC instant's day — floor((rem_ms - offset_ms) / ONE_DAY).
    Resolution (the cutover pick included) happens on the wall fields
    exactly like computeTime; only the LABEL legs below use the shifted
    day, reproducing Java's format-the-instant step (probed: wall
    "1582-10-15 00:30 +0100" labels Julian 1582-10-04)."""
    import numpy as np

    def greg_fd(yy, mm, dd):
        # Julian day number of proleptic-Gregorian (yy, mm, dd)
        a = (mm <= 2).astype(np.int64)
        y2 = yy + 4800 - a
        m2 = mm + 12 * a - 3
        return (
            (153 * m2 + 2) // 5 + 365 * y2 + y2 // 4
            - y2 // 100 + y2 // 400 + dd - 32045
        )

    # lenient field normalization: months first, then day offset from the 1st
    ny = yi + (moi - 1) // 12
    mi = (moi - 1) % 12 + 1
    a = (mi <= 2).astype(np.int64)
    y2 = ny + 4800 - a
    m2 = mi + 12 * a - 3
    base = (153 * m2 + 2) // 5 + 365 * y2 + y2 // 4 + di
    gfd = base - y2 // 100 + y2 // 400 - 32045
    jfd = base - 32083
    fd = np.where(
        yi < 1582, jfd, np.where(gfd >= _GREGORIAN_CUTOVER_JDN, gfd, jfd)
    )
    # the label is the (possibly zone-shifted) INSTANT's day; fd itself
    # stays the wall resolution for the windowed before-check
    fdl = fd if shift is None else fd + shift

    # Gregorian-era labels: DateType is label-exact, epoch offset directly
    ed_greg = fdl - _JDN_EPOCH
    # Julian-era labels: recover (year, day-of-year) from 4-year blocks
    days = fdl - _JDN_YEAR1_JULIAN
    q4 = days // 1461
    r = days % 1461
    y0 = np.where(r < 365, 0, np.where(r < 730, 1, np.where(r < 1095, 2, 3)))
    doy = r - y0 * 365
    ry = 1 + 4 * q4 + y0
    centurial = (ry % 100 == 0) & (ry % 400 != 0)
    # proleptic layout differs from Julian only at/after the (Julian-only)
    # Feb 29 of centurial non-/400 years: that label itself is
    # unrepresentable, later ones sit one proleptic day earlier
    bad_leap = centurial & (doy == 59)
    adj_doy = doy - (centurial & (doy > 59)).astype(np.int64)
    ed_julian = greg_fd(ry, np.int64(1), np.int64(1)) - _JDN_EPOCH + adj_doy

    in_greg = (fdl >= _GREGORIAN_CUTOVER_JDN) & (fdl <= _JDN_YEAR9999_MAX)
    in_julian = (fdl < _GREGORIAN_CUTOVER_JDN) & (fdl >= _JDN_YEAR1_JULIAN)
    rep = (in_greg | in_julian) & ~(in_julian & bad_leap)
    return np.where(in_greg, ed_greg, ed_julian), rep, fd


def _century_window(dcs) -> tuple[int, int, int]:
    """(century, startYear % 100, window-start instant in epoch MILLIS)
    from a 2-digit-year window start (datetime or date). The bump fires
    when the resolved instant STRICTLY precedes the start instant
    (java.util.Date.before); a resolved value's time-of-day is midnight
    for date-only patterns and the parsed remainder for time patterns
    (r12 — the compare moved from pre-adjusted days to raw millis,
    which reproduces both probed day-level rules: at a midnight start
    an equal label does NOT bump, at any later start time it does).
    Shared with the ``dates`` fuzz model — one source of truth."""
    import datetime

    if not isinstance(dcs, datetime.datetime):
        dcs = datetime.datetime.combine(dcs, datetime.time(0))
    days = (dcs.date() - datetime.date(1970, 1, 1)).days
    t = dcs.time()
    ms = ((t.hour * 60 + t.minute) * 60 + t.second) * 1000 + t.microsecond // 1000
    return (dcs.year // 100) * 100, dcs.year % 100, days * 86400000 + ms


@F.pandas_udf(LongType())
def _hybrid_windowed_epoch_days(
    yt: pd.Series, mo: pd.Series, d: pd.Series, rem_ms: pd.Series,
    zone: pd.Series,
    century: pd.Series, amb: pd.Series, cutoff: pd.Series,
) -> pd.Series:
    """as_date's lenient path for 'y'/'yy' patterns (y-run length <= 2):
    SimpleDateFormat's default-century windowing, probed against the
    real Java 17 parser (fuzz campaign ``dates``, yy pool; one-off
    probes pinned the mechanics below). The year arrives as the RAW
    captured text because the rule is textual: an input of EXACTLY two
    digits maps into the 100-year window anchored at the format's
    2-digit-year start (value v -> century + v, +100 when
    v < startYear % 100); any other digit run — one digit, three or
    more, leading zeros making it non-2-digit ("046" -> literal 46) —
    is literal. The boundary value v == startYear % 100 is AMBIGUOUS:
    Java resolves the full date low and bumps iff the resolved INSTANT
    precedes defaultCenturyStart — the probe "46-99-10" (start
    1946-08-15) lands 1954 and does NOT bump. The bump itself is
    CalendarBuilder.addYear(100): +100 on the RAW year field, then full
    lenient RE-resolution of the original month/day fields (probed:
    "46--4150-29" -> Feb 29 1700 -> 1700-03-01, NOT a day-of-month pin
    to Feb 28; "46--5558-7" -> Oct 7 1582 -> cutover-gap re-resolution
    -> 1582-10-17). The before-check uses the first resolution's
    instant even when its LABEL is outside DateType's range (a BC-era
    or Julian-centurial-leap first resolution still bumps into a valid
    final date), so the compare here is on the raw instant JDN, not the
    representable-only label encoding. century / amb / cutoff are
    per-call literals (the window is fixed at step build, like the
    reference's one SimpleDateFormat per step); cutoff is the window
    start's instant in epoch MILLIS and rem_ms the resolved value's
    time-of-day remainder (0 for date-only patterns — r12; the
    millisecond compare reproduces the two probed day-level rules:
    midnight start, equal-label resolution does NOT bump; any later
    start time: it does). Zone fields (r12): ``zone`` is the captured
    zone text ("" = none); the offset shifts the instant AFTER wall
    resolution, so both the before-check and the final label use the
    EFFECTIVE remainder rem_ms - offset_ms (probed: "46-08-15 12:30
    +0100" against a 1946-08-15 12:00 window start resolves to instant
    11:30 < start and bumps to 2046)."""
    import numpy as np

    # lstrip: an obeyCount capture may carry leading space/tab inside
    # the field width (r12) — Java's 2-digit window check then sees a
    # non-digit first char and treats the year as literal, which the
    # stripped-length==2 test reproduces ("\t4" -> literal year 4)
    ys = yt.fillna("").str.lstrip(" \t")
    yv = pd.to_numeric(ys, errors="coerce").to_numpy(
        dtype="float64", na_value=np.nan
    )
    mov = mo.to_numpy(dtype="float64", na_value=np.nan)
    dv = d.to_numpy(dtype="float64", na_value=np.nan)
    two = (ys.str.len() == 2).to_numpy()
    remv = rem_ms.to_numpy(dtype="float64", na_value=np.nan)
    offv = pd.to_numeric(
        zone.map(_zone_offset_ms), errors="coerce"
    ).to_numpy(dtype="float64", na_value=np.nan)
    cen = century.to_numpy(dtype="int64")
    ambv = amb.to_numpy(dtype="float64")
    cut = cutoff.to_numpy(dtype="int64")

    base_y = np.where(two, cen + yv + 100 * (yv < ambv), yv)
    ok = (
        ~np.isnan(base_y) & ~np.isnan(mov) & ~np.isnan(dv) & ~np.isnan(remv)
        & ~np.isnan(offv)
        & (base_y >= 1) & (base_y <= 9999)
        & (np.abs(mov) <= 120000) & (np.abs(dv) <= 4000000)
    )
    yi = np.nan_to_num(base_y, nan=2000.0).astype(np.int64)
    moi = np.nan_to_num(mov, nan=1.0).astype(np.int64)
    di = np.nan_to_num(dv, nan=1.0).astype(np.int64)
    rem_eff = (
        np.nan_to_num(remv, nan=0.0).astype(np.int64)
        - np.nan_to_num(offv, nan=0.0).astype(np.int64)
    )
    shift = rem_eff // 86400000
    ed, rep, fd = _hybrid_resolve_np(yi, moi, di, shift)
    # instant-based before-check (fd day-resolution + the effective
    # remainder's time-of-day, vs the start instant), independent of
    # the first label's range
    bump = (
        two & (yv == ambv) & ok
        & ((fd - _JDN_EPOCH) * 86400000 + rem_eff < cut)
    )
    if bump.any():
        ed2, rep2, _fd2 = _hybrid_resolve_np(
            yi[bump] + 100, moi[bump], di[bump], shift[bump]
        )
        ed = ed.copy()
        ed[bump] = ed2
        rep = rep.copy()
        rep[bump] = rep2
    out = pd.Series(ed, dtype="Int64")
    out[~(ok & rep)] = None
    return out


# ---------------------------------------------------------------------------
# Reject accounting (design: gratum_spark.rejections module docstring)
# ---------------------------------------------------------------------------

def _live() -> Column:
    """True on the rows of an accounting plan that no step rejected."""
    return F.col(TAG).isNull()


def _untagged(df: DataFrame, payload: bool = False) -> DataFrame:
    """``df`` as the root of an accounting segment: no row tagged, and,
    in a payload build (see :class:`_Segment`), no payload yet."""
    if payload:
        df = df.withColumn(PAYLOAD, F.lit(None).cast("variant"))
    return df.withColumn(TAG, F.lit(None).cast("int"))


# the atomic types a VARIANT can hold, by DataType.typeName()
_VARIANT_ATOMS = {
    "boolean", "byte", "short", "integer", "long", "float", "double", "decimal",
    "string", "char", "varchar", "binary", "date", "timestamp", "timestamp_ntz", "variant",
}


def _payload_type(dt: DataType) -> DataType:
    """The type a column keeps inside a payload: its own, or string when
    a VARIANT cannot hold it at some depth (null, time, interval, UDT, a
    map with non-string keys): such a column is kept in its string form."""
    if isinstance(dt, StructType):
        ok = all(_payload_type(f.dataType) is f.dataType for f in dt.fields)
    elif isinstance(dt, ArrayType):
        ok = _payload_type(dt.elementType) is dt.elementType
    elif isinstance(dt, MapType):
        ok = isinstance(dt.keyType, StringType) and _payload_type(dt.valueType) is dt.valueType
    else:
        ok = dt.typeName() in _VARIANT_ATOMS
    return dt if ok else StringType()


def _in_payload(name: str) -> bool:
    """Whether a payload keeps this column: a row's own columns, not the
    row-order stamp nor the engine's helper columns, named ``__x__``."""
    return name != ROW_ORDER and not (name.startswith("__") and name.endswith("__"))


def _tagged(
    d: DataFrame,
    code: int,
    tag: Column | None = None,
    sets: dict[str, Column] | None = None,
    cols: Iterable[str] | None = None,
    reason: Column | None = None,
) -> DataFrame:
    """``d`` after a step that tags rows with the codes from ``code`` on,
    in one projection: the tag column set to ``tag`` (None: the step set
    it already) and the columns in ``sets`` set. In a payload build, the
    rows it newly tagged also get their payload: their values as the
    step received them, in ``cols`` (default: all of ``d``'s), plus
    ``reason`` when each row carries its own."""
    updates = dict(sets or {})
    if tag is not None:
        updates[TAG] = tag
    names = d.columns
    if PAYLOAD in names:
        types = {f.name: f.dataType for f in d.schema.fields}

        def ref(c: str) -> Column:  # quoted: a name may hold dots
            col = F.col("`" + c.replace("`", "``") + "`")
            return col if _payload_type(types[c]) is types[c] else col.cast("string").alias(c)

        row = [ref(c) for c in (names if cols is None else cols) if _in_payload(c)]
        if reason is not None:
            row.append(reason.alias(REJECT_REASON))
        new = (F.col(TAG) if tag is None else tag) >= code
        updates[PAYLOAD] = F.when(new, F.to_variant_object(F.struct(*row))).otherwise(
            F.col(PAYLOAD)
        )
    return d.withColumns(updates) if updates else d


class _Tag(NamedTuple):
    """What one tag code of an accounting segment stands for. ``row`` is
    a plan with the rejected row's columns (only its schema is read);
    ``reason`` None means each row carries its own in its payload."""

    category: str
    step: str
    reason: str | None
    row: DataFrame


@dataclass(frozen=True, eq=False)
class _Segment:
    """One accounting segment. ``build(payload=False)`` returns a fresh
    plan with the pipeline's columns plus the tag column — and, when
    ``payload`` is set, the payload column too (see
    :func:`_tagged`); ``tags[code]`` is what a tag code stands
    for. Row-local steps extend the open segment (:meth:`then`); other
    operators start a new one from their output, and the old one is
    counted alongside it. ``counts`` holds the rows per tag code (None:
    the live rows) that a file write already observed, so it is not
    counted again."""

    build: Callable[..., DataFrame]
    tags: tuple[_Tag, ...] = ()
    counts: dict | None = None

    def then(self, step: Callable[[DataFrame], DataFrame], tags=()) -> "_Segment":
        return _Segment(
            lambda payload=False: step(self.build(payload)), self.tags + tuple(tags)
        )


def _split_segment(kept: DataFrame, rejected: DataFrame | None, *tags: _Tag,
                   code: Column | None = None, reason: Column | None = None) -> _Segment:
    """A new accounting segment from an operator's kept rows and its
    rejected rows, the latter tagged ``code`` (default 0: ``tags[0]``),
    with ``reason`` as each one's own (see :func:`_tagged`). Reads the
    operator's input twice; with no tags, just the kept rows."""

    def build(payload: bool = False) -> DataFrame:
        if not tags:
            return _untagged(kept, payload)
        tag = F.lit(0) if code is None else code
        rej = _tagged(_untagged(rejected, payload), 0, tag, reason=reason)
        return _untagged(kept, payload).unionByName(rej)

    return _Segment(build, tags)


def _add_count(counts: dict, category: str, step: str, n: int) -> None:
    by_step = counts.setdefault(category, {})
    by_step[step] = by_step.get(step, 0) + n


def _observed_rows(obs) -> "int | None":
    """The ``rows`` an Observation took, or None while its plan has not
    run. ``Observation.get`` waits forever on a plan that never runs, so
    this asks the JVM Observation's future first, through PySpark's
    ``Observation._jo`` — present on classic PySpark 4 sessions, which
    :meth:`Pipeline.progress` checks for up front."""
    if obs is None or obs._jo is None or not obs._jo.future().isCompleted():
        return None
    return obs.get["rows"]


def _pollable_observation():
    """A fresh Observation that :func:`_observed_rows` can poll. Raises
    where it cannot (PySpark 3's JVM Observation has no future; Spark
    Connect's has no JVM object), instead of progress() printing
    nothing."""
    import pyspark
    from pyspark.sql import Observation

    obs = Observation()
    if int(pyspark.__version__.split(".")[0]) < 4 or not hasattr(obs, "_jo"):
        raise NotImplementedError(
            f"progress() needs a classic PySpark 4 session, not "
            f"{type(obs).__name__} on PySpark {pyspark.__version__}"
        )
    return obs


class Pipeline:
    """Immutable-ish pipeline facade: every operator returns a new Pipeline.

    Equivalent of gratum's Pipeline (Pipeline.groovy:67-1455) with the
    step chain replaced by a Catalyst logical plan.
    """

    def __init__(
        self,
        df: DataFrame,
        name: str = "pipeline",
        hooks: dict | None = None,
    ) -> None:
        self.df = df
        self.name = name
        # reject accounting: the open segment (df plus a null tag column
        # until a rejecting step extends it), and the closed segments
        # before the last non-row-local operator
        self._acct = _Segment(functools.partial(_untagged, df))
        self._closed: tuple[_Segment, ...] = ()
        self._hooks = {
            "after": [],
            "on_rejection": [],
            "branches": [],
            **(hooks or {}),
        }
        # prepend_step support: the source pipeline this one derives from,
        # and the recorded (operator, args, kwargs) chain since then —
        # maintained by the _REPLAYED wrappers at module bottom.
        self._origin: "Pipeline | None" = None
        self._ops: list[tuple[str, tuple, dict]] = []
        # a sink's result pipeline reports the PARENT's loaded count
        # (save() result rows are DO_NOT_TRACK, Pipeline.groovy:833-844):
        # the parent's open segment, one of _closed (see _sink_result).
        # None: this pipeline's own. _next drops it, so an operator on a
        # result pipeline counts its own rows.
        self._loaded_from: _Segment | None = None
        # Driver-measured size estimate (bytes) of a collection-backed
        # source, which Catalyst cannot size (LogicalRDD): join()'s
        # broadcast default reads it. _next keeps it only through
        # size-non-increasing operators (keep_size_hint).
        self._size_hint_bytes: int | None = None
        # (step name, float accumulator) per Python-closure step — go()
        # snapshots these into LoadStatistic.step_timings (see the
        # LoadStatistic docstring); _step_ms holds the closure time a
        # sink's write already spent
        self._step_timers: list[tuple[str, Any]] = []
        self._step_ms: dict[str, float] = {}

    # ------------------------------------------------------------------ infra

    def _next(
        self,
        df: DataFrame,
        keep_size_hint: bool = False,
        *,
        acct: Callable[[DataFrame], DataFrame] | None = None,
        tags: Iterable[_Tag] = (),
        segment: _Segment | None = None,
        absorb: Iterable["Pipeline"] = (),
    ) -> "Pipeline":
        """The pipeline after one operator.

        Accounting: a row-local step passes ``acct``, its transform of
        the open segment's plan (``tags`` names its new tag codes, which
        start at ``len(self._acct.tags)``). Returning ``self.df``
        unchanged keeps the segment as it is. Any other operator starts
        a new segment — ``segment`` when given (an operator that tags
        its own rejects), else ``df`` with no row tagged — and the old
        segment is closed, to be counted next to it. ``absorb`` adds
        other pipelines' accounting (concat, exchange)."""
        out = Pipeline(df, self.name, {k: list(v) for k, v in self._hooks.items()})
        out._step_timers = list(self._step_timers)
        out._step_ms = self._step_ms
        if segment is None and (acct is not None or df is self.df):
            out._closed = self._closed
            out._acct = self._acct if acct is None else self._acct.then(acct, tags)
        else:
            out._closed = self._closed + (self._acct,)
            if segment is not None:
                out._acct = segment
        for p in absorb:
            out._closed += p._closed + (p._acct,)
        if keep_size_hint:
            # the kept output is no larger than the input (a row or column
            # subset, a value-shrinking cast), so the estimate still bounds
            # it. trim's string cast cannot outgrow it either: the hint is
            # measured from each value's repr, with 2x headroom.
            out._size_hint_bytes = self._size_hint_bytes
        return out

    def _row_step(
        self,
        rules: Iterable[tuple[RejectionCategory, str | Column]],
        step: str,
        make: Callable[[Column | None], tuple[dict, list, dict]],
        user_cols: Iterable[Column] = (),
        keep_size_hint: bool = True,
    ) -> "Pipeline":
        """One row-local step, defined once for both plans (see
        :mod:`gratum_spark.rejections`). ``make(live)`` returns helper
        columns (``__x__``: computed first, dropped after, and on every
        row), one keep predicate per rule (the category and reason of a
        tag code; a Column reason, at most one, gives each row its own),
        and the columns set on the rows the step keeps. ``live`` is None
        for the kept plan and :func:`_live` for the accounting plan, whose
        closures skip rejected rows (``_row_udf(..., live)``).

        The kept plan filters on the AND of the keeps (with no helpers and
        no sets, exactly ``df.filter(keep)``, which reaches the scan); the
        accounting plan tags each live row with the first rule whose keep
        is not true. User Columns that cannot extend the open segment
        (:meth:`_extends_segment`) start a new one instead."""
        rules = list(rules)
        tags = [_Tag(c.value, step, None if isinstance(r, Column) else r, self.df)
                for c, r in rules]
        reason = next((r for _, r in rules if isinstance(r, Column)), None)

        def tag(keeps: list, code: int) -> Column:
            # CASE WHEN evaluates its branches in order: a tagged row keeps
            # its tag and never evaluates (nor raises in) this step's keeps
            out = F.when(F.col(TAG).isNotNull(), F.col(TAG))
            for i, keep in enumerate(keeps):
                out = out.when(~F.coalesce(keep, F.lit(False)), F.lit(code + i))
            return out

        def apply(d: DataFrame, live: Column | None, code: int) -> DataFrame:
            helpers, keeps, sets = make(live)
            d = d.withColumns(helpers) if helpers else d
            if live is None:
                d = d.filter(functools.reduce(Column.__and__, keeps)) if keeps else d
                d = d.withColumns(sets) if sets else d
            else:
                sets = {n: F.when(live, c) for n, c in sets.items()}
                d = (_tagged(d, code, tag(keeps, code), sets, reason=reason) if keeps
                     else d.withColumns(sets))
            return d.drop(*helpers) if helpers else d

        code = len(self._acct.tags)
        kept = apply(self.df, None, code)
        user_cols = list(user_cols)
        if not user_cols or self._extends_segment(*user_cols):
            return self._next(
                kept, keep_size_hint, acct=lambda d: apply(d, _live(), code), tags=tags
            )
        # the input rows are all live: the kept plan's keeps pick the rejects
        helpers, keeps, _ = make(None)
        assert not helpers, "a step with user Columns computes no helper column"
        rejected = self.df.filter(
            ~F.coalesce(functools.reduce(Column.__and__, keeps), F.lit(False))
        ) if keeps else None
        segment = _split_segment(kept, rejected, *tags, code=tag(keeps, 0), reason=reason)
        return self._next(kept, keep_size_hint, segment=segment)

    @property
    def spark(self):
        return self.df.sparkSession

    @property
    def columns(self) -> list[str]:
        return [c for c in self.df.columns if c != ROW_ORDER]

    def _map(
        self, fn: Callable[[DataFrame], DataFrame], keep_size_hint: bool = False
    ) -> "Pipeline":
        """A row-local column transform that rejects nothing: ``fn`` is
        applied to the kept plan now and to the accounting plan when it
        is built, so ``fn`` must name columns, not hold Columns bound to
        one DataFrame. Rows another step rejected pass through it too, so
        ``fn`` must not raise on them: a user expression takes the form
        ``F.when(_live(), expr)`` in the accounting plan instead."""
        return self._next(fn(self.df), keep_size_hint=keep_size_hint, acct=fn)

    def _extends_segment(self, *cols: Column) -> bool:
        """Whether a step with these user Columns can extend the open
        accounting segment, where rejected rows pass through it too. Two
        kinds cannot: a Column bound to one DataFrame (``p.df["x"]``) does
        not resolve there by name, and Spark runs a Python UDF on every
        row, outside the CASE that guards the step, so it would see rows
        an earlier step rejected (and fail on, say, their nulls). Probed
        on an empty JVM-side relation of the same schema: no job."""
        from pyspark.errors import AnalysisException

        session = self.spark._jsparkSession
        empty = DataFrame(
            session.createDataFrame(
                self.spark._jvm.java.util.ArrayList(),
                session.parseDataType(self.df.schema.json()),
            ),
            self.spark,
        )
        try:
            analyzed = empty.select(*cols)._jdf.queryExecution().analyzed()
        except AnalysisException:
            return False
        return 'expressions.PythonUDF"' not in analyzed.toJSON()

    def with_row_order(self) -> "Pipeline":
        """Stamp a source-order column. Survives later shuffles because
        it's data.

        Must be called before any shuffle to reflect input order — sources
        in :mod:`gratum_spark.sources` do this automatically when
        ``ordered=True``. See :func:`stamp_row_order` for the stability
        guarantee.
        """
        if ROW_ORDER in self.df.columns:
            return self
        return self._next(stamp_row_order(self.df))

    def _order_col(self) -> Column:
        return F.col(ROW_ORDER) if ROW_ORDER in self.df.columns else F.monotonically_increasing_id()

    def _ordered_base(self, order_by: str | None) -> tuple[DataFrame, Column, list[str]]:
        """(df, order column, helper cols to drop) for operators that
        range-shuffle on the source order. A synthetic order (no
        ROW_ORDER stamp, no explicit order_by) is materialized as a
        column BEFORE the shuffle so every later reference sees one
        consistent value — monotonically_increasing_id re-evaluated
        after a shuffle would differ."""
        if order_by:
            return self.df, F.col(order_by), []
        if ROW_ORDER in self.df.columns:
            return self.df, F.col(ROW_ORDER), []
        d = self.df.withColumn("__ord0__", F.monotonically_increasing_id())
        return d, F.col("__ord0__"), ["__ord0__"]

    # ---------------------------------------------------------------- filters

    def _condition(self, cond: Mapping[str, Any], live: Column | None = None) -> Column:
        """Build gratum filter(Map) semantics (Condition.groovy:13-60):
        literal => equality, collection => IN, regex => rlike (find),
        callable => per-value predicate UDF. AND-composed. ``live``
        builds the accounting-plan form, whose closures skip rejected
        rows (see :meth:`_row_step`).
        """
        exprs: list[Column] = []
        for col, v in cond.items():
            if col == "*" and callable(v):
                # whole-row wildcard closure (Condition.groovy:55-58):
                # the predicate sees the full row as a dict
                pred = _row_udf(lambda r, fn=v: bool(fn(r)), BooleanType(), live)
                exprs.append(pred(F.struct(*self.columns)))
                continue
            c = F.col(col)
            if v is None:
                exprs.append(c.isNull())
            elif _is_regex(v):
                exprs.append(c.rlike(v.pattern))
            elif isinstance(v, (list, tuple, set, frozenset)):
                exprs.append(c.isin(*v))
            elif callable(v):
                pred = _row_udf(lambda r, fn=v: bool(fn(r["v"])), BooleanType(), live)
                exprs.append(pred(F.struct(c.alias("v"))))
            elif isinstance(v, Column):
                exprs.append(v)
            else:
                exprs.append(c == F.lit(v))
        out = exprs[0]
        for e in exprs[1:]:
            out = out & e
        return out

    def filter(
        self,
        condition: Column | Mapping[str, Any] | Callable[[dict], bool] | str,
        name: str | None = None,
    ) -> "Pipeline":
        """Keep rows matching; reject the rest as IGNORE_ROW.

        (reference: Pipeline.groovy:240-251 closure form, 284-294 map form)
        Accepts a Column expression / SQL string (fast path, codegen'd),
        a mapping with gratum Condition semantics, or a row-level Python
        callable (slow path: Arrow-batched, see :func:`_row_udf`).
        """
        ignore = (RejectionCategory.IGNORE_ROW, "filtered out")
        if isinstance(condition, Mapping):
            user_cols = [v for v in condition.values() if isinstance(v, Column)]
            return self._row_step(
                [ignore], name or f"filter {dict(condition)}",
                lambda live: ({}, [self._condition(condition, live)], {}), user_cols,
            )
        if isinstance(condition, str):
            condition, name = F.expr(condition), name or f"filter({condition})"
        if isinstance(condition, Column):
            return self._row_step([ignore], name or "filter(expr)",
                                  lambda live: ({}, [condition], {}), [condition])
        if not callable(condition):  # pragma: no cover
            raise TypeError(f"unsupported filter condition: {type(condition)}")
        # a closure that raises rejects its row as SCRIPT_ERROR instead of
        # failing the job, like Step.execute (etl/Step.groovy:23-51)
        step, timer = name or "filter(closure)", self.spark.sparkContext.accumulator(0.0)

        def one(r):
            try:
                return {"keep": bool(condition(r)), "err": None}
            except Exception as e:  # noqa: BLE001 - reference catches all
                return {"keep": False, "err": f"{type(e).__name__}: {e}"}

        row, keep = F.struct(*self.columns), F.col("__p__.keep")
        out = self._row_step(
            [(RejectionCategory.SCRIPT_ERROR, "closure raised"), ignore], step,
            # a kept row raised nothing: the OR lets the kept filter reduce to `keep`
            lambda live: ({"__p__": _row_udf(one, "keep boolean, err string", live, timer)(row)},
                          [F.col("__p__.err").isNull() | keep, keep], {}),
        )
        out._step_timers.append((step, timer))
        return out

    def trim(self) -> "Pipeline":
        """Trim whitespace on all string columns (Pipeline.groovy:301-306).

        Gratum stringifies every value; we trim only string-typed columns
        to preserve the typed schema. The reference calls Java
        ``String.trim()``, which strips EVERY char <= U+0020 (tabs,
        newlines, CR, NUL) from both ends — Spark's ``F.trim`` strips
        only the space character, so a regexp strip (still JVM-side
        codegen) is used to match the Java contract exactly.
        """
        strings = {f.name for f in self.df.schema.fields if isinstance(f.dataType, StringType)}
        java_trim = r"^[\x00-\x20]+|[\x00-\x20]+$"
        return self._map(
            lambda d: d.select(
                *[
                    F.regexp_replace(F.col(c), java_trim, "").alias(c)
                    if c in strings
                    else F.col(c)
                    for c in d.columns
                ]
            ),
            keep_size_hint=True,
        )

    def unique(self, *columns: str) -> "Pipeline":
        """Keep first occurrence per key (source order), reject later dups.

        (reference: Pipeline.groovy:985-995 — HashSet, first-wins)
        First-wins needs a total order: uses ``_row_order`` when stamped,
        else partition-major monotonic id. Implemented as a row_number
        window (one shuffle on the key); when reject accounting is not
        needed, prefer ``drop_duplicates`` which lets AQE pre-aggregate.
        """
        order = self._order_col()
        keys = [F.col(c) for c in columns]

        def make(live):
            if live is None:  # a filter cannot hold a window function
                w = Window.partitionBy(*keys).orderBy(order)
                return {"__rn__": F.row_number().over(w)}, [F.col("__rn__") == 1], {}
            # rejected rows sit in windows of their own: only a live row
            # can be a key's first occurrence
            w = Window.partitionBy(live, *keys).orderBy(order)
            return {}, [F.row_number().over(w) == 1], {}

        return self._row_step(
            [(RejectionCategory.IGNORE_ROW, f"duplicate {','.join(columns)}")],
            f"unique({','.join(columns)})", make,
        )

    def drop_duplicates(self, *columns: str) -> "Pipeline":
        """Exact dedup without reject accounting — map-side partial dedup,
        cheapest plan Spark has for this."""
        return self._next(
            self.df.dropDuplicates(list(columns) or None), keep_size_hint=True
        )

    def limit(self, n: int, halt: bool = True) -> "Pipeline":
        """Take the first n rows in SOURCE order (Pipeline.groovy:
        1107-1120).

        With a row-order stamp, "first" is anchored to it: the kept side
        plans as TakeOrderedAndProject (per-partition top-k, no global
        sort), and — critically for halt=False — kept and rejected are
        consistent partitions of the input. Bare ``df.limit(n)`` +
        ``df.offset(n)`` are two independently-evaluated arbitrary-order
        plans that may overlap or drop rows. Unstamped pipelines fall
        back to plain limit/offset (deterministic per plan, order
        unspecified — as documented for unordered sources).

        halt=True mirrors HaltPipelineException: limit only (Spark's
        CollectLimit / TakeOrdered early-terminates). halt=False
        additionally accounts the remainder as IGNORE_ROW rejects.
        """
        ordered = ROW_ORDER in self.df.columns
        base = self.df.orderBy(ROW_ORDER) if ordered else self.df
        kept = base.limit(n)
        if halt:
            return self._next(kept, keep_size_hint=True)
        tag = _Tag(RejectionCategory.IGNORE_ROW.value, f"limit({n})", f"row number > {n}", base)
        segment = _split_segment(kept, base.offset(n), tag)
        return self._next(kept, keep_size_hint=True, segment=segment)

    # ----------------------------------------------------- generic steps

    def add_step(
        self,
        name: str | Callable[[dict], Any] | None = None,
        fn: Callable[[dict], Any] | None = None,
        *,
        schema: StructType | str | None = None,
    ) -> "Pipeline":
        """Generic row step — gratum's primary extension point
        (Pipeline.groovy:138-144, Step.groovy:23-51).

        ``fn`` receives the row as a dict and returns:
          * a dict — the (possibly mutated) row passed downstream;
          * ``None`` — the row rejects (REJECTION, "step returned null");
          * a :class:`~gratum_spark.rejections.Rejection` (or
            :func:`gratum_spark.reject`) — the ORIGINAL row rejects with
            that category/reason;
          * raising, or a value its column cannot hold exactly (4.5 for a
            long) — the row rejects as SCRIPT_ERROR (counts toward the
            50-error abort in ``go()``); the latter's reason names it.

        gratum rows are schemaless maps; a DataFrame needs a static
        schema. Without an explicit ``schema`` the output schema is
        inferred at plan time: building the step collects up to 50 rows
        (``limit(50)``, one early-stopping Spark job) and runs ``fn`` on
        them until one returns a dict. Retained keys keep their input
        types, added keys get types inferred from that result's Python
        values. If the closure's output keys vary by row or every
        sampled row rejects, pass ``schema`` (StructType or DDL string)
        explicitly; that also skips the job.

        Scale: ``mapInArrow`` with a per-row Python loop over the row
        dicts of :func:`_rows_from_arrow` — the documented slow path,
        like every closure form here. Prefer the expression-based
        operators for hot paths.
        """
        if callable(name) and fn is None:
            name, fn = None, name
        if not callable(fn):
            raise TypeError("add_step requires a callable")
        step = name or getattr(fn, "__name__", None) or "add_step"

        has_order = ROW_ORDER in self.df.columns
        if schema is None:
            out_fields = self._infer_step_fields(fn)
        else:
            out_fields = list(_schema_fields(schema))

        row_fields = list(out_fields)
        if has_order:
            row_fields.append(self.df.schema[ROW_ORDER])
        reason = StructField("__reason__", StringType())
        full = StructType(row_fields + [StructField("__cat__", StringType()), reason])
        # a rejected row carries nulls in the accounting plan
        tagged = StructType(
            [StructField(f.name, f.dataType, True) for f in row_fields]
            + [StructField(TAG, IntegerType())]
        )
        callback = fn  # local bind for serialization
        timer = self.spark.sparkContext.accumulator(0.0)
        # the accounting plan's tag codes: one per category, from `code`
        code = len(self._acct.tags)
        categories = [c.value for c in RejectionCategory]

        def _run(batches, arrow_schema):
            """Kept plan: every row gets (__cat__, __reason__), null when
            the closure kept it. Accounting plan: rows arrive with the
            tag column; a tagged row skips the conversion and the closure
            and carries only its tag (and its payload, in a payload
            build), and a rejection sets the category's tag code and, in
            a payload build, keeps its reason."""
            import pyarrow as pa
            import pyarrow.compute as pc

            from .rejections import Rejection as _Rej

            accounting = TAG in arrow_schema.names

            def out_row(r: dict, order_v, cat: str | None = None, why: str | None = None):
                row = {**r, "__cat__": cat, "__reason__": why}
                if has_order:
                    row[ROW_ORDER] = order_v
                if accounting:
                    cat = row.pop("__cat__")
                    row[TAG] = None if cat is None else code + categories.index(cat)
                return row

            for b in batches:
                if accounting:
                    live = pc.is_null(b.column(TAG))
                    gone = b.filter(pc.invert(live))
                    if gone.num_rows:
                        yield pa.RecordBatch.from_arrays([
                            gone.column(f.name).cast(f.type) if f.name in (TAG, PAYLOAD)
                            else pa.nulls(gone.num_rows, f.type)
                            for f in arrow_schema
                        ], schema=arrow_schema)
                    b = b.filter(live).drop_columns(
                        [c for c in (TAG, PAYLOAD) if c in b.schema.names]
                    )
                t0 = time.perf_counter()
                ins, orders, out_rows = _rows_from_arrow(b), [], []
                for r in ins:
                    orders.append(o := r.pop(ROW_ORDER, None))
                    try:
                        res = callback(dict(r))
                    except Exception as e:  # noqa: BLE001 - reference catches all
                        row = out_row(r, o, "SCRIPT_ERROR", f"{type(e).__name__}: {e}")
                    else:
                        if res is None:
                            row = out_row(r, o, "REJECTION", "step returned null")
                        elif isinstance(res, _Rej):
                            row = out_row(r, o, res.category.value, res.reason)
                        else:
                            row = out_row(res, o)
                    out_rows.append(row)
                timer.add((time.perf_counter() - t0) * 1000.0)
                # keys outside the output schema are dropped; a result its
                # field cannot hold rejects the row
                yield _rows_to_arrow(out_rows, arrow_schema, lambda i, why: out_row(
                    ins[i], orders[i], "SCRIPT_ERROR", why))

        marked = _map_rows(self.df, _run, full)
        kept = marked.filter(F.col("__cat__").isNull()).drop("__cat__", "__reason__")

        def acct(d: DataFrame) -> DataFrame:
            if PAYLOAD not in d.columns:
                return _map_rows(d, _run, tagged)
            out = _map_rows(d, _run, StructType(tagged.fields + [d.schema[PAYLOAD], reason]))
            return _tagged(out, code, reason=F.col("__reason__")).drop("__reason__")

        out = self._next(
            kept, acct=acct, tags=[_Tag(c, step, None, kept) for c in categories]
        )
        out._step_timers.append((step, timer))
        return out

    def _infer_step_fields(self, fn: Callable[[dict], Any]) -> list:
        """Schema inference for add_step: run the closure on a few sampled
        rows and use the first plain-dict result. Retained keys keep their
        input StructField; added keys get a type from the Python value.
        If every probe row rejects/raises/returns non-dict (or the source
        is empty), falls back to the input schema unchanged — with a
        warning, because downstream references to columns the step would
        have added then fail with an unrelated AnalysisException; pass an
        explicit ``schema=`` to add_step to avoid sampling entirely."""
        import warnings

        base = [f for f in self.df.schema.fields if f.name != ROW_ORDER]
        probe = self.df.drop(ROW_ORDER) if ROW_ORDER in self.df.columns else self.df
        res = None
        try:
            # 50 rows, one early-stopping job: the reference's canonical
            # add_step rejects its first handful of rows
            # (PipelineTest.groovy:46-66), where 5 rows were too few
            for sample in probe.limit(50).collect():
                try:
                    r = fn(sample.asDict(recursive=True))
                except Exception:  # noqa: BLE001 - inference is best-effort
                    continue
                if isinstance(r, dict):
                    res = r
                    break
        except Exception:  # noqa: BLE001 - probe collect itself failed
            pass
        if res is None:
            warnings.warn(
                "add_step schema inference fell back to the unchanged input "
                "schema (no sampled row produced a dict result); pass "
                "schema=... to add_step if the step adds columns",
                stacklevel=3,
            )
            return base
        by_name = {f.name: f for f in base}
        fields = [by_name[f.name] for f in base if f.name in res]
        for k, v in res.items():
            if k not in by_name:
                fields.append(StructField(k, _infer_py_type(v), True))
        return fields or base

    def prepend_step(
        self,
        name: str | Callable[[dict], Any] | None = None,
        fn: Callable[[dict], Any] | None = None,
        *,
        schema: StructType | str | None = None,
    ) -> "Pipeline":
        """Insert a row step BEFORE every operator applied so far
        (Pipeline.groovy:119-126).

        A Catalyst plan can't be edited in place, so the pipeline replays
        its recorded operator chain on top of (source → new step). Every
        public operator records itself (see ``_REPLAYED``), so the rebuilt
        plan is identical to having called ``add_step`` first.
        """
        origin = self._origin or self
        p = origin.add_step(name, fn, schema=schema)
        for kind, args, kwargs in self._ops:
            if kind == "__grouped":
                cols, sub, ga, gkw = args
                p = getattr(p.group_by(*cols), sub)(*ga, **gkw)
            else:
                p = getattr(p, kind)(*args, **kwargs)
        return p

    # ---------------------------------------------------- column transforms

    def add_field(
        self,
        name: str,
        value: Column | str | Callable[[dict], Any],
        returnType: DataType | str = StringType(),
    ) -> "Pipeline":
        """Computed column (Pipeline.groovy:925-939). Column/SQL-string is
        the fast path; a Python callable becomes an Arrow UDF over the row
        dict (:func:`_row_udf`), and a row whose closure raises, or returns
        a value the field cannot hold exactly, rejects as SCRIPT_ERROR
        instead of failing the job (reference Step.execute,
        etl/Step.groovy:23-51), with the reason "closure raised" or one
        that names the field."""
        step = f"add_field({name})"
        if isinstance(value, (Column, str)) or not callable(value):
            col = F.expr(value) if isinstance(value, str) else value
            col = col if isinstance(col, Column) else F.lit(col)
            user_cols = [col] if isinstance(value, (Column, str)) else []
            return self._row_step([], step, lambda live: ({}, [], {name: col}), user_cols,
                                  keep_size_hint=False)
        vt = returnType.simpleString() if isinstance(returnType, DataType) else returnType

        def one(r):
            try:
                return {"value": value(r), "err": None}
            except Exception:  # noqa: BLE001 - reference catches all
                return {"value": None, "err": "closure raised"}

        def unfit(res: dict) -> dict:
            return {"value": None, "err": f"field {name!r} cannot hold {res['value']!r} as {vt}"}

        row, rt = F.struct(*self.columns), f"value {vt}, err string"
        return self._row_step(
            [(RejectionCategory.SCRIPT_ERROR, F.col("__f__.err"))], step,
            lambda live: ({"__f__": _row_udf(one, rt, live, unfit=unfit)(row)},
                          [F.col("__f__.err").isNull()], {name: F.col("__f__.value")}),
            keep_size_hint=False,
        )

    def set_field(self, name: str, value: Any) -> "Pipeline":
        """Constant column (Pipeline.groovy:912-918)."""
        if isinstance(value, Column):  # an expression, not a constant
            return self.add_field(name, value)
        return self._map(lambda d: d.withColumn(name, F.lit(value)))

    def remove_field(
        self, name: str, condition: Column | str | None = None
    ) -> "Pipeline":
        """Drop a column; with a condition, null it out on matching rows only
        (Pipeline.groovy:950-962)."""
        if condition is None:
            return self._map(lambda d: d.drop(name), keep_size_hint=True)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        nulled = F.when(cond, F.lit(None)).otherwise(F.col(name))
        return self._row_step([], f"remove_field({name})", lambda live: ({}, [], {name: nulled}),
                              [cond])

    def rename_fields(self, mapping: Mapping[str, str]) -> "Pipeline":
        """Rename src->dest preserving others (Pipeline.groovy:463-472)."""
        return self._map(
            lambda d: d.withColumnsRenamed(dict(mapping)), keep_size_hint=True
        )

    def clip(self, *columns: str) -> "Pipeline":
        """Retain only the listed columns (Pipeline.groovy:969-977).
        Column pruning reaches the scan — at 100 TB this is the operator
        that turns a full-width read into a 2-column read."""
        keep = list(columns) + ([ROW_ORDER] if ROW_ORDER in self.df.columns else [])
        return self._map(
            lambda d: d.select(*keep, *[c for c in (TAG, PAYLOAD) if c in d.columns]),
            keep_size_hint=True,
        )

    def _groovy_falsy(self, c: str) -> Column:
        """Groovy truthiness per type (the reference tests ``!row[key]``,
        Pipeline.groovy:1073-1094): null is always falsy; numeric 0/0.0
        (numeric compare, not string cast — 0.0 stringifies as "0.0");
        empty string; boolean false. A string "0" is TRUTHY in Groovy
        (any non-empty string is)."""
        from pyspark.sql.types import BooleanType as _B
        from pyspark.sql.types import NumericType as _N

        col = F.col(c)
        dt = self.df.schema[c].dataType
        falsy = col.isNull()
        if isinstance(dt, _N):
            falsy = falsy | (col == 0)
        elif isinstance(dt, StringType):
            falsy = falsy | (col == "")
        elif isinstance(dt, _B):
            falsy = falsy | ~col
        return falsy

    def default_values(self, defaults: Mapping[str, Any]) -> "Pipeline":
        """Set column to literal when Groovy-falsy (Pipeline.groovy:1073-1080)."""
        updates = {
            c: F.when(self._groovy_falsy(c), F.lit(v)).otherwise(F.col(c))
            for c, v in defaults.items()
        }
        return self._map(lambda d: d.withColumns(updates))

    def defaults_by(self, dest_src: Mapping[str, str]) -> "Pipeline":
        """Set dest column from src column when dest is Groovy-falsy
        (Pipeline.groovy:1087-1094) — same truthiness rule as
        default_values (the reference shares it)."""
        updates = {
            dest: F.when(self._groovy_falsy(dest), F.col(src)).otherwise(F.col(dest))
            for dest, src in dest_src.items()
        }
        return self._map(lambda d: d.withColumns(updates))

    def replace_all(self, column: str, pattern: str, replacement: str) -> "Pipeline":
        """Regex replace with $1-style groups (Pipeline.groovy:1146-1152)."""
        return self._map(
            lambda d: d.withColumn(column, F.regexp_replace(F.col(column), pattern, replacement))
        )

    def replace_values(self, column: str, mapping: Mapping[str, Any]) -> "Pipeline":
        """Dictionary value substitution (Pipeline.groovy:1163-1171).

        The reference assigns ``values[v] ?: row[column]`` — Groovy's
        elvis — so a FALSY replacement value (null, "", 0, false) keeps
        the original value rather than overwriting it. Falsy entries are
        therefore dropped from the mapping up front."""
        col = F.col(column)
        out = None
        for k, v in mapping.items():
            if not v:  # Groovy elvis: falsy replacement keeps the original
                continue
            cond = col == F.lit(k)
            out = F.when(cond, F.lit(v)) if out is None else out.when(cond, F.lit(v))
        if out is None:
            return self._next(self.df)
        return self._map(lambda d: d.withColumn(column, out.otherwise(col)))

    # ------------------------------------------------------------- coercions

    def _coerce(self, column: str, parsed: Column, type_name: str) -> "Pipeline":
        """Shared INVALID_FORMAT split: parse failure (non-null, non-empty
        input but null output) rejects; null/empty passes through as null.
        (reference: asInt Pipeline.groovy:716-726, asDouble 699-709)"""
        src = F.col(column)
        # Groovy `if (value)` skips only null/"" — a whitespace-only
        # string is truthy, hits the parser, throws, and REJECTS.
        had_value = src.isNotNull() & (src.cast("string") != "")
        bad = had_value & F.col("__parsed__").isNull()
        return self._row_step(
            [(RejectionCategory.INVALID_FORMAT, f"Could not parse value as {type_name}")],
            f"as{type_name}({column})",
            lambda live: ({"__parsed__": parsed}, [~bad], {column: F.col("__parsed__")}),
            keep_size_hint=False,
        )

    def as_int(self, column: str) -> "Pipeline":
        """Parse as long (gratum Integer; long for 100 TB key spaces).
        try_cast keeps ANSI mode crash-free; failures reject INVALID_FORMAT.

        ``Integer.parseInt`` accepts ONLY ``[+-]?digits`` — no decimal
        point, no exponent, and unlike Spark's string-to-number cast no
        surrounding whitespace — so a regex guard rejects what Java
        would throw on (" 12 ", "12.5") before the cast. The guard is
        ``\\z``-anchored: Java regex ``$`` matches BEFORE a final
        newline, so ``"12\\n"`` would pass a ``$`` anchor and then be
        whitespace-trimmed to 12 by the cast — parseInt throws on it.

        Two knowing divergences from ``Integer.parseInt``: (1) ASCII
        digits only — Java's ``Character.digit`` also accepts Unicode
        digit blocks (e.g. Arabic-Indic \\u0660-\\u0669), which this
        guard rejects as INVALID_FORMAT; (2) the result is a 64-bit
        long, so values in (2^31, 2^63) parse instead of throwing —
        deliberate for 100 TB key spaces (fuzzed in
        tools/fuzz_semantics.py `coercions` within the int32 domain)."""
        src = F.col(column).cast("string")
        parsed = F.when(src.rlike(r"^[+-]?[0-9]+\z"), src.try_cast("long"))
        return self._coerce(column, parsed, "Int")

    def as_double(self, column: str) -> "Pipeline":
        """``Double.parseDouble`` DOES ignore surrounding whitespace and
        accepts exponents, ``f``/``d`` suffixes and hex floats —
        Spark's try_cast("double") matches it on all of those. The one
        place Spark is MORE lenient is special literals: it accepts
        "inf" / "nan" / any-case "INFINITY", where the Java grammar
        takes only case-sensitive ``[+-]?(NaN|Infinity)`` — those
        extras are guarded back to INVALID_FORMAT rejects."""
        src = F.col(column).cast("string")
        stripped = F.regexp_replace(src, r"^[\x00-\x20]+|[\x00-\x20]+$", "")
        lenient_special = F.lower(stripped).isin(
            "inf", "+inf", "-inf", "nan", "+nan", "-nan",
            "infinity", "+infinity", "-infinity",
        ) & ~stripped.rlike(r"^[+-]?(NaN|Infinity)\z")
        parsed = F.when(~lenient_special, src.try_cast("double"))
        return self._coerce(column, parsed, "Double")

    def as_boolean(self, column: str) -> "Pipeline":
        """Y/yes/1/T => true; N/no/0/F/null-words => false; else parseBoolean
        (Pipeline.groovy:733-769). Pure expression — no UDF.

        Matches the reference switch EXACTLY: the recognized literals are
        case-sensitive ("Yes" is true but "yES" falls through), values are
        NOT trimmed (" Y " falls through), and the fallthrough is
        ``Boolean.parseBoolean`` — true iff the value equals "true"
        case-insensitively. Null/"" skip the switch in the reference
        (Groovy ``if (value)``) and keep their original value; the typed
        boolean column here maps both to null instead.
        """
        c = F.col(column).cast("string")
        parsed = (
            F.when(c.isNull() | (c == ""), F.lit(None).cast("boolean"))
            .when(c.isin("Y", "y", "yes", "YES", "Yes", "1", "T", "t"), F.lit(True))
            .when(
                c.isin("n", "N", "NO", "no", "No", "0", "F", "f", "null", "Null", "NULL"),
                F.lit(False),
            )
            .otherwise(F.lower(c) == "true")  # Boolean.parseBoolean
        )
        return self._map(lambda d: d.withColumn(column, parsed))

    def as_date(
        self,
        column: str,
        *formats: str,
        lenient: bool = False,
        two_digit_year_start: "Any | None" = None,
    ) -> "Pipeline":
        """Try formats in order, first wins; unparsable rejects INVALID_FORMAT
        (Pipeline.groovy:779-798). Formats are Spark datetime patterns.

        The reference's ``SimpleDateFormat`` is LENIENT by default — it
        rolls overflow dates ("2024-02-31" parses as 2024-03-02) and
        ignores trailing junk after the pattern. The default here stays
        STRICT (``try_to_timestamp``: both behaviors reject as
        INVALID_FORMAT — the widely-expected semantics and what the
        reference's own tests exercise); ``lenient=True`` opts into the
        reference's calendar-roll semantics: extract the Y/M/D digit
        runs with a pattern-derived regex (prefix-anchored, so trailing
        junk is ignored like ``DateFormat.parse(String)``), then
        resolve the fields through the Arrow-vectorized
        ``_hybrid_lenient_epoch_days`` — GregorianCalendar's lenient
        normalization (month 0 is December of y-1, day 0 the last day
        of the prior month) on Java's hybrid Julian/Gregorian calendar,
        including the 1582-10-15 cutover. Fuzzed against the real
        ``java.text.SimpleDateFormat`` (Java 17 in-container) by
        tools/fuzz_semantics.py campaign ``dates``.

        Lenient-mode scope (each falls back to the strict parse for
        that format): numeric date patterns — y/yy/yyyy, M/MM, d/dd
        separated by literal text — plus English text months
        (MMM/MMMM, case-insensitive, full or short names, matching
        SimpleDateFormat's Locale.ENGLISH matchString — r10). 'y'/'yy'
        century windows (r11): an input year of EXACTLY two digits maps
        into the 100-year window starting 80 years before now — any
        other digit run ("4", "046", "467") is literal, and the
        boundary value (== startYear % 100) resolves low then bumps
        iff the resolved instant precedes the window start — +100 on
        the raw year FIELD and full lenient re-resolution
        (CalendarBuilder.addYear, no day-of-month pinning) — probed
        against the real Java 17 parser by the ``dates`` fuzz
        campaign. ``two_digit_year_start`` (a datetime; parity with
        SimpleDateFormat.set2DigitYearStart, also the fuzz pinning
        hook) overrides the window anchor; it is interpreted as a civil
        label, so give it a modern value. Time-of-day fields and quoted
        literals (r12): H/m/s/S parse as plain lenient numeric fields
        and contribute milliseconds to the instant — hour 24 rolls the
        date forward, negative fields roll backward, and the
        time-derived day offset participates in the hybrid-calendar
        pick exactly like computeTime; ``'...'``/``''`` quoting matches
        SimpleDateFormat (literal text, no whitespace skip). Am/pm
        hours (r12): 'h' (12 -> 0 at parse), 'K' (unadjusted), 'k'
        (24 -> 0), and the 'a' AM/PM text marker (case-insensitive,
        +12 h for PM only when the hour field is h/K or absent — an
        H/k pattern parses but ignores the marker, per computeTime's
        HOUR_OF_DAY precedence; all probed). Day-of-week names (r12):
        'E' runs match an English weekday name (full-then-short,
        case-insensitive, no whitespace skip) whose value is ignored —
        with y/M/d present, computeTime never consults DAY_OF_WEEK, so
        "Mon, 2024-01-05" parses under "EEE, yyyy-MM-dd" even though
        that date is a Friday (probed). Zone offsets (r12): z/Z parse
        RFC-822 [+-]HHMM and GMT[+-]H:MM forms (plus bare GMT), X
        (count 1-3) the ISO forms (Z / [+-]HH / [+-]HHMM / [+-]HH:MM);
        the offset shifts the INSTANT after wall-field resolution —
        "2024-01-05 00:30 +0100" labels 2024-01-04, and wall
        "1582-10-15 00:30 +0100" crosses the cutover backwards to the
        Julian label 1582-10-04 (probed) — and participates in the
        century-window bump compare. Zone runs are only in lenient
        scope on a fixed-UTC host (the label is the instant rendered
        in the JVM default zone — the gate reads the SESSION's JVM
        default zone at plan build, r13); zone NAMES parse for bare
        GMT and the zero-offset alias UTC (r13); other locale-table
        names (PST, UT, ...) are a documented reject. Adjacent fixed-width numeric runs
        (r12): compact formats like "yyyyMMdd" / "yyMMdd HHmmss" parse
        with SimpleDateFormat's obeyCount semantics — each
        numeric-before-numeric field reads a width-bounded substring
        (whitespace counts toward the width, no backtracking), the
        last field of a chain stays greedy (probed: "202401056" under
        yyyyMMdd is day 56 -> 2024-02-25). Still out (strict
        fallback): zone runs on a non-UTC host, week/era/day-of-year
        fields, and two hour fields. A fallen-back format that Spark's
        own parser cannot compile (Spark >= 3.0 bans several
        SimpleDateFormat letters for parsing — 'E', week fields, ...)
        raises ``ValueError`` at plan build (r13, ADVICE) instead of
        letting ``try_to_timestamp`` throw SparkUpgradeException out of
        a task at the first row.
        Documented divergences from SimpleDateFormat:
        input years outside [1, 9999] and |month|/|day| fields past
        120000 / 4000000 reject instead of normalizing (time fields
        past |10^9| likewise), as do results
        whose year leaves [1, 9999] (Spark's DateType label bound;
        irrelevant to real data), a NEGATIVE year rejects instead of
        flipping into BC-era normalization, and the Julian leap days
        Feb 29 of centurial non-multiple-of-400 years (unrepresentable
        in proleptic DateType) reject."""
        import datetime

        fmts = list(formats) or ["yyyy-MM-dd"]
        src = F.col(column).cast("string")
        window_params: tuple[int, int, int] | None = None
        # The lenient zone gate reads the SESSION's JVM default zone
        # (r13, ADVICE) — the zone SimpleDateFormat renders labels in —
        # not the Python driver's libc TZ sampled at import.
        tz_gate = _jvm_tz_fixed_utc(self.spark) if lenient else None
        exprs = []
        for f in fmts:
            spec = _simple_date_pattern(f, tz_gate) if lenient else None
            if spec is None:
                # Strict path (default mode, or a lenient near-miss
                # falling back). Fail patterns Spark cannot compile at
                # PLAN BUILD with a clear error instead of letting
                # try_to_timestamp throw SparkUpgradeException out of a
                # task on the first row (r12 ADVICE, medium).
                err = _strict_format_error(self.spark, f)
                if err is not None:
                    raise ValueError(
                        f"as_date: format {f!r} is outside the lenient "
                        f"subset and Spark's datetime parser cannot "
                        f"compile it ({err}). It would crash the job at "
                        f"the first row instead of rejecting rows — "
                        f"rewrite the pattern or drop the unsupported "
                        f"field (SimpleDateFormat letters like E/F/w/W "
                        f"are format-only or banned in Spark >= 3.0)."
                    )
                exprs.append(F.try_to_timestamp(src, F.lit(f)).cast("date"))
                continue
            rx, gy, gm, gd, m_text, y_window, tgroups, g_zone = spec
            zone_txt = (
                F.regexp_extract(src, rx, g_zone) if g_zone else F.lit("")
            )
            if m_text:
                # text month: captured NAME -> 1..12 via a literal map
                # (try_element_at: a missing/empty key is null -> reject
                # even under ANSI, where plain element_at would throw)
                name_map = F.create_map(
                    *[
                        x
                        for k, v in MONTH_NAME_TO_NUM.items()
                        for x in (F.lit(k), F.lit(v))
                    ]
                )
                month = F.try_element_at(
                    name_map, F.lower(F.regexp_extract(src, rx, gm))
                ).cast("long")
            else:
                month = F.regexp_extract(src, rx, gm).try_cast("long")
            day = F.regexp_extract(src, rx, gd).try_cast("long")
            rem_ms = F.lit(0).cast("long")
            if tgroups is not None:
                # Fold time-of-day into the day field (r12): Java's
                # computeTime adds floor(timeOfDay / ONE_DAY) to the
                # fixed date BEFORE the hybrid-calendar cutover pick,
                # and lenient getFixedDate is linear in day-of-month,
                # so day + extra_days resolves identically. The
                # remainder (the final instant's time-of-day) feeds
                # only the century-window bump's instant compare.
                # Fields are bounded |v| <= 1e9 (keeps total_ms far
                # from int64 overflow; a billion hours is ~114k years,
                # far past the result-year bound anyway) — past the
                # bound the format rejects, like the |day| <= 4e6 rule.
                g_hour, g_min, g_sec, g_ms, hkind, g_ampm = tgroups
                total_ms = F.lit(0).cast("long")
                if g_hour:
                    hv = F.regexp_extract(src, rx, g_hour).try_cast("long")
                    # subParse's maxValue+1 textual rule (probed):
                    # 'h' maps exactly 12 -> 0, 'k' maps exactly 24 -> 0
                    if hkind == "h":
                        hv = F.when(hv == 12, F.lit(0)).otherwise(hv)
                    elif hkind == "k":
                        hv = F.when(hv == 24, F.lit(0)).otherwise(hv)
                    hv = F.when(F.abs(hv) <= F.lit(1_000_000_000), hv)
                    total_ms = total_ms + hv * F.lit(3600000)
                if g_ampm and hkind in ("h", "K", ""):
                    # PM adds 12h only via the HOUR branch of
                    # computeTime — an H/k pattern ignores the marker
                    ampm = F.when(
                        F.lower(F.regexp_extract(src, rx, g_ampm)) == "pm",
                        F.lit(1),
                    ).otherwise(F.lit(0))
                    total_ms = total_ms + ampm.cast("long") * F.lit(43200000)
                for gi, mult in zip(
                    (g_min, g_sec, g_ms), (60000, 1000, 1)
                ):
                    if not gi:
                        continue
                    fv = F.regexp_extract(src, rx, gi).try_cast("long")
                    fv = F.when(F.abs(fv) <= F.lit(1_000_000_000), fv)
                    total_ms = total_ms + fv * F.lit(mult)
                rem_ms = F.pmod(total_ms, F.lit(86400000)).cast("long")
                extra_days = (
                    (total_ms - rem_ms) / F.lit(86400000)
                ).cast("long")
                day = day + extra_days
            if y_window:
                if window_params is None:
                    dcs = two_digit_year_start
                    if dcs is None:
                        # SimpleDateFormat's default century: the
                        # instant the format was created minus 80 years
                        # (Calendar.add(YEAR, -80): Feb 29 pins to 28).
                        # Fixed at plan build, like the reference's one
                        # SimpleDateFormat per step.
                        now = datetime.datetime.now()
                        try:
                            dcs = now.replace(year=now.year - 80)
                        except ValueError:
                            dcs = now.replace(year=now.year - 80, day=28)
                    window_params = _century_window(dcs)
                century, amb, cutoff = window_params
                ed = _hybrid_windowed_epoch_days(
                    F.regexp_extract(src, rx, gy),
                    month,
                    day,
                    rem_ms,
                    zone_txt,
                    F.lit(century), F.lit(amb), F.lit(cutoff),
                )
            else:
                ed = _hybrid_lenient_epoch_days(
                    F.regexp_extract(src, rx, gy).try_cast("long"),
                    month,
                    day,
                    rem_ms,
                    zone_txt,
                )
            exprs.append(
                F.date_add(F.lit(datetime.date(1970, 1, 1)), ed.cast("int"))
            )
        parsed = F.coalesce(*exprs) if len(exprs) > 1 else exprs[0]
        return self._coerce(column, parsed, "Date")

    # -------------------------------------------------- stateful / reshaping

    def sort(
        self,
        *columns: str | tuple[str, str],
        downstream: bool = True,
        after_file: Callable[[str], Any] | None = None,
        file: str | None = None,
    ) -> "Pipeline":
        """Order by columns; tuple ('col','desc') for descending
        (Pipeline.groovy:650-654, 587-642). Spark's UnsafeExternalSorter
        subsumes gratum's external merge sort; SortConfig paging knobs are
        accepted and ignored by design. Arbitrary comparator closures
        don't distribute — sorting is key-based (the reference's own
        tests compare keys).

        SortConfig's sort-to-file workflow (Pipeline.groovy:587-642,
        PipelineTest.groovy:549-598): pass ``after_file`` (and optionally
        ``file``) to write the sorted rows as a single CSV and receive
        its path; ``downstream=False`` additionally stops rows from
        flowing to later steps — the sorted file is the only output.

        The reference's in-memory sort is STABLE (Groovy list sort);
        Spark's distributed sort is not — so when the pipeline carries a
        row-order stamp it is appended as the final tie-breaker, making
        equal-key rows come out in source order every run.

        The reference's sort RE-ORDERS THE STREAM: every downstream
        order-dependent step (``limit`` first-n, ``unique`` first-wins,
        ``fill_down_by``, ``flatten_window``, ``exchange``) sees rows in
        SORTED order. So a stamped pipeline re-stamps ``_row_order``
        after the sort with ``monotonically_increasing_id`` evaluated on
        top of the global sort — partition-major, hence order-isomorphic
        to the sort (Catalyst pins the nondeterministic expression above
        the Sort, so it cannot be reordered past it). Without the
        re-stamp, ``sort(x).limit(n)`` silently returned the first n in
        SOURCE order instead of the top n (caught by the chain fuzz
        campaign's design review, pinned in
        test_sort_reorders_downstream_ops). The re-stamp has the same
        determinism class as the unstamped-source fallback stamp: stable
        for a fixed range-boundary configuration (boundaries are
        computed from a fixed per-plan seed, so re-evaluations within a
        session agree)."""
        exprs = []
        for c in columns:
            if isinstance(c, tuple):
                name, order = c
                exprs.append(F.col(name).desc() if order.lower().startswith("desc") else F.col(name).asc())
            else:
                exprs.append(F.col(c).asc())
        stamped = ROW_ORDER in self.df.columns
        if stamped:
            exprs.append(F.col(ROW_ORDER).asc())
        ordered = self.df.orderBy(*exprs)
        if stamped:
            ordered = ordered.withColumn(
                ROW_ORDER,
                F.struct(
                    F.lit("").alias("f"),
                    F.monotonically_increasing_id().alias("i"),
                ),
            )
        if after_file is not None or file is not None or not downstream:
            import tempfile

            from .sinks import write_single_csv

            path = file
            if path is None:
                tmp = tempfile.NamedTemporaryFile("w", suffix=".csv", delete=False)
                tmp.close()
                path = tmp.name
            clean = ordered.drop(ROW_ORDER) if ROW_ORDER in ordered.columns else ordered

            # DEFERRED to go()/start() like the reference, where SortConfig
            # output is produced during execution — not at plan-build time.
            # Deferral also makes prepend_step replay safe: only the
            # pipeline that actually runs writes the file / fires
            # after_file, exactly once per action.
            def _write_sorted(_df=clean, _path=path, _cb=after_file):
                write_single_csv(_df, _path)
                if _cb is not None:
                    _cb(_path)

            out = self._next(
                ordered.limit(0) if not downstream else ordered,
                keep_size_hint=True,
            )
            out._hooks.setdefault("deferred", [])
            out._hooks["deferred"] = list(out._hooks["deferred"]) + [_write_sorted]
            return out
        return self._next(ordered, keep_size_hint=True)

    def _fill_updates(self, w: Any, skip: Iterable[str]) -> dict:
        """Fill expressions for every payload column (Groovy-falsy rule
        shared with default_values — the reference fills on
        ``value == null || !value``, Pipeline.groovy:443-449).

        Reference recurrence: final(i) = orig(i) if non-falsy else
        final(i-1) — so a falsy cell takes the last non-falsy value
        before-or-at it, and a falsy PREFIX (no non-falsy yet) takes the
        window's FIRST original value, whatever falsy it is. The last
        branch matters only for mixed falsy values (a "" after a None
        becomes None, as the reference's unconditional
        ``row[col] = previousRow[col]`` makes it); coalesce-with-own
        would keep "" and silently diverge (caught by a 100-trial fuzz).
        The reference also skips a column literally named valid_To
        (Pipeline.groovy:446, marked todo there — kept for parity)."""
        skip = set(skip) | {"valid_To"}
        updates = {}
        for f in self.df.schema.fields:
            if f.name in skip or f.name == ROW_ORDER or f.name.startswith("__"):
                continue
            c = F.col(f.name)
            falsy = self._groovy_falsy(f.name)
            keepable = F.when(~falsy, c)
            seen_nonfalsy = F.max(F.when(~falsy, F.lit(1)).otherwise(0)).over(w) == 1
            updates[f.name] = (
                F.when(~falsy, c)
                .when(seen_nonfalsy, F.last(keepable, ignorenulls=True).over(w))
                .otherwise(F.first(c).over(w))
            )
        return updates

    def fill_down_by(
        self,
        key_columns: Iterable[str] | Callable[[dict, dict], bool] | None = None,
        order_by: str | None = None,
        decider: Callable[[dict, dict], bool] | None = None,
    ) -> "Pipeline":
        """Fill falsy columns from the previous row (Pipeline.groovy:437-455).

        Two forms, as in the reference:

        * ``key_columns`` — equality decider (what the reference's own
          tests use, PipelineTest.groovy:363-365): window
          last(ignorenulls) over (partition by keys, order by source
          order). One shuffle on the keys; fully distributed — the 100 TB
          path.
        * ``decider(row, previous_row)`` closure — the general form. Runs
          are delimited by evaluating the decider on each adjacent pair;
          run-ids are fully distributed (per-partition pieces stitched
          by a boundary digest, see :func:`_distributed_run_ids` — the
          decider also evaluates on each partition-boundary pair), then
          the fill itself distributes per run. The decider sees the RAW
          previous row; the reference hands the already-filled clone —
          identical for key-style deciders, which compare non-filled
          columns. A decider that raises starts a new run (boundary on
          error), matching the pre-distributed behavior.
        """
        if callable(key_columns) and decider is None:
            key_columns, decider = None, key_columns

        if decider is None:
            order = F.col(order_by) if order_by else self._order_col()
            keys = list(key_columns or [])
            w = (
                Window.partitionBy(*keys)
                .orderBy(order)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            return self._next(self.df.withColumns(self._fill_updates(w, keys)))

        callback = decider

        def _decide(cur: dict, prev: dict | None) -> bool:
            try:
                return bool(callback(cur, prev))
            except Exception:  # noqa: BLE001 - boundary on decider error
                return False

        _joins_run = _row_udf(_decide, BooleanType())

        def joins(cur_c: Column, prv_c: Column) -> Column:
            # Arrow UDFs evaluate on every row regardless of when()
            # branches; a null prev struct (the first row of a partition)
            # reaches the decider as None, and _decide maps a raising
            # decider to False (new run) — same contract as the guarded
            # pre-distributed form
            return F.coalesce(_joins_run(cur_c, prv_c), F.lit(False))

        d, ordc, extra = self._ordered_base(order_by)
        cur = F.struct(*self.columns)
        with_gid = _distributed_run_ids(
            d,
            ordc,
            cur,
            starts_new_run=lambda c, p: ~joins(c, p),
            continues_run=joins,
        )
        w_fill = (
            Window.partitionBy("__gid__")
            .orderBy(ordc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = with_gid.withColumns(self._fill_updates(w_fill, ())).drop(
            "__gid__", *extra
        )
        return self._next(filled)

    def flatten_window(
        self,
        field: str,
        fn: Callable[[pd.DataFrame], pd.DataFrame],
        schema: StructType | str | None = None,
        order_by: str | None = None,
    ) -> "Pipeline":
        """Group *consecutive* rows sharing ``field``'s value; apply fn per
        run (Pipeline.groovy:1284-1313).

        Run-ids are fully distributed — per-partition pieces stitched by
        a one-row-per-partition boundary digest (see
        :func:`_distributed_run_ids`; consecutive nulls are ONE run via
        eqNullSafe, matching the reference's Groovy == on null). The
        per-run fn then executes distributed via applyInPandas.
        """
        d, ordc, extra = self._ordered_base(order_by)
        with_gid = _distributed_run_ids(
            d,
            ordc,
            F.col(field),
            starts_new_run=lambda cur, prv: ~prv.eqNullSafe(cur),
            continues_run=lambda first, prev_last: prev_last.eqNullSafe(first),
            extra_drop=extra,
        )
        out_schema = schema or self.df.schema

        def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
            return fn(pdf.drop(columns="__gid__"))

        result = _apply_in_pandas_exact(with_gid, ["__gid__"], _apply, out_schema)
        return self._next(result)

    def inject(self, column: str, alias: str | None = None) -> "Pipeline":
        """Explode an array column into one row per element
        (gratum inject, Pipeline.groovy:1005-1027 — fast path)."""
        alias = alias or column
        others = [c for c in self.df.columns if c != column]
        return self._next(
            self.df.select(*others, F.explode(F.col(column)).alias(alias))
        )

    def flat_map(
        self,
        fn: Callable[[dict], Iterable[dict]],
        schema: StructType | str,
    ) -> "Pipeline":
        """Row -> many rows via a Python generator (gratum inject closure
        form / UDTF, Pipeline.groovy:1005-1027). mapInArrow over row
        dicts: Arrow-batched, partition-parallel. A value its column cannot
        hold exactly fails the task, naming the column."""

        def _gen(batches, arrow_schema):
            for b in batches:
                yield _rows_to_arrow([o for r in _rows_from_arrow(b) for o in fn(r)], arrow_schema)

        return self._next(_map_rows(self.df.drop(ROW_ORDER), _gen, schema))

    def exchange(
        self,
        fn: Callable[[dict], "DataFrame | Pipeline"],
        max_rows: int = 100_000,
    ) -> "Pipeline":
        """Per input row, expand into a whole new DataFrame/Pipeline and
        union all (gratum exchange, Pipeline.groovy:1039-1053).

        The closure may return a DataFrame or a Pipeline (the reference
        shape — closures return Sources/Pipelines); a returned Pipeline's
        accounting segments merge into this pipeline's accounting, and
        rejects from steps BEFORE the exchange are preserved — both
        counted in the final LoadStatistic (reference
        PipelineTest.groovy:1099-1123 testExchangeRejections).

        Driver-side by necessity (each row births a new Spark plan, e.g.
        row -> file path -> spark.read). Keys are collected to the driver:
        correct for the reference's use cases (small row counts fanning
        out to files). ``max_rows`` (default 100k) guards against feeding
        it a data-sized input — past the cap it raises instead of OOMing
        the driver; for large fan-out use ``flat_map`` (distributed UDTF)
        or a source that lists files directly.
        """
        capped = self.df.limit(max_rows + 1).collect()
        if len(capped) > max_rows:
            raise ValueError(
                f"exchange() collects its input to the driver and got more "
                f"than max_rows={max_rows} rows; this operator is for "
                f"small fan-out seeds (row -> file/query). For data-sized "
                f"fan-out use flat_map() (distributed) or a direct source; "
                f"or raise max_rows= explicitly if the driver can hold it."
            )
        rows = [r.asDict(recursive=True) for r in capped]
        # the reference feeds the closure rows in STREAM order, and the
        # closure sees only payload columns — iterate by the stamp, then
        # strip it from the dicts handed to fn
        if ROW_ORDER in self.df.columns:
            rows.sort(key=lambda r: tuple(r[ROW_ORDER].values()))
            for r in rows:
                r.pop(ROW_ORDER, None)
        dfs: list[DataFrame] = []
        subs: list[Pipeline] = []
        for r in rows:
            res = fn(r)
            if res is None:
                continue
            if isinstance(res, Pipeline):
                subs.append(res)
                dfs.append(res.df)
            else:
                dfs.append(res)
        if not dfs:
            raise ValueError("exchange produced no DataFrames")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return self._next(out, absorb=subs)

    # ------------------------------------------------------------- grouping

    def group_by(self, *columns: str) -> "GroupedPipeline":
        """Group rows by columns (Pipeline.groovy:537-566).

        Primary mode: named aggregates (``.agg``) — idiomatic, shuffles
        once with map-side partial aggregation. Compat mode:
        ``.as_tree()`` reproduces gratum's nested {v1: {v2: [rows]}}
        single-row shape on the driver (small results only).
        """
        return GroupedPipeline(self, list(columns))

    def reduce(self, **aggregates: Column) -> "Pipeline":
        """Fold all rows into one row of named aggregates
        (gratum reduce, Pipeline.groovy:1253-1269 — algebraic fast path)."""
        return self._next(
            self.df.agg(*[c.alias(n) for n, c in aggregates.items()])
        )

    def reduce_rows(
        self,
        fn: Callable[[dict, dict], dict],
        init: dict,
        merge: Callable[[dict, dict], dict] | None = None,
    ) -> dict:
        """Generic closure fold (gratum reduce closure form,
        Pipeline.groovy:1253-1269).

        With ``merge`` (acc, acc) -> acc: partition-parallel fold via
        mapInArrow then driver merge of the num-partitions-sized
        partials — the scalable path when the accumulator is small.
        Without ``merge``: sequential fold on a single partition,
        matching gratum's one-thread semantics exactly (order-dependent
        folds) — not for 100 TB inputs.
        """
        import json

        def _fold(batches, arrow_schema):
            acc = dict(init)
            any_rows = False
            for b in batches:
                for row in _rows_from_arrow(b):
                    any_rows = True
                    acc = fn(acc, row)
            if any_rows:
                yield _rows_to_arrow([{"acc": json.dumps(acc, default=str)}], arrow_schema)

        df = self.df.drop(ROW_ORDER)
        partials = _map_rows(df if merge else df.coalesce(1), _fold, "acc string").collect()
        acc = dict(init)
        combine = merge or (lambda a, b: b)  # single partial when merge is None
        for p in partials:
            acc = combine(acc, json.loads(p["acc"]))
        return acc

    # ---------------------------------------------------------- multi-pipeline

    @staticmethod
    def _normalize_on(on) -> list[tuple[str, str]]:
        if isinstance(on, str):
            return [(on, on)]
        if isinstance(on, Mapping):
            return list(on.items())
        return [(c, c) for c in on]

    def join(
        self,
        other: "Pipeline | DataFrame",
        on: str | Iterable[str] | Mapping[str, str],
        left: bool = False,
        broadcast: bool | None = None,
    ) -> "Pipeline":
        """Join against another pipeline (Pipeline.groovy:385-427).

        Semantics matched to the reference:
          * inner (left=False): unmatched left rows reject IGNORE_ROW
            (Pipeline.groovy:424);
          * left=True: left outer, right columns null-filled (407-415);
          * 1-to-N right matches multiply rows (402-406);
          * column-name collisions: LEFT wins (j.putAll(row), 404) — the
            right-side duplicate is dropped.

        Physical: one left-outer join + matched-flag split (no second
        join for the rejects). Broadcast policy: ``broadcast=True``
        always hints BroadcastHashJoin and ``broadcast=False`` never
        does (AQE then picks shuffled hash / sort-merge with skew
        handling). The default (None) is SIZE-AWARE: when the right
        side is a Pipeline its optimizer-estimated plan size is read
        driver-side (no job) and the hint applies only under the cap —
        gratum fully caches the right side in memory
        (Pipeline.groovy:386-397), so at gratum-scale inputs the hint
        remains the common-case outcome, but a big right side no longer
        inherits an OOM-at-100× broadcast by default. Cap = conf
        ``spark.gratum.join.autoBroadcastCap`` (bytes, default 256 MB —
        comfortably inside executor memory on a real cluster, well past
        any right side the reference could hold driver-side). Unknown
        size (stats unavailable) falls to AQE, never to a blind hint —
        EXCEPT collection-backed right sides: PySpark's createDataFrame
        plans are RDD-backed (LogicalRDD), so Catalyst reports the
        unknown sentinel for them, and from_collection/from_closure
        record a driver-measured size hint instead so reference-parity
        in-memory dimension tables still get the hint. The hint
        propagates through size-NON-INCREASING transforms only
        (filter/trim/unique/limit/clip/remove_field/rename_fields/sort
        — the measured bound stays a valid upper bound), so a filtered
        dimension table still broadcasts; a size-increasing transform
        (add_field/set_field/...) drops it and the side falls to AQE —
        safe, just one adaptive decision slower (pinned by
        test_join_collection_right_side_broadcasts and
        test_join_collection_hint_propagation).
        """
        right_df = other.df if isinstance(other, Pipeline) else other
        pairs = self._normalize_on(on)
        lkeys = [lk for lk, _ in pairs]
        rkeys = [rk for _, rk in pairs]

        # Left wins on collisions: drop colliding non-key right columns.
        collide = (set(self.df.columns) & set(right_df.columns)) - set(rkeys)
        right_clean = right_df.drop(*collide) if collide else right_df
        # Rename right keys to avoid ambiguity; dropped after the join.
        renames = {rk: f"__rk_{i}__" for i, rk in enumerate(rkeys)}
        right_clean = right_clean.withColumnsRenamed(renames)
        right_clean = right_clean.withColumn("__matched__", F.lit(True))
        if broadcast is None and isinstance(other, Pipeline):
            size = _plan_size_bytes(right_clean)
            if size is None:
                # RDD-backed plans (from_collection / from_closure)
                # always report the unknown sentinel; the source
                # recorded a driver-measured estimate at build time.
                size = other._size_hint_bytes
            raw_cap = right_clean.sparkSession.conf.get(
                BROADCAST_CAP_CONF, str(_BROADCAST_CAP_DEFAULT)
            )
            try:
                cap = int(raw_cap)
            except (TypeError, ValueError):
                # a malformed conf value ("256m") must not fail the
                # whole join() call at plan-build time
                warnings.warn(
                    f"{BROADCAST_CAP_CONF}={raw_cap!r} is not an integer "
                    f"byte count; using default {_BROADCAST_CAP_DEFAULT}",
                    stacklevel=2,
                )
                cap = _BROADCAST_CAP_DEFAULT
            broadcast = size is not None and size <= cap
        if broadcast:
            right_clean = F.broadcast(right_clean)

        cond = None
        for (lk, _), tmp in zip(pairs, renames.values()):
            e = self.df[lk] == right_clean[tmp]
            cond = e if cond is None else cond & e

        joined = self.df.join(right_clean, cond, "left").drop(*renames.values())
        if left:
            return self._next(joined.drop("__matched__"))
        kept = joined.filter(F.col("__matched__")).drop("__matched__")
        left_cols = self.df.columns

        def build(payload: bool = False) -> DataFrame:
            # the join starts a new accounting segment: its own output,
            # with the unmatched left rows tagged
            tag = F.when(F.col("__matched__").isNull(), F.lit(0)).cast("int")
            return _tagged(_untagged(joined, payload), 0, tag, cols=left_cols).drop("__matched__")

        tag = _Tag(RejectionCategory.IGNORE_ROW.value, f"join({lkeys})",
                   f"Could not join on {lkeys}", self.df)
        return self._next(kept, segment=_Segment(build, (tag,)))

    def intersect(
        self, other: "Pipeline | DataFrame", on: str | Iterable[str] | Mapping[str, str]
    ) -> "Pipeline":
        """Add boolean ``included`` = key exists in other pipeline; no row is
        filtered (reference quirk — Pipeline.groovy:488-505, note the
        commented-out filter at :501). Semi-style left join against the
        distinct key set — no broadcast hint: the right side's distinct
        keys are unbounded in general (the reference held them in a
        single-node HashMap, which is exactly the OOM this engine must
        not inherit), so AQE broadcasts only when the key set is
        actually small and shuffles otherwise."""
        right_df = other.df if isinstance(other, Pipeline) else other
        pairs = self._normalize_on(on)
        keys_df = (
            right_df.select(
                *[F.col(rk).alias(f"__ik_{i}__") for i, (_, rk) in enumerate(pairs)]
            )
            .distinct()
            .withColumn("__included__", F.lit(True))
        )
        cond = None
        for i, (lk, _) in enumerate(pairs):
            e = self.df[lk] == keys_df[f"__ik_{i}__"]
            cond = e if cond is None else cond & e
        joined = (
            self.df.join(keys_df, cond, "left")
            .withColumn("included", F.coalesce(F.col("__included__"), F.lit(False)))
            .drop("__included__", *[f"__ik_{i}__" for i in range(len(pairs))])
        )
        return self._next(joined)

    def concat(self, other: "Pipeline | DataFrame") -> "Pipeline":
        """Union keeping each side's own columns, null-filling the gaps
        (Pipeline.groovy:208-220; ConcatSource.groovy:5-33).

        The reference plays this pipeline's rows first, then ``other``'s
        — when both sides carry a row-order stamp, the stamps are
        re-prefixed ("0:"/"1:" on the file field) so that ordering
        survives the union while within-side order is untouched."""
        right_df = other.df if isinstance(other, Pipeline) else other
        absorb = [other] if isinstance(other, Pipeline) else []
        left_df = self.df
        if ROW_ORDER in left_df.columns and ROW_ORDER in right_df.columns:
            def _prefix(df: DataFrame, tag: str) -> DataFrame:
                o = F.col(ROW_ORDER)
                return df.withColumn(
                    ROW_ORDER,
                    F.struct(
                        F.concat(F.lit(tag), o.getField("f")).alias("f"),
                        o.getField("i").alias("i"),
                    ),
                )
            left_df = _prefix(left_df, "0:")
            right_df = _prefix(right_df, "1:")
        return self._next(
            left_df.unionByName(right_df, allowMissingColumns=True), absorb=absorb
        )

    def branch(
        self,
        configure: Callable[["Pipeline"], "Pipeline | None"],
        condition: Column | Mapping[str, Any] | str | None = None,
    ) -> "Pipeline":
        """Send a copy of (matching) rows down a side pipeline; main flow
        unchanged (Pipeline.groovy:315-361). The side pipeline is executed
        at go() time. Catalyst dedups the shared scan subtree; persist()
        the pipeline first if the side chain is expensive."""
        side_df = self.df
        if condition is not None:
            if isinstance(condition, Mapping):
                side_df = side_df.filter(self._condition(condition))
            elif isinstance(condition, str):
                side_df = side_df.filter(F.expr(condition))
            else:
                side_df = side_df.filter(condition)
        out = self._next(self.df)
        out._hooks["branches"].append((Pipeline(side_df, f"{self.name}-branch"), configure))
        return out

    # ----------------------------------------------------------- lifecycle

    def apply(self, fn: Callable[["Pipeline"], "Pipeline"]) -> "Pipeline":
        """Composition helper (Pipeline.groovy:1129-1132)."""
        return fn(self)

    def after(self, hook: Callable[[], Any]) -> "Pipeline":
        """Callback after the action completes (Pipeline.groovy:153-157)."""
        out = self._next(self.df)
        out._hooks["after"].append(hook)
        return out

    def on_rejection(self, configure: Callable[["Pipeline"], Any]) -> "Pipeline":
        """Attach processing to the rejections pipeline
        (Pipeline.groovy:166-199). Runs at go() time with a Pipeline over
        :meth:`rejections_df` — the rejected rows the accounting plan
        carries — built then."""
        out = self._next(self.df)
        out._hooks["on_rejection"].append(configure)
        return out

    def rejections_df(self) -> DataFrame | None:
        """The rejected rows, each with its values at the moment a step
        rejected it plus the rejectionCategory/Reason/Step columns, or
        None when no step can reject. A lazy plan over the accounting
        segments, built with their payload column (see
        :mod:`gratum_spark.rejections`): it reads each source once per
        segment. A column comes back at its kept-plan type when every
        rejecting step saw it at one type; otherwise as a string (so
        ``as_int``'s refused ``"12x"`` survives next to later steps'
        parsed values)."""
        frames, tags = [], []
        for seg in (*self._closed, self._acct):
            if seg.tags:
                rows = seg.build(True).filter(~_live())
                frames.append(rows.select((F.col(TAG) + len(tags)).alias(TAG), PAYLOAD))
                tags += seg.tags
        if not frames:
            return None
        types: dict[str, set] = {}
        for tag in tags:
            for f in tag.row.schema.fields:
                if _in_payload(f.name):
                    types.setdefault(f.name, set()).add(_payload_type(f.dataType))
        row = StructType([
            StructField(n, t.pop() if len(t) == 1 else StringType()) for n, t in types.items()
        ])

        def pick(i: int) -> Column:
            return F.array(*[F.lit(t[i]) for t in tags])[F.col(TAG)]

        own_reason = F.variant_get(F.col(PAYLOAD), f"$.{REJECT_REASON}", "string")
        return functools.reduce(DataFrame.unionAll, frames).select(
            F.col(PAYLOAD).cast(row).alias(PAYLOAD),
            pick(0).alias(REJECT_CATEGORY),
            F.coalesce(pick(2), own_reason).alias(REJECT_REASON),
            pick(1).alias(REJECT_STEP),
        ).select(f"{PAYLOAD}.*", REJECT_CATEGORY, REJECT_REASON, REJECT_STEP)

    def persist(self) -> "Pipeline":
        return self._next(self.df.persist())

    def go(self) -> LoadStatistic:
        """Execute and return LoadStatistic (Pipeline.groovy:1333-1342).

        The counts come from the accounting plan (see
        :mod:`gratum_spark.rejections`): one aggregate over its tag
        column yields the loaded count and every category×step count,
        and each row crosses the step chain once. On the result of a
        file sink the write already produced them, so ``go()`` runs no
        Spark job — unless a non-row-local operator closed an earlier
        accounting segment, which the one aggregate then counts.
        """
        start = now_ms()
        self._run_deferred()
        # accumulators persist across actions — snapshot so a repeated
        # go() reports only THIS run's closure time
        timer_base = {id(acc): acc.value for _, acc in self._step_timers}
        loaded, rejections = self._tally()
        if loaded == 0:
            from .rejections import MAX_ERROR_THRESHOLD, PipelineAbortException

            script_errors = self.go_stats_script_errors(rejections)
            if script_errors > MAX_ERROR_THRESHOLD:
                raise PipelineAbortException(
                    f"{script_errors} SCRIPT_ERROR rejections with 0 loaded rows "
                    f"(threshold {MAX_ERROR_THRESHOLD})"
                )
        self._report_progress()
        for side, configure in self._hooks["branches"]:
            configured = configure(side)
            if isinstance(configured, Pipeline):
                configured.start()
        if self._hooks["on_rejection"]:
            rej = self.rejections_df()
            if rej is not None:
                for configure in self._hooks["on_rejection"]:
                    configure(Pipeline(rej, f"{self.name}-rejections"))
        for hook in self._hooks["after"]:
            hook()
        step_timings = dict(self._step_ms)
        for step_name, acc in self._step_timers:
            delta = acc.value - timer_base[id(acc)]
            step_timings[step_name] = step_timings.get(step_name, 0.0) + delta
        return LoadStatistic(
            self.name, loaded, start, now_ms(), rejections, step_timings
        )

    def _tally(self) -> tuple[int, dict[str, dict[str, int]]]:
        """(loaded, rejections) from one aggregate over the accounting
        segments still to count: the closed ones contribute their tagged
        rows, and the segment whose live rows are this pipeline's output
        its tags and its loaded count. Counts a sink already took are
        added without running anything."""
        rejections: dict[str, dict[str, int]] = {}
        live = self._acct if self._loaded_from is None else self._loaded_from
        # a closed segment without tags counts nothing
        segments = [s for s in self._closed if s.tags or s is live]
        if live is self._acct:
            segments.append(live)
        loaded = 0
        # (segment, tag code, rows): None codes the live rows
        counts = [(i, c, n) for i, s in enumerate(segments) for c, n in (s.counts or {}).items()]
        frames = []
        for i, seg in enumerate(segments):
            if seg.counts is None:
                f = seg.build()
                if seg is not live:
                    f = f.filter(F.col(TAG).isNotNull())
                frames.append(f.select(F.lit(i).alias("__seg__"), F.col(TAG)))
        if frames:
            agg = functools.reduce(DataFrame.unionAll, frames).groupBy("__seg__", TAG).count()
            counts += [(r["__seg__"], r[TAG], r["count"]) for r in agg.collect()]
        for i, code, n in counts:
            if code is not None:
                tag = segments[i].tags[code]
                _add_count(rejections, tag.category, tag.step, n)
            elif segments[i] is live:  # not an older sink's live rows
                loaded = n
        return loaded, rejections

    @staticmethod
    def go_stats_script_errors(rejections: dict[str, dict[str, int]]) -> int:
        return sum(rejections.get(RejectionCategory.SCRIPT_ERROR.value, {}).values())

    def start(self) -> None:
        """Execute without stats (Pipeline.groovy:1318-1324): noop-write the
        full plan — runs every operator, collects nothing to the driver."""
        self._run_deferred()
        self.df.write.format("noop").mode("overwrite").save()
        self._report_progress()

    def _run_deferred(self) -> None:
        """Side-effecting steps registered at plan-build time (sort-to-file)
        execute here, when an action runs — mirroring the reference, where
        SortConfig writes its file during pipeline execution."""
        for fn in self._hooks.get("deferred", []):
            fn()

    # ------------------------------------------------------------- outputs

    def _clean_df(self, columns: Iterable[str] | None = None) -> DataFrame:
        df = self.df.drop(ROW_ORDER)
        if columns:
            df = df.select(*columns)
        return df

    def _observed_for_save(self, columns: Iterable[str] | None = None):
        """The outgoing write plan: the accounting plan, observed for
        its live-row and per-tag counts, then filtered to its live rows.
        The write itself thus yields the LoadStatistic, and go() on the
        result pipeline re-executes nothing. Returns the plan and the
        handle :meth:`_save_result` reads after the write."""
        from pyspark.sql import Observation

        obs = Observation()
        metrics = [F.count(F.when(_live(), 1)).alias("loaded")] + [
            F.count(F.when(F.col(TAG) == code, 1)).alias(f"t{code}")
            for code in range(len(self._acct.tags))
        ]
        df = (
            self._acct.build().observe(obs, *metrics)
            .filter(_live()).drop(TAG, ROW_ORDER)
        )
        if columns:
            df = df.select(*columns)
        timers = {id(acc): acc.value for _, acc in self._step_timers}
        return df, (obs, timers)

    def _sink_result(
        self, result: DataFrame, name: str, observed: dict | None = None
    ) -> "Pipeline":
        """The 1-row pipeline a sink returns. Its go() reports the
        parent's counts: those of the parent's open segment, which a
        file write ``observed`` (rows per tag code, None for live rows)
        or else go() counts. A result saved again keeps reporting the
        original parent's counts."""
        out = Pipeline(result, name, self._hooks)
        out._step_ms, out._closed = self._step_ms, self._closed
        if self._loaded_from is None:
            out._loaded_from = replace(self._acct, counts=observed)
            out._closed += (out._loaded_from,)
        else:
            out._loaded_from = self._loaded_from
        return out

    def _save_result(self, path: str, handle) -> "Pipeline":
        obs, timers = handle
        out = self._sink_result(
            self.spark.createDataFrame([(path,)], "filename string"),
            f"{self.name}-saved",
            {None if k == "loaded" else int(k[1:]): int(n) for k, n in obs.get.items() if n},
        )
        # the closure time the write spent reaches go() on the result
        out._step_ms = dict(self._step_ms)
        for step, acc in self._step_timers:
            out._step_ms[step] = out._step_ms.get(step, 0.0) + acc.value - timers[id(acc)]
        return out

    def save(
        self,
        path: "str | Any",
        separator: str = ",",
        columns: Iterable[str] | None = None,
        header: bool = True,
        quote_all: bool = True,
    ) -> "Pipeline":
        """CSV sink (Pipeline.groovy:809-824, sink/CsvSink.groovy:9-49 —
        always-quoted fields). Returns a 1-row result pipeline {filename}
        like the reference (Pipeline.groovy:833-844).

        One pass: the write runs the accounting plan (see
        :meth:`_observed_for_save`) and keeps its live rows, so the
        result's ``go()`` reports the loaded count, every
        category×step count and the closures' step timings without
        running another Spark job.

        The cost of that pass: a filter in the accounting plan tags rows
        instead of dropping them, so its predicate is not pushed into
        the source scan. A save over a selective filter on a parquet
        table reads the whole table, where writing ``self.df`` would
        read only the row groups the filter can match. When ``go()``
        follows, the rejected rows have to be read to be counted anyway.

        Passing a :class:`gratum_spark.sinks.Sink` instead of a path uses
        the pluggable Sink SPI (sink/Sink.groovy:5-13): attach → close →
        result-row pipeline. The sink consumes the kept plan, and the
        result's ``go()`` counts the accounting plan with one aggregate."""
        from .sinks import Sink as _Sink

        if isinstance(path, _Sink):
            sink = path
            sink.attach(self)
            sink.close()
            payload = sink.result() or {"sink": sink.name}
            result = self.spark.createDataFrame([tuple(payload.values())],
                                                list(payload.keys()))
            # arbitrary user attach() — the consumed count isn't observable
            # from out here, so go() counts the parent's accounting plan
            return self._sink_result(result, sink.name)
        df, obs = self._observed_for_save(columns)
        (
            df.write.mode("overwrite")
            .option("header", header)
            .option("sep", separator)
            .option("quoteAll", quote_all)
            # RFC-4180 doubled-quote escaping, like the reference's
            # CSVFile.java:229-254 and this engine's own csv() reader
            # (Spark's write default is backslash-escape, which the
            # doubled-quote reader mis-parses: a quote INSIDE a field
            # broke the save->csv roundtrip — caught by fuzz r5)
            .option("escape", '"')
            # Spark trims cell whitespace ON WRITE by default; the
            # reference preserves field content byte-for-byte
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .csv(path)
        )
        return self._save_result(path, obs)

    def json(self, path: str, columns: Iterable[str] | None = None) -> "Pipeline":
        """JSON-array sink (sink/JsonSink.groovy:9-83) — written as JSONL
        directory (the scalable form); see sinks.write_json_array for the
        single-file array form.

        Null fields are written EXPLICITLY ("x": null) to match the
        reference: Groovy's JsonOutput.toJson serializes null map values
        rather than dropping the key, while Spark's json writer defaults
        to ignoreNullFields=true — under which an all-null column
        vanishes from the files entirely and a read-back loses the field
        (caught by the jsonl_roundtrip fuzz at seed 1307, r13)."""
        df, obs = self._observed_for_save(columns)
        df.write.mode("overwrite").option("ignoreNullFields", "false").json(path)
        return self._save_result(path, obs)

    def jsonl(self, path: str, columns: Iterable[str] | None = None) -> "Pipeline":
        """JSONL sink (Pipeline.groovy:864-877) — native Spark json writer."""
        return self.json(path, columns)

    def jdbc(
        self,
        url: str,
        table: str,
        properties: "Mapping[str, str] | None" = None,
        mode: str = "overwrite",
        batch_size: int = 10_000,
    ) -> "Pipeline":
        """JDBC sink (beyond reference — gratum only READS JDBC,
        JdbcSource.groovy). Parallel by construction: Spark's JDBC
        writer opens one connection per partition and issues batched
        inserts; ``repartition`` first to bound the connection count
        against the database (32 executor partitions = 32 concurrent
        writers). Returns the 1-row result pipeline like the other
        sinks."""
        df, obs = self._observed_for_save()
        w = (
            df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("batchsize", batch_size)
            .mode(mode)
        )
        for k, v in (properties or {}).items():
            w = w.option(k, v)
        w.save()
        return self._save_result(table, obs)

    def parquet(
        self,
        path: str,
        partition_by: Iterable[str] | None = None,
        max_records_per_file: int | None = None,
        sort_by: Iterable[str] | None = None,
    ) -> "Pipeline":
        """Parquet sink — the 100 TB-native output format (columnar,
        predicate-pushdown-able, splittable).

        Scale knobs: ``max_records_per_file`` caps file size (the
        small-files / giant-files control — downstream listing and task
        planning degrade on both extremes); ``sort_by`` sorts WITHIN
        each output partition before writing, tightening parquet
        row-group min/max statistics so point/range predicates on those
        columns prune row groups at read time (no extra shuffle — it's
        a partition-local sort)."""
        df, obs = self._observed_for_save()
        if sort_by:
            df = df.sortWithinPartitions(*list(sort_by))
        w = df.write.mode("overwrite")
        if max_records_per_file is not None:
            w = w.option("maxRecordsPerFile", int(max_records_per_file))
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return self._save_result(path, obs)

    # ------------------------------------------------------------ debugging

    def progress(self, every: int = 50) -> "Pipeline":
        """Progress hook (Pipeline.groovy:896-904). gratum prints a dot
        per streamed row; rows don't stream one-at-a-time through a
        Spark plan, so the Spark-first form observes the row count
        flowing through this point (``df.observe`` — no extra scan, no
        Python in the data path) and reports it when the action
        (``go()``/``start()``) completes. ``every`` is accepted for API
        parity; batched execution has no per-N-rows console moment."""
        # [kept plan, latest accounting-plan build] observations of this
        # point; an Observation fires once, so each build takes a new one
        seen = [_pollable_observation(), None]

        def acct(d: DataFrame) -> DataFrame:
            seen[1] = _pollable_observation()
            return d.observe(seen[1], F.count(F.when(_live(), 1)).alias("rows"))

        out = self._next(
            self.df.observe(seen[0], F.count(F.lit(1)).alias("rows")), acct=acct
        )
        out._hooks.setdefault("progress", [])
        out._hooks["progress"] = list(out._hooks["progress"]) + [seen]
        return out

    def _report_progress(self) -> None:
        from py4j.protocol import Py4JJavaError

        hooks = self._hooks.get("progress", [])
        if hooks:
            # Spark completes an Observation from its asynchronous
            # listener bus: drain it, so a plan that just ran is seen
            try:
                self.df.sparkSession.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            except Py4JJavaError:  # TimeoutException: still busy after Spark's 10 s
                pass
        for kept, latest in hooks:
            rows = _observed_rows(latest)
            rows = _observed_rows(kept) if rows is None else rows
            if rows is not None:
                print(f"[{self.name}] progress: {rows} rows")

    def print_row(self, *columns: str, n: int = 20) -> "Pipeline":
        """Log selected columns (Pipeline.groovy:884-894)."""
        (self.df.select(*columns) if columns else self.df).show(n, truncate=False)
        return self

    def explain(self, mode: str = "formatted") -> "Pipeline":
        self.df.explain(mode)
        return self


class GroupedPipeline:
    """Result of Pipeline.group_by — named aggregates or gratum tree compat."""

    def __init__(self, parent: Pipeline, columns: list[str]) -> None:
        self.parent = parent
        self.columns = columns

    def agg(self, **aggregates: Column) -> Pipeline:
        """Named aggregates; one shuffle, map-side combine for free."""
        df = self.parent.df.groupBy(*self.columns).agg(
            *[c.alias(n) for n, c in aggregates.items()]
        )
        return self.parent._next(df)

    def apply_in_pandas(self, fn, schema: StructType | str) -> Pipeline:
        """Arbitrary per-group transform (UDAF/UDTF surface) — distributed,
        one group per pandas DataFrame. Float columns arrive as nullable
        Float64/Float32 (NaN-exact interchange, r12)."""
        df = _apply_in_pandas_exact(self.parent.df, self.columns, fn, schema)
        return self.parent._next(df)

    def rows(self) -> Pipeline:
        """Grouped rows as array-of-structs per key — the distributed form
        of gratum's per-key row lists.

        The reference appends rows to each key's list in STREAM order
        (arrival order; sorted order after a sort). collect_list alone
        gives shuffle-arrival order, so on a stamped pipeline each list
        is rebuilt in play order via a comparator-based array_sort over
        (stamp, payload) structs. The comparator reads ONLY the stamp
        field (unique, so the sort is total): unlike sort_array, this
        never asks the payload to be orderable, so map-typed payload
        columns (which sources' schema sanitization can produce) sort
        fine."""
        payload = [c for c in self.parent.df.columns if c not in self.columns and c != ROW_ORDER]
        item = F.struct(*payload)
        if ROW_ORDER in self.parent.df.columns:
            tagged = F.array_sort(
                F.collect_list(
                    F.struct(F.col(ROW_ORDER).alias("o"), item.alias("r"))
                ),
                lambda a, b: F.when(a["o"] < b["o"], F.lit(-1))
                .when(a["o"] > b["o"], F.lit(1))
                .otherwise(F.lit(0)),
            )
            rows_col = F.transform(tagged, lambda x: x["r"]).alias("rows")
        else:
            rows_col = F.collect_list(item).alias("rows")
        df = self.parent.df.groupBy(*self.columns).agg(rows_col)
        return self.parent._next(df)

    def as_tree(self, max_rows: int = 100_000) -> dict:
        """Gratum compat: the nested {v1: {v2: [row,...]}} single-row tree
        (Pipeline.groovy:537-566). Collects to the driver — small results
        only. ``max_rows`` (default 100k) counts INPUT rows (every row
        lands in some leaf list, so the tree holds them all); past the
        cap this raises instead of OOMing the driver — use .agg() or
        .rows() (both distributed) at scale. The guard is a separate
        count action, so the input plan runs twice — a deliberate trade
        on this small-results compat path (counting after collect would
        discover the overload only after the driver already held it)."""
        n = self.parent.df.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"as_tree() materializes every input row in a driver-side "
                f"nested dict and got more than max_rows={max_rows} rows; "
                f"use .agg(...) or .rows() (distributed) for large groups, "
                f"or raise max_rows= explicitly if the driver can hold it."
            )
        rows = self.rows().df.collect()
        tree: dict = {}
        for r in rows:
            d = r.asDict(recursive=True)
            node = tree
            for k in self.columns[:-1]:
                node = node.setdefault(str(d[k]), {})
            node[str(d[self.columns[-1]])] = d["rows"]
        return tree


def _infer_py_type(v: Any) -> DataType:
    """Spark type for a Python value produced by a step closure. Complex /
    ambiguous values (dicts, empty lists, None) need an explicit schema;
    they infer as string."""
    import datetime

    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType as _Bool,
        DateType,
        DoubleType,
        LongType,
        TimestampType,
    )

    if isinstance(v, bool):
        return _Bool()
    if isinstance(v, int):
        return LongType()
    if isinstance(v, float):
        return DoubleType()
    if isinstance(v, bytes):
        return BinaryType()
    if isinstance(v, datetime.datetime):
        return TimestampType()
    if isinstance(v, datetime.date):
        return DateType()
    if isinstance(v, (list, tuple)) and v:
        return ArrayType(_infer_py_type(v[0]))
    return StringType()


def _schema_fields(schema: StructType | str):
    if isinstance(schema, StructType):
        return schema.fields
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema).fields


# ---------------------------------------------------------------------------
# Operator recording for prepend_step
#
# gratum's prependStep inserts a Step at position 0 of a mutable chain
# (Pipeline.groovy:119-126). A Catalyst plan is immutable, so instead every
# public operator records (name, args, kwargs) on the Pipeline it returns;
# prepend_step replays that chain on top of (origin source → new step).
# Eager actions (go/start/save/json/jsonl/parquet/print_row) are NOT
# recorded: a write that already happened can't retroactively change.
# ---------------------------------------------------------------------------

_REPLAYED = (
    "with_row_order", "filter", "trim", "unique", "drop_duplicates", "limit",
    "add_step", "add_field", "set_field", "remove_field", "rename_fields",
    "clip", "default_values", "defaults_by", "replace_all", "replace_values",
    "as_int", "as_double", "as_boolean", "as_date", "sort", "fill_down_by",
    "flatten_window", "inject", "flat_map", "exchange", "reduce",
    "reduce_rows", "join", "intersect", "concat", "branch", "apply", "after",
    "on_rejection", "persist", "progress",
)


def _recorded(name: str, orig):
    @functools.wraps(orig)
    def inner(self: Pipeline, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        if isinstance(out, Pipeline) and out is not self:
            out._origin = self._origin or self
            out._ops = self._ops + [(name, args, kwargs)]
        return out

    return inner


def _grouped_recorded(name: str, orig):
    @functools.wraps(orig)
    def inner(self: GroupedPipeline, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        if isinstance(out, Pipeline):
            parent = self.parent
            out._origin = parent._origin or parent
            out._ops = parent._ops + [
                ("__grouped", (tuple(self.columns), name, args, kwargs), {})
            ]
        return out

    return inner


for _name in _REPLAYED:
    setattr(Pipeline, _name, _recorded(_name, getattr(Pipeline, _name)))
for _name in ("agg", "apply_in_pandas", "rows"):
    setattr(GroupedPipeline, _name, _grouped_recorded(_name, getattr(GroupedPipeline, _name)))
del _name
