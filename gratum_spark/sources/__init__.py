"""Sources: every reference scan re-expressed as a Spark reader.

Reference inventory (src/main/groovy/gratum/source/): Collection,
Closure, Csv, Json(L), Jdbc, Xls(x), FileSystem, Zip, Archived,
OkHttp/Http, Ssh, Concat. Each returns a :class:`~gratum_spark.pipeline.
Pipeline`; ``ordered=True`` stamps ``_row_order`` at the scan for the
order-dependent operators (fill_down_by, unique first-wins, ...).
"""

from __future__ import annotations

import io
import json as _json
from collections.abc import Callable, Iterable, Mapping
from functools import reduce as _reduce
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..pipeline import ROW_ORDER, Pipeline, stamp_row_order

__all__ = [
    "from_collection",
    "from_closure",
    "csv",
    "json",
    "jsonl",
    "parquet",
    "jdbc",
    "files",
    "zip_entries",
    "archive_entries",
    "http",
    "ssh",
    "xlsx",
    "concat",
    "table",
]


def _maybe_order(df: DataFrame, ordered: bool) -> DataFrame:
    return stamp_row_order(df) if ordered else df


def from_collection(
    spark: SparkSession,
    rows: Iterable[Mapping[str, Any]],
    schema: StructType | str | None = None,
    name: str = "collection",
    ordered: bool = True,
) -> Pipeline:
    """In-memory rows (reference: CollectionSource.groovy:22-56)."""
    rows = list(rows)
    df = spark.createDataFrame(rows, schema=schema)  # type: ignore[arg-type]
    p = Pipeline(_maybe_order(df, ordered), name)
    # createDataFrame-from-Python plans are RDD-backed, so Catalyst
    # reports the unknown-size sentinel for them; record a driver-side
    # estimate so join()'s size-aware broadcast default still hints for
    # in-memory dimension tables (the rows fit driver memory already).
    p._size_hint_bytes = _estimate_rows_bytes(rows)
    return p


def _estimate_rows_bytes(rows: list) -> int:
    """Rough serialized-size estimate of driver-held rows: repr-length
    proxy over a bounded sample, extrapolated, with 2× headroom. Only
    feeds join()'s 256 MB broadcast-cap comparison — order of magnitude
    is all that matters, and the data already fits in driver memory.

    Known underestimate classes (repr smaller than the JVM UnsafeRow
    footprint): large ints (repr is decimal digits vs a fixed 8-byte
    slot — only matters below ~8 digits, where rows are tiny anyway),
    ``bytes`` payloads whose repr escapes compactly, and deeply nested
    rows (per-struct 8-byte field slots + null bitmaps). For typical
    dimension-table rows (strings + numbers) repr OVER-states UnsafeRow
    by the quote/comma/key syntax, and the 2× headroom plus the 256 MB
    cap sitting far below executor memory absorb the rest; a worst-case
    4× underestimate still broadcasts only ~1 GB into executors sized
    for multi-GB partitions."""
    n = len(rows)
    if n == 0:
        return 0
    step = max(1, n // 512)
    sample = rows[::step]
    per = sum(len(repr(r)) for r in sample) / len(sample)
    return int(per * n * 2)


def from_closure(
    spark: SparkSession,
    generator: Callable[[], Iterable[Mapping[str, Any]]],
    schema: StructType | str | None = None,
    name: str = "closure",
    ordered: bool = True,
) -> Pipeline:
    """Generator source (reference: ClosureSource.groovy:9-25). The
    generator runs on the driver once; for big generated data prefer
    spark.range().select(...) style construction."""
    return from_collection(spark, list(generator()), schema, name, ordered)


def _sniff_embedded_newlines(
    path: str,
    spark: "SparkSession | None" = None,
    sniff_bytes: int = 1_048_576,
    max_files: int = 256,
) -> bool:
    """True if a CSV input MAY contain newlines inside quoted fields (so
    it must be read ``multiLine=True``, single-split); False only when
    that is PROVEN impossible — this detector is exact, not a sample.

    Two exact paths:

    * **Local small files** (every file fits in ``sniff_bytes``, at most
      ``max_files`` of them): driver-side RFC-4180 quote state machine
      over each ENTIRE file (doubled ``\"\"`` = escaped quote, net state
      unchanged). Every file is scanned, not a sample — a multi-part dir
      where only a LATER part had quoted newlines mis-parsed under a
      sampled sniff (caught by tools/fuzz_semantics.py csv_roundtrip).
    * **Everything else** (big files, many files, remote storage): a
      distributed check — split the input as raw lines and look for any
      line with an ODD number of quote chars. A record confined to one
      physical line always balances its quotes (doubled-quote escaping);
      a quoted field spanning lines leaves an unbalanced line on each
      side of the break. One early-terminating distributed scan
      (``limit(1)``), against the alternative of silently corrupting
      rows; the page cache usually absorbs the re-read. A prefix-only
      sniff here would MISS a first embedded newline past the window and
      corrupt silently (r6 review finding) — exactness is the point.

    Read errors / no session for the distributed path fall back to True
    (reference-parity multiLine)."""
    try:
        import glob as _glob
        import os as _os

        local_files: list[str] | None = None
        if "://" not in path or path.startswith("file:"):
            p = path[len("file:"):] if path.startswith("file:") else path
            if any(ch in p for ch in "*?["):
                local_files = sorted(_glob.glob(p))
            elif _os.path.isdir(p):
                local_files = []
                for root, dirs, names in _os.walk(p):
                    dirs.sort()
                    local_files += [
                        _os.path.join(root, x)
                        for x in sorted(names)
                        if not x.startswith(("_", "."))
                    ]
                local_files = [f for f in local_files if not _os.path.isdir(f)]
            else:
                local_files = [p]
            if not local_files:
                return True

        if (
            local_files is not None
            and len(local_files) <= max_files
            and all(_os.path.getsize(f) <= sniff_bytes for f in local_files)
        ):
            for f in local_files:
                with open(f, "rb") as fh:
                    chunk = fh.read()
                in_quote = False
                for b in chunk:
                    if b == 0x22:  # '"'
                        in_quote = not in_quote
                    elif in_quote and b in (0x0A, 0x0D):
                        return True
                if in_quote:  # file ends inside an open quote: malformed
                    return True
            return False

        if spark is None:
            return True
        lines = spark.read.text(path)
        n_quotes = F.size(F.split(F.col("value"), '"')) - 1
        return bool(lines.filter(n_quotes % 2 == 1).limit(1).count() > 0)
    except Exception:  # noqa: BLE001 - sniff is best-effort, stay safe
        return True


def csv(
    spark: SparkSession,
    path: str,
    separator: str = ",",
    header: bool = True,
    columns: list[str] | None = None,
    escaping: bool = True,
    schema: StructType | str | None = None,
    ordered: bool = False,
    name: str | None = None,
    multiline: bool | None = None,
    on_header: Callable[[list[str]], Any] | None = None,
) -> Pipeline:
    """Delimited text (reference: CsvSource.groovy:50-166 + csv/CSVFile.java).

    Reference features mapped: custom headers for headerless files
    (``header=False`` + ``columns``), escaping toggle (``escaping=False``
    reads raw lines and splits — for files with bare quotes like
    unescaped.csv), permissive parsing (ragged rows null-padded by
    Spark's CSV reader), and the header callback (``on_header`` receives
    the column list at plan-build time — CsvSource.groovy ``header{}``,
    PipelineTest.groovy:980-992).

    SCALE: ``multiLine=True`` (reference parity — newlines survive inside
    quoted fields, CSVFile.java:129-169) makes each file single-split:
    one task per file regardless of size. The default ``multiline=None``
    AUTO-detects exactly (see ``_sniff_embedded_newlines``): small local
    inputs are proven by a full driver-side scan, anything bigger by one
    early-terminating distributed odd-quote-line check; when no quoted
    field spans a line (the overwhelming real-world case) the read uses
    ``multiLine=False`` so 100 TB inputs split at
    ``spark.sql.files.maxPartitionBytes`` boundaries. Detection errors
    fall back to the single-split parity path. Pass an explicit bool to
    skip detection entirely.
    """
    name = name or f"csv({path})"
    if not escaping:
        lines = spark.read.text(path)
        parts = F.split(F.col("value"), re_escape(separator))
        if header and not columns:
            first = lines.limit(1).collect()[0]["value"]
            columns = first.split(separator)
        assert columns, "escaping=False needs header row or explicit columns"
        if header:
            # drop the header row POSITIONALLY, per file, anchored on FILE
            # OFFSET: the header is the first read-order row of the block
            # that starts at offset 0 (_metadata.file_block_start == 0). A
            # global min(monotonically_increasing_id) per file is NOT safe
            # — mii ordering across the splits of one file depends on
            # FilePartition bin-packing, so another split can sort ahead
            # and a legitimate data row would be dropped instead. Within
            # block 0 itself min(mii) is exact: a block is read by one
            # task, where mii is monotonic in read order. A value match on
            # the first column would also delete legitimate data rows that
            # happen to equal the column name.
            lines = lines.withColumns(
                {
                    "__file__": F.col("_metadata.file_path"),
                    "__bstart__": F.col("_metadata.file_block_start"),
                    "__mii__": F.monotonically_increasing_id(),
                }
            )
            per_file = Window.partitionBy("__file__")
            first_in_block0 = F.min(
                F.when(F.col("__bstart__") == 0, F.col("__mii__"))
            ).over(per_file)
            lines = (
                lines.withColumn("__first__", first_in_block0)
                .filter(
                    (F.col("__bstart__") != 0) | (F.col("__mii__") != F.col("__first__"))
                )
                .drop("__file__", "__bstart__", "__mii__", "__first__")
            )
        df = lines.select(
            *[parts.getItem(i).alias(c) for i, c in enumerate(columns)]
        )
        if on_header:
            on_header(list(columns))
        return Pipeline(_maybe_order(df, ordered), name)

    # after the escaping=False early path — that branch reads raw lines
    # and never consults multiline, so sniffing there would be wasted I/O
    if multiline is None:
        multiline = _sniff_embedded_newlines(path, spark)

    reader = (
        spark.read.option("header", header)
        .option("sep", separator)
        .option("mode", "PERMISSIVE")
        .option("multiLine", multiline)
        .option("escape", '"')
    )
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.csv(path)
    if columns:
        df = df.toDF(*columns)
    if on_header:
        on_header(list(df.columns))
    return Pipeline(_maybe_order(df, ordered), name)


def re_escape(sep: str) -> str:
    import re as _re

    return _re.escape(sep)


def json(
    spark: SparkSession,
    path: str,
    path_expr: list[str] | None = None,
    include_root: bool = False,
    record_per_line: bool = False,
    name: str | None = None,
    ordered: bool = False,
) -> Pipeline:
    """JSON document / JSONL source (reference: JsonSource.groovy:8-107).

    ``path_expr`` descends into nested arrays (reference ``path([...])``):
    each listed key is exploded in order. ``include_root`` keeps the
    pre-descent document as ``_root_json`` (stringified).
    """
    name = name or f"json({path})"
    df = spark.read.option("multiLine", not record_per_line).json(path)
    if include_root:
        # the ROOT document as a JSON string, attached before any path
        # descent (reference: JsonSource.includeRoot — works with or
        # without path(), JsonSourceTest.groovy:26-64)
        df = df.withColumn("_root_json", F.to_json(F.struct(*df.columns)))
    if path_expr:
        for key in path_expr:
            root = ["_root_json"] if include_root else []
            df = df.select(*root, F.explode(F.col(key)).alias("__e__")).select(
                *root, "__e__.*"
            )
    return Pipeline(_maybe_order(df, ordered), name)


def json_text(
    spark: SparkSession,
    text: str,
    path_expr: list[str] | None = None,
    include_root: bool = False,
    record_per_line: bool = False,
    name: str | None = None,
    ordered: bool = False,
) -> Pipeline:
    """JSON from a literal string (reference: ``JsonSource.json(String)``,
    JsonSourceTest.groovy:26-64) — same semantics as :func:`json` over a
    file. The text is staged through a temp file so the native reader
    (and its schema inference) does the parsing."""
    import tempfile

    suffix = ".jsonl" if record_per_line else ".json"
    with tempfile.NamedTemporaryFile("w", suffix=suffix, delete=False, encoding="utf-8") as f:
        if record_per_line:
            for line in text.strip().splitlines():
                if line.strip():
                    f.write(line.strip() + "\n")
        else:
            f.write(text)
        tmp = f.name
    return json(
        spark, tmp, path_expr, include_root, record_per_line,
        name or "json(<string>)", ordered,
    )


def jsonl(spark: SparkSession, path: str, name: str | None = None, ordered: bool = False) -> Pipeline:
    """JSON-lines source — Spark's native json reader, fully splittable."""
    return json(spark, path, record_per_line=True, name=name or f"jsonl({path})", ordered=ordered)


def _ensure_nanos_readable(spark: SparkSession) -> None:
    """Make TIMESTAMP(NANOS) parquet readable: it throws
    PARQUET_TYPE_ILLEGAL without nanosAsLong (the r1-r3 testdata events
    table was nanos). Set defensively — callers may hand us any
    SparkSession — and left set for the session: it is error-avoiding
    only (no Spark type exists for nanos) and does not change the typing
    of reads that succeed without it."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf locked down (e.g. Connect server policy) — read may still work


class _scoped_conf:
    """Set a runtime SQL conf for a `with` block, restoring the caller's
    prior value (or unsetting) on exit — so reads through this module
    don't permanently re-type a foreign session's own parquet reads.

    Thread note: SQL confs are session-global, so a concurrent reader in
    another thread could observe the scoped value. For sessions built by
    :func:`gratum_spark.get_spark` the scoped set is a no-op (the session
    already pins the same value), which makes the engine's own
    concurrency shim (spread/collect) race-free; foreign multi-threaded
    sessions should pin the conf themselves."""

    def __init__(self, spark: SparkSession, key: str, value: str):
        self.spark, self.key, self.value = spark, key, value
        self.old: str | None = None
        self.changed = False

    def __enter__(self):
        try:
            self.old = self.spark.conf.get(self.key, None)
        except Exception:
            self.old = None
        try:
            self.spark.conf.set(self.key, self.value)
            self.changed = True
        except Exception:
            pass  # conf locked down — _normalize_ntz covers the fallback
        return self

    def __exit__(self, *exc):
        if self.changed:
            try:
                if self.old is None:
                    self.spark.conf.unset(self.key)
                else:
                    self.spark.conf.set(self.key, self.old)
            except Exception:
                pass
        return False


def _swap_ntz_type(dt):
    """Rewrite a DataType with every nested TimestampNTZType replaced by
    TimestampType (struct/array/map recursed)."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dt, TimestampNTZType):
        return TimestampType()
    if isinstance(dt, ArrayType):
        return ArrayType(_swap_ntz_type(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _swap_ntz_type(dt.keyType), _swap_ntz_type(dt.valueType), dt.valueContainsNull
        )
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _swap_ntz_type(f.dataType), f.nullable, f.metadata)
                for f in dt.fields
            ]
        )
    return dt


# Per-process memo of parquet METADATA (inferred Spark schema + nanos
# column names) keyed by (path, file fingerprint). Metadata only, never
# rows: every read still scans the parquet data through a normal
# FileScan — this skips only the driver-side footer/schema INFERENCE
# that spark.read.parquet repeats on every call (measured ~50-60 ms
# warm per table vs ~9-15 ms with an explicit schema; a bench pass
# reads ~70 tables, r15). The fingerprint (every data file's path,
# size, mtime_ns) invalidates the entry the moment any file changes, so
# rewriting a path with a different schema is seen immediately — the
# same freshness contract as Spark's own session FileStatusCache, but
# stricter (Spark's caches ignore mtime within a session). Remote paths
# (s3://, hdfs://) skip the memo: stat-ing them is not free and the
# fingerprint would race the object store.
_PARQUET_META_MEMO: dict[tuple, tuple] = {}
_PARQUET_META_MEMO_CAP = 256


def _parquet_fingerprint(path: str) -> tuple | None:
    """(file, size, mtime_ns) tuple set for a local parquet path; None
    (memo disabled) for remote paths, empty matches, or stat failures."""
    if "://" in path and not path.startswith("file:"):
        return None
    p = path[len("file:"):] if path.startswith("file:") else path
    try:
        import glob as _glob
        import os as _os

        if any(ch in p for ch in "*?["):
            entries = sorted(_glob.glob(p))
        elif _os.path.isdir(p):
            entries = []
            for root, dirs, names in _os.walk(p):
                dirs.sort()
                entries.extend(
                    _os.path.join(root, x)
                    for x in sorted(names)
                    if not x.startswith(("_", "."))
                )
        else:
            entries = [p]
        fp = tuple(
            (e, st.st_size, st.st_mtime_ns)
            for e in entries
            for st in (_os.stat(e),)
        )
        return fp or None
    except OSError:
        return None


def _nanos_ts_cols(path: str) -> list[str]:
    """Names of columns stored as parquet TIMESTAMP(NANOS). Spark has no
    nanosecond timestamp type and (under nanosAsLong) surfaces them as
    bigint; sources convert those to microsecond timestamps (the same
    floor-truncation DuckDB applies) so every encoding — micros-UTC,
    micros-NTZ, nanos — lands on one uniform TimestampType. Detection
    reads ONE footer (pyarrow), not the data.

    Footer inspection is local-filesystem only. On remote storage
    (s3://, hdfs://, ...) or when inspection fails, detection returns []
    — legacy-nanos columns would then surface as raw bigint — so a
    WARNING is emitted instead of regressing silently (r5 ADVICE): at
    100 TB the caller should either store micros or pass through a path
    pyarrow can open (s3fs/fsspec mounts work)."""
    import warnings as _warnings

    if "://" in path and not path.startswith("file:"):
        _warnings.warn(
            f"parquet nanos-timestamp detection skipped for remote path "
            f"{path!r}: footer inspection is local-only, so any legacy "
            f"TIMESTAMP(NANOS) column will surface as bigint. Store "
            f"microsecond timestamps, or read via a locally-mounted path.",
            stacklevel=3,
        )
        return []
    try:
        import glob as _glob
        import os as _os

        import pyarrow as _pa
        import pyarrow.parquet as _pq

        p = path[len("file:"):] if path.startswith("file:") else path
        if any(ch in p for ch in "*?["):  # glob path: first match decides
            matches = sorted(_glob.glob(p))
            if not matches:
                return []
            p = matches[0]
        if _os.path.isdir(p):
            # walk (handles partitionBy layouts: key=value subdirs)
            found = None
            for root, dirs, names in _os.walk(p):
                dirs.sort()
                cand = sorted(x for x in names if x.endswith(".parquet"))
                if cand:
                    found = _os.path.join(root, cand[0])
                    break
            if not found:
                return []
            p = found
        sch = _pq.read_schema(p)
        return [
            f.name
            for f in sch
            if _pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        ]
    except Exception as exc:  # noqa: BLE001 - detection is best-effort
        _warnings.warn(
            f"parquet nanos-timestamp detection failed for {path!r} "
            f"({type(exc).__name__}: {exc}); any legacy TIMESTAMP(NANOS) "
            f"column will surface as bigint.",
            stacklevel=3,
        )
        return []


def _convert_nanos_cols(df: DataFrame, nanos_cols: Iterable[str]) -> DataFrame:
    """bigint nanos -> microsecond timestamp. Integer div — float
    division would lose precision on int64 nanos (> 2^53). This is a
    projection above the scan, so nanos-column predicates don't push
    down — unavoidable while Spark lacks a nanos type; store micros."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in nanos_cols:
        if types.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns (including NTZ nested inside
    struct/array/map) to TIMESTAMP so every downstream plan sees one
    timestamp type regardless of how the parquet writer flagged
    isAdjustedToUTC. The engine's contract (windows, watermarks, as-of
    joins, oracle comparison) was built on TimestampType.

    UTC REQUIREMENT: the cast reinterprets the NTZ wall clock in the
    SESSION timezone, while the scan-level inferTimestampNTZ=false path
    reads stored micros as UTC instants — the two agree only under
    spark.sql.session.timeZone=UTC (which get_spark pins). A foreign
    non-UTC session that also blocks the inference conf would see
    shifted instants; see the note on :func:`parquet`."""
    out = df
    for f in df.schema.fields:
        new = _swap_ntz_type(f.dataType)
        if new != f.dataType:
            out = out.withColumn(f.name, F.col(f.name).cast(new))
    return out


def parquet(spark: SparkSession, path: str, name: str | None = None, ordered: bool = False) -> Pipeline:
    """Columnar source of choice at 100 TB: predicate pushdown, column
    pruning, partition pruning all reach the scan.

    Timestamp typing: TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet
    is read as TimestampType AT THE SCAN (inferTimestampNTZ=false,
    scoped to this read so a caller's session conf is untouched) — a
    cast above the scan would make every date-range predicate
    unpushable. If the conf is locked down (e.g. Connect policy), the
    fallback is a post-scan `_normalize_ntz` cast, which is value-
    identical only under a UTC session timezone (get_spark pins it;
    foreign sessions should do the same before using NTZ data)."""
    _ensure_nanos_readable(spark)
    fp = _parquet_fingerprint(path)
    memo_key = (path, fp) if fp is not None else None
    cached = _PARQUET_META_MEMO.get(memo_key) if memo_key is not None else None
    if cached is not None:
        schema, nanos_cols = cached
        # explicit schema == the schema inference produced for these
        # exact bytes (fingerprint-checked), so the scan reads values
        # identically — it just skips re-inferring from the footer
        df = spark.read.schema(schema).parquet(path)
    else:
        with _scoped_conf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "false"):
            df = spark.read.parquet(path)
        nanos_cols = _nanos_ts_cols(path)
        if memo_key is not None:
            if len(_PARQUET_META_MEMO) >= _PARQUET_META_MEMO_CAP:
                _PARQUET_META_MEMO.clear()
            _PARQUET_META_MEMO[memo_key] = (df.schema, nanos_cols)
    df = _convert_nanos_cols(df, nanos_cols)
    return Pipeline(
        _normalize_ntz(_maybe_order(df, ordered)),
        name or f"parquet({path})",
    )


def table(spark: SparkSession, sf_dir: str, name: str) -> Pipeline:
    """Convenience: one of the driver testdata tables. All timestamp
    encodings (micros-UTC, micros-NTZ, legacy nanos) arrive as one
    uniform TimestampType — see :func:`parquet`."""
    return parquet(spark, f"{sf_dir}/{name}.parquet", name)


def jdbc(
    spark: SparkSession,
    url: str,
    query: str,
    properties: Mapping[str, str] | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    name: str | None = None,
) -> Pipeline:
    """JDBC source (reference: JdbcSource.groovy:22-66 — single-threaded
    Sql.eachRow). Spark-first: parallel partitioned reads when a numeric
    ``partition_column`` + bounds are given — the difference between one
    connection and ``num_partitions`` concurrent range scans."""
    reader = spark.read.format("jdbc").option("url", url)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    is_bare_table = " " not in query.strip()
    if partition_column is not None:
        # Spark rejects query+partitionColumn together: partitioned reads
        # push per-range WHERE clauses, which need a dbtable target — wrap
        # a full query as a derived table
        target = query if is_bare_table else f"({query}) spark_jdbc_sub"
        reader = (
            reader.option("dbtable", target)
            .option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound)
            .option("upperBound", upper_bound)
        )
    else:
        reader = reader.option("dbtable" if is_bare_table else "query", query)
    return Pipeline(reader.load(), name or "jdbc")


def files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
    name: str | None = None,
) -> Pipeline:
    """Filesystem enumeration (reference: FileSystemSource.groovy:20-99,
    rows {file, stream}) via the binaryFile datasource: rows
    {path, modificationTime, length, content: binary}. Splittable listing,
    lazy content read."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", recursive)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return Pipeline(reader.load(path), name or f"files({path})")


def zip_entries(
    spark: SparkSession,
    path: str,
    name: str | None = None,
) -> Pipeline:
    """Zip-archive entries (reference: ZipSource.groovy:11-39, rows
    {filename, entry, stream}). binaryFile scan + per-file Python zipfile
    expansion in mapInPandas — archives decode in parallel, one task per
    archive file."""
    import pandas as pd

    bin_df = spark.read.format("binaryFile").load(path)

    def _expand(batches):
        import zipfile

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                with zipfile.ZipFile(io.BytesIO(row["content"])) as zf:
                    for entry in zf.namelist():
                        if entry.endswith("/"):
                            continue
                        out.append(
                            {
                                "filename": row["path"],
                                "entry": entry,
                                "content": zf.read(entry),
                            }
                        )
            yield pd.DataFrame(out) if out else pd.DataFrame(
                {"filename": pd.Series(dtype=str), "entry": pd.Series(dtype=str), "content": pd.Series(dtype=object)}
            )

    df = bin_df.select("path", "content").mapInPandas(
        _expand, "filename string, entry string, content binary"
    )
    return Pipeline(df, name or f"zip({path})")


def archive_entries(spark: SparkSession, path: str, name: str | None = None) -> Pipeline:
    """Generic archive source (reference: ArchivedSource.groovy:53-105 —
    commons-compress zip/7z/arj). Python stdlib covers zip + tar; 7z
    requires py7zr which is gated behind an import-try."""
    import pandas as pd

    bin_df = spark.read.format("binaryFile").load(path)

    def _expand(batches):
        import tarfile
        import zipfile

        try:
            import py7zr  # type: ignore
        except ImportError:
            py7zr = None

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                blob = io.BytesIO(row["content"])
                p = row["path"]
                if p.endswith(".zip"):
                    with zipfile.ZipFile(blob) as zf:
                        for entry in zf.namelist():
                            if not entry.endswith("/"):
                                out.append({"filename": p, "entry": entry, "content": zf.read(entry)})
                elif p.endswith((".tar", ".tar.gz", ".tgz", ".tar.bz2")):
                    with tarfile.open(fileobj=blob) as tf:
                        for m in tf.getmembers():
                            if m.isfile():
                                out.append({"filename": p, "entry": m.name, "content": tf.extractfile(m).read()})
                elif p.endswith(".7z") and py7zr is not None:
                    with py7zr.SevenZipFile(blob) as sz:
                        for entry, bio in sz.readall().items():
                            out.append({"filename": p, "entry": entry, "content": bio.read()})
                else:
                    raise NotImplementedError(f"unsupported archive format: {p}")
            yield pd.DataFrame(out) if out else pd.DataFrame(
                {"filename": pd.Series(dtype=str), "entry": pd.Series(dtype=str), "content": pd.Series(dtype=object)}
            )

    df = bin_df.select("path", "content").mapInPandas(
        _expand, "filename string, entry string, content binary"
    )
    return Pipeline(df, name or f"archive({path})")


def http(
    spark: SparkSession,
    url: str,
    headers: Mapping[str, str] | None = None,
    params: Mapping[str, str] | None = None,
    auth: tuple[str, str] | None = None,
    bearer: str | None = None,
    max_retries: int = 5,
    reject_non_200: bool = False,
    name: str | None = None,
    method: str = "GET",
    body: bytes | str | None = None,
) -> Pipeline:
    """HTTP source (reference: OkHttpSource.groovy:44-249): one row
    {url, status, body, json?} with basic/bearer auth, query params, and
    a 429 Retry-After loop capped at MAX_RETRIES=5 (OkHttpSource.groovy:46).
    ``method``/``body`` cover the verb-based HttpSource variant
    (HttpSource.groovy:30-143 — POST/PUT/DELETE with a request body).

    Driver-side fetch (single URL = single row, like the reference). For
    URL *tables*, use :func:`gratum_spark.operators.http.http_fan_out` which
    fetches partition-parallel.
    """
    import time
    import urllib.error
    import urllib.parse
    import urllib.request

    if params:
        url = url + ("&" if "?" in url else "?") + urllib.parse.urlencode(dict(params))
    req_headers = dict(headers or {})
    if auth:
        import base64

        token = base64.b64encode(f"{auth[0]}:{auth[1]}".encode()).decode()
        req_headers["Authorization"] = f"Basic {token}"
    if bearer:
        req_headers["Authorization"] = f"Bearer {bearer}"

    payload = body.encode("utf-8") if isinstance(body, str) else body
    status, body = 0, ""
    for attempt in range(max_retries + 1):
        req = urllib.request.Request(
            url, headers=req_headers, method=method.upper(), data=payload
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                status, body = resp.status, resp.read().decode("utf-8", "replace")
            break
        except urllib.error.HTTPError as e:
            status, body = e.code, e.read().decode("utf-8", "replace")
            if e.code == 429 and attempt < max_retries:
                time.sleep(float(e.headers.get("Retry-After", "1")))
                continue
            break
    row = {"url": url, "status": status, "body": body}
    try:
        row["json"] = _json.dumps(_json.loads(body))
    except (ValueError, TypeError):
        row["json"] = None
    df = spark.createDataFrame([row], "url string, status int, body string, json string")
    p = Pipeline(df, name or f"http({url})")
    if reject_non_200:
        return p.filter(F.col("status") == 200, name="rejectNon200")
    return p


def ssh(
    spark: SparkSession,
    host: str,
    paths: list[str],
    port: int = 22,
    username: str | None = None,
    password: str | None = None,
    key_file: str | None = None,
    name: str | None = None,
) -> Pipeline:
    """SFTP source (reference: SshSource.groovy:51-183 — JSch download,
    rows {host, filename, stream}). Requires paramiko, which is not baked
    into this container — gated behind an import-try; fetched files land
    as {host, filename, content} rows."""
    try:
        import paramiko  # type: ignore
    except ImportError as e:  # pragma: no cover - environment-gated
        raise NotImplementedError(
            "ssh source requires paramiko (not installed in this environment)"
        ) from e
    rows = []
    with paramiko.SSHClient() as client:  # pragma: no cover - needs live server
        client.set_missing_host_key_policy(paramiko.AutoAddPolicy())
        client.connect(host, port=port, username=username, password=password, key_filename=key_file)
        sftp = client.open_sftp()
        for p in paths:
            with sftp.open(p, "rb") as f:
                rows.append({"host": host, "filename": p, "content": f.read()})
    df = spark.createDataFrame(rows, "host string, filename string, content binary")
    return Pipeline(df, name or f"ssh({host})")


def xlsx(
    spark: SparkSession,
    path: str,
    sheet: str | int = 0,
    password: str | None = None,
    name: str | None = None,
    ordered: bool = True,
) -> Pipeline:
    """XLS(X) source (reference: XlsxSource.groovy:31-252, XlsSource.groovy:
    13-91). pandas/openpyxl on the driver (spreadsheets are small by
    nature); decryption via msoffcrypto-tool when available — both gated
    behind import-try since the libs aren't baked into this container."""
    try:
        import pandas as pd
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError("xlsx source requires pandas") from e
    if isinstance(path, str) and path.lower().endswith(".xls"):
        # legacy HSSF workbooks (reference: XlsSource.groovy:13-91) go
        # through pandas' xlrd engine, which is a separate package
        try:
            import xlrd  # type: ignore  # noqa: F401
        except ImportError as e:  # pragma: no cover - environment-gated
            raise NotImplementedError(
                "legacy .xls source requires xlrd (not installed in this environment)"
            ) from e
    handle: Any = path
    if password is not None:
        try:
            import msoffcrypto  # type: ignore
        except ImportError as e:  # pragma: no cover - environment-gated
            raise NotImplementedError("encrypted xlsx requires msoffcrypto-tool") from e
        decrypted = io.BytesIO()
        with open(path, "rb") as f:
            office = msoffcrypto.OfficeFile(f)
            office.load_key(password=password)
            office.decrypt(decrypted)
        decrypted.seek(0)
        handle = decrypted
    try:
        pdf = pd.read_excel(handle, sheet_name=sheet)
    except ImportError as e:  # pragma: no cover - openpyxl missing
        raise NotImplementedError("xlsx source requires openpyxl") from e
    pdf.columns = [str(c) for c in pdf.columns]
    df = spark.createDataFrame(pdf)
    return Pipeline(_maybe_order(df, ordered), name or f"xlsx({path})")


def concat(*pipelines: Pipeline) -> Pipeline:
    """Source-level union of N sources (reference: ConcatSource.groovy:5-33)."""
    assert pipelines, "concat needs at least one pipeline"
    df = _reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [p.df for p in pipelines],
    )
    # each input's reject accounting joins the union's (same df: no new segment)
    return Pipeline(df, "concat")._next(df, absorb=pipelines)
