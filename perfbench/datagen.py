"""Seeded input generators for the benchmark workloads.

The same seed gives the same bytes. Each generator plants every value the
reference depends on, so it also returns what the program must produce.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Row counts per unit of scale factor, as in the catalog's testdata
# (sf0.1 has 600k lineitem rows and 5000 documents).
ROWS_PER_SF = {
    "customer": 150_000,
    "part": 200_000,
    "supplier": 10_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}
TABLES = ["region", "nation", "customer", "orders", "lineitem", "events", "documents"]

_EPOCH = np.datetime64("1970-01-01", "D")
_ORDER_DAYS = (
    int((np.datetime64("1995-01-01", "D") - _EPOCH).astype(int)),
    int((np.datetime64("2001-08-01", "D") - _EPOCH).astype(int)),
)
_EVENTS_T0_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
_US_PER_DAY = 86_400 * 1_000_000


def _rows(name: str, sf: float) -> int:
    return max(10, int(ROWS_PER_SF[name] * sf))


def _ts_us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64), pa.int64()).cast(pa.timestamp("us"))


def catalog_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the catalog tables the benchmark queries read, as one parquet
    file each, with the testdata schemas."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord = _rows("customer", sf), _rows("orders", sf)
    n_line, n_ev, n_doc = _rows("lineitem", sf), _rows("events", sf), _rows("documents", sf)

    order_day = rng.integers(*_ORDER_DAYS, size=n_ord)
    l_orderkey = rng.integers(0, n_ord, size=n_line)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _ts_us(order_day * _US_PER_DAY),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": l_orderkey,
            "l_partkey": rng.integers(0, _rows("part", sf), n_line),
            "l_suppkey": rng.integers(0, _rows("supplier", sf), n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts_us(
                (order_day[l_orderkey] + rng.integers(1, 96, n_line)) * _US_PER_DAY
            ),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts_us(_EVENTS_T0_US + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))),
            "user_id": rng.integers(0, max(10, n_ev // 67), n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(25.0, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, n_doc),
    }
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word texts; 5% of documents are another document's text
    plus the word "dup", the near-duplicates the dedup queries find."""
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    dups = rng.choice(n, size=max(1, n // 20), replace=False)
    originals = rng.choice(np.setdiff1d(np.arange(n), dups), size=len(dups))
    for d, o in zip(dups, originals):
        texts[d] = texts[o] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


# ----------------------------------------------------------------- etl_csv

ETL_COLUMNS = ["id", "name", "qty", "price", "day", "status"]
ETL_DATE_FORMATS = ("yyyy-MM-dd", "MM/dd/yyyy")
ETL_STATUSES_KEPT = ["A", "B", "C"]
# Reject steps in pipeline order, named as LoadStatistic names them.
ETL_STEPS = [
    ("INVALID_FORMAT", "asInt(qty)"),
    ("INVALID_FORMAT", "asDouble(price)"),
    ("INVALID_FORMAT", "asDate(day)"),
    ("IGNORE_ROW", "status"),
    ("REJECTION", "total"),
    ("IGNORE_ROW", "unique(id)"),
]
_BAD_INTS = ["1.5", "12x", "abc", "--3"]
_BAD_DOUBLES = ["n/a", "1,5", "12..5", "$3"]
_BAD_DATES = ["not a date", "2024-13-45", "31/31/2024", "yesterday"]
_PAD = ["", "", "", " ", "  ", "\t"]


def total_step(row: dict) -> dict | None:
    """The workload's add_step closure: price the row, reject qty 0."""
    if row["qty"] == 0:
        return None
    row["total"] = float(row["qty"]) * float(row["price"])
    return row


def row_digest(id_: str, name: str, qty: int, price: float, day: str, status: str,
               total: float) -> int:
    """64-bit hash of one output row's values, the summand of the
    order-free checksum of the written CSV."""
    key = repr((id_, name, qty, price, day, status, total)).encode()
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")


def etl_csv(path: str, seed: int, rows: int) -> dict:
    """Write a dirty CSV of ``rows`` data rows plus planted duplicates.

    Planted defects: padded fields (trimmed, not rejected), unparsable
    ints, doubles and dates, a status outside the kept set, qty 0 (the
    closure rejects it) and exact copies of earlier rows (``unique``
    rejects them). Returns the expected ``loaded`` count, rejections by
    category and step, and the checksum of the rows the sink must write.
    """
    rng = np.random.default_rng(seed)
    base_day = dt.date(2015, 1, 1)
    lines = []
    fates = []  # index into ETL_STEPS of the step that rejects, or None
    kept_sum = 0

    def pad(s: str) -> str:
        return str(rng.choice(_PAD)) + s + str(rng.choice(_PAD))

    for i in range(rows):
        name = " ".join(rng.choice(WORDS, 2))
        qty = int(rng.integers(0, 50))
        price = int(rng.integers(1, 100_000)) / 100
        day = base_day + dt.timedelta(days=int(rng.integers(0, 3650)))
        status = str(rng.choice(["A", "B", "C", "X"], p=[0.35, 0.3, 0.3, 0.05]))
        qty_s, price_s = str(qty), f"{price:.2f}"
        day_s = day.isoformat() if rng.random() < 0.7 else day.strftime("%m/%d/%Y")
        fate = None
        defect = rng.random()
        if defect < 0.02:
            qty_s, fate = str(rng.choice(_BAD_INTS)), 0
        elif defect < 0.04:
            price_s, fate = str(rng.choice(_BAD_DOUBLES)), 1
        elif defect < 0.06:
            day_s, fate = str(rng.choice(_BAD_DATES)), 2
        elif status not in ETL_STATUSES_KEPT:
            fate = 3
        elif qty == 0:
            fate = 4
        lines.append([str(i), pad(name), pad(qty_s), pad(price_s), day_s, status])
        fates.append(fate)
        if fate is None:
            kept_sum += row_digest(str(i), name, qty, price, day.isoformat(), status,
                                   float(qty) * price)
    # exact copies of earlier rows, inserted after their originals: a copy
    # meets the same fate as its original up to unique(), which rejects it
    n_dups = rows // 33
    for src in sorted(rng.choice(rows, size=n_dups, replace=False), reverse=True):
        at = int(rng.integers(src + 1, len(lines) + 1))
        lines.insert(at, list(lines[src]))
        fate = fates[src]
        fates.insert(at, 5 if fate is None else fate)
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(ETL_COLUMNS)
        w.writerows(lines)
    rejections: dict[str, dict[str, int]] = {}
    for fate in fates:
        if fate is not None:
            cat, step = ETL_STEPS[fate]
            rejections.setdefault(cat, {}).setdefault(step, 0)
            rejections[cat][step] += 1
    return {
        "loaded": sum(f is None for f in fates),
        "rejections": rejections,
        "checksum": kept_sum % 2**64,
    }


def written_csv_checksum(out_dir: str) -> tuple[int, int]:
    """Rows and order-free checksum of the CSV part files a save wrote."""
    total, n = 0, 0
    for name in sorted(os.listdir(out_dir)):
        if not (name.startswith("part-") and name.endswith(".csv")):
            continue
        with open(os.path.join(out_dir, name), newline="") as f:
            r = csv.reader(f)
            header = next(r, None)
            if header is None:
                continue
            col = {c: i for i, c in enumerate(header)}
            for v in r:
                total += row_digest(
                    v[col["id"]], v[col["name"]], int(v[col["qty"]]),
                    float(v[col["price"]]), v[col["day"]][:10], v[col["status"]],
                    float(v[col["total"]]),
                )
                n += 1
    return n, total % 2**64
