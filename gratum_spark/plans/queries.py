"""Query catalog: every implemented operator exercised end-to-end, each
with a DuckDB oracle where SQL-expressible.

Each entry: name -> (spark_builder, oracle_sql | None). The builder
takes (spark, sf_dir) and returns a DataFrame built THROUGH the engine
API (Pipeline / operators.*) — these double as integration tests of the
public surface, the driver's correctness gate, and the bench workload.

Float determinism strategy (so value-hashes match DuckDB exactly):
  * money sums: CAST to DECIMAL(18,2) before SUM, result CAST back to
    DOUBLE — decimal addition is exact and order-independent, and both
    engines produce the identical nearest-double at the end;
  * dot products / norms: elementwise double products CAST to
    DECIMAL(38,12), summed exactly (see functions.dot_decimal);
  * plain double arithmetic (a*b, a/b) without reductions is IEEE-
    deterministic and needs no special handling.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup, joins, multimodal, similarity, text
from ..pipeline import Pipeline, fan_scan, materialize
from ..sources import table

# Money-sum helper: exact, order-independent, engine-portable.
# Scale 8 (not 2): at scale 2 the cents boundary lands exactly on the
# .xx5 halves that 2dp×2dp products produce, where Spark (shortest-repr
# + HALF_UP) and other engines (binary-value rounding) disagree; at
# scale 8 the cast is lossless for such inputs so every engine agrees.
def dsum(col) -> F.Column:  # type: ignore[name-defined]
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(30,8)")).cast("double")


DSUM = "CAST(SUM(CAST({0} AS DECIMAL(30,8))) AS DOUBLE)"


def T(spark: SparkSession, sf: str, name: str) -> Pipeline:
    return table(spark, sf, name)


# Pin-before-global-sort (r15, guide §2.4/§5): a final orderBy compiles
# to a range exchange whose partitioner SAMPLES its child by executing
# it, so everything between the last shuffle and the sort runs TWICE
# (and, measured, the duplicated tail segment also loses AQE's
# post-shuffle stats). For queries whose tail is an expensive
# non-shuffle segment (window interpolation, array-rebuild projections,
# LSH verify joins) a lazy materialize() of the RESULT rows right
# before the sort computes them once — sampler and sort then both read
# the materialized blocks.
# Measured at sf0.1: dedup_span_rewrite 2.3→0.5 s, dedup_ngram
# 1.6→0.25 s, incremental cross-LSH 2.1→0.2 s (identical rows). At
# scale the trade is storing one result-sized intermediate vs
# recomputing the whole tail; result tables here are the small end of
# the plan. Queries whose sort input is already a shuffle boundary
# (plain groupBy tails) don't pay the double-compute and are left
# unpinned.


# --------------------------------------------------------------------------
# TPC-H-ish analytics
# --------------------------------------------------------------------------

def q1_pricing_summary(spark, sf) -> DataFrame:
    """Pricing summary: filter + group_by.agg (sums/avgs/counts)."""
    # fan_scan (pipeline.py, the engine's one fan-out policy) at the
    # source: heavy exact-decimal partial aggregation sits directly on
    # the scan. The shipdate filter still pushes down to the parquet
    # scan (Catalyst moves predicates below a Repartition; asserted in
    # test_q1_filter_pushdown_survives_fan_scan).
    return (
        Pipeline(fan_scan(T(spark, sf, "lineitem").df), "lineitem")
        .filter("l_shipdate <= timestamp'1998-09-01 00:00:00'")
        .group_by("l_returnflag", "l_linestatus")
        .agg(
            sum_qty=F.sum("l_quantity"),
            sum_base_price=dsum("l_extendedprice"),
            sum_disc_price=dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            avg_qty=F.sum("l_quantity") / F.count("*"),
            count_order=F.count("*"),
        )
        .sort("l_returnflag", "l_linestatus")
        .df
    )


ORACLE_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       SUM(l_quantity) AS sum_qty,
       {DSUM.format('l_extendedprice')} AS sum_base_price,
       {DSUM.format('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       SUM(l_quantity) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_top_orders(spark, sf) -> DataFrame:
    """Shipping priority: 3-way join + agg + sort + limit."""
    cust = T(spark, sf, "customer").filter({"c_mktsegment": "BUILDING"})
    orders = T(spark, sf, "orders").filter("o_orderdate < timestamp'1998-01-01'")
    li = T(spark, sf, "lineitem").filter("l_shipdate > timestamp'1997-01-01'")
    return (
        li.join(orders, on={"l_orderkey": "o_orderkey"}, broadcast=False)
        .join(cust, on={"o_custkey": "c_custkey"}, broadcast=False)
        .group_by("l_orderkey")
        .agg(revenue=dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .sort(("revenue", "desc"), "l_orderkey")
        .limit(10)
        .df
    )


ORACLE_Q3 = f"""
SELECT l_orderkey, {DSUM.format('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_region_revenue(spark, sf) -> DataFrame:
    """Region revenue: 4-way join with broadcast dimensions + agg."""
    nation = T(spark, sf, "nation")
    region = T(spark, sf, "region").filter({"r_name": "ASIA"})
    cust = T(spark, sf, "customer")
    orders = T(spark, sf, "orders").filter(
        "o_orderdate >= timestamp'1996-01-01' AND o_orderdate < timestamp'1997-01-01'"
    )
    li = T(spark, sf, "lineitem")
    return (
        li.join(orders, on={"l_orderkey": "o_orderkey"}, broadcast=False)
        .join(cust, on={"o_custkey": "c_custkey"}, broadcast=False)
        .join(nation, on={"c_nationkey": "n_nationkey"})
        .join(region, on={"n_regionkey": "r_regionkey"})
        .group_by("n_name")
        .agg(revenue=dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .sort(("revenue", "desc"), "n_name")
        .df
    )


ORACLE_Q5 = f"""
SELECT n_name, {DSUM.format('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# Reference operator queries (gratum §2 parity)
# --------------------------------------------------------------------------

def op_filter_map(spark, sf) -> DataFrame:
    """filter(Map): IN-collection + equality conjunction."""
    return (
        T(spark, sf, "orders")
        .filter({"o_orderstatus": ["O", "F"], "o_orderpriority": "1-URGENT"})
        .group_by("o_orderstatus")
        .agg(n=F.count("*"), total=dsum("o_totalprice"))
        .sort("o_orderstatus")
        .df
    )


ORACLE_FILTER_MAP = f"""
SELECT o_orderstatus, COUNT(*) AS n, {DSUM.format('o_totalprice')} AS total
FROM orders
WHERE o_orderstatus IN ('O','F') AND o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def op_filter_regex(spark, sf) -> DataFrame:
    """filter(Map) regex form (Pattern => rlike find semantics).

    r6: pattern changed from 'BRASS' (matched nothing in the synthetic
    p_type domain {ECONOMY..PROMO} -> a 0-row result that hash-matches
    any empty oracle) to '^(ST|ME)' which selects STANDARD+MEDIUM, so
    the driver row actually exercises the regex path."""
    import re

    return (
        T(spark, sf, "part")
        .filter({"p_type": re.compile("^(ST|ME)")})
        .group_by("p_brand")
        .agg(n=F.count("*"))
        .sort("p_brand")
        .df
    )


ORACLE_FILTER_REGEX = """
SELECT p_brand, COUNT(*) AS n FROM part
WHERE regexp_matches(p_type, '^(ST|ME)')
GROUP BY p_brand ORDER BY p_brand
"""


def op_join_left(spark, sf) -> DataFrame:
    """left join with null-filled right side (Pipeline.groovy:407-415)."""
    cust = T(spark, sf, "customer")
    orders = T(spark, sf, "orders")
    return (
        cust.join(orders, on={"c_custkey": "o_custkey"}, left=True, broadcast=False)
        .group_by("c_custkey")
        .agg(n_orders=F.count("o_orderkey"))
        .group_by("n_orders")
        .agg(n_customers=F.count("*"))
        .sort("n_orders")
        .df
    )


ORACLE_JOIN_LEFT = """
SELECT n_orders, COUNT(*) AS n_customers FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY n_orders ORDER BY n_orders
"""


def op_join_inner_reject(spark, sf) -> DataFrame:
    """inner join: unmatched-left rows are REJECTED (IGNORE_ROW), matched
    rows multiply per right-side multiplicity (Pipeline.groovy:385-427)."""
    li = T(spark, sf, "lineitem").filter("l_quantity >= 49")
    orders = T(spark, sf, "orders").filter({"o_orderstatus": "F"})
    return (
        li.join(orders, on={"l_orderkey": "o_orderkey"}, broadcast=False)
        .group_by("o_orderpriority")
        .agg(n=F.count("*"))
        .sort("o_orderpriority")
        .df
    )


ORACLE_JOIN_INNER = """
SELECT o_orderpriority, COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_quantity >= 49 AND o_orderstatus = 'F'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def op_intersect_flag(spark, sf) -> DataFrame:
    """intersect: adds `included` flag, filters nothing (reference quirk,
    Pipeline.groovy:488-505)."""
    cust = T(spark, sf, "customer")
    orders = T(spark, sf, "orders")
    return (
        cust.intersect(orders, on={"c_custkey": "o_custkey"})
        .group_by("included")
        .agg(n=F.count("*"))
        .sort("included")
        .df
    )


ORACLE_INTERSECT = """
SELECT EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS included,
       COUNT(*) AS n
FROM customer GROUP BY 1 ORDER BY 1
"""


def op_anti_join(spark, sf) -> DataFrame:
    """anti-join via intersect+filter: customers with no URGENT orders.

    r6: the synthetic data gives every customer >=1 order, so the old
    unfiltered form returned 0 rows (vacuous hash match). Filtering the
    right side to 1-URGENT leaves ~2% of customers unmatched (203 at
    sf0.01) so the anti path is actually exercised."""
    cust = T(spark, sf, "customer")
    urgent = T(spark, sf, "orders").filter({"o_orderpriority": "1-URGENT"})
    return (
        cust.intersect(urgent, on={"c_custkey": "o_custkey"})
        .filter({"included": False})
        .clip("c_custkey")
        .sort("c_custkey")
        .df
    )


ORACLE_ANTI = """
SELECT c_custkey FROM customer
WHERE NOT EXISTS(SELECT 1 FROM orders
                 WHERE o_custkey = c_custkey
                   AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
"""


def op_concat(spark, sf) -> DataFrame:
    """concat: union keeping own columns, null-filling gaps
    (Pipeline.groovy:208-220)."""
    cust = (
        T(spark, sf, "customer")
        .clip("c_name", "c_acctbal")
        .rename_fields({"c_name": "name", "c_acctbal": "balance"})
        .set_field("kind", "customer")
    )
    supp = (
        T(spark, sf, "supplier")
        .clip("s_name")
        .rename_fields({"s_name": "name"})
        .set_field("kind", "supplier")
    )
    return (
        cust.concat(supp)
        .group_by("kind")
        .agg(n=F.count("*"), n_balance=F.count("balance"))
        .sort("kind")
        .df
    )


ORACLE_CONCAT = """
SELECT kind, COUNT(*) AS n, COUNT(balance) AS n_balance FROM (
  SELECT c_name AS name, c_acctbal AS balance, 'customer' AS kind FROM customer
  UNION ALL
  SELECT s_name, NULL, 'supplier' FROM supplier
) GROUP BY kind ORDER BY kind
"""


def op_unique(spark, sf) -> DataFrame:
    """unique: first occurrence per key kept, dups rejected
    (Pipeline.groovy:985-995). Output = the deterministic key set."""
    return (
        T(spark, sf, "lineitem", )
        .unique("l_orderkey")
        .clip("l_orderkey")
        .sort("l_orderkey")
        .df
    )


ORACLE_UNIQUE = "SELECT DISTINCT l_orderkey FROM lineitem ORDER BY l_orderkey"


def op_sort_limit(spark, sf) -> DataFrame:
    """sort desc + limit with deterministic tiebreak."""
    return (
        T(spark, sf, "orders")
        .sort(("o_totalprice", "desc"), "o_orderkey")
        .limit(20)
        .clip("o_orderkey", "o_totalprice")
        .df
    )


ORACLE_SORT_LIMIT = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


def op_column_ops(spark, sf) -> DataFrame:
    """clip + rename_fields + add_field + set_field + trim composition."""
    return (
        T(spark, sf, "part")
        .clip("p_partkey", "p_name", "p_retailprice")
        .rename_fields({"p_retailprice": "price"})
        .add_field("markup", (F.col("price") * 1.1).cast("decimal(18,2)").cast("double"))
        .add_field("padded", F.concat(F.lit("  "), F.col("p_name"), F.lit("  ")))
        .trim()
        .add_field("name_len", F.length("padded").cast("long"))
        .set_field("currency", "USD")
        .clip("p_partkey", "price", "markup", "name_len", "currency")
        .sort("p_partkey")
        .df
    )


ORACLE_COLUMN_OPS = """
SELECT p_partkey, p_retailprice AS price,
       CAST(CAST(p_retailprice * 1.1 AS DECIMAL(18,2)) AS DOUBLE) AS markup,
       CAST(length(p_name) AS BIGINT) AS name_len,
       'USD' AS currency
FROM part ORDER BY p_partkey
"""


def op_replace(spark, sf) -> DataFrame:
    """replace_values + replace_all + as_int composition."""
    return (
        T(spark, sf, "orders")
        .replace_values(
            "o_orderpriority", {"1-URGENT": "1-U", "2-HIGH": "2-H"}
        )
        .replace_all("o_orderpriority", "^([0-9]).*$", "$1")
        .as_int("o_orderpriority")
        .group_by("o_orderpriority")
        .agg(n=F.count("*"))
        .sort("o_orderpriority")
        .df
    )


ORACLE_REPLACE = r"""
SELECT CAST(regexp_replace(
         CASE o_orderpriority WHEN '1-URGENT' THEN '1-U' WHEN '2-HIGH' THEN '2-H'
              ELSE o_orderpriority END,
         '^([0-9]).*$', '\1') AS BIGINT) AS o_orderpriority,
       COUNT(*) AS n
FROM orders GROUP BY 1 ORDER BY 1
"""


def op_coerce(spark, sf) -> DataFrame:
    """as_int + as_double + as_boolean coercions with reject semantics."""
    return (
        T(spark, sf, "events")
        .add_field("k", F.regexp_extract(F.col("props"), '"k": (\\d+)', 1))
        .as_int("k")
        .add_field("value_str", F.col("value").cast("string"))
        .as_double("value_str")
        .add_field("big", F.when(F.col("value") > 5, "Y").otherwise("no"))
        .as_boolean("big")
        .group_by("event_type", "big")
        .agg(
            n=F.count("*"),
            sum_k=F.sum("k"),
            sum_v=dsum("value_str"),
        )
        .sort("event_type", "big")
        .df
    )


ORACLE_COERCE = f"""
SELECT event_type, value > 5 AS big, COUNT(*) AS n,
       CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       {DSUM.format('value')} AS sum_v
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def op_as_date(spark, sf) -> DataFrame:
    """as_date with multi-format first-wins parsing."""
    return (
        T(spark, sf, "orders")
        .add_field("ds", F.date_format("o_orderdate", "yyyy/MM/dd"))
        .as_date("ds", "yyyy-MM-dd", "yyyy/MM/dd")
        .add_field("yr", F.year("ds").cast("long"))
        .group_by("yr")
        .agg(n=F.count("*"))
        .sort("yr")
        .df
    )


ORACLE_AS_DATE = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, COUNT(*) AS n
FROM orders GROUP BY 1 ORDER BY 1
"""


def op_defaults(spark, sf) -> DataFrame:
    """remove_field(conditional) + default_values + defaults_by."""
    return (
        T(spark, sf, "customer")
        .add_field("seg2", F.col("c_mktsegment"))
        .remove_field("seg2", condition="c_mktsegment = 'BUILDING'")
        .add_field("seg3", F.lit(None).cast("string"))
        .defaults_by({"seg3": "seg2"})
        .default_values({"seg2": "UNKNOWN"})
        .group_by("seg2")
        .agg(n=F.count("*"), n_seg3=F.count("seg3"))
        .sort("seg2")
        .df
    )


ORACLE_DEFAULTS = """
SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 'UNKNOWN' ELSE c_mktsegment END AS seg2,
       COUNT(*) AS n,
       COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN NULL ELSE c_mktsegment END) AS n_seg3
FROM customer GROUP BY 1 ORDER BY 1
"""


def op_fill_down(spark, sf) -> DataFrame:
    """fill_down_by: carry last non-null value forward within key groups
    (Pipeline.groovy:437-455)."""
    return (
        T(spark, sf, "events")
        .add_field("v", F.when(F.col("value") > 5, F.col("value")))
        .clip("event_id", "user_id", "ts", "v")
        .fill_down_by(["user_id"], order_by="ts")
        .clip("event_id", "v")
        .sort("event_id")
        .df
    )


ORACLE_FILL_DOWN = """
SELECT event_id,
       last_value(CASE WHEN value > 5 THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
FROM events ORDER BY event_id
"""


def op_flatten_window(spark, sf) -> DataFrame:
    """flatten_window semantics distributed: consecutive same-value runs
    per user (lag + change-flag + sum — the scalable form of
    Pipeline.groovy:1284-1313)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    events = T(spark, sf, "events").df
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    return (
        events.withColumn("chg", chg)
        .groupBy("user_id")
        .agg(F.sum("chg").alias("n_runs"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


ORACLE_FLATTEN = """
SELECT user_id, CAST(SUM(chg) AS BIGINT) AS n_runs, COUNT(*) AS n_events FROM (
  SELECT user_id,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
) GROUP BY user_id ORDER BY user_id
"""


def op_sessionize(spark, sf) -> DataFrame:
    """Session windows by 30-minute inactivity gap (beyond-reference;
    Structured-Streaming-compatible shape)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    events = T(spark, sf, "events").df
    gap = F.unix_millis(F.col("ts")) - F.lag(F.unix_millis(F.col("ts"))).over(w)
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1000), 1).otherwise(0)
    return (
        events.withColumn("ns", new_sess)
        .groupBy("user_id")
        .agg(F.sum("ns").alias("n_sessions"))
        .orderBy("user_id")
    )


ORACLE_SESSIONIZE = """
SELECT user_id, CAST(SUM(ns) AS BIGINT) AS n_sessions FROM (
  SELECT user_id,
         CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                   > 30*60*1000
              THEN 1 ELSE 0 END AS ns
  FROM events
) GROUP BY user_id ORDER BY user_id
"""


def op_tumbling_window(spark, sf) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch form of the streaming
    operator — same F.window plan works under readStream)."""
    events = T(spark, sf, "events").df
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("hour", "event_type")
    )


ORACLE_TUMBLING = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
       COUNT(*) AS n, {DSUM.format('value')} AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def op_window_rank(spark, sf) -> DataFrame:
    """Window functions (beyond-reference): top-3 orders per customer."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        T(spark, sf, "orders")
        .add_field("rnk", F.row_number().over(w).cast("long"))
        .filter("rnk <= 3")
        .clip("o_custkey", "o_orderkey", "rnk")
        .sort("o_custkey", "rnk")
        .df
    )


ORACLE_WINDOW_RANK = """
SELECT o_custkey, o_orderkey, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
) WHERE rnk <= 3 ORDER BY o_custkey, rnk
"""


def op_lag_lead(spark, sf) -> DataFrame:
    """lag/lead window functions (beyond-reference): per-user previous and
    next event type."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        T(spark, sf, "events")
        .add_field("prev_type", F.lag("event_type").over(w))
        .add_field("next_type", F.lead("event_type").over(w))
        .clip("event_id", "prev_type", "next_type")
        .sort("event_id")
        .df
    )


ORACLE_LAG_LEAD = """
SELECT event_id,
       lag(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
       lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
FROM events ORDER BY event_id
"""


def op_moving_avg(spark, sf) -> DataFrame:
    """Moving aggregate over a row frame (beyond-reference): trailing
    3-row sum of value per user. Decimal-summed for engine portability."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        T(spark, sf, "events")
        .add_field(
            "trailing_sum",
            F.sum(F.col("value").cast("decimal(30,8)")).over(w).cast("double"),
        )
        .clip("event_id", "trailing_sum")
        .sort("event_id")
        .df
    )


ORACLE_MOVING_AVG = """
SELECT event_id,
       CAST(SUM(CAST(value AS DECIMAL(30,8)))
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_sum
FROM events ORDER BY event_id
"""


def op_semi_join(spark, sf) -> DataFrame:
    """Left-semi join (beyond-reference: reference needs intersect+filter):
    customers with at least one open order."""
    cust = T(spark, sf, "customer").df
    open_orders = T(spark, sf, "orders").filter({"o_orderstatus": "O"}).df
    return (
        cust.join(open_orders, cust.c_custkey == open_orders.o_custkey, "leftsemi")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


ORACLE_SEMI = """
SELECT c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
ORDER BY c_custkey
"""


def op_filter_closure(spark, sf) -> DataFrame:
    """filter(Closure): whole-row Python predicate through the pandas-UDF
    path, checked against the equivalent SQL predicate."""
    return (
        T(spark, sf, "supplier")
        .filter(
            lambda r: r["s_acctbal"] > 2000.0 and r["s_nationkey"] % 2 == 0,
            name="closure",
        )
        .clip("s_suppkey")
        .sort("s_suppkey")
        .df
    )


ORACLE_FILTER_CLOSURE = """
SELECT s_suppkey FROM supplier
WHERE s_acctbal > 2000.0 AND s_nationkey % 2 = 0
ORDER BY s_suppkey
"""


def op_flat_map(spark, sf) -> DataFrame:
    """flat_map (UDTF surface): one row per order-priority word via a
    Python generator, checked against SQL unnest."""
    return (
        T(spark, sf, "orders")
        .clip("o_orderkey", "o_orderpriority")
        .flat_map(
            lambda r: (
                {"o_orderkey": r["o_orderkey"], "word": w, "pos": i}
                for i, w in enumerate(r["o_orderpriority"].split("-"))
            ),
            "o_orderkey long, word string, pos int",
        )
        .add_field("pos", F.col("pos").cast("long"))
        .sort("o_orderkey", "pos")
        .df
    )


ORACLE_FLAT_MAP = """
SELECT o_orderkey, w.word, CAST(w.pos - 1 AS BIGINT) AS pos
FROM orders,
     LATERAL (SELECT unnest(string_split(o_orderpriority, '-')) AS word,
                     generate_subscripts(string_split(o_orderpriority, '-'), 1) AS pos) w
ORDER BY o_orderkey, pos
"""


def op_add_step(spark, sf) -> DataFrame:
    """Generic add_step row closure — gratum's primary extension point
    (reference Pipeline.groovy:138-144): mutate the row (lowercased
    segment), reject negative balances by returning None. Schema of the
    added field is inferred from the sampled row."""

    def normalize(row):
        if row["c_acctbal"] < 0:
            return None
        return {**row, "segment_lc": row["c_mktsegment"].lower()}

    return (
        T(spark, sf, "customer")
        .add_step("normalize", normalize)
        .clip("c_custkey", "segment_lc")
        .sort("c_custkey")
        .df
    )


ORACLE_ADD_STEP = """
SELECT c_custkey, lower(c_mktsegment) AS segment_lc
FROM customer WHERE c_acctbal >= 0
ORDER BY c_custkey
"""


def op_sliding_window(spark, sf) -> DataFrame:
    """Sliding (hopping) window aggregation: 2-hour windows every hour —
    each event lands in exactly two hops."""
    from ..streaming import sliding_agg

    events = T(spark, sf, "events").df
    out = sliding_agg(events, "2 hours", "1 hour", n=F.count("*"))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH").alias("hop"),
        "event_type",
        "n",
    ).orderBy("hop", "event_type")


ORACLE_SLIDING = """
SELECT strftime(hs, '%Y-%m-%d %H') AS hop, event_type, COUNT(*) AS n
FROM (
  SELECT unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS hs,
         event_type
  FROM events
)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def op_udaf_pandas(spark, sf) -> DataFrame:
    """UDAF surface: per-group custom aggregation via
    group_by().apply_in_pandas (gratum reduce-closure analogue,
    distributed per group), checked against plain SQL aggregates."""
    import pandas as pd

    def seg_stats(pdf: pd.DataFrame) -> pd.DataFrame:
        bal = sorted(float(x) for x in pdf["c_acctbal"])
        n = len(bal)
        mid = (bal[(n - 1) // 2] + bal[n // 2]) / 2.0
        return pd.DataFrame(
            {"c_mktsegment": [pdf["c_mktsegment"].iloc[0]], "n": [n], "median_bal": [mid]}
        )

    return (
        T(spark, sf, "customer")
        .group_by("c_mktsegment")
        .apply_in_pandas(seg_stats, "c_mktsegment string, n long, median_bal double")
        .sort("c_mktsegment")
        .df
    )


ORACLE_UDAF = """
SELECT c_mktsegment, COUNT(*) AS n,
       median(c_acctbal) AS median_bal
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def op_rollup(spark, sf) -> DataFrame:
    """ROLLUP aggregation (beyond-reference capability)."""
    cust = T(spark, sf, "customer")
    nation = T(spark, sf, "nation")
    region = T(spark, sf, "region")
    joined = (
        cust.join(nation, on={"c_nationkey": "n_nationkey"})
        .join(region, on={"n_regionkey": "r_regionkey"})
        .df
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n"), dsum("c_acctbal").alias("balance"))
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


ORACLE_ROLLUP = f"""
SELECT r_name, n_name, COUNT(*) AS n, {DSUM.format('c_acctbal')} AS balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
"""


def op_cube(spark, sf) -> DataFrame:
    """CUBE aggregation (beyond-reference capability)."""
    return (
        T(spark, sf, "orders")
        .df.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ORACLE_CUBE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def op_count_distinct(spark, sf) -> DataFrame:
    """Exact distinct aggregate (beyond-reference)."""
    return (
        T(spark, sf, "orders")
        .group_by("o_orderstatus")
        .agg(n_cust=F.countDistinct("o_custkey"))
        .sort("o_orderstatus")
        .df
    )


ORACLE_COUNT_DISTINCT = """
SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust
FROM orders GROUP BY 1 ORDER BY 1
"""


def op_approx_distinct(spark, sf) -> DataFrame:
    """HLL approximate distinct (beyond-reference). Raw estimator values
    are engine-specific, so the checkable form emits the exact count plus
    a within-5% accuracy flag — the oracle computes the same exact count
    with the flag literally TRUE."""
    return (
        T(spark, sf, "orders")
        .group_by("o_orderstatus")
        .agg(
            n_cust=F.countDistinct("o_custkey"),
            approx_cust=F.approx_count_distinct("o_custkey", rsd=0.02),
        )
        .add_field(
            "approx_ok",
            F.abs(F.col("approx_cust") - F.col("n_cust"))
            <= 0.05 * F.col("n_cust"),
        )
        .remove_field("approx_cust")
        .sort("o_orderstatus")
        .df
    )


ORACLE_APPROX_DISTINCT = """
SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, TRUE AS approx_ok
FROM orders GROUP BY 1 ORDER BY 1
"""


def op_group_rows(spark, sf) -> DataFrame:
    """group_by().rows()-style grouped collection, made deterministic by
    sorting and joining to a string."""
    return (
        T(spark, sf, "documents")
        .group_by("lang")
        .agg(
            sources=F.concat_ws(",", F.array_sort(F.collect_set("source"))),
            n=F.count("*"),
        )
        .sort("lang")
        .df
    )


ORACLE_GROUP_ROWS = """
SELECT lang, array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
       COUNT(*) AS n
FROM documents GROUP BY lang ORDER BY lang
"""


def op_reduce(spark, sf) -> DataFrame:
    """reduce: fold the whole table into one aggregate row."""
    return (
        T(spark, sf, "lineitem")
        .reduce(
            n=F.count("*"),
            sum_qty=F.sum("l_quantity"),
            sum_price=dsum("l_extendedprice"),
            min_order=F.min("l_orderkey"),
            max_order=F.max("l_orderkey"),
        )
        .df
    )


ORACLE_REDUCE = f"""
SELECT COUNT(*) AS n, SUM(l_quantity) AS sum_qty,
       {DSUM.format('l_extendedprice')} AS sum_price,
       MIN(l_orderkey) AS min_order, MAX(l_orderkey) AS max_order
FROM lineitem
"""


def op_inject(spark, sf) -> DataFrame:
    """inject/explode: one row per word position (UDTF surface,
    Pipeline.groovy:1005-1027) — top 5 words by frequency."""
    docs = T(spark, sf, "documents")
    return (
        docs.add_field("word", F.split(F.col("text"), " "))
        .inject("word")
        .group_by("word")
        .agg(n=F.count("*"))
        .sort(("n", "desc"), "word")
        .limit(5)
        .df
    )


ORACLE_INJECT = """
SELECT word, COUNT(*) AS n FROM (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
) GROUP BY word ORDER BY n DESC, word LIMIT 5
"""


def op_asof_join(spark, sf) -> DataFrame:
    """As-of join (beyond-reference): each purchase event gets the value
    of the user's most recent at-or-before click. One shuffle on the key
    (union + window carry-forward), no per-row range probe — see
    operators.joins.asof_join."""
    ev = T(spark, sf, "events").df
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    # one row per (user, ts) so as-of ties are deterministic
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    j = joins.asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["click_value"],
    )
    return j.select("event_id", "click_value").orderBy("event_id")


ORACLE_ASOF = """
SELECT l.event_id, r.click_value
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (
  SELECT user_id, ts, MAX(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
) r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def op_range_join(spark, sf) -> DataFrame:
    """Range/band join (beyond-reference): lineitem quantities against a
    broadcast band table (non-equi BroadcastNestedLoopJoin — big side
    never shuffles; see operators.joins.range_join)."""
    li = T(spark, sf, "lineitem").df.select("l_quantity", "l_extendedprice")
    bands = spark.createDataFrame(
        [("low", 0, 10), ("mid", 10, 25), ("high", 25, 100)],
        "band string, lo int, hi int",
    )
    j = joins.range_join(
        li, bands,
        [F.col("l_quantity") >= F.col("lo"), F.col("l_quantity") < F.col("hi")],
    )
    return (
        j.groupBy("band")
        # final ROUND(...,2): at ~1e10 the sum's double ULP is ~2e-6 and
        # DuckDB's int128-decimal->double cast can land one ULP off
        # Spark's; the exact sum is whole cents (2dp inputs), so rounding
        # to cents is tie-free and ULP-stable on both engines
        .agg(F.count("*").alias("n"), F.round(dsum("l_extendedprice"), 2).alias("revenue"))
        .orderBy("band")
    )


ORACLE_RANGE_JOIN = f"""
SELECT band, COUNT(*) AS n, ROUND({DSUM.format('l_extendedprice')}, 2) AS revenue
FROM lineitem
JOIN (VALUES ('low', 0, 10), ('mid', 10, 25), ('high', 25, 100)) b(band, lo, hi)
  ON l_quantity >= lo AND l_quantity < hi
GROUP BY band ORDER BY band
"""


def op_grouping_sets(spark, sf) -> DataFrame:
    """GROUPING SETS (beyond-reference): single-scan multi-grouping via
    the native expand operator — not a union of re-scans."""
    li = T(spark, sf, "lineitem").df
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag", "l_linestatus",
        )
        .agg(F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_GROUPING_SETS = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       {DSUM.format('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY l_returnflag, l_linestatus
"""


def stream_tumbling_counts(spark, sf) -> DataFrame:
    """Tumbling window agg EXECUTED AS A STREAM: readStream over the
    events parquet, availableNow trigger drained to a memory sink —
    proves the same logical plan runs under Structured Streaming with a
    watermark, and that its result equals the batch/DuckDB answer."""
    from .. import streaming

    sdf = streaming.read_event_stream(spark, f"{sf}/events.parquet")
    agg = streaming.tumbling_agg(
        sdf, "1 hour", keys=("event_type",), ts_col="ts", watermark="2 hours"
    )
    # state here is (event_type × open hourly windows) — bounded by
    # construction at ANY input scale, so the stateful shuffle is sized
    # to the state (8), not to the session's batch shuffle width: with
    # AQE unavailable under Structured Streaming, each extra partition
    # is one near-empty state store + commit per micro-batch. Unbounded-
    # key stream queries (users, event ids) deliberately stay on the
    # session conf.
    out = streaming.run_available_now(agg, "q_stream_tumbling", state_partitions=8)
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH").alias("hour"),
        "event_type",
        "n",
    ).orderBy("hour", "event_type")


ORACLE_STREAM_TUMBLING = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, event_type,
       COUNT(*) AS n
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def stream_dedup_keys(spark, sf) -> DataFrame:
    """Exact dedup EXECUTED AS A STREAM (streaming.stream_dedup →
    dropDuplicates under availableNow): first event per (event_type,
    user_id) survives; projecting the keys makes the result
    deterministic and oracle-comparable (= SELECT DISTINCT). The
    bounded-state dropDuplicatesWithinWatermark regime is covered in
    tests/test_streaming.py (watermark semantics aren't SQL-expressible)."""
    from .. import streaming

    sdf = streaming.read_event_stream(spark, f"{sf}/events.parquet")
    deduped = streaming.stream_dedup(sdf, ["event_type", "user_id"])
    out = streaming.run_available_now(
        deduped.select("event_type", "user_id"),
        "q_stream_dedup_keys",
        output_mode="append",
    )
    return out.orderBy("event_type", "user_id")


ORACLE_STREAM_DEDUP_KEYS = """
SELECT DISTINCT event_type, user_id FROM events ORDER BY event_type, user_id
"""


def stream_stateful_counter(spark, sf) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running event counter drained with availableNow. The final
    counter per key must equal the batch COUNT(*) regardless of how the
    input split into micro-batches (hence max over emitted updates)."""
    from .. import streaming

    sdf = streaming.read_event_stream(spark, f"{sf}/events.parquet")
    counted = streaming.stateful_counter(sdf, key="user_id")
    out = streaming.run_available_now(
        counted, "q_stream_stateful", output_mode="update"
    )
    return (
        out.groupBy("user_id")
        .agg(F.max("total_seen").alias("total_seen"))
        .orderBy("user_id")
    )


ORACLE_STREAM_STATEFUL = """
SELECT user_id, COUNT(*) AS total_seen FROM events
GROUP BY user_id ORDER BY user_id
"""


def stream_interval_join(spark, sf) -> DataFrame:
    """Stream-stream interval join EXECUTED AS A STREAM
    (streaming.stream_interval_join): every view paired with the same
    user's clicks landing within the following hour — the attribution
    join. Both stream sides are watermarked and the join condition
    bounds event time on both inputs, so join state is evicted at the
    watermark horizon instead of growing with the stream (the property
    that makes a continuous 100 TB/day attribution join runnable).
    availableNow-drained; equals the batch/DuckDB interval join."""
    from .. import streaming

    sdf = streaming.read_event_stream(spark, f"{sf}/events.parquet")
    views = sdf.filter(F.col("event_type") == "view")
    clicks = sdf.filter(F.col("event_type") == "click")
    joined = streaming.stream_interval_join(
        views, clicks, key="user_id", within="1 hour", watermark="2 hours"
    )
    out = streaming.run_available_now(
        joined.select(
            F.col("l_user_id").alias("user_id"),
            F.col("l_event_id").alias("view_id"),
            F.col("r_event_id").alias("click_id"),
            F.col("l_ts").alias("view_ts"),
            F.col("r_ts").alias("click_ts"),
        ),
        "q_stream_interval_join",
        "append",
    )
    return out.select(
        "user_id",
        "view_id",
        "click_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("view_ts"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
    ).orderBy("user_id", "view_id", "click_id")


ORACLE_STREAM_INTERVAL_JOIN = """
SELECT v.user_id,
       v.event_id AS view_id,
       c.event_id AS click_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts
 AND c.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view' AND c.event_type = 'click'
ORDER BY 1, 2, 3
"""


def stream_dedup_counts(spark, sf) -> DataFrame:
    """Streaming dedup (dropDuplicatesWithinWatermark): duplicate
    event_ids are dropped while their watermark window is open — the
    state-bounded streaming analogue of exact dedup. Events are then
    counted per type and checked against a DISTINCT oracle."""
    from .. import streaming

    sdf = streaming.read_event_stream(spark, f"{sf}/events.parquet")
    deduped = streaming.stream_dedup(
        sdf, ["event_id"], watermark="2 hours", within_watermark=True
    )
    out = streaming.run_available_now(
        deduped.select("event_id", "event_type"), "q_stream_dedup", "append"
    )
    return (
        out.groupBy("event_type").agg(F.count("*").alias("n")).orderBy("event_type")
    )


ORACLE_STREAM_DEDUP = """
SELECT event_type, COUNT(DISTINCT event_id) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


def op_reject_accounting(spark, sf) -> DataFrame:
    """The rejection CHANNEL itself, driver-checked: a filter step
    (IGNORE_ROW) and a failed coercion (INVALID_FORMAT) both tag the
    rows they reject; the query returns ``go()``'s per-(category, step)
    counts, which come from the accounting plan's tag column — SURVEY
    §3.3's one-pass design. Runs that one aggregate job while it builds
    the (driver-side) result."""
    p = (
        T(spark, sf, "documents")
        .filter("n_chars >= 120", name="min-chars")
        .add_field(
            "maybe_num",
            F.when(F.col("doc_id") % 3 == 0, F.col("doc_id").cast("string"))
            .when(F.col("doc_id") % 5 == 0, F.lit(None).cast("string"))
            .otherwise(F.split(F.col("text"), " ")[0]),
        )
        .as_int("maybe_num")
    )
    counts = [
        (category, step, n)
        for category, by_step in p.go().rejections.items()
        for step, n in by_step.items()
    ]
    return spark.createDataFrame(
        counts, "rejectionCategory string, rejectionStep string, n long"
    ).orderBy("rejectionCategory")


ORACLE_REJECT_ACCOUNTING = """
WITH base AS (
  SELECT doc_id, n_chars,
         CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR)
              WHEN doc_id % 5 = 0 THEN NULL
              ELSE string_split(text, ' ')[1] END AS maybe_num
  FROM documents
)
SELECT * FROM (
  SELECT 'IGNORE_ROW' AS "rejectionCategory", 'min-chars' AS "rejectionStep",
         COUNT(*) AS n
  FROM base WHERE NOT (n_chars >= 120) HAVING COUNT(*) > 0
  UNION ALL
  SELECT 'INVALID_FORMAT', 'asInt(maybe_num)', COUNT(*)
  FROM base WHERE n_chars >= 120 AND maybe_num IS NOT NULL
    AND trim(maybe_num) != '' AND TRY_CAST(maybe_num AS BIGINT) IS NULL
  HAVING COUNT(*) > 0
) ORDER BY "rejectionCategory"
"""


def stream_session_counts(spark, sf) -> DataFrame:
    """Session windows EXECUTED AS A STREAM (F.session_window + water-
    mark, availableNow): per-user session count + event count. The
    oracle is the classic gap-islands rewrite — new session iff the gap
    from the previous event is >= 30 min (session_window merges while
    next.ts < prev_end, i.e. strictly-less-than the gap)."""
    from .. import streaming

    sdf = streaming.read_event_stream(spark, f"{sf}/events.parquet")
    agg = streaming.session_agg(
        sdf, gap="30 minutes", keys=("user_id",), watermark="2 hours"
    )
    out = streaming.run_available_now(agg, "q_stream_session")
    return (
        out.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n").alias("n_events"))
        .orderBy("user_id")
    )


ORACLE_STREAM_SESSION = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM g GROUP BY user_id ORDER BY user_id
"""


def op_exchange(spark, sf) -> DataFrame:
    """exchange (gratum Pipeline.groovy:1039-1053): each region row births
    a new per-row plan (here: nations of that region), results unioned."""
    nation = T(spark, sf, "nation").df

    def nations_of(row: dict) -> DataFrame:
        return nation.filter(F.col("n_regionkey") == row["r_regionkey"]).select(
            "n_nationkey", "n_name", F.lit(row["r_name"]).alias("r_name")
        )

    return T(spark, sf, "region").exchange(nations_of).sort("n_nationkey").df


ORACLE_EXCHANGE = """
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
ORDER BY n_nationkey
"""


def op_pivot(spark, sf) -> DataFrame:
    """PIVOT (beyond-reference): return-flag columns per linestatus.
    Explicit value list so Spark skips the distinct-values pre-scan."""
    li = T(spark, sf, "lineitem").df
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum("l_quantity"))
        .orderBy("l_linestatus")
    )


ORACLE_PIVOT = f"""
SELECT l_linestatus,
       {DSUM.format("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS A,
       {DSUM.format("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS N,
       {DSUM.format("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS R
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""


def op_unpivot(spark, sf) -> DataFrame:
    """UNPIVOT / melt (beyond-reference): wide part columns to long
    (metric, value) rows — single scan, no union of re-scans."""
    part = T(spark, sf, "part").df
    return (
        part.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice").alias("p_retailprice"),
        )
        .unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")
        .orderBy("p_partkey", "metric")
    )


ORACLE_UNPIVOT = """
SELECT p_partkey, metric, value FROM (
  SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
  UNION ALL
  SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
) ORDER BY p_partkey, metric
"""


def op_percentiles(spark, sf) -> DataFrame:
    """Exact percentiles (beyond-reference): median/quartiles per group.
    Exact `percentile` (sort-based), not percentile_approx — quantities
    are small integers so linear interpolation is bit-deterministic."""
    li = T(spark, sf, "lineitem").df
    q = F.percentile("l_quantity", F.lit([0.25, 0.5, 0.75]))
    return (
        li.groupBy("l_returnflag")
        .agg(
            q[0].alias("q25"), q[1].alias("q50"), q[2].alias("q75"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_PERCENTILES = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.50) AS q50,
       quantile_cont(l_quantity, 0.75) AS q75,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def op_corr_exact(spark, sf) -> DataFrame:
    """Pearson correlation per group via exact decimal component sums
    (beyond-reference). Built-in corr() accumulates doubles in partition
    order — not reproducible across engines; the decimal-sum formula is."""
    li = fan_scan(T(spark, sf, "lineitem").df)
    n = F.count("*").cast("double")
    sx = dsum("l_quantity")
    sy = dsum("l_extendedprice")
    sxy = dsum(F.col("l_quantity") * F.col("l_extendedprice"))
    sxx = dsum(F.col("l_quantity") * F.col("l_quantity"))
    syy = dsum(F.col("l_extendedprice") * F.col("l_extendedprice"))
    r = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    # The component sums are exact, but the final double expression can
    # differ from another engine's in the last bit — round well inside
    # that error (1e-9 vs ~1e-16) so hashes match.
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(r, 9).alias("corr_qty_price"))
        .orderBy("l_returnflag")
    )


ORACLE_CORR = f"""
SELECT l_returnflag,
       ROUND((CAST(COUNT(*) AS DOUBLE) * {DSUM.format('l_quantity * l_extendedprice')}
         - {DSUM.format('l_quantity')} * {DSUM.format('l_extendedprice')})
       / SQRT((CAST(COUNT(*) AS DOUBLE) * {DSUM.format('l_quantity * l_quantity')}
               - {DSUM.format('l_quantity')} * {DSUM.format('l_quantity')})
            * (CAST(COUNT(*) AS DOUBLE) * {DSUM.format('l_extendedprice * l_extendedprice')}
               - {DSUM.format('l_extendedprice')} * {DSUM.format('l_extendedprice')})), 9)
       AS corr_qty_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def op_histogram(spark, sf) -> DataFrame:
    """Equi-width histogram (beyond-reference): single-scan bucket
    groupBy; floor(x/width) is IEEE-deterministic so buckets are
    engine-portable."""
    li = T(spark, sf, "lineitem").df
    bucket = F.floor(F.col("l_extendedprice") / F.lit(10000.0)).cast("long")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n"), dsum("l_extendedprice").alias("total"))
        .orderBy("bucket")
    )


ORACLE_HISTOGRAM = f"""
SELECT CAST(FLOOR(l_extendedprice / 10000.0) AS BIGINT) AS bucket,
       COUNT(*) AS n, {DSUM.format('l_extendedprice')} AS total
FROM lineitem GROUP BY bucket ORDER BY bucket
"""


# --------------------------------------------------------------------------
# Training-data pipeline operators (dedup / similarity / text / multimodal)
# --------------------------------------------------------------------------

def dedup_exact(spark, sf) -> DataFrame:
    """Exact dedup on text: deterministic winner (min doc_id) per text."""
    docs = T(spark, sf, "documents").df
    kept = dedup.exact_dedup(docs, ["text"], "doc_id")
    return kept.select("doc_id").orderBy("doc_id")


ORACLE_DEDUP_EXACT = """
SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY doc_id
"""


def dedup_ngram(spark, sf) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (inverted-index join)."""
    docs = T(spark, sf, "documents").df
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", k=3, threshold=0.12,
    )
    return materialize(pairs).orderBy("a", "b")


ORACLE_DEDUP_NGRAM = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  -- scalar generate_series returns a LIST; unnest it in a subquery
  -- (DuckDB's table-function form can't take a lateral column arg)
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
-- stop-shingle guard mirrors ngram_jaccard_pairs: shingles in more than
-- max(100, n_docs/100) docs are excluded from the common count (sizes are
-- computed before the guard, matching the Spark plan)
keep AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING COUNT(*) <= greatest(100, (SELECT COUNT(*) FROM documents) // 100)
),
shf AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
common AS (
  SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS common
  FROM shf s1 JOIN shf s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
  GROUP BY 1, 2
)
SELECT a, b,
       CAST(common AS DOUBLE) / CAST(na.n + nb.n - common AS DOUBLE) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = a
JOIN sizes nb ON nb.doc_id = b
WHERE CAST(common AS DOUBLE) / CAST(na.n + nb.n - common AS DOUBLE) >= 0.12
ORDER BY a, b
"""


def dedup_minhash(spark, sf) -> DataFrame:
    """MinHash+LSH candidate pairs (no oracle: xxhash64-based signatures
    are engine-specific; correctness is covered by the estimate-vs-exact
    test in tests/test_dedup.py)."""
    docs = T(spark, sf, "documents").df
    return materialize(
        dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n_hashes=64, bands=16, threshold=0.10,
        )
    ).orderBy("a", "b")


def dedup_simhash(spark, sf) -> DataFrame:
    """SimHash near-dup pairs (no oracle: hash-specific)."""
    docs = T(spark, sf, "documents").df
    return dedup.simhash_pairs(
        docs, "doc_id", "text", max_hamming=16,
    ).orderBy("a", "b")


def _planted_clone_corpus(docs, id_col="doc_id", payload_col="text"):
    """(corpus-with-clones, planted-pairs) for the structural LSH
    checks: every id % 10 == 0 is re-inserted verbatim under
    id + 1000000, so each planted pair is an EXACT duplicate. Identical
    texts produce identical MinHash signatures (hence collide in every
    band) and identical SimHash values (hamming 0) no matter which hash
    functions the engine uses — which turns a hash-specific candidate
    set into an oracle-expressible superset invariant. Works for any
    (id, payload) pair — the embedding variant plants identical
    vectors the same way.

    Guards (ADVICE r7): clone ids must not collide with real ids, so
    the max corpus id is asserted < 1000000 (testdata tops out at
    doc_id 4999 / vec_id 1999; a larger sf would need a derived
    offset), and NULL payloads are excluded on BOTH sides — a NULL
    text/vector hashes to nothing, which would silently drop the pair
    and fail the oracle for a data reason, not an engine reason. The
    shared oracles carry the same ``IS NOT NULL`` filter."""
    base = docs.select(id_col, payload_col).filter(F.col(payload_col).isNotNull())
    max_id = base.agg(F.max(id_col)).collect()[0][0]
    assert max_id is not None and max_id < 1000000, (
        f"planted-clone offset collides with real ids (max {id_col}={max_id})"
    )
    clones = base.filter(F.col(id_col) % 10 == 0).select(
        (F.col(id_col) + 1000000).alias(id_col), payload_col
    )
    planted = base.filter(F.col(id_col) % 10 == 0).select(
        F.col(id_col).alias("a"), (F.col(id_col) + 1000000).alias("b")
    )
    return base.unionByName(clones), planted


def _planted_found_flags(planted, cand_pairs):
    """Shared tail of the planted-superset checks: left-join the planted
    pair list against the candidate (a, b) set and emit a boolean
    ``found`` per pair — ONE place defines the column contract the
    shared ORACLE_PLANTED_PAIRS oracle checks."""
    # dropDuplicates makes the (a, b)-unique contract self-enforcing
    # (ADVICE r7): today every caller's candidate set is already
    # distinct, but a future operator emitting duplicate pairs would
    # otherwise fan out the planted rows and fail the row-count oracle
    # with a confusing diff instead of a clean found=false
    cand = cand_pairs.select("a", "b").dropDuplicates(["a", "b"]).select(
        "a", "b", F.lit(True).alias("f")
    )
    return (
        planted.join(cand, on=["a", "b"], how="left")
        .select("a", "b", F.coalesce(F.col("f"), F.lit(False)).alias("found"))
        .orderBy("a")
    )


def dedup_minhash_planted(spark, sf) -> DataFrame:
    """Structural MinHash-LSH check (r6 verdict task 4): the candidate
    set must CONTAIN every planted exact-duplicate pair — identical
    texts agree on all 64 min-hashes, so they meet in all 16 bands with
    estimated Jaccard 1.0 regardless of the hash family, making `found`
    deterministically true and SQL-expressible. (The full hash-specific
    candidate set stays un-oracled in dedup_minhash.)"""
    docs = T(spark, sf, "documents").df
    corpus, planted = _planted_clone_corpus(docs)
    cand = dedup.minhash_lsh_pairs(
        corpus, "doc_id", "text", n_hashes=64, bands=16, threshold=0.10,
    )
    return _planted_found_flags(planted, cand)


def dedup_simhash_planted(spark, sf) -> DataFrame:
    """Structural SimHash check (r6 verdict task 4): planted exact
    duplicates simhash to the same 64-bit value (hamming 0), so every
    planted pair must appear in the candidate set — engine-independent,
    hence oracle-expressible, unlike the full candidate list in
    dedup_simhash."""
    docs = T(spark, sf, "documents").df
    corpus, planted = _planted_clone_corpus(docs)
    cand = dedup.simhash_pairs(
        corpus, "doc_id", "text", max_hamming=16,
    )
    return _planted_found_flags(planted, cand)


ORACLE_PLANTED_PAIRS = """
SELECT doc_id AS a, doc_id + 1000000 AS b, TRUE AS found
FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL ORDER BY a
"""


def dedup_embedding_planted(spark, sf) -> DataFrame:
    """Structural embedding-LSH check (r7 verdict task 2, mirroring the
    minhash/simhash planted pattern): every vec_id % 10 == 0 embedding
    is re-inserted verbatim under id + 1000000, and the candidate set
    from embedding_cosine_pairs must CONTAIN every planted pair —
    identical vectors produce identical sign bits against every
    hyperplane, so they share a bucket in ALL n_tables tables no matter
    which Gaussian planes the engine drew, and their exact cosine is
    1.0 >= threshold, so the verify stage cannot drop them. Engine-
    independent, hence SQL-expressible; the full hash-specific
    candidate set stays un-oracled in dedup_embedding."""
    emb = T(spark, sf, "embeddings").df
    corpus, planted = _planted_clone_corpus(emb, "vec_id", "embedding")
    cand = dedup.embedding_cosine_pairs(
        corpus, "vec_id", "embedding", threshold=0.5, n_planes=6, n_tables=16
    )
    return _planted_found_flags(planted, cand)


ORACLE_EMB_PLANTED_PAIRS = """
SELECT vec_id AS a, vec_id + 1000000 AS b, TRUE AS found
FROM embeddings WHERE vec_id % 10 = 0 AND embedding IS NOT NULL ORDER BY a
"""


def ann_ivf_planted(spark, sf) -> DataFrame:
    """Structural partial-probe IVF check (r7 verdict task 2): a query
    vector that IS a corpus vector must return itself at rank 1 from
    the probe. Structural, not data-dependent: ivf_topk ranks lists by
    the SAME inner-product metric _assign uses to build them (see the
    metric-consistency note in operators/similarity.py), so the
    query's own list is the #1 probed list — up to a last-ulp gemv/gemm
    rounding difference on near-tied centroids, absorbed here by
    probing 3 of the 8 lists — the query vector is a candidate, and
    cosine(v, v) = 1.0 is the maximum, hence rank 1 under the
    (cosine desc, id asc) tie-break. Covers the one IVF path with no
    driver row (single-query ivf_topk at n_probe < n_lists; the
    full-probe paths are value-checked in ann_ivf_full_probe /
    ann_recall_exact)."""
    from functools import reduce as _reduce

    emb = materialize(T(spark, sf, "embeddings").df, eager=True)
    assignments, centroids = similarity.ivf_build(emb, n_lists=8, n_iters=2)
    qrows = (
        emb.filter(F.col("vec_id") < 4)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    outs = []
    for r in qrows:
        top1 = similarity.ivf_topk(
            emb, assignments, centroids,
            [float(x) for x in r["embedding"]], k=1, n_probe=3,
        )
        outs.append(
            top1.select(
                F.lit(r["vec_id"]).cast("long").alias("query_id"),
                F.col("vec_id").cast("long").alias("top1"),
                F.round("cosine", 6).alias("cosine"),
            )
        )
    return _reduce(lambda a, b: a.unionByName(b), outs).orderBy("query_id")


ORACLE_ANN_IVF_PLANTED = """
SELECT vec_id AS query_id, vec_id AS top1, CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id < 4 ORDER BY query_id
"""


def dedup_embedding(spark, sf) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed (no oracle:
    bucketing is hash-specific; exact-cosine path is oracle-checked in
    ann_topk)."""
    emb = T(spark, sf, "embeddings").df
    return materialize(
        dedup.embedding_cosine_pairs(
            emb, "vec_id", "embedding", threshold=0.5, n_planes=6, n_tables=16
        )
    ).orderBy("a", "b")


def op_salted_join(spark, sf) -> DataFrame:
    """Skew-resistant salted join (operators/joins.py salted_join) —
    results are salt-independent, so the plain-join oracle verifies the
    skew-mitigation plan end-to-end."""
    o = T(spark, sf, "orders").df.select("o_custkey", "o_totalprice")
    c = (
        T(spark, sf, "customer").df
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    )
    j = joins.salted_join(o, c, on="o_custkey", n_salts=8)
    return (
        j.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"), F.round(dsum("o_totalprice"), 2).alias("total"))
        .orderBy("c_mktsegment")
    )


ORACLE_SALTED_JOIN = f"""
SELECT c_mktsegment, COUNT(*) AS n, ROUND({DSUM.format('o_totalprice')}, 2) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def _skewed_join_left(spark, sf):
    """Deliberately hub-skewed join input (r7 verdict task 4): lineitem
    replicated 4× with HALF of all rows remapped onto custkey 1 and the
    other half spread over custkeys 2..101 — one key holds 50% of a
    ~2.4M-row (sf0.1) left side, the pathological shape salting exists
    for. Deterministic (keys derive from l_orderkey), so the same SQL
    oracle covers both the plain and the salted variant."""
    li = T(spark, sf, "lineitem").df
    return (
        li.select("l_orderkey", "l_extendedprice")
        .withColumn("_rep", F.explode(F.array(*[F.lit(i) for i in range(4)])))
        .select(
            F.when(F.col("l_orderkey") % 2 == 0, F.lit(1))
            .otherwise(F.col("l_orderkey") % 100 + 2)
            .cast("long")
            .alias("k"),
            "l_extendedprice",
        )
    )


def _skew_result(joined) -> DataFrame:
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(dsum("l_extendedprice"), 2).alias("total"),
        )
        .orderBy("c_mktsegment")
    )


def op_skew_join_plain(spark, sf) -> DataFrame:
    """Skew-stress baseline: the hub-skewed join WITHOUT salting. The
    `merge` hint pins a sort-merge join because at bench scale AQE
    would broadcast the (tiny) customer side and hide the skew the
    stress exists to measure — at 100 TB both sides are shuffle-joined
    and the hot key's partition is a real straggler. At sf0.1 the hot
    partition (~1.2M rows) sits BELOW AQE's 256 MB skew-split
    threshold, so this variant honestly shows the single-task
    straggler; at production scale AQE's split would engage and the
    two variants converge (spark.sql.adaptive.skewJoin is on in
    session.py)."""
    left = _skewed_join_left(spark, sf)
    cust = T(spark, sf, "customer").df.select(
        F.col("c_custkey").cast("long").alias("k"), "c_mktsegment"
    )
    return _skew_result(left.hint("merge").join(cust, on="k"))


def op_skew_join_salted(spark, sf) -> DataFrame:
    """Skew-stress mitigation: the SAME hub-skewed join through
    salted_join (operators/joins.py) — the hot key spreads over 16
    shards, so no reducer sees more than ~1/16 of the hot rows. The
    result is salt-independent, so the shared oracle proves the
    mitigation end-to-end; bench compares this time against
    op_skew_join_plain (SCALE_TREND.md records the pair)."""
    left = _skewed_join_left(spark, sf)
    cust = T(spark, sf, "customer").df.select(
        F.col("c_custkey").cast("long").alias("k"), "c_mktsegment"
    )
    return _skew_result(joins.salted_join(left.hint("merge"), cust, on="k", n_salts=16))


ORACLE_SKEW_JOIN = f"""
WITH lrep AS (
  SELECT l_orderkey, l_extendedprice FROM lineitem CROSS JOIN generate_series(1, 4)
),
sk AS (
  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE l_orderkey % 100 + 2 END AS k,
         l_extendedprice
  FROM lrep
)
SELECT c_mktsegment, COUNT(*) AS n,
       ROUND({DSUM.format('l_extendedprice')}, 2) AS total
FROM sk JOIN customer ON k = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def op_set_ops(spark, sf) -> DataFrame:
    """True multiset set operators (beyond-reference — gratum has no
    except/intersect set semantics, SURVEY §2.5): EXCEPT ALL and
    INTERSECT ALL between customer-key multisets, summarized as
    (count, key-sum) per op for a stable compare."""
    o = T(spark, sf, "orders").df
    a = o.filter("o_orderpriority IN ('1-URGENT', '2-HIGH')").select("o_custkey")
    b = o.filter("o_orderstatus = 'O'").select("o_custkey")
    ex = a.exceptAll(b).withColumn("op", F.lit("except_all"))
    it = a.intersectAll(b).withColumn("op", F.lit("intersect_all"))
    return (
        ex.unionAll(it)
        .groupBy("op")
        .agg(F.count("*").alias("n"), F.sum("o_custkey").alias("key_sum"))
        .orderBy("op")
    )


ORACLE_SET_OPS = """
WITH a AS (SELECT o_custkey FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
b AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
u AS (
  SELECT 'except_all' AS op, o_custkey FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
  UNION ALL
  SELECT 'intersect_all' AS op, o_custkey FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
)
SELECT op, COUNT(*) AS n, CAST(SUM(o_custkey) AS BIGINT) AS key_sum FROM u GROUP BY op ORDER BY op
"""


def emb_quantize(spark, sf) -> DataFrame:
    """Int8 embedding quantization (operators/similarity.py
    quantize_embeddings) — codes joined to a string for a portable
    value compare."""
    emb = T(spark, sf, "embeddings").df
    q = similarity.quantize_embeddings(emb, "vec_id", "embedding")
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.concat_ws(",", F.col("q")).alias("q_str"),
    ).orderBy("vec_id")


ORACLE_EMB_QUANTIZE = """
WITH s AS (
  SELECT vec_id, embedding,
         CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
              THEN 1.0
              ELSE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
         END AS scale
  FROM embeddings
)
SELECT vec_id, ROUND(scale, 9) AS scale,
       array_to_string(list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INT)), ',') AS q_str
FROM s ORDER BY vec_id
"""


def dedup_minhash_verified(spark, sf) -> DataFrame:
    """LSH candidates + exact-Jaccard verification (the production
    near-dup shape, operators/dedup.py minhash_verified_pairs). Exact
    verification makes the hash-based candidate plan oracle-checkable:
    at these thresholds banded-LSH recall is ~1, so the output equals
    the full exact enumeration."""
    docs = T(spark, sf, "documents").df
    pairs = dedup.minhash_verified_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.5,
    )
    return materialize(pairs).orderBy("a", "b")


def dedup_incremental(spark, sf) -> DataFrame:
    """Incremental (new-batch vs corpus) verified near-dup pairs
    (operators/dedup.py minhash_verified_pairs_cross): every 10th doc
    plays today's crawl batch, the rest the existing corpus. Banding is
    threshold-derived so the verified output equals the exact cross
    enumeration the oracle computes."""
    docs = T(spark, sf, "documents").df
    new_batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return materialize(
        dedup.minhash_verified_pairs_cross(
            new_batch, corpus, "doc_id", "text", threshold=0.5,
        )
    ).orderBy("new_id", "corpus_id")


ORACLE_DEDUP_INCREMENTAL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT s1.doc_id AS new_id, s2.doc_id AS corpus_id, COUNT(*) AS common
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle
  WHERE s1.doc_id % 10 = 0 AND s2.doc_id % 10 <> 0
  GROUP BY 1, 2
)
SELECT new_id, corpus_id,
       CAST(common AS DOUBLE) / CAST(na.n + nb.n - common AS DOUBLE) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = new_id
JOIN sizes nb ON nb.doc_id = corpus_id
WHERE CAST(common AS DOUBLE) / CAST(na.n + nb.n - common AS DOUBLE) >= 0.5
ORDER BY new_id, corpus_id
"""


def text_model_score(spark, sf) -> DataFrame:
    """Model-scored quality filtering (operators/inference.py
    score_documents): fake-model scores through the real batch-inference
    plumbing (worker-cached loader, Arrow batches), keep score >= 0.5.
    The fake's arithmetic is SQL-replicable, so the oracle checks the
    entire mapInPandas path."""
    from gratum_spark.operators.inference import score_documents

    docs = T(spark, sf, "documents").df
    scored = score_documents(docs, "doc_id", "text")
    return (
        scored.filter(F.col("score") >= 0.5)
        .select("doc_id", F.round("score", 6).alias("score"), "n_tokens")
        .orderBy("doc_id")
    )


ORACLE_MODEL_SCORE = """
WITH s AS (
  SELECT doc_id,
         ((length(text) % 97) + (len(string_split(text, ' ')) % 13))
           / 110.0 AS score,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, round(score, 6) AS score, n_tokens
FROM s WHERE score >= 0.5 ORDER BY doc_id
"""


def corpus_novel_docs(spark, sf) -> DataFrame:
    """Doc-level incremental curation keep-set (operators/dedup.py
    corpus_novel): the new-batch docs (every 10th) that do NOT
    near-duplicate the existing corpus at verified Jaccard >= 0.5."""
    docs = T(spark, sf, "documents").df
    new_batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return materialize(
        dedup.corpus_novel(
            new_batch, corpus, "doc_id", "text", threshold=0.5,
        ).select("doc_id", "lang", "source", "n_chars")
    ).orderBy("doc_id")


ORACLE_CORPUS_NOVEL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
matched AS (
  SELECT DISTINCT s1.doc_id AS new_id
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle
  JOIN sizes na ON na.doc_id = s1.doc_id
  JOIN sizes nb ON nb.doc_id = s2.doc_id
  WHERE s1.doc_id % 10 = 0 AND s2.doc_id % 10 <> 0
  GROUP BY s1.doc_id, s2.doc_id, na.n, nb.n
  HAVING CAST(COUNT(*) AS DOUBLE)
         / CAST(na.n + nb.n - COUNT(*) AS DOUBLE) >= 0.5
)
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT new_id FROM matched)
ORDER BY doc_id
"""


ORACLE_MINHASH_VERIFIED = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS common
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
  GROUP BY 1, 2
)
SELECT a, b,
       CAST(common AS DOUBLE) / CAST(na.n + nb.n - common AS DOUBLE) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = a
JOIN sizes nb ON nb.doc_id = b
WHERE CAST(common AS DOUBLE) / CAST(na.n + nb.n - common AS DOUBLE) >= 0.5
ORDER BY a, b
"""


def op_json_extract(spark, sf) -> DataFrame:
    """JSON column extraction (events.props) + aggregation — the
    semi-structured path stays entirely JVM-side (get_json_object)."""
    events = T(spark, sf, "events").df
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_JSON_EXTRACT = """
SELECT event_type,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def op_hash_split(spark, sf) -> DataFrame:
    """Deterministic md5 train/test split — the exact same rule is
    reproducible in any engine (portability is the point: an auditor
    re-derives the split in SQL)."""
    from ..operators import sampling

    docs = T(spark, sf, "documents").df
    return (
        sampling.hash_split(docs, "doc_id", train_frac=0.8)
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "split")
    )


ORACLE_HASH_SPLIT = """
SELECT lang,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
            THEN 'train' ELSE 'test' END AS split,
       COUNT(*) AS n
FROM documents GROUP BY lang, split ORDER BY lang, split
"""


def pipeline_curation(spark, sf) -> DataFrame:
    """Flagship composite: the full corpus-curation chain in ONE lazy
    plan — quality filter → exact dedup (min doc_id per text) →
    deterministic train/test split → per-(lang, split) summary. One
    action, two shuffles (dedup group, final group); the filter runs
    before both so pruning happens at the scan."""
    from ..operators import sampling

    docs = T(spark, sf, "documents").df
    q = docs.filter(
        (F.length("text") >= 50) & (F.size(F.split(F.col("text"), " ")) >= 10)
    )
    kept = dedup.exact_dedup(q, ["text"], "doc_id")
    split = sampling.hash_split(kept, "doc_id", train_frac=0.9)
    return (
        split.groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang", "split")
    )


ORACLE_CURATION = """
WITH q AS (
  SELECT * FROM documents
  WHERE length(text) >= 50 AND len(string_split(text, ' ')) >= 10
), kept AS (
  SELECT q.* FROM q
  JOIN (SELECT text, MIN(doc_id) AS m FROM q GROUP BY text) w
    ON q.text = w.text AND q.doc_id = w.m
)
SELECT lang,
       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666'
            THEN 'train' ELSE 'test' END AS split,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM kept GROUP BY lang, split ORDER BY lang, split
"""


def pipeline_pretraining(spark, sf) -> DataFrame:
    """Flagship r6 composite: the modern pretraining-curation loop in ONE
    lazy plan — model-scored quality filter (batch-inference harness) →
    incremental near-dup filter of the new batch against the kept corpus
    (cross LSH + exact verify) → disjoint 64-word chunking (expression-
    only explode) → 512-token sequence packing (distributed prefix sum)
    → per-pack summary. Every stage is the oracle-checked operator from
    its own query; this pins their composition."""
    from gratum_spark.operators.inference import score_documents
    from gratum_spark.operators.packing import pack_sequences

    docs = T(spark, sf, "documents").df
    good = (
        score_documents(docs, "doc_id", "text")
        .filter(F.col("score") >= 0.25)
        .select("doc_id")
    )
    # materialize the scored keep-set once: downstream the corpus_novel
    # stage consumes `kept` from FIVE plan branches (two signature sides,
    # two shingle-verify sides, the novel output) and Catalyst does not
    # dedupe the mapInPandas scoring subtree across them — re-running
    # the model per branch is exactly what a 100 TB pipeline avoids by
    # checkpointing its filter stage (measured ~2x on this query)
    kept = materialize(docs.join(good, on="doc_id"))
    new_batch = kept.filter(F.col("doc_id") % 10 == 0)
    corpus = kept.filter(F.col("doc_id") % 10 != 0)
    novel = dedup.corpus_novel(
        new_batch, corpus, "doc_id", "text", threshold=0.5,
    )
    chunks = text.chunk_words(novel, "doc_id", "text", size=64, stride=64)
    ordered = chunks.withColumn(
        "ord", F.col("id") * F.lit(100_000) + F.col("chunk_id")
    )
    packed = pack_sequences(ordered, "ord", "n_words", capacity=512)
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_words").alias("pack_tokens"),
            F.min("ord").alias("first_ord"),
            F.max("ord").alias("last_ord"),
        )
        .orderBy("pack_id")
    )


ORACLE_PRETRAINING = """
WITH s AS (
  SELECT doc_id,
         ((length(text) % 97) + (len(string_split(text, ' ')) % 13))
           / 110.0 AS score
  FROM documents
),
kept AS (
  SELECT d.* FROM documents d JOIN s USING (doc_id) WHERE s.score >= 0.25
),
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w)
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
matched AS (
  SELECT DISTINCT s1.doc_id AS new_id
  FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle
  JOIN sizes na ON na.doc_id = s1.doc_id
  JOIN sizes nb ON nb.doc_id = s2.doc_id
  WHERE s1.doc_id % 10 = 0 AND s2.doc_id % 10 <> 0
  GROUP BY s1.doc_id, s2.doc_id, na.n, nb.n
  HAVING CAST(COUNT(*) AS DOUBLE)
         / CAST(na.n + nb.n - COUNT(*) AS DOUBLE) >= 0.5
),
novel AS (
  SELECT * FROM kept
  WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT new_id FROM matched)
),
nw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM novel),
ch AS (
  SELECT doc_id, cid,
         CAST(len(list_slice(ws, cid*64 + 1, cid*64 + 64)) AS BIGINT) AS n_words
  FROM (SELECT doc_id, ws,
               unnest(generate_series(0,
                  CASE WHEN len(ws) <= 64 THEN 0
                       ELSE CAST(ceil((len(ws) - 64) / 64.0) AS INT) END)) AS cid
        FROM nw)
),
o AS (
  SELECT doc_id*100000 + cid AS ord, n_words,
         COALESCE(SUM(n_words) OVER (ORDER BY doc_id*100000 + cid
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM ch
)
SELECT CAST(off // 512 AS BIGINT) AS pack_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(n_words) AS BIGINT) AS pack_tokens,
       MIN(ord) AS first_ord,
       MAX(ord) AS last_ord
FROM o GROUP BY 1 ORDER BY 1
"""


def dedup_cluster_cc(spark, sf) -> DataFrame:
    """Duplicate-group clustering: chain edges between successive doc_ids
    sharing a text, resolved to components by iterative min-label
    propagation (connected_components). The chain topology forces real
    multi-hop propagation — the oracle (min doc_id per text group) only
    matches if labels traverse the whole chain."""
    docs = T(spark, sf, "documents").df
    w = Window.partitionBy("text").orderBy("doc_id")
    chain = (
        docs.select("doc_id", F.lag("doc_id").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
    )
    comp = dedup.connected_components(chain, "prev", "doc_id")
    return (
        docs.join(comp.withColumnRenamed("node", "doc_id"), on="doc_id", how="left")
        .select(
            "doc_id", F.coalesce("comp", F.col("doc_id")).alias("cluster")
        )
        .orderBy("doc_id")
    )


ORACLE_DEDUP_CLUSTER = """
SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS cluster
FROM documents ORDER BY doc_id
"""


def text_top_terms(spark, sf) -> DataFrame:
    """Top-3 terms per language: tokenize + explode + count + windowed
    top-k — the vocabulary-analysis shape (all JVM expressions)."""
    docs = T(spark, sf, "documents").df
    terms = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
    ).filter(F.length("term") > 3)
    counts = terms.groupBy("lang", "term").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "term", "n")
        .orderBy("lang", "term")
    )


ORACLE_TOP_TERMS = """
SELECT lang, term, n FROM (
  SELECT lang, term, COUNT(*) AS n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, term) AS rn
  FROM (
    SELECT lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
    FROM documents
  )
  WHERE length(term) > 3
  GROUP BY lang, term
) WHERE rn <= 3 ORDER BY lang, term
"""


def ann_topk(spark, sf) -> DataFrame:
    """Brute-force cosine top-k against the vec_id=0 query vector —
    decimal-summed dot products for engine-portable determinism."""
    emb = T(spark, sf, "embeddings").df
    query = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    topk = similarity.cosine_topk(emb, [float(x) for x in query], "vec_id", "embedding", k=10)
    # report at 6 decimals: dot/norm sums are decimal-exact on both engines
    # but double->decimal rounding modes differ ~1e-10 per element
    return topk.select("vec_id", F.round("cosine", 6).alias("cosine"))


ORACLE_ANN_TOPK = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
ev AS (
  SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
qe AS (
  SELECT unnest(qv) AS qx, generate_subscripts(qv, 1) AS i FROM q
),
dots AS (
  SELECT ev.vec_id,
    CAST(SUM(CAST(CAST(ev.x AS DOUBLE) * CAST(qe.qx AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS dot,
    CAST(SUM(CAST(CAST(ev.x AS DOUBLE) * CAST(ev.x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS nsq
  FROM ev JOIN qe USING (i) GROUP BY ev.vec_id
),
qn AS (
  SELECT CAST(SUM(CAST(CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS n
  FROM qe
)
SELECT vec_id, ROUND(dot / (sqrt(nsq) * sqrt(n)), 6) AS cosine
FROM dots, qn
ORDER BY dot / (sqrt(nsq) * sqrt(n)) DESC, vec_id ASC LIMIT 10
"""


def ann_topk_many(spark, sf) -> DataFrame:
    """Batched ANN: top-3 neighbors for EACH of 5 query vectors in one
    pass — broadcast queries, per-partition scoring (no shuffle of the
    embedding side), per-query top-k window."""
    emb = T(spark, sf, "embeddings").df
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    topk = similarity.cosine_topk_many(
        emb, queries, "vec_id", "embedding", "query_id", "embedding", k=3
    )
    return topk.select(
        F.col("qid").alias("query_id"),
        "vec_id",
        F.round("cosine", 6).alias("cosine"),
    ).orderBy("query_id", F.col("cosine").desc(), "vec_id")


ORACLE_ANN_TOPK_MANY = """
WITH ev AS (
  SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS i
  FROM embeddings
),
qe AS (
  SELECT vec_id AS qid, unnest(embedding) AS qx,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE vec_id < 5
),
norms AS (
  SELECT vec_id,
    CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS nsq
  FROM ev GROUP BY vec_id
),
dots AS (
  SELECT qe.qid, ev.vec_id,
    CAST(SUM(CAST(CAST(ev.x AS DOUBLE) * CAST(qe.qx AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM ev JOIN qe USING (i) GROUP BY qe.qid, ev.vec_id
),
scored AS (
  SELECT d.qid AS query_id, d.vec_id,
         ROUND(d.dot / (sqrt(n1.nsq) * sqrt(n2.nsq)), 6) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY d.qid
           ORDER BY d.dot / (sqrt(n1.nsq) * sqrt(n2.nsq)) DESC, d.vec_id
         ) AS rn
  FROM dots d
  JOIN norms n1 ON n1.vec_id = d.vec_id
  JOIN norms n2 ON n2.vec_id = d.qid
)
SELECT query_id, vec_id, cosine FROM scored WHERE rn <= 3
ORDER BY query_id, cosine DESC, vec_id
"""


def ann_ivf(spark, sf) -> DataFrame:
    """IVF approximate top-k (no oracle: recall-traded approximation)."""
    emb = materialize(T(spark, sf, "embeddings").df, eager=True)
    query = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    assignments, centroids = similarity.ivf_build(emb, n_lists=8, n_iters=2)
    return similarity.ivf_topk(
        emb, assignments, centroids, [float(x) for x in query], k=10, n_probe=3
    )


def ann_ivf_full_probe(spark, sf) -> DataFrame:
    """IVF with n_probe = n_lists: every list is scanned, so the result
    is EXACTLY the brute-force top-k — which makes the whole IVF
    machinery (deterministic k-means build, centroid ranking, list
    pruning, in-list exact scoring) verifiable against the same SQL
    oracle as ann_topk. The recall-traded partial-probe variant stays in
    ann_ivf."""
    emb = materialize(T(spark, sf, "embeddings").df, eager=True)
    query = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    assignments, centroids = similarity.ivf_build(emb, n_lists=8, n_iters=2)
    topk = similarity.ivf_topk(
        emb, assignments, centroids, [float(x) for x in query], k=10, n_probe=8
    )
    return topk.select("vec_id", F.round("cosine", 6).alias("cosine"))


def ann_recall_exact(spark, sf) -> DataFrame:
    """Structural recall-evaluator check (r6 verdict task 4): with
    n_probe == n_lists every IVF list is scanned, so the index's top-k
    IS the brute-force top-k and recall@10 must be exactly 1.0 for
    every query — an engine-independent invariant the SQL oracle can
    state as a literal. Drives the whole evaluator path (deterministic
    k-means build, probe, brute-force join, per-query recall) through
    an exact value check; the honest partial-probe metric stays in
    ann_recall."""
    emb = materialize(T(spark, sf, "embeddings").df, eager=True)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    rec = similarity.ann_recall_at_k(
        emb, queries, k=10, n_lists=8, n_iters=2, n_probe=8
    )
    return rec.select(
        F.col("qid").alias("query_id"), F.round("recall", 4).alias("recall")
    ).orderBy("query_id")


ORACLE_ANN_RECALL_EXACT = """
SELECT vec_id AS query_id, CAST(1.0 AS DOUBLE) AS recall
FROM embeddings WHERE vec_id < 8 ORDER BY vec_id
"""


def ann_recall(spark, sf) -> DataFrame:
    """ANN quality measurement (operators/similarity.py
    ann_recall_at_k): recall@10 of a 16-list/4-probe IVF index vs
    exact brute force for 8 query vectors — the go/no-go metric for an
    index configuration before it serves a 100 TB corpus. No SQL
    oracle (k-means centroids aren't SQL-expressible); determinism is
    pinned in tests/test_similarity.py, the recall@full-probe==1.0
    invariant is driver-checked in ann_recall_exact, and the driver
    records the rows-only check here."""
    emb = materialize(T(spark, sf, "embeddings").df, eager=True)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    rec = similarity.ann_recall_at_k(
        emb, queries, k=10, n_lists=16, n_iters=2, n_probe=4
    )
    return rec.select(
        F.col("qid").alias("query_id"), F.round("recall", 4).alias("recall")
    ).orderBy("query_id")


def text_redact_pii(spark, sf) -> DataFrame:
    """PII scrubbing (operators/text.py redact_pii): deterministic
    synthetic PII is appended per doc, then the RE2-portable pattern
    chain redacts emails/IPs/SSNs/phones — byte-identical across
    engines."""
    docs = T(spark, sf, "documents").df
    with_pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 192.168.0.1 ssn 555-12-3456"),
        ).alias("text"),
    )
    return with_pii.select(
        "doc_id", text.redact_pii("text").alias("redacted")
    ).orderBy("doc_id")


ORACLE_REDACT_PII = r"""
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com at 192.168.0.1 ssn 555-12-3456',
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
    '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g'),
    '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
FROM documents ORDER BY doc_id
"""


def text_contamination(spark, sf) -> DataFrame:
    """Train/eval benchmark decontamination (operators/text.py
    ngram_overlap): every 37th doc plays the eval corpus; per remaining
    doc, the count of distinct 3-gram overlaps with it."""
    docs = T(spark, sf, "documents").df
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    tr = docs.filter(F.col("doc_id") % 37 != 0)
    return text.ngram_overlap(tr, ev, "doc_id", "text", n=3).orderBy("doc_id")


ORACLE_CONTAMINATION = """
WITH dw AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(ws[s.i:s.i+2], ' ') AS g
  FROM dw, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) s
),
eg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 37 = 0)
SELECT g2.doc_id, COUNT(*) AS n_contaminated
FROM grams g2 JOIN eg USING (g)
WHERE g2.doc_id % 37 <> 0
GROUP BY 1 ORDER BY 1
"""


def text_repetition(spark, sf) -> DataFrame:
    """Intra-doc repetition quality gates (operators/text.py
    repetition_signals) — Gopher-style duplicate-word and top-word
    dominance fractions."""
    docs = T(spark, sf, "documents").df
    return text.repetition_signals(docs, "doc_id", "text").orderBy("doc_id")


ORACLE_REPETITION = """
WITH pw AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_words,
       COUNT(*) AS distinct_words,
       CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_word_frac,
       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_word_frac
FROM pw GROUP BY 1 ORDER BY 1
"""


def text_stats(spark, sf) -> DataFrame:
    """Token counting + quality scoring, expression-only."""
    docs = T(spark, sf, "documents").df
    ts = text.token_stats_named("text")
    qs = text.quality_score("text")
    return docs.select(
        "doc_id",
        ts["ws_tokens"].cast("long").alias("ws_tokens"),
        ts["bpe_tokens"].cast("long").alias("bpe_tokens"),
        qs["mean_word_len"].alias("mean_word_len"),
    ).orderBy("doc_id")


ORACLE_TEXT_STATS = """
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
       CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
         / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_word_len
FROM documents ORDER BY doc_id
"""


def text_lang_id(spark, sf) -> DataFrame:
    """Heuristic language ID: characteristic-word argmax (deterministic
    alphabetical tie-break)."""
    docs = T(spark, sf, "documents").df
    return docs.select(
        "doc_id", text.lang_id("text").alias("pred_lang")
    ).orderBy("doc_id")


def _lang_oracle() -> str:
    from ..operators.text import DEFAULT_LANG_WORDS

    score = {
        lang: f"len(list_intersect(string_split(text,' '), {wl!r}))"
        for lang, wl in sorted(DEFAULT_LANG_WORDS.items())
    }
    greatest = "greatest(" + ", ".join(score.values()) + ")"
    case = "CASE " + " ".join(
        f"WHEN {expr} = m THEN '{lang}'" for lang, expr in sorted(score.items())
    ) + " END"
    return f"""
SELECT doc_id, {case} AS pred_lang
FROM (SELECT doc_id, text, {greatest} AS m FROM documents)
ORDER BY doc_id
"""


def doc_fingerprint(spark, sf) -> DataFrame:
    """md5 document fingerprint over normalized text (engine-portable)."""
    docs = T(spark, sf, "documents").df
    return docs.select(
        "doc_id", text.fingerprint("text").alias("fp")
    ).orderBy("doc_id")


ORACLE_FINGERPRINT = """
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents ORDER BY doc_id
"""


def multimodal_frames(spark, sf) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled frame (mapInPandas
    over binary payloads), aggregated back per doc. The oracle
    recomputes frame counts/bytes from the utf-8 byte lengths."""
    docs = T(spark, sf, "documents").df
    with_bin = multimodal.attach_binary(docs, "text", "payload")
    frames = multimodal.sample_video_frames(
        with_bin, "payload", "doc_id", every_n=32, fake=True
    )
    return (
        frames.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_frames"),
            F.sum(F.length("frame")).alias("total_bytes"),
        )
        .orderBy("doc_id")
    )


ORACLE_FRAMES = """
SELECT doc_id,
       CAST(CEIL(octet_length(encode(text)) / 32.0) AS BIGINT) AS n_frames,
       CAST(octet_length(encode(text)) AS BIGINT) AS total_bytes
FROM documents WHERE octet_length(encode(text)) > 0 ORDER BY doc_id
"""


def multimodal_features(spark, sf) -> DataFrame:
    """Multimodal plumbing: binary payloads + deterministic fake decode
    via Arrow-batched mapInPandas. Oracle recomputes the same features
    from the text bytes in SQL."""
    docs = T(spark, sf, "documents").df
    with_bin = multimodal.attach_binary(docs, "text", "payload")
    feats = multimodal.extract_image_features(
        with_bin, "payload", "doc_id", fake=True
    )
    return feats.orderBy("doc_id")


ORACLE_MULTIMODAL = """
-- octet_length needs a BLOB in DuckDB: encode() gives the same utf-8
-- bytes attach_binary produces; text is ASCII so ord(char)=byte value
SELECT doc_id,
       CAST(16 + (octet_length(encode(text)) % 64) AS INT) AS width,
       CAST(16 + ((octet_length(encode(text)) // 64) % 64) AS INT) AS height,
       (CAST((SELECT SUM(ord(substr(d.text, i, 1)))
              FROM (SELECT unnest(generate_series(1, greatest(1, least(256, length(d.text))))) AS i)) AS DOUBLE)
        / greatest(1, least(256, length(d.text)))) / 255.0 AS mean_intensity,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents d ORDER BY doc_id
"""


def multimodal_audio(spark, sf) -> DataFrame:
    """Audio-column plumbing: fake decode/resample features over
    mapInPandas, SQL-reproducible from the same bytes."""
    docs = T(spark, sf, "documents").df
    with_bin = multimodal.attach_binary(docs, "text", "payload")
    feats = multimodal.extract_audio_features(with_bin, "payload", "doc_id", fake=True)
    return feats.orderBy("doc_id")


ORACLE_MULTIMODAL_AUDIO = """
SELECT doc_id,
       CAST(16000 AS INT) AS sample_rate,
       CAST(octet_length(encode(text)) * 4 AS BIGINT) AS n_samples,
       CAST(octet_length(encode(text)) * 4 AS DOUBLE) / 16000.0 AS duration_sec,
       (CAST((SELECT SUM(ord(substr(d.text, i, 1)))
              FROM (SELECT unnest(generate_series(1, greatest(1, least(256, length(d.text))))) AS i)) AS DOUBLE)
        / greatest(1, least(256, length(d.text)))) / 255.0 AS rms
FROM documents d ORDER BY doc_id
"""



def corpus_quota_sample(spark, sf) -> DataFrame:
    """Per-source quota sampling (operators/sampling.py quota_sample):
    the domain-cap staple of web-corpus curation, deterministic via
    md5-ranking so any engine reproduces the keep set."""
    from ..operators import sampling

    docs = T(spark, sf, "documents").df
    kept = sampling.quota_sample(docs, "source", 40, "doc_id")
    return kept.select("doc_id", "source").orderBy("doc_id")


ORACLE_QUOTA_SAMPLE = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
) WHERE rn <= 40 ORDER BY doc_id
"""


def dedup_chunks(spark, sf) -> DataFrame:
    """C4-style chunk-level corpus dedup accounting (operators/dedup.py
    chunk_dedup_stats): a 10-word chunk repeated anywhere in the corpus
    survives only in its first-seen (doc, position)."""
    docs = T(spark, sf, "documents").df
    return materialize(
        dedup.chunk_dedup_stats(docs, "doc_id", "text", chunk_words=10)
    ).orderBy("id")


def text_chunks(spark, sf) -> DataFrame:
    """Context-window chunking (operators/text.py chunk_words): 16-word
    chunks advancing by 12 — overlapping windows, the unit an LLM
    training/embedding pipeline tokenizes. Expression-only; the explode
    is the only row-count change."""
    docs = T(spark, sf, "documents").df
    return text.chunk_words(docs, "doc_id", "text", size=16, stride=12).orderBy(
        "id", "chunk_id"
    )


def text_pack(spark, sf) -> DataFrame:
    """Sequence packing (operators/packing.py pack_sequences): lay the
    corpus out as one token stream in doc_id order and cut 2048-token
    context windows; each doc belongs to the window its first token
    lands in. Distributed prefix sum — range shuffle + per-partition
    totals broadcast, no single-partition stage. Per-pack summary."""
    from gratum_spark.operators.packing import pack_sequences

    docs = T(spark, sf, "documents").df.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(docs, "doc_id", "n_tokens", capacity=2048)
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


ORACLE_TEXT_PACK = """
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
o AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS off
  FROM t
)
SELECT CAST(off // 2048 AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM o GROUP BY 1 ORDER BY 1
"""


ORACLE_TEXT_CHUNKS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
e AS (
  SELECT doc_id, ws,
         unnest(generate_series(0,
            CASE WHEN len(ws) <= 16 THEN 0
                 ELSE CAST(ceil((len(ws) - 16) / 12.0) AS INT) END)) AS cid
  FROM w
)
SELECT doc_id AS id, CAST(cid AS BIGINT) AS chunk_id,
       array_to_string(list_slice(ws, cid*12 + 1, cid*12 + 16), ' ') AS chunk_text,
       CAST(len(list_slice(ws, cid*12 + 1, cid*12 + 16)) AS BIGINT) AS n_words
FROM e ORDER BY id, chunk_id
"""


ORACLE_DEDUP_CHUNKS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
ch AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(ws, i*10 + 1, i*10 + 10), ' ') AS chunk
  FROM (SELECT doc_id, ws,
               unnest(generate_series(0, CAST(ceil(len(ws)/10.0) AS INT) - 1)) AS i
        FROM w)
),
own AS (SELECT chunk, MIN(doc_id*1000000 + pos) AS owner FROM ch GROUP BY chunk)
SELECT ch.doc_id AS id, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN ch.doc_id*1000000 + ch.pos = own.owner
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN ch.doc_id*1000000 + ch.pos = own.owner
                     THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS kept_frac
FROM ch JOIN own ON ch.chunk = own.chunk
GROUP BY ch.doc_id ORDER BY ch.doc_id
"""


def text_tfidf(spark, sf) -> DataFrame:
    """Per-doc top-3 TF-IDF terms (operators/text.py tfidf_top_terms);
    rank compares ROUND(score, 6) with term tie-break for cross-engine
    determinism."""
    out = text.tfidf_top_terms(T(spark, sf, "documents").df, "doc_id", "text", k=3)
    return materialize(out.withColumn("rank", F.col("rank").cast("long"))).orderBy(
        "id", "rank"
    )


ORACLE_TEXT_TFIDF = """
WITH tf AS (
  SELECT doc_id AS id, w AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.id, tf.term,
         ROUND(tf.tf * ln(((SELECT COUNT(DISTINCT doc_id) FROM documents) + 1.0)
                          / (dfreq.df + 1.0)), 6) AS score
  FROM tf JOIN dfreq ON tf.term = dfreq.term
)
SELECT id, CAST(rank AS BIGINT) AS rank, term, score FROM (
  SELECT id, term, score,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 3 ORDER BY id, rank
"""


def dedup_rewrite(spark, sf) -> DataFrame:
    """Chunk-level dedup with document reassembly (operators/dedup.py
    chunk_dedup_rewrite): the C4/RefinedWeb cleaning step proper —
    repeated 10-word chunks survive only first-seen and each doc is
    rewritten from its survivors in order."""
    docs = T(spark, sf, "documents").df
    return materialize(
        dedup.chunk_dedup_rewrite(docs, "doc_id", "text", chunk_words=10)
    ).orderBy("id")


ORACLE_DEDUP_REWRITE = """
WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
ch AS (
  SELECT doc_id, CAST(i-1 AS INT) AS pos,
         array_to_string(list_slice(ws,(i-1)*10+1,(i-1)*10+10),' ') AS chunk
  FROM w, LATERAL unnest(generate_series(1, CAST(ceil(len(ws)/10.0) AS INT))) AS t(i)),
own AS (SELECT chunk, MIN(doc_id*1000000+pos) AS o FROM ch GROUP BY 1)
SELECT ch.doc_id AS id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN ch.doc_id*1000000+ch.pos = own.o THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN ch.doc_id*1000000+ch.pos = own.o THEN ch.chunk END,
                           ' ' ORDER BY ch.pos),'') AS clean_text
FROM ch JOIN own USING (chunk)
GROUP BY 1 ORDER BY 1
"""


def dedup_spans(spark, sf) -> DataFrame:
    """Exact-substring dedup accounting (operators/dedup.py
    duplicate_spans): any 10-token window occurring 2+ times anywhere in
    the corpus marks a duplicated region; overlapping windows merge into
    maximal spans (Lee et al. 2021 shape, distributed as shingle-count +
    gaps-and-islands instead of a suffix array)."""
    docs = T(spark, sf, "documents").df
    return materialize(
        dedup.duplicate_spans(
            docs, "doc_id", "text", k=10,
        )
    ).orderBy("id")


ORACLE_DEDUP_SPANS = """
WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
sh AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(list_slice(ws, i+1, i+10), ' ') AS shingle
  FROM w, LATERAL unnest(generate_series(0, len(ws)-10)) AS t(i)),
dup AS (SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) >= 2),
hits AS (SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (shingle)),
mk AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
              THEN 1 ELSE 0 END AS brk
  FROM hits),
isl AS (SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM mk),
spans AS (SELECT doc_id, g, MIN(pos) AS s, MAX(pos)+9 AS e
          FROM isl GROUP BY 1,2),
pd AS (SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(e-s+1) AS dup_tokens
       FROM spans GROUP BY 1)
SELECT w.doc_id AS id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
       CAST(COALESCE(pd.n_dup_spans,0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(pd.dup_tokens,0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(pd.dup_tokens,0) AS DOUBLE)/CAST(len(w.ws) AS DOUBLE)
         AS dup_frac
FROM w LEFT JOIN pd USING (doc_id) ORDER BY id
"""


def dedup_span_rewrite(spark, sf) -> DataFrame:
    """Exact-substring dedup with rewrite (operators/dedup.py
    duplicate_span_rewrite): every token covered by a duplicated
    10-token window is cut and the document reassembled from survivors
    in order — the aggressive all-occurrences variant; keep-first at
    fixed granularity is dedup_rewrite."""
    docs = T(spark, sf, "documents").df
    return materialize(
        dedup.duplicate_span_rewrite(
            docs, "doc_id", "text", k=10,
        )
    ).orderBy("id")


ORACLE_DEDUP_SPAN_REWRITE = """
WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
sh AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(list_slice(ws, i+1, i+10), ' ') AS shingle
  FROM w, LATERAL unnest(generate_series(0, len(ws)-10)) AS t(i)),
dup AS (SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) >= 2),
hits AS (SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (shingle)),
mk AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
              THEN 1 ELSE 0 END AS brk
  FROM hits),
isl AS (SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM mk),
spans AS (SELECT doc_id, g, MIN(pos) AS s, MAX(pos)+9 AS e
          FROM isl GROUP BY 1,2),
cov AS (SELECT doc_id, CAST(p AS INT) AS cpos
        FROM spans, LATERAL unnest(generate_series(s, e)) AS t(p)),
tok AS (SELECT doc_id, CAST(i-1 AS INT) AS pos, ws[i] AS tkn
        FROM w, LATERAL unnest(generate_series(1, len(ws))) AS t(i)),
kept AS (SELECT tok.doc_id, tok.pos, tok.tkn
         FROM tok LEFT JOIN cov
           ON tok.doc_id = cov.doc_id AND tok.pos = cov.cpos
         WHERE cov.cpos IS NULL)
SELECT w.doc_id AS id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
       CAST(len(w.ws) - COALESCE(k.cnt,0) AS BIGINT) AS removed_tokens,
       COALESCE(k.txt,'') AS clean_text
FROM w LEFT JOIN (SELECT doc_id, COUNT(*) AS cnt,
                         string_agg(tkn,' ' ORDER BY pos) AS txt
                  FROM kept GROUP BY 1) k USING (doc_id)
ORDER BY id
"""


def dedup_semantic(spark, sf) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/dedup.py
    semantic_dedup): one deterministic centroid-assignment step over the
    8 lowest-id seed vectors, then first-wins cosine dedup inside each
    cluster. The oracle replicates assignment AND the in-cluster EXISTS
    rule in plain SQL, so the whole keep-set is engine-checkable."""
    emb = T(spark, sf, "embeddings").df
    return dedup.semantic_dedup(
        emb, "vec_id", "embedding", n_clusters=8, threshold=0.3
    ).orderBy("id")


ORACLE_DEDUP_SEMANTIC = """
WITH seed AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, embedding AS sv
  FROM embeddings ORDER BY vec_id LIMIT 8),
ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
              generate_subscripts(embedding,1) AS i FROM embeddings),
nrm AS (SELECT vec_id, sqrt(SUM(x*x)) AS nv FROM ex GROUP BY 1),
sx AS (SELECT cluster, CAST(unnest(sv) AS DOUBLE) AS cx,
              generate_subscripts(sv,1) AS i FROM seed),
snrm AS (SELECT cluster, sqrt(SUM(cx*cx)) AS nc FROM sx GROUP BY 1),
cosc AS (
  SELECT ex.vec_id, sx.cluster, SUM(ex.x*sx.cx) AS dot
  FROM ex JOIN sx USING (i) GROUP BY 1,2),
asg AS (
  SELECT vec_id, cluster FROM (
    SELECT c.vec_id, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
             ORDER BY c.dot/(n.nv*s.nc) DESC, c.cluster ASC) AS rn
    FROM cosc c JOIN nrm n USING (vec_id) JOIN snrm s USING (cluster)
  ) WHERE rn = 1),
pc AS (
  SELECT aa.vec_id AS ida, bb.vec_id AS idb, SUM(ea.x*eb.x) AS dot
  FROM asg aa JOIN asg bb ON aa.cluster=bb.cluster AND aa.vec_id < bb.vec_id
  JOIN ex ea ON ea.vec_id=aa.vec_id
  JOIN ex eb ON eb.vec_id=bb.vec_id AND eb.i=ea.i
  GROUP BY 1,2),
dup AS (
  SELECT DISTINCT p.idb AS vec_id
  FROM pc p JOIN nrm na ON na.vec_id=p.ida JOIN nrm nb ON nb.vec_id=p.idb
  WHERE p.dot/(na.nv*nb.nv) >= 0.3)
SELECT a.vec_id AS id, a.cluster, (d.vec_id IS NULL) AS keep
FROM asg a LEFT JOIN dup d USING (vec_id) ORDER BY 1
"""


def dedup_keep_best(spark, sf) -> DataFrame:
    """Quality-aware canonical dedup (operators/dedup.py
    canonical_keep_best): md5 of the normalized text as cluster key,
    keep argmax(n_chars, ties -> lowest doc_id) per cluster."""
    docs = T(spark, sf, "documents").df
    return dedup.canonical_keep_best(docs, "doc_id", "text", "n_chars").orderBy(
        "doc_id"
    )


ORACLE_DEDUP_KEEP_BEST = """
WITH c AS (
  SELECT doc_id, n_chars,
         md5(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g'))) AS canon_key
  FROM documents)
SELECT doc_id, canon_key,
       ROW_NUMBER() OVER (PARTITION BY canon_key
                          ORDER BY n_chars DESC, doc_id ASC) = 1 AS keep
FROM c ORDER BY doc_id
"""


def corpus_mixture(spark, sf) -> DataFrame:
    """Temperature-weighted domain mixture (operators/sampling.py
    mixture_sample): re-draw ~1000 rows with source g weighted
    count(g)^0.5 — whole epochs exploded per row, the fractional epoch
    md5-thresholded, so the multiset is engine-exact."""
    from ..operators import sampling

    docs = T(spark, sf, "documents").df
    return (
        sampling.mixture_sample(docs, "source", "doc_id", alpha=0.5, target_total=1000)
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")
    )


ORACLE_CORPUS_MIXTURE = """
WITH n AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1),
t AS (SELECT SUM(pow(CAST(cnt AS DOUBLE),0.5)) AS tw FROM n),
w AS (SELECT source,
             1000.0 * pow(CAST(cnt AS DOUBLE),0.5) / t.tw / CAST(cnt AS DOUBLE) AS epochs
      FROM n, t),
d AS (
  SELECT doc_id, d.source, CAST(floor(w.epochs) AS INT) AS nfull,
         w.epochs - floor(w.epochs) AS frc
  FROM documents d JOIN w USING (source)),
fullcopies AS (
  SELECT doc_id, source, CAST(e AS INT) AS epoch
  FROM d, LATERAL unnest(generate_series(1, d.nfull)) AS t(e)
  WHERE d.nfull >= 1),
extra AS (
  SELECT doc_id, source, nfull + 1 AS epoch FROM d
  WHERE substr(md5(CAST(doc_id AS VARCHAR)),1,8)
        < lpad(lower(hex(CAST(floor(frc*4294967296.0) AS BIGINT))),8,'0'))
SELECT doc_id, source, epoch FROM fullcopies
UNION ALL SELECT doc_id, source, epoch FROM extra
ORDER BY doc_id, epoch
"""


def text_bm25(spark, sf) -> DataFrame:
    """BM25 top-5 retrieval (operators/retrieval.py bm25_topk) for
    three queries derived from the corpus itself (first 8 words of
    doc_ids 0-2) — postings/doclens/idf all expression-only, corpus
    constants folded in as a 1-row broadcast, one action."""
    from ..operators import retrieval

    docs = T(spark, sf, "documents").df
    qdf = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)).alias(
            "query_text"
        ),
    )
    return (
        retrieval.bm25_topk(docs, "doc_id", "text", qdf, k=5)
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))
        .orderBy("query_id", "rank")
    )


ORACLE_TEXT_BM25 = """
WITH toks AS (
  SELECT doc_id AS id, t.term FROM documents,
  LATERAL unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'),
                             x -> x <> '')) AS t(term)),
postings AS (SELECT id, term, COUNT(*) AS tf FROM toks GROUP BY 1,2),
doclens AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 AVG(CAST(dl AS DOUBLE)) AS avgdl FROM doclens),
dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS dft FROM postings GROUP BY 1),
q AS (SELECT doc_id AS query_id,
             array_to_string(list_slice(string_split(text,' '),1,8),' ') AS query_text
      FROM documents WHERE doc_id < 3),
qterms AS (
  SELECT DISTINCT query_id, t.term FROM q,
  LATERAL unnest(list_filter(string_split_regex(lower(query_text),'[^a-z]+'),
                             x -> x <> '')) AS t(term)),
scored AS (
  SELECT qt.query_id, p.id,
    SUM( ln(1.0 + (s.n_docs - f.dft + 0.5)/(f.dft + 0.5))
         * (CAST(p.tf AS DOUBLE)*2.2
            / (CAST(p.tf AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl.dl AS DOUBLE)/s.avgdl)))
       ) AS score
  FROM postings p JOIN qterms qt USING (term)
  JOIN dft f USING (term) JOIN doclens dl ON dl.id = p.id
  CROSS JOIN stats s
  GROUP BY 1,2)
SELECT query_id, rank, doc_id, ROUND(score,6) AS score FROM (
  SELECT query_id, id AS doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
  FROM scored)
WHERE rank <= 5 ORDER BY query_id, rank
"""


def text_collapse_repeats(spark, sf) -> DataFrame:
    """Intra-doc consecutive-repeat collapse (operators/text.py
    collapse_repeats): stuttered words drop, cross-doc repeats stay —
    complements dedup_rewrite. Pure array pipeline, no shuffle."""
    docs = T(spark, sf, "documents").df
    return text.collapse_repeats(docs, "doc_id", "text", unit_words=1).orderBy("id")


ORACLE_COLLAPSE_REPEATS = """
WITH u AS (SELECT doc_id, string_split(text,' ') AS units FROM documents),
k AS (SELECT doc_id, units,
             list_filter(units, (x,i) -> i = 1 OR x <> units[i-1]) AS kept
      FROM u)
SELECT doc_id AS id,
       CAST(len(units) AS BIGINT) AS n_units,
       CAST(len(kept) AS BIGINT) AS n_kept,
       array_to_string(kept,' ') AS clean_text
FROM k ORDER BY id
"""


def text_pmi(spark, sf) -> DataFrame:
    """Top-15 collocations by PMI (operators/text.py pmi_bigrams) at
    min_count 5 — corpus totals and the unigram vocabulary broadcast
    onto the bigram counts."""
    docs = T(spark, sf, "documents").df
    return text.pmi_bigrams(
        docs, "doc_id", "text", min_count=5, k=15,
    ).orderBy(
        F.col("pmi").desc(), F.col("bigram").asc()
    )


ORACLE_TEXT_PMI = """
WITH w AS (SELECT string_split(lower(text),' ') AS ws FROM documents),
toks AS (SELECT unnest(ws) AS tok FROM w),
bgs AS (
  SELECT ws[j] || ' ' || ws[j+1] AS bg
  FROM w, LATERAL unnest(generate_series(1, len(ws)-1)) AS t(j)),
uni AS (SELECT tok, COUNT(*) AS cw FROM toks GROUP BY 1),
bi AS (SELECT bg, COUNT(*) AS cb FROM bgs GROUP BY 1),
n1 AS (SELECT CAST(SUM(cw) AS DOUBLE) AS n1 FROM uni),
n2 AS (SELECT CAST(SUM(cb) AS DOUBLE) AS n2 FROM bi)
SELECT bg AS bigram, cb AS n,
       ROUND(ln( (CAST(cb AS DOUBLE)/n2.n2)
                 / ((CAST(ua.cw AS DOUBLE)/n1.n1) * (CAST(ub.cw AS DOUBLE)/n1.n1)) ), 6) AS pmi
FROM bi
JOIN uni ua ON ua.tok = string_split(bg,' ')[1]
JOIN uni ub ON ub.tok = string_split(bg,' ')[2]
CROSS JOIN n1 CROSS JOIN n2
WHERE cb >= 5
ORDER BY pmi DESC, bigram ASC LIMIT 15
"""


def text_perplexity(spark, sf) -> DataFrame:
    """Per-doc bigram-LM cross-entropy scoring (operators/text.py
    lm_score): add-0.5-smoothed bigram model trained on the corpus
    itself, every document scored by its average per-bigram negative
    log-likelihood — the CCNet-style perplexity quality filter. Each
    nll term rounds to 6dp before aggregation for engine parity."""
    docs = T(spark, sf, "documents").df
    return materialize(
        text.lm_score(
            docs, "doc_id", "text", alpha=0.5,
        )
    ).orderBy("id")


ORACLE_TEXT_PERPLEXITY = """
WITH w AS (SELECT doc_id, string_split(lower(text),' ') AS ws FROM documents),
toks AS (SELECT unnest(ws) AS tok FROM w),
uni AS (SELECT tok, COUNT(*) AS cw FROM toks GROUP BY 1),
vv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
bgs AS (
  SELECT doc_id, ws[j] || ' ' || ws[j+1] AS bg, ws[j] AS w1
  FROM w, LATERAL unnest(generate_series(1, len(ws)-1)) AS t(j)),
bi AS (SELECT bg, COUNT(*) AS cb FROM bgs GROUP BY 1),
dbg AS (SELECT doc_id, bg, w1, COUNT(*) AS m FROM bgs GROUP BY 1,2,3),
scored AS (
  SELECT dbg.doc_id,
         SUM(dbg.m) AS n_bigrams,
         -- scale-6 decimal sum ×1e6 = exact integer micro-nats
         CAST(SUM(dbg.m * CAST(ROUND(-ln( (CAST(bi.cb AS DOUBLE) + 0.5)
                                / (CAST(uni.cw AS DOUBLE) + 0.5*vv.v) ), 6)
                               AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS nmicro
  FROM dbg JOIN bi USING (bg) JOIN uni ON uni.tok = dbg.w1 CROSS JOIN vv
  GROUP BY 1),
-- (2N+m) // (2m) = round-half-up of N/m in exact integer arithmetic —
-- the engine-portable 6dp average (a double division rounded to 6dp
-- flipped a round-half tie on 1 doc in 5000 at sf0.1)
sc2 AS (
  SELECT doc_id, n_bigrams,
         CAST((2*nmicro + n_bigrams) // (2*n_bigrams) AS DOUBLE) / 1000000.0 AS avg0
  FROM scored)
SELECT w.doc_id AS id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       ROUND(s.avg0, 6) AS avg_nll,
       ROUND(exp(ROUND(s.avg0, 6)), 6) AS ppl
FROM w LEFT JOIN sc2 s USING (doc_id) ORDER BY id
"""


def corpus_dsir(spark, sf) -> DataFrame:
    """DSIR importance weights (operators/sampling.py dsir_logratios):
    every document scored by how much its hashed (uni+bi)gram features
    favor the English-language subset over the whole corpus — the
    data-selection-by-importance-resampling shape (Xie et al. 2023).
    Bucket keys are 3-hex-char md5 prefixes (B=4096), so the whole
    model is engine-portable; per-doc sums run in decimal."""
    from ..operators import sampling

    docs = T(spark, sf, "documents").df
    target = docs.filter(F.col("lang") == "en")
    return materialize(
        sampling.dsir_logratios(
            docs, target, "doc_id", "text",
            # the target IS a slice of the source corpus: derive its
            # model from the source feature table (identical counts)
            # instead of tokenizing the en-subset a second time (r16)
            target_within_source=True,
        )
    ).orderBy("id")


ORACLE_CORPUS_DSIR = """
WITH base AS (SELECT doc_id, lang, string_split(lower(text),' ') AS ws
              FROM documents),
grams AS (
  SELECT doc_id, lang,
         unnest(list_concat(ws,
           list_transform(generate_series(1, len(ws)-1),
                          j -> ws[j] || ' ' || ws[j+1]))) AS gr
  FROM base),
gb AS (SELECT doc_id, lang, substr(md5(gr),1,3) AS b FROM grams),
ct AS (SELECT b, COUNT(*) AS ct FROM gb WHERE lang = 'en' GROUP BY 1),
cs AS (SELECT b, COUNT(*) AS cs FROM gb GROUP BY 1),
nt AS (SELECT CAST(SUM(ct) AS DOUBLE) AS nt FROM ct),
ns AS (SELECT CAST(SUM(cs) AS DOUBLE) AS ns FROM cs),
dfq AS (SELECT doc_id, b, COUNT(*) AS m FROM gb GROUP BY 1,2),
t AS (
  SELECT dfq.doc_id,
         SUM(dfq.m) AS n_grams,
         SUM(dfq.m * CAST(ROUND(
               ln((CAST(COALESCE(ct.ct,0) AS DOUBLE) + 0.5)/(nt.nt + 0.5*4096))
             - ln((CAST(COALESCE(cs.cs,0) AS DOUBLE) + 0.5)/(ns.ns + 0.5*4096)),
             6) AS DECIMAL(28,6))) AS s
  FROM dfq LEFT JOIN ct USING (b) LEFT JOIN cs USING (b)
  CROSS JOIN nt CROSS JOIN ns GROUP BY 1)
SELECT doc_id AS id, CAST(n_grams AS BIGINT) AS n_grams,
       ROUND(CAST(s AS DOUBLE), 6) AS logratio_sum,
       ROUND(CAST(s AS DOUBLE)/n_grams, 6) AS avg_logratio
FROM t ORDER BY id
"""


def corpus_merge(spark, sf) -> DataFrame:
    """MERGE-INTO reconciliation (operators/dedup.py merge_upsert): a
    synthetic batch (updated texts for doc_id%7==0, identical resends
    for %7==1, brand-new keys for %11==0) upserts into the documents
    corpus; one full-outer hash join emits the next corpus version with
    a per-row inserted/updated/unchanged/kept audit status."""
    docs = T(spark, sf, "documents").df
    upd = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    same = docs.filter(F.col("doc_id") % 7 == 1).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    newtext = F.concat(F.lit("new doc "), F.col("doc_id").cast("string"))
    new = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        newtext.alias("text"),
        F.lit("en").alias("lang"),
        F.lit("srcnew").alias("source"),
        F.length(newtext).cast("long").alias("n_chars"),
    )
    batch = upd.unionByName(same).unionByName(new)
    return dedup.merge_upsert(
        docs, batch, "doc_id", ["text", "lang", "source", "n_chars"]
    ).orderBy("key")


ORACLE_CORPUS_MERGE = """
WITH batch AS (
  SELECT doc_id, text || ' v2' AS text, lang, source, n_chars
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 7 = 1
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         'new doc ' || CAST(doc_id AS VARCHAR) AS text,
         'en' AS lang, 'srcnew' AS source,
         CAST(length('new doc ' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 11 = 0),
c AS (SELECT doc_id AS key, text, lang, source, n_chars,
             md5(concat_ws('|',
                 CASE WHEN text IS NULL THEN 'n' ELSE 'v' || md5(text) END,
                 CASE WHEN lang IS NULL THEN 'n' ELSE 'v' || md5(lang) END,
                 CASE WHEN source IS NULL THEN 'n' ELSE 'v' || md5(source) END,
                 CASE WHEN n_chars IS NULL THEN 'n'
                      ELSE 'v' || md5(CAST(n_chars AS VARCHAR)) END)) AS h
      FROM documents),
b AS (SELECT doc_id AS key, text, lang, source, n_chars,
             md5(concat_ws('|',
                 CASE WHEN text IS NULL THEN 'n' ELSE 'v' || md5(text) END,
                 CASE WHEN lang IS NULL THEN 'n' ELSE 'v' || md5(lang) END,
                 CASE WHEN source IS NULL THEN 'n' ELSE 'v' || md5(source) END,
                 CASE WHEN n_chars IS NULL THEN 'n'
                      ELSE 'v' || md5(CAST(n_chars AS VARCHAR)) END)) AS h
      FROM batch)
SELECT COALESCE(b.key, c.key) AS key,
       COALESCE(b.text, c.text) AS text,
       COALESCE(b.lang, c.lang) AS lang,
       COALESCE(b.source, c.source) AS source,
       COALESCE(b.n_chars, c.n_chars) AS n_chars,
       CASE WHEN c.h IS NULL THEN 'inserted'
            WHEN b.h IS NULL THEN 'kept'
            WHEN c.h <> b.h THEN 'updated'
            ELSE 'unchanged' END AS merge_status
FROM c FULL OUTER JOIN b ON c.key = b.key
ORDER BY key
"""


def text_canary(spark, sf) -> DataFrame:
    """Exact-substring canary sweep (operators/text.py canary_scan):
    five 30-char canaries cut from the middle of docs 0-4, scanned
    against the whole corpus via a broadcast contains join."""
    docs = T(spark, sf, "documents").df
    canaries = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("canary_id"),
        F.substring("text", 20, 30).alias("canary_text"),
    )
    return text.canary_scan(
        docs, "doc_id", "text", canaries, "canary_id", "canary_text"
    ).orderBy("id")


ORACLE_TEXT_CANARY = """
WITH c AS (SELECT doc_id AS cid, substr(text, 20, 30) AS ctext
           FROM documents WHERE doc_id < 5)
SELECT d.doc_id AS id,
       COUNT(c.cid) AS n_hits,
       MIN(c.cid) AS first_canary
FROM documents d LEFT JOIN c ON contains(d.text, c.ctext)
GROUP BY 1 ORDER BY 1
"""


def emb_decontaminate(spark, sf) -> DataFrame:
    """Semantic decontamination (operators/similarity.py
    decontaminate_embeddings): drop corpus vectors within cosine 0.3
    of any of the five held-out eval vectors (vec_id < 5) — one
    Arrow-batched corpus pass against the broadcast eval matrix."""
    emb = T(spark, sf, "embeddings").df
    eval_df = emb.filter(F.col("vec_id") < 5)
    corpus = emb.filter(F.col("vec_id") >= 5)
    return similarity.decontaminate_embeddings(
        corpus, "vec_id", "embedding", eval_df, threshold=0.3
    ).orderBy("id")


ORACLE_EMB_DECONTAMINATE = """
WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                   generate_subscripts(embedding,1) AS i FROM embeddings),
nrm AS (SELECT vec_id, sqrt(SUM(x*x)) AS nv FROM ex GROUP BY 1),
dots AS (
  SELECT c.vec_id AS cid, e.vec_id AS eid, SUM(c.x*e.x) AS dot
  FROM ex c JOIN ex e ON c.i = e.i
  WHERE c.vec_id >= 5 AND e.vec_id < 5
  GROUP BY 1, 2),
dirty AS (
  SELECT DISTINCT d.cid AS vec_id
  FROM dots d JOIN nrm nc ON nc.vec_id = d.cid JOIN nrm ne ON ne.vec_id = d.eid
  WHERE d.dot/(nc.nv*ne.nv) >= 0.3)
SELECT e.vec_id AS id, (dd.vec_id IS NULL) AS keep
FROM (SELECT vec_id FROM embeddings WHERE vec_id >= 5) e
LEFT JOIN dirty dd USING (vec_id) ORDER BY 1
"""


def corpus_report(spark, sf) -> DataFrame:
    """Per-source dataset card (the profiling table a curation run
    publishes next to the corpus): doc/dup counts, language spread,
    token volume, exact size percentiles — ONE aggregation plan over
    one scan (multi-distinct expands map-side; percentile is the exact
    sort-based form, deterministic on integer inputs).

    At 100 TB this is the shape that replaces N profiling jobs with
    one: every statistic here is partial-aggregatable or an Expand
    branch of the same shuffle."""
    docs = T(spark, sf, "documents").df
    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    q = F.percentile("n_chars", F.lit([0.5, 0.9]))
    return (
        docs.withColumn("__toks__", toks)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            (F.count("*") - F.countDistinct("text")).alias("dup_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("__toks__").alias("total_tokens"),
            F.min("n_chars").alias("min_chars"),
            q[0].alias("p50_chars"),
            q[1].alias("p90_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source")
    )


ORACLE_CORPUS_REPORT = """
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(*) - COUNT(DISTINCT text) AS dup_docs,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(CAST(len(string_split(text,' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
       MIN(n_chars) AS min_chars,
       quantile_cont(n_chars, 0.5) AS p50_chars,
       quantile_cont(n_chars, 0.9) AS p90_chars,
       MAX(n_chars) AS max_chars
FROM documents GROUP BY source ORDER BY source
"""


def op_resample_interpolate(spark, sf) -> DataFrame:
    """Time-series gap-fill (operators/timeseries.py
    resample_interpolate): every user's event series re-expressed on a
    6-hour grid anchored at their first event, linearly interpolated
    in exact-microsecond time — the hypertable resampling shape. One
    shuffle; both window passes share one (user, ts) sort."""
    from ..operators.timeseries import resample_interpolate

    ev = T(spark, sf, "events").df
    out = resample_interpolate(ev, "user_id", "ts", "value", step="6 hours")
    # sort on the native timestamp, format after: ordering by the
    # fixed-width formatted string is equivalent but pays string
    # building + comparison inside the range sort (~1.5 s at sf0.1)
    return (
        materialize(out)
        .orderBy("user_id", "grid_ts")
        .select(
            "user_id",
            F.date_format("grid_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("grid_ts"),
            F.round("value", 6).alias("value"),
        )
    )


ORACLE_RESAMPLE = """
WITH b AS (SELECT user_id AS k, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1),
grid AS (SELECT k, unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS ts FROM b),
u AS (
  SELECT user_id AS k, ts, 0 AS is_grid, CAST(value AS DOUBLE) AS v FROM events
  UNION ALL
  SELECT k, ts, 1, NULL FROM grid),
m AS (
  SELECT k, ts, is_grid,
    last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY ts, is_grid
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN is_grid=0 THEN ts END IGNORE NULLS)
        OVER (PARTITION BY k ORDER BY ts, is_grid
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    first_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY ts, is_grid
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN is_grid=0 THEN ts END IGNORE NULLS)
        OVER (PARTITION BY k ORDER BY ts, is_grid
        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM u)
SELECT k AS user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS grid_ts,
  ROUND(CASE WHEN nv IS NULL OR epoch_us(nt) = epoch_us(pt) THEN pv
       ELSE pv + (nv - pv) * (CAST(epoch_us(ts) - epoch_us(pt) AS DOUBLE)
                              / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE)) END,
       6) AS value
FROM m WHERE is_grid = 1 ORDER BY 1, 2
"""


def text_hybrid_search(spark, sf) -> DataFrame:
    """Hybrid retrieval composite: BM25 recall (top-20 per query) +
    exact-cosine rerank over the candidates, fused by reciprocal-rank
    fusion (RRF, k=60 — Cormack et al.'s rank-based fusion). RRF works
    on RANKS, not raw scores, so the fused ordering is engine-exact:
    BM25 ranks are deterministic (score desc, id asc) and cosine ranks
    come from decimal-exact dot products (functions.dot_decimal).

    Scale shape: stage 1 is the bm25_topk plan (broadcast query probe);
    stage 2 touches only |queries|·20 candidate rows — the rerank is a
    broadcast join + 60 decimal dot products, nothing corpus-sized.
    Candidates without an embedding row drop at the rerank join (inner,
    documented)."""
    from ..functions import dot_decimal, norm_sq_decimal
    from ..operators import retrieval

    docs = T(spark, sf, "documents").df
    emb = T(spark, sf, "embeddings").df
    qdf = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)).alias(
            "query_text"
        ),
    )
    bm = retrieval.bm25_topk(docs, "doc_id", "text", qdf, k=20).select(
        "query_id", F.col("rank").alias("rank_bm"), "doc_id"
    )
    dvec = emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("dv"))
    qvec = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = bm.join(dvec, on="doc_id").join(F.broadcast(qvec), on="query_id")
    cos = dot_decimal(F.col("dv"), F.col("qv")) / (
        F.sqrt(norm_sq_decimal(F.col("dv"))) * F.sqrt(norm_sq_decimal(F.col("qv")))
    )
    wc = Window.partitionBy("query_id").orderBy(F.col("__cos__").desc(), F.col("doc_id").asc())
    rrf = (
        F.lit(1.0) / (F.lit(60.0) + F.col("rank_bm").cast("double"))
        + F.lit(1.0) / (F.lit(60.0) + F.col("rank_cos").cast("double"))
    )
    wf_ = Window.partitionBy("query_id").orderBy(F.col("__rrf__").desc(), F.col("doc_id").asc())
    return (
        cand.withColumn("__cos__", cos)
        .withColumn("rank_cos", F.row_number().over(wc).cast("long"))
        .withColumn("__rrf__", rrf)
        .withColumn("rank", F.row_number().over(wf_).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "doc_id", F.round("__rrf__", 6).alias("rrf"))
        .orderBy("query_id", "rank")
    )


ORACLE_HYBRID_SEARCH = """
WITH toks AS (
  SELECT doc_id AS id, t.term FROM documents,
  LATERAL unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'),
                             x -> x <> '')) AS t(term)),
postings AS (SELECT id, term, COUNT(*) AS tf FROM toks GROUP BY 1,2),
doclens AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 AVG(CAST(dl AS DOUBLE)) AS avgdl FROM doclens),
dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS dft FROM postings GROUP BY 1),
q AS (SELECT doc_id AS query_id,
             array_to_string(list_slice(string_split(text,' '),1,8),' ') AS query_text
      FROM documents WHERE doc_id < 3),
qterms AS (
  SELECT DISTINCT query_id, t.term FROM q,
  LATERAL unnest(list_filter(string_split_regex(lower(query_text),'[^a-z]+'),
                             x -> x <> '')) AS t(term)),
scored AS (
  SELECT qt.query_id, p.id,
    SUM( ln(1.0 + (s.n_docs - f.dft + 0.5)/(f.dft + 0.5))
         * (CAST(p.tf AS DOUBLE)*2.2
            / (CAST(p.tf AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl.dl AS DOUBLE)/s.avgdl)))
       ) AS score
  FROM postings p JOIN qterms qt USING (term)
  JOIN dft f USING (term) JOIN doclens dl ON dl.id = p.id
  CROSS JOIN stats s
  GROUP BY 1,2),
bm AS (
  SELECT query_id, id AS doc_id, rank_bm FROM (
    SELECT query_id, id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, id ASC) AS rank_bm
    FROM scored)
  WHERE rank_bm <= 20),
ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
              generate_subscripts(embedding,1) AS i FROM embeddings),
cosres AS (
  SELECT b.query_id, b.doc_id, b.rank_bm,
    CAST(SUM(CAST(d.x*qe.x AS DECIMAL(38,12))) AS DOUBLE)
      / ( sqrt(CAST((SELECT SUM(CAST(e2.x*e2.x AS DECIMAL(38,12))) FROM ex e2
                     WHERE e2.vec_id = b.doc_id) AS DOUBLE))
        * sqrt(CAST((SELECT SUM(CAST(e3.x*e3.x AS DECIMAL(38,12))) FROM ex e3
                     WHERE e3.vec_id = b.query_id) AS DOUBLE)) ) AS cosv
  FROM bm b
  JOIN ex d ON d.vec_id = b.doc_id
  JOIN ex qe ON qe.vec_id = b.query_id AND qe.i = d.i
  GROUP BY 1,2,3),
ranked AS (
  SELECT query_id, doc_id, rank_bm,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosv DESC, doc_id ASC) AS rank_cos
  FROM cosres),
fused AS (
  SELECT query_id, doc_id,
         1.0/(60.0 + CAST(rank_bm AS DOUBLE))
           + 1.0/(60.0 + CAST(rank_cos AS DOUBLE)) AS rrf
  FROM ranked)
SELECT query_id, rank, doc_id, ROUND(rrf, 6) AS rrf FROM (
  SELECT query_id, doc_id, rrf,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, doc_id ASC) AS rank
  FROM fused)
WHERE rank <= 5 ORDER BY query_id, rank
"""


def graph_pagerank(spark, sf) -> DataFrame:
    """PageRank (operators/graph.py) over the customer–supplier
    fulfillment graph (distinct (cust, supp) pairs from lineitem ⋈
    orders, undirected): the domain-authority shape a web-corpus
    pipeline runs on its host link graph. Five iterations, incoming
    sums in exact decimal — every engine reproduces bit-identical
    ranks, so the ITERATIVE algorithm gets a full value oracle (the
    5 iterations unroll into CTEs), not a rows-only check."""
    from ..operators.graph import pagerank

    li = T(spark, sf, "lineitem").df
    orders = T(spark, sf, "orders").df
    # r15 (guide §2.3 narrower types): the graph runs on LONG node ids
    # in disjoint parity namespaces (even = customer, odd = supplier)
    # instead of "c<k>"/"s<k>" strings — the 1.17M-row edge table's
    # keys cross 3 build exchanges plus 5 supersteps of hash joins and
    # contribution shuffles, and an 8-byte long hashes/compares/ships
    # cheaper than a variable-width string. The string names are
    # re-derived only on the 20-row result; grouping is bijective, the
    # decimal sums are order-independent, so ranks and output are
    # bit-identical (A/B verified; oracle unchanged).
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
    )
    pr = pagerank(base, damping=0.85, n_iters=5, undirected=True)
    node_str = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c"), F.expr("CAST(node DIV 2 AS STRING)")),
    ).otherwise(
        F.concat(F.lit("s"), F.expr("CAST((node - 1) DIV 2 AS STRING)"))
    )
    return (
        pr.select(node_str.alias("node"), F.col("rank").alias("pr"))
        .orderBy(F.col("pr").desc(), F.col("node").asc())
        .limit(20)
    )


def _pagerank_oracle(n_iters: int = 5) -> str:
    head = """
WITH base AS (
  SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                  's' || CAST(l.l_suppkey AS VARCHAR) AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
e AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM e),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
it0 AS (SELECT node, 1.0 / n.n AS pr FROM nodes, n)"""
    its = []
    for i in range(1, n_iters + 1):
        its.append(f""",
it{i} AS (
  SELECT e.dst AS node,
         (1.0 - 0.85) / n.n + 0.85 *
           CAST(SUM(CAST(r.pr / CAST(d.deg AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE) AS pr
  FROM it{i - 1} r JOIN e ON e.src = r.node JOIN deg d ON d.src = e.src, n
  GROUP BY e.dst, n.n)""")
    tail = f"""
SELECT node, pr FROM it{n_iters} ORDER BY pr DESC, node ASC LIMIT 20
"""
    return head + "".join(its) + tail


ORACLE_PAGERANK = _pagerank_oracle(5)


def corpus_diff_report(spark, sf) -> DataFrame:
    """Release diff (operators/dedup.py corpus_diff): v1 = docs 0-399,
    v2 = docs 100+ with every 50th doc's text rewritten — the diff
    audits added/removed/changed/unchanged counts between versions.
    Bodies reduce to md5 before the full-outer join."""
    docs = T(spark, sf, "documents").df
    v1 = docs.filter(F.col("doc_id") < 400)
    v2 = docs.filter(F.col("doc_id") >= 100).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 50 == 0, F.concat(F.lit("REV2 "), F.col("text"))
        ).otherwise(F.col("text")),
    )
    d = dedup.corpus_diff(v1, v2, "doc_id", "text")
    return (
        d.groupBy("status")
        .agg(F.count("*").alias("n"), F.min("key").alias("first_key"))
        .orderBy("status")
    )


ORACLE_CORPUS_DIFF = """
WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 400),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 50 = 0 THEN 'REV2 ' || text ELSE text END) AS h
  FROM documents WHERE doc_id >= 100),
j AS (
  SELECT COALESCE(v1.doc_id, v2.doc_id) AS key,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.h <> v2.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
SELECT status, COUNT(*) AS n, MIN(key) AS first_key
FROM j GROUP BY status ORDER BY status
"""


def corpus_select_budget(spark, sf) -> DataFrame:
    """Token-budget data selection (operators/sampling.py
    select_by_budget): keep the best documents (by n_chars, ties to
    lowest id) whose cumulative whitespace-token count fits a 20k
    budget — the "best N tokens" selection step, running on the same
    distributed prefix sum as sequence packing instead of the
    single-partition global window the naive SQL compiles to."""
    from ..operators import sampling

    docs = T(spark, sf, "documents").df.select(
        "doc_id",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    kept = sampling.select_by_budget(docs, "doc_id", "n_tokens", "n_chars", 20_000)
    return kept.select(
        "doc_id", "n_chars", "n_tokens", F.col("offset").alias("tok_offset")
    ).orderBy("doc_id")


ORACLE_SELECT_BUDGET = """
WITH t AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
  FROM documents),
o AS (
  SELECT doc_id, n_chars, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY n_chars DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS t_off
  FROM t)
SELECT doc_id, n_chars, n_tokens, CAST(t_off AS BIGINT) AS tok_offset
FROM o WHERE t_off + n_tokens <= 20000 ORDER BY doc_id
"""


def text_rerank_model(spark, sf) -> DataFrame:
    """Retrieve-then-rerank composite: BM25 recall (top-20 per query)
    reranked by the batch-inference quality model (the cross-encoder
    rerank shape; deterministic fake model, worker-cached — real model
    import-gated in operators/inference.py). Rerank scores only
    |queries|·20 candidate texts."""
    from ..operators import retrieval
    from ..operators.inference import score_documents

    docs = T(spark, sf, "documents").df
    qdf = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)).alias(
            "query_text"
        ),
    )
    # bm feeds TWO plan branches (the rerank candidates and the final
    # rank join) and Catalyst does not share the BM25 subtree across
    # them — without a cut the whole postings build ran twice. The
    # candidate set is |queries|·20 rows, so the eager checkpoint is
    # tiny.
    bm = materialize(
        retrieval.bm25_topk(docs, "doc_id", "text", qdf, k=20).select("query_id", "doc_id"),
        eager=True,
    )
    cand = bm.join(docs.select("doc_id", "text"), on="doc_id")
    scored = score_documents(cand, "doc_id", "text", model="fake").dropDuplicates(
        ["doc_id"]
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        bm.join(scored.select("doc_id", "score"), on="doc_id")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))
        .orderBy("query_id", "rank")
    )


ORACLE_RERANK_MODEL = """
WITH toks AS (
  SELECT doc_id AS id, t.term FROM documents,
  LATERAL unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'),
                             x -> x <> '')) AS t(term)),
postings AS (SELECT id, term, COUNT(*) AS tf FROM toks GROUP BY 1,2),
doclens AS (SELECT id, COUNT(*) AS dl FROM toks GROUP BY 1),
stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 AVG(CAST(dl AS DOUBLE)) AS avgdl FROM doclens),
dft AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS dft FROM postings GROUP BY 1),
q AS (SELECT doc_id AS query_id,
             array_to_string(list_slice(string_split(text,' '),1,8),' ') AS query_text
      FROM documents WHERE doc_id < 3),
qterms AS (
  SELECT DISTINCT query_id, t.term FROM q,
  LATERAL unnest(list_filter(string_split_regex(lower(query_text),'[^a-z]+'),
                             x -> x <> '')) AS t(term)),
scored AS (
  SELECT qt.query_id, p.id,
    SUM( ln(1.0 + (s.n_docs - f.dft + 0.5)/(f.dft + 0.5))
         * (CAST(p.tf AS DOUBLE)*2.2
            / (CAST(p.tf AS DOUBLE) + 1.2*(0.25 + 0.75*CAST(dl.dl AS DOUBLE)/s.avgdl)))
       ) AS score
  FROM postings p JOIN qterms qt USING (term)
  JOIN dft f USING (term) JOIN doclens dl ON dl.id = p.id
  CROSS JOIN stats s
  GROUP BY 1,2),
bm AS (
  SELECT query_id, id AS doc_id FROM (
    SELECT query_id, id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, id ASC) AS rank_bm
    FROM scored)
  WHERE rank_bm <= 20),
ms AS (
  SELECT doc_id,
         ((length(text) % 97) + (len(string_split(text, ' ')) % 13)) / 110.0 AS score
  FROM documents)
SELECT query_id, rank, doc_id, ROUND(score, 6) AS score FROM (
  SELECT b.query_id, b.doc_id, ms.score,
         ROW_NUMBER() OVER (PARTITION BY b.query_id
                            ORDER BY ms.score DESC, b.doc_id ASC) AS rank
  FROM bm b JOIN ms USING (doc_id))
WHERE rank <= 5 ORDER BY query_id, rank
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

# Ordering matters: the driver's correctness harness checks the FIRST 50
# entries against the DuckDB oracle. The window therefore holds (a) the
# headline TPC-H queries, (b) one representative per operator family, and
# (c) every oracle-backed query that has never had a green driver row
# (events-table + LLM-data-pipeline queries). Queries already proven green
# in round 1 whose operator family stays represented sit past the window
# (still bench/pytest-covered); hash-specific no-oracle queries go last.
QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # ================= r15 driver window (first 50 entries) ================
    # r15 rotation (r14 verdict task 1): op_as_date leads again because the
    # as_date gate CODE is touched this round (both r14 ADVICE items — the
    # static screen now forces the compile probe whenever the quote-stripped
    # remainder still holds a quote or '#'/'{'/'}', and the Spark-Connect
    # fixed-UTC alias tuple gains the remaining normalized-to-UTC zone ids —
    # plus JVM-class-name classification backing _FMT_COMPILE_MARKERS); then
    # the 14 rows whose latest driver evidence is r12 — the oldest in the
    # catalog — then the 35 oldest r13-evidence rows in their prior relative
    # order. After this window goes green, no catalog query's driver
    # evidence predates r13 (the 14 deferred r13 rows directly below the
    # boundary are next in line for r16; every family they cover keeps a
    # fresh representative inside the window: the core-op family via
    # op_reject_accounting/op_column_ops/op_corr_exact and the whole
    # r14-green op_* block; contamination/stats/top_terms via text_chunks/
    # text_pmi/text_perplexity). Rotated OUT: the whole r14 window except
    # op_as_date (all 50 green in CORRECTNESS_r14).
    # -- r15 code-touched (as_date strict-format screen + zone alias gate)
    "op_as_date": (op_as_date, ORACLE_AS_DATE),
    # -- latest driver row r12 (the oldest evidence in the catalog)
    "q5_region_revenue": (q5_region_revenue, ORACLE_Q5),
    "corpus_dsir": (corpus_dsir, ORACLE_CORPUS_DSIR),
    "corpus_novel_docs": (corpus_novel_docs, ORACLE_CORPUS_NOVEL),
    "dedup_incremental": (dedup_incremental, ORACLE_DEDUP_INCREMENTAL),
    "dedup_ngram": (dedup_ngram, ORACLE_DEDUP_NGRAM),
    "dedup_semantic": (dedup_semantic, ORACLE_DEDUP_SEMANTIC),
    "dedup_spans": (dedup_spans, ORACLE_DEDUP_SPANS),
    "emb_decontaminate": (emb_decontaminate, ORACLE_EMB_DECONTAMINATE),
    "multimodal_audio": (multimodal_audio, ORACLE_MULTIMODAL_AUDIO),
    "stream_stateful_counter": (stream_stateful_counter, ORACLE_STREAM_STATEFUL),
    "stream_tumbling_counts": (stream_tumbling_counts, ORACLE_STREAM_TUMBLING),
    "text_bm25": (text_bm25, ORACLE_TEXT_BM25),
    "text_pack": (text_pack, ORACLE_TEXT_PACK),
    "text_tfidf": (text_tfidf, ORACLE_TEXT_TFIDF),
    # -- latest driver row r13, oldest 35 in prior relative order
    "ann_ivf_full_probe": (ann_ivf_full_probe, ORACLE_ANN_TOPK),
    "corpus_diff_report": (corpus_diff_report, ORACLE_CORPUS_DIFF),
    "corpus_merge": (corpus_merge, ORACLE_CORPUS_MERGE),
    "corpus_mixture": (corpus_mixture, ORACLE_CORPUS_MIXTURE),
    "corpus_select_budget": (corpus_select_budget, ORACLE_SELECT_BUDGET),
    "dedup_keep_best": (dedup_keep_best, ORACLE_DEDUP_KEEP_BEST),
    "dedup_rewrite": (dedup_rewrite, ORACLE_DEDUP_REWRITE),
    "dedup_span_rewrite": (dedup_span_rewrite, ORACLE_DEDUP_SPAN_REWRITE),
    "stream_dedup_counts": (stream_dedup_counts, ORACLE_STREAM_DEDUP),
    "stream_session_counts": (stream_session_counts, ORACLE_STREAM_SESSION),
    "text_chunks": (text_chunks, ORACLE_TEXT_CHUNKS),
    "text_hybrid_search": (text_hybrid_search, ORACLE_HYBRID_SEARCH),
    "text_model_score": (text_model_score, ORACLE_MODEL_SCORE),
    "text_pmi": (text_pmi, ORACLE_TEXT_PMI),
    "text_rerank_model": (text_rerank_model, ORACLE_RERANK_MODEL),
    "dedup_minhash_planted": (dedup_minhash_planted, ORACLE_PLANTED_PAIRS),
    "dedup_simhash_planted": (dedup_simhash_planted, ORACLE_PLANTED_PAIRS),
    "dedup_embedding_planted": (dedup_embedding_planted, ORACLE_EMB_PLANTED_PAIRS),
    "ann_ivf_planted": (ann_ivf_planted, ORACLE_ANN_IVF_PLANTED),
    "ann_recall_exact": (ann_recall_exact, ORACLE_ANN_RECALL_EXACT),
    "op_reject_accounting": (op_reject_accounting, ORACLE_REJECT_ACCOUNTING),
    "graph_pagerank": (graph_pagerank, ORACLE_PAGERANK),
    "text_perplexity": (text_perplexity, ORACLE_TEXT_PERPLEXITY),
    "pipeline_curation": (pipeline_curation, ORACLE_CURATION),
    "pipeline_pretraining": (pipeline_pretraining, ORACLE_PRETRAINING),
    "dedup_minhash_verified": (dedup_minhash_verified, ORACLE_MINHASH_VERIFIED),
    "stream_dedup_keys": (stream_dedup_keys, ORACLE_STREAM_DEDUP_KEYS),
    "stream_interval_join": (stream_interval_join, ORACLE_STREAM_INTERVAL_JOIN),
    "q1_pricing_summary": (q1_pricing_summary, ORACLE_Q1),
    "q3_top_orders": (q3_top_orders, ORACLE_Q3),
    "corpus_quota_sample": (corpus_quota_sample, ORACLE_QUOTA_SAMPLE),
    "dedup_chunks": (dedup_chunks, ORACLE_DEDUP_CHUNKS),
    "dedup_exact": (dedup_exact, ORACLE_DEDUP_EXACT),
    "multimodal_features": (multimodal_features, ORACLE_MULTIMODAL),
    "op_column_ops": (op_column_ops, ORACLE_COLUMN_OPS),
    # ---- 50-entry driver window boundary ----
    # (below: the 14 deferred r13-evidence rows — first in line for
    #  r16 — then the rotated-out r14 window in its prior relative
    #  order; no-oracle hash-specific queries last)
    "op_corr_exact": (op_corr_exact, ORACLE_CORR),
    "op_count_distinct": (op_count_distinct, ORACLE_COUNT_DISTINCT),
    "op_exchange": (op_exchange, ORACLE_EXCHANGE),
    "op_flatten_window": (op_flatten_window, ORACLE_FLATTEN),
    "op_grouping_sets": (op_grouping_sets, ORACLE_GROUPING_SETS),
    "op_hash_split": (op_hash_split, ORACLE_HASH_SPLIT),
    "op_json_extract": (op_json_extract, ORACLE_JSON_EXTRACT),
    "op_pivot": (op_pivot, ORACLE_PIVOT),
    "op_set_ops": (op_set_ops, ORACLE_SET_OPS),
    "op_sort_limit": (op_sort_limit, ORACLE_SORT_LIMIT),
    "op_window_rank": (op_window_rank, ORACLE_WINDOW_RANK),
    "text_contamination": (text_contamination, ORACLE_CONTAMINATION),
    "text_stats": (text_stats, ORACLE_TEXT_STATS),
    "text_top_terms": (text_top_terms, ORACLE_TOP_TERMS),
    # -- latest driver row r14 (the rotated-out r14 window)
    "op_cube": (op_cube, ORACLE_CUBE),
    "op_rollup": (op_rollup, ORACLE_ROLLUP),
    "op_unpivot": (op_unpivot, ORACLE_UNPIVOT),
    "op_approx_distinct": (op_approx_distinct, ORACLE_APPROX_DISTINCT),
    "multimodal_frames": (multimodal_frames, ORACLE_FRAMES),
    "corpus_report": (corpus_report, ORACLE_CORPUS_REPORT),
    "text_canary": (text_canary, ORACLE_TEXT_CANARY),
    "text_lang_id": (text_lang_id, _lang_oracle()),
    "text_redact_pii": (text_redact_pii, ORACLE_REDACT_PII),
    "text_repetition": (text_repetition, ORACLE_REPETITION),
    "op_histogram": (op_histogram, ORACLE_HISTOGRAM),
    "op_percentiles": (op_percentiles, ORACLE_PERCENTILES),
    "doc_fingerprint": (doc_fingerprint, ORACLE_FINGERPRINT),
    "emb_quantize": (emb_quantize, ORACLE_EMB_QUANTIZE),
    "op_join_inner_reject": (op_join_inner_reject, ORACLE_JOIN_INNER),
    "op_join_left": (op_join_left, ORACLE_JOIN_LEFT),
    "op_asof_join": (op_asof_join, ORACLE_ASOF),
    "op_range_join": (op_range_join, ORACLE_RANGE_JOIN),
    "op_salted_join": (op_salted_join, ORACLE_SALTED_JOIN),
    "op_skew_join_plain": (op_skew_join_plain, ORACLE_SKEW_JOIN),
    "op_skew_join_salted": (op_skew_join_salted, ORACLE_SKEW_JOIN),
    "op_inject": (op_inject, ORACLE_INJECT),
    "op_udaf_pandas": (op_udaf_pandas, ORACLE_UDAF),
    "op_sessionize": (op_sessionize, ORACLE_SESSIONIZE),
    "op_tumbling_window": (op_tumbling_window, ORACLE_TUMBLING),
    "op_moving_avg": (op_moving_avg, ORACLE_MOVING_AVG),
    "op_sliding_window": (op_sliding_window, ORACLE_SLIDING),
    "ann_topk": (ann_topk, ORACLE_ANN_TOPK),
    "ann_topk_many": (ann_topk_many, ORACLE_ANN_TOPK_MANY),
    "dedup_cluster_cc": (dedup_cluster_cc, ORACLE_DEDUP_CLUSTER),
    "text_collapse_repeats": (text_collapse_repeats, ORACLE_COLLAPSE_REPEATS),
    "op_add_step": (op_add_step, ORACLE_ADD_STEP),
    "op_anti_join": (op_anti_join, ORACLE_ANTI),
    "op_coerce": (op_coerce, ORACLE_COERCE),
    "op_concat": (op_concat, ORACLE_CONCAT),
    "op_defaults": (op_defaults, ORACLE_DEFAULTS),
    "op_fill_down": (op_fill_down, ORACLE_FILL_DOWN),
    "op_filter_closure": (op_filter_closure, ORACLE_FILTER_CLOSURE),
    "op_filter_map": (op_filter_map, ORACLE_FILTER_MAP),
    "op_filter_regex": (op_filter_regex, ORACLE_FILTER_REGEX),
    "op_flat_map": (op_flat_map, ORACLE_FLAT_MAP),
    "op_group_rows": (op_group_rows, ORACLE_GROUP_ROWS),
    "op_intersect_flag": (op_intersect_flag, ORACLE_INTERSECT),
    "op_lag_lead": (op_lag_lead, ORACLE_LAG_LEAD),
    "op_reduce": (op_reduce, ORACLE_REDUCE),
    "op_replace": (op_replace, ORACLE_REPLACE),
    "op_resample_interpolate": (op_resample_interpolate, ORACLE_RESAMPLE),
    "op_semi_join": (op_semi_join, ORACLE_SEMI),
    "op_unique": (op_unique, ORACLE_UNIQUE),
    # -- no portable DuckDB oracle (hash internals); rows-only check
    "dedup_minhash": (dedup_minhash, None),
    "dedup_simhash": (dedup_simhash, None),
    "dedup_embedding": (dedup_embedding, None),
    "ann_ivf": (ann_ivf, None),
    "ann_recall": (ann_recall, None),
}
