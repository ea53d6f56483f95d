"""Query registry: every SURVEY.md §2 operator exposed as a (Spark fn,
DuckDB oracle SQL) pair for the driver correctness harness.

Conventions (driver compare = row count + schema + order-insensitive
value hash):
  * every computed column aliased identically on both sides
  * aggregates cast so Spark and DuckDB types line up (DuckDB sum(int)
    is HUGEINT -> CAST AS BIGINT; len() is BIGINT -> matched by casting
    Spark size() to long)
  * float outputs rounded or integer-scaled where engines could differ in
    summation order
Non-SQL-expressible ops fall back to golden-parquet oracles (flagship /
paged / metadata extraction, multimodal decode, HTML/SVG render, HTML
main content — all under dist/, spec-derived or reviewed snapshots;
IVF top-k uses an independent numpy-reimplementation golden keyed by
corpus fingerprint).  Everything else — including simhash (md5 bit
votes replicated in SQL) and SRP-LSH top-k (the full hyperplane /
bucket / multiprobe / re-rank pipeline reimplemented in DuckDB SQL) —
is value-hash checked against DuckDB.  EVERY query has an oracle; no
rows-only checks remain.
"""

from __future__ import annotations

import os
from collections import Counter
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.text import document_stats
from .operators.dedup import (
    dedup_exact,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from .operators.similarity import brute_force_topk, lsh_topk

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Base-table reader with per-session SCHEMA memoization: repeated
    `spark.read.parquet(path)` calls re-read a footer for schema
    inference on the DRIVER every time — across a 120-query bench where
    each query runs 4x, that driver-side latency is pure overhead.  The
    memo stores only the inferred StructType; every call still returns a
    FRESH DataFrame (memoizing the DataFrame itself makes two loads of
    the same table the same plan instance, which breaks self-joins with
    ambiguous-column errors), and every action still scans the parquet
    files — metadata reuse, not result caching.  Keyed on the session
    object (a fresh session gets a fresh memo) and on the path's mtime, so
    a rewritten table is re-inferred; a path `os.stat` cannot see (not on
    the local file system) is read without the memo."""
    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (path, os.stat(path).st_mtime_ns)
    except OSError:
        return spark.read.parquet(path)
    memo = getattr(spark, "_pes_schema_memo", None)
    if memo is None:
        memo = {}
        try:
            spark._pes_schema_memo = memo
        except AttributeError:  # exotic session proxy: fall through uncached
            return spark.read.parquet(path)
    schema = memo.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        memo[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


# ---------------------------------------------------------------------------
# TPC-H-style relational queries (scan/filter/agg/join/window/sort/limit)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_top_urgent_revenue(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT o_orderkey, o_orderdate,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: per-priority order counts where EXISTS a line item
    shipped after the order date — a non-equi LEFT SEMI join (the
    EXISTS-subquery plan) followed by a tiny-key aggregation."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (li.l_orderkey == orders.o_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q12_shipmode_priority(spark, sf_dir):
    """TPC-H Q12 shape: CASE-conditional counts inside one aggregation
    (high- vs low-priority line counts per line status over a date
    window) — the classic pivoted-sum pattern."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("long")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional-revenue ratio (PROMO parts' share of
    discounted revenue in a shipping window) — conditional sum over a
    fact-dim join reduced to one scalar."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .agg(
            F.round(
                100 * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
                / F.sum(disc),
                4,
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT round(100 * sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount)
                            ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
"""


def q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape: HAVING over a grouped sum (orders whose total
    line-item quantity exceeds a threshold) joined back to customers —
    aggregation-as-filter feeding a join."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 150
) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive brand/quantity bands
    (OR-of-ANDs) over a fact-dim join — the predicate shape that tests
    whether the optimizer still pushes the shared join key."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    band = (
        ((F.col("p_brand") == "Brand#12") & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#23") & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#34") & (q >= 20) & (q <= 30))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30)
"""


def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returned items per customer —
    a 4-way join (lineitem filter -> orders -> customer -> broadcast
    nation) reduced to a deterministic top-20."""
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year — a 6-way join with the same dimension (nation) joined twice
    under different roles, the self-role-join pattern.  Both nation
    sides are broadcast; the fact-side shuffle is a single
    lineitem->orders->customer chain."""
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_12") & (F.col("cust_nation") == "NATION_10")
    ) | (
        (F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_12")
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a region's revenue for one
    part type, by order year — conditional-sum ratio over a 7-way join
    (two nation roles + region).  All dimensions broadcast; only the
    lineitem->orders->customer chain shuffles."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part.filter(F.col("p_type") == "PROMO")),
                li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
            F.col("n1_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END)
             / sum(volume), 4) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of per-customer order counts — a
    LEFT OUTER join with an extra join-side predicate (so zero-order
    customers survive with count 0), then a second aggregation over the
    first's result.  The outer join preserves the NULL-extension rows
    that an inner join would drop."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders,
            (customer.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: a derived revenue relation consumed twice — once
    as the join input and once inside a scalar MAX subquery selecting
    the top supplier(s).  The revenue aggregate is rounded BEFORE the
    max comparison so the equality is exact on both engines."""
    supplier = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated scalar subquery — lines whose quantity
    is below a fraction of their part's average quantity.  Compiled the
    way every engine compiles it: pre-aggregate the per-part average
    once, then one equi-join instead of a per-row subquery."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    per_part_avg = (
        li.groupBy(F.col("l_partkey").alias("avg_partkey"))
        .agg(F.avg("l_quantity").alias("avg_qty"))
    )
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_brand") == "Brand#23")),
            li.l_partkey == part.p_partkey,
        )
        .join(per_part_avg, li.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.5 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey
  )
"""


def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier order — the EXISTS + NOT-EXISTS double-correlated
    pattern.  (Lateness adapted to l_shipdate > o_orderdate + 60 days;
    the schema has no commit/receipt dates.)  Compiled as one grouped
    pass over lineitem computing distinct-supplier and distinct-late-
    supplier counts per order — sole-late-on-multi-supplier-order is
    exactly (n_supp >= 2 AND n_late_supp = 1) — instead of the two
    self-joins a literal EXISTS translation would shuffle."""
    supplier = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "is_late", F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    # No dedup: like the reference SQL, each late LINE counts toward
    # numwait (a supplier with two late lines on one order scores 2).
    late = lines.filter(F.col("is_late")).select("l_orderkey", "l_suppkey")
    return (
        late.join(
            per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)),
            "l_orderkey",
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: customers in selected country codes with
    above-average positive balances and no RECENT orders — an
    uncorrelated scalar-average subquery plus a NOT EXISTS anti-join
    with a join-side predicate.  (Country code adapted to
    c_nationkey % 5 — the schema has no phone column; "no orders"
    adapted to "no orders since 2000" — this corpus gives every
    customer at least one order.)"""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    code = (F.col("c_nationkey") % 5).cast("int").alias("cntrycode")
    eligible = customer.withColumn("cntrycode", code).filter(
        F.col("cntrycode").isin(0, 2, 4)
    )
    avg_bal = eligible.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = orders.filter(F.col("o_orderdate") >= "2000-01-01")
    return (
        eligible.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, eligible.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


Q22_SQL = """
SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM (
  SELECT CAST(c_nationkey % 5 AS INTEGER) AS cntrycode, c_acctbal, c_custkey
  FROM customer
  WHERE c_nationkey % 5 IN (0, 2, 4)
    AND c_acctbal > (
      SELECT avg(c_acctbal) FROM customer
      WHERE c_acctbal > 0.0 AND c_nationkey % 5 IN (0, 2, 4)
    )
    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""


def nation_balance_full_outer(spark, sf_dir):
    """FULL OUTER join shape: per-nation customer vs supplier balance
    totals — nations with only one side present survive with NULLs
    (coalesced to 0 for the hash compare)."""
    customer = load(spark, sf_dir, "customer")
    supplier = load(spark, sf_dir, "supplier")
    c = customer.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.round(F.sum("c_acctbal"), 2).alias("cust_bal")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.round(F.sum("s_acctbal"), 2).alias("supp_bal")
    )
    return (
        c.join(s, "nk", "full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("cust_bal", F.lit(0.0)).alias("cust_bal"),
            F.coalesce("supp_bal", F.lit(0.0)).alias("supp_bal"),
        )
        .orderBy("nationkey")
    )


NATION_BALANCE_SQL = """
SELECT nk AS nationkey,
       coalesce(cust_bal, 0.0) AS cust_bal,
       coalesce(supp_bal, 0.0) AS supp_bal
FROM (SELECT c_nationkey AS nk, round(sum(c_acctbal), 2) AS cust_bal
      FROM customer GROUP BY c_nationkey) c
FULL OUTER JOIN
     (SELECT s_nationkey AS nk, round(sum(s_acctbal), 2) AS supp_bal
      FROM supplier GROUP BY s_nationkey) s
USING (nk)
ORDER BY nationkey
"""


def custkeys_urgent_and_returned(spark, sf_dir):
    """INTERSECT shape (the set op EXCEPT/UNION don't cover): customers
    who placed an urgent order AND had a returned line item."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return urgent.intersect(returned).orderBy("custkey")


CUST_INTERSECT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
INTERSECT
SELECT o_custkey AS custkey
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
ORDER BY custkey
"""


def events_moving_avg(spark, sf_dir):
    """Sliding window FRAME shape (ROWS BETWEEN 6 PRECEDING AND CURRENT
    ROW): 7-event moving average of value per event type in time order —
    the ordered-frame aggregation ranking/sessionize queries don't
    exercise.  Tie-safe: ordered by (ts, event_id) which is unique.

    Scale note: partitionBy(event_type) funnels each type's full
    history through one task — fine for a bounded type dimension, but a
    100-TB per-KEY unbounded history needs the two-phase bucket +
    boundary-carry plan (range-partition by (key, time bucket), carry
    the frame's preceding rows across bucket edges — the
    pack_sequences two-phase prefix-sum precedent).  This query is the
    frame-semantics gate, deliberately in the simple form the oracle
    can mirror exactly."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            F.round(F.avg("value").over(w), 4).alias("mavg7"),
        )
        .orderBy("event_id")
    )


EVENTS_MAVG_SQL = """
SELECT event_id, event_type,
       round(avg(value) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS mavg7
FROM events
ORDER BY event_id
"""


def events_value_percentiles(spark, sf_dir):
    """Exact continuous percentiles (p50/p90/p99 of event value per
    type): Spark's `percentile` and DuckDB's `quantile_cont` share the
    linear-interpolation definition, so the values hash-match after a
    4-decimal round."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


EVENTS_PCTL_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def events_distinct_users_hll(spark, sf_dir):
    """Register-level portable HyperLogLog (operators/sketch.py): approx
    distinct users per event type where the ENTIRE sketch — md5
    registers, exact integer register sum, correction branch — is
    re-derived by the DuckDB oracle, unlike the black-box HLL++ in
    approx_count_distinct.  Mergeable across engines by construction."""
    from .operators.sketch import hll_distinct

    return hll_distinct(
        load(spark, sf_dir, "events"), ["event_type"], "user_id", p=8
    ).orderBy("event_type")


def _events_hll_sql() -> str:
    from .operators.sketch import hll_oracle_sql

    return (
        hll_oracle_sql("events", ["event_type"], "user_id", p=8)
        + "\nORDER BY event_type"
    )


_Q_PROBES = [5000, 9000, 9900, 9999]


def events_value_quantile_sketch(spark, sf_dir):
    """Portable bucketed quantile sketch (operators/sketch.py:
    histogram_quantiles) — the third mergeable sketch beside HLL and
    count-min: exact BIGINT bucket counters, quantiles answered from the
    1024-cell cumulative histogram, the whole sketch re-derived
    term-for-term by the DuckDB oracle (vs Spark's black-box
    approx_percentile)."""
    from .operators.sketch import histogram_quantiles

    return histogram_quantiles(
        load(spark, sf_dir, "events"), "value", _Q_PROBES
    ).orderBy("q_x100")


def _events_quantile_sql() -> str:
    from .operators.sketch import histogram_quantiles_oracle_sql

    return histogram_quantiles_oracle_sql("events", "value", _Q_PROBES)


_CM_PROBES = ["spark", "window", "merge", "zzz_absent_term"]


def corpus_term_cm_freq(spark, sf_dir):
    """Portable count-min sketch (operators/sketch.py): estimated corpus
    term frequencies for a probe set incl. an absent term — the
    heavy-hitter/frequency-estimation primitive whose counters any
    md5-capable engine rebuilds exactly (pure integer arithmetic, so
    the oracle reproduces estimates AND collision overestimates)."""
    from .functions.text import tokens as _tokens
    from .operators.sketch import count_min_freq

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens(F.lower(F.col("text")))).alias("term"))
    return count_min_freq(toks, "term", _CM_PROBES).orderBy("probe")


def _corpus_cm_sql() -> str:
    from .operators.sketch import count_min_oracle_sql

    table = (
        r"(SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))"
        r" AS term FROM documents) toks"
    )
    return (
        count_min_oracle_sql(table, "term", _CM_PROBES) + "\nORDER BY probe"
    )


def events_json_props(spark, sf_dir):
    """Semi-structured column handling: extract an integer property from
    the JSON `props` string and aggregate per event type — the
    get_json_object path every event pipeline hits."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def corpus_top_terms(spark, sf_dir):
    """Global term-frequency top-k: explode lowercase whitespace tokens,
    count, keep the deterministic top 50 — the corpus-vocabulary report
    (and the high-cardinality global top-k shape: map-side combined agg,
    then a single ordered limit)."""
    docs = load(spark, sf_dir, "documents")
    from .functions.text import tokens

    return (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("term"))
        .limit(50)
    )


CORPUS_TOP_TERMS_SQL = r"""
SELECT term, count(*) AS n_occ
FROM (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents
)
GROUP BY term
ORDER BY n_occ DESC, term ASC
LIMIT 50
"""


def doc_bm25_topk(spark, sf_dir):
    """Okapi BM25 ranked retrieval for a 3-term probe query — the
    corpus-curation search primitive.  Only query-matching tokens are
    exploded (higher-order filter before the explode), so the wide
    stage is O(matching tokens) not O(corpus tokens)."""
    from .operators.retrieval import bm25_topk

    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "window", "merge"], k=10)


DOC_BM25_SQL = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
dims AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dims),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM base)
  WHERE term IN ('spark', 'window', 'merge')
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term)
SELECT tf.doc_id,
       round(sum(
         ln(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
         * (tf * (1.2 + 1.0))
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
       ), 4) AS score
FROM tf
JOIN dfreq USING (term)
JOIN dims ON tf.doc_id = dims.doc_id
CROSS JOIN stats
GROUP BY tf.doc_id
ORDER BY score DESC, tf.doc_id ASC
LIMIT 10
"""


def doc_index_hot_terms(spark, sf_dir):
    """Inverted-index provisioning stats: per-term document frequency,
    collection frequency, and max within-doc tf; hottest 30 terms.
    Both aggregations are map-side partial, so the shuffle carries
    term partials, never raw postings."""
    from .operators.retrieval import inverted_index_stats

    docs = load(spark, sf_dir, "documents")
    return (
        inverted_index_stats(docs, min_df=2)
        .orderBy(F.desc("coll_freq"), F.asc("term"))
        .limit(30)
    )


DOC_INDEX_HOT_SQL = r"""
WITH per_doc AS (
  SELECT term, doc_id, count(*) AS tf
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
    FROM documents
  )
  GROUP BY term, doc_id
)
SELECT term,
       CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(tf) AS BIGINT) AS coll_freq,
       CAST(max(tf) AS BIGINT) AS max_tf
FROM per_doc
GROUP BY term
HAVING count(*) >= 2
ORDER BY coll_freq DESC, term ASC
LIMIT 30
"""


def q5_nation_revenue(spark, sf_dir):
    """Multi-way star join: broadcast the small dims (region/nation) —
    Catalyst + AQE choose broadcast-hash, no sort-merge on the dims."""
    region = load(spark, sf_dir, "region")
    nation = load(spark, sf_dir, "nation")
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


Q5_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q6_forecast_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def top3_orders_per_customer(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank", F.round("o_totalprice", 2).alias("price"))
    )


TOP3_SQL = """
SELECT o_custkey, o_orderkey, CAST(rank AS BIGINT) AS rank,
       round(o_totalprice, 2) AS price
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
WHERE rank <= 3
"""


def events_sessionize(spark, sf_dir):
    """Sessionization: 30-minute inactivity gap splits sessions — lag +
    running sum over a per-user window (ordering-sensitive op family)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("timestamp_ltz").cast("long")
            - F.lag(F.col("ts").cast("timestamp_ltz").cast("long")).over(w)
            > 1800,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .orderBy("user_id", "session_id")
    )


SESSIONIZE_SQL = """
SELECT user_id, session_id, count(*) AS n_events,
       round(sum(value), 2) AS session_value
FROM (
  SELECT user_id, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM (
    SELECT user_id, ts, event_id, value,
           CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                     - lag(CAST(floor(epoch(ts)) AS BIGINT))
                       OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) > 1800
                THEN 1 ELSE 0 END AS new_session
    FROM events
  )
)
GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def events_hourly_rollup(spark, sf_dir):
    """Tumbling 1-hour windows per event_type (batch mirror of the
    streaming windowed agg; date_trunc == window('1 hour').start)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour", "event_type")
    )


HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# documents-table text analysis + dedup + span ops
# ---------------------------------------------------------------------------

# DuckDB twin of functions/langid: letter-class tokens and the Han count
# (over `text`), one score per profile (over `toks`), the arg-max CASE
_LANGID_TOKED_SQL = r"""list_filter(regexp_split_to_array(lower(text), '[^\p{L}]+'),
                     x -> x <> '') AS toks,
         len(regexp_extract_all(text, '[一-鿿]', 0)) AS score_zh"""


def _langid_score_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return (
        "len(list_filter(toks, x -> x IN (" + inlist + ")))"
    )


def _langid_scores_sql() -> str:
    from .functions.langid import LANGS, PROFILES

    return ",\n         ".join(
        f"{_langid_score_sql(PROFILES[lang])} AS score_{lang}"
        for lang in LANGS
        if lang != "zh"
    )


def _langid_pred_sql() -> str:
    from .functions.langid import LANGS

    best = "greatest(" + ", ".join(f"score_{lang}" for lang in LANGS) + ")"
    return "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in LANGS
    ) + " END"


def doc_stats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return document_stats(docs).orderBy("doc_id")


DOC_STATS_SQL = r"""
WITH base AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS wtoks,
         """ + _LANGID_TOKED_SQL + r"""
  FROM documents
), m AS (
  SELECT doc_id, text,
         CAST(len(wtoks) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars2,
         CAST(floor(list_sum(list_transform(wtoks, t -> length(t))) * 100.0
              / greatest(len(wtoks), 1)) AS BIGINT) AS avg_token_len_x100,
         """ + _langid_scores_sql() + r""",
         score_zh
  FROM base
)
SELECT doc_id, n_tokens, n_chars2, avg_token_len_x100,
       CAST(greatest(0, 500 - abs(avg_token_len_x100 - 500))
            + least(n_tokens * 25, 500) AS BIGINT) AS quality_x1000,
       """ + _langid_pred_sql() + r""" AS lang_pred,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM m
ORDER BY doc_id
"""


def dedup_exact_q(spark, sf_dir):
    return dedup_exact(load(spark, sf_dir, "documents")).orderBy("fp")


DEDUP_EXACT_SQL = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_dups
FROM documents
GROUP BY 1
ORDER BY fp
"""

_SHINGLES_CTE = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
                                      i -> array_to_string(ts[i:i+2], ' '))) AS shingles
  FROM base
)
"""


def minhash_lsh_q(spark, sf_dir):
    return minhash_lsh_candidates(load(spark, sf_dir, "documents")).orderBy(
        "doc_a", "doc_b"
    )


MINHASH_SQL = _SHINGLES_CTE + r"""
, sig AS (
  SELECT doc_id,
         list_transform(range(0, 8),
             j -> list_min(list_transform(shingles,
                  x -> substr(md5(CAST(j // 4 AS VARCHAR) || ':' || x),
                              CAST((j % 4) * 8 + 1 AS INTEGER), 8)))) AS sig
  FROM sh
  WHERE len(shingles) > 0
), bands AS (
  SELECT doc_id, b, md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bucket
  FROM sig, unnest(range(0, 4)) AS t(b)
)
SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
FROM bands a
JOIN bands b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
ORDER BY doc_a, doc_b
"""


def doc_decontaminate_fuzzy(spark, sf_dir):
    """Fuzzy (MinHash-band) decontamination vs the 5% heldout slice
    (operators/dedup.py:fuzzy_decontaminate) — catches paraphrased eval
    leaks the exact 8-gram path misses.  Same signature spec as
    minhash_lsh_candidates; contamination = any shared (band, bucket)
    with an eval doc, decided by a semi join on the bucket key."""
    from .operators.dedup import fuzzy_decontaminate

    return fuzzy_decontaminate(load(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


DOC_DECONTAMINATE_FUZZY_SQL = _SHINGLES_CTE + r"""
, bk AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100
           AS bucket100
  FROM base
), sig AS (
  SELECT s.doc_id,
         list_transform(range(0, 8),
             j -> list_min(list_transform(shingles,
                  x -> substr(md5(CAST(j // 4 AS VARCHAR) || ':' || x),
                              CAST((j % 4) * 8 + 1 AS INTEGER), 8)))) AS sig
  FROM sh s
  WHERE len(shingles) > 0
), bands AS (
  SELECT doc_id, b, md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bucket
  FROM sig, unnest(range(0, 4)) AS t(b)
), evb AS (
  SELECT DISTINCT b, bucket
  FROM bands JOIN bk USING (doc_id) WHERE bk.bucket100 < 5
), hits AS (
  SELECT DISTINCT bands.doc_id
  FROM bands
  JOIN bk USING (doc_id)
  JOIN evb ON bands.b = evb.b AND bands.bucket = evb.bucket
  WHERE bk.bucket100 >= 5
)
SELECT bk.doc_id, (hits.doc_id IS NOT NULL) AS contaminated
FROM bk LEFT JOIN hits ON bk.doc_id = hits.doc_id
WHERE bk.bucket100 >= 5
ORDER BY bk.doc_id
"""


def doc_source_token_quota(spark, sf_dir):
    """Token-budget source quota at cap=2000 tokens/source
    (functions/text.py:source_token_quota): keep each source's
    md5-priority prefix until the EXCLUSIVE cumulative token count
    reaches the cap.  Grouped two-phase distributed prefix sum — no
    single-task source partition; oracle is the plain per-source
    window re-derivation."""
    from .functions.text import source_token_quota

    return source_token_quota(
        load(spark, sf_dir, "documents"), cap_tokens=2000
    ).orderBy("doc_id")


DOC_SOURCE_TOKEN_QUOTA_SQL = r"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS ord
  FROM documents
)
SELECT doc_id, source, n_tok,
       CAST(COALESCE(sum(n_tok) OVER (
         PARTITION BY source ORDER BY ord, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) AS BIGINT) AS tokens_before,
       COALESCE(sum(n_tok) OVER (
         PARTITION BY source ORDER BY ord, doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ), 0) < 2000 AS keep
FROM d
ORDER BY doc_id
"""


def doc_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve at K in {10, 100, 1000}
    (functions/text.py:vocab_coverage): fraction of corpus token
    occurrences covered by the K most frequent words — the
    tokenizer-sizing diagnostic.  Frequency rank + cumulative counts
    via the two-phase distributed prefix in (count DESC, word) order;
    no vocabulary-sized single-task window."""
    from .functions.text import vocab_coverage

    return vocab_coverage(load(spark, sf_dir, "documents"))


DOC_VOCAB_COVERAGE_SQL = r"""
WITH hist AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
    FROM documents
  ) WHERE w <> ''
  GROUP BY w
), ranked AS (
  SELECT row_number() OVER (ORDER BY cnt DESC, w) AS rank,
         sum(cnt) OVER (ORDER BY cnt DESC, w
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM hist
), total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM hist)
SELECT CAST(k.k AS BIGINT) AS k,
       CAST(COALESCE((SELECT max(cum) FROM ranked WHERE rank <= k.k), 0)
            AS BIGINT) AS covered_tokens,
       total_tokens,
       CAST(COALESCE((SELECT max(cum) FROM ranked WHERE rank <= k.k), 0)
            * 1000000 // total_tokens AS BIGINT) AS coverage_ppm
FROM (VALUES (10), (100), (1000)) AS k(k), total
ORDER BY k
"""


def doc_quality_filter(spark, sf_dir):
    """Gopher-rule pretraining quality filter over the documents table
    (functions/text.py:gopher_quality_flags); per-rule booleans + keep."""
    from .functions.text import gopher_quality_flags

    return gopher_quality_flags(load(spark, sf_dir, "documents")).orderBy("doc_id")


# per-stratum sampling percentages pinned for the oracled query
_SAMPLE_RATES = {"src0": 40, "src1": 15}
_SAMPLE_DEFAULT_PCT = 5
_QUOTA_CAP = 12  # binds at every test SF (sf0.01 has up to 25 docs/source)


def doc_sample_stratified(spark, sf_dir):
    """Deterministic corpus-mixing sample: keep a doc iff the top 32 bits
    of md5(doc_id) land in the stratum's percentage bucket — reproducible
    and auditable by ANY md5-capable engine, unlike rand()/sampleBy
    (functions/text.py:stratified_sample).  One narrow codegen pass, no
    shuffle — at 100 TB this is a scan-side filter pushed next to the
    parquet reader."""
    from .functions.text import stratified_sample

    return stratified_sample(
        load(spark, sf_dir, "documents"),
        rates=_SAMPLE_RATES,
        default_pct=_SAMPLE_DEFAULT_PCT,
    ).select("doc_id", "source", "lang").orderBy("doc_id")


def doc_source_quota(spark, sf_dir):
    """Per-source quota cap (anti-domination): at most N docs per source
    by deterministic md5 priority (functions/text.py:source_quota_cap).
    Hash priority makes the retained set independent of scan order and
    partitioning — re-runs and resumes keep the same docs."""
    from .functions.text import source_quota_cap

    return source_quota_cap(
        load(spark, sf_dir, "documents"), cap=_QUOTA_CAP
    ).select("doc_id", "source").orderBy("doc_id")


def corpus_summary_stats(spark, sf_dir):
    """Per-(lang, source) corpus composition: doc/char/token totals and
    extremes — the post-stage report table of a data pipeline
    (functions/text.py:corpus_summary).  Integer-only, map-side combined."""
    from .functions.text import corpus_summary

    return corpus_summary(load(spark, sf_dir, "documents")).orderBy("lang", "source")


SAMPLE_STRATIFIED_SQL = r"""
SELECT doc_id, source, lang
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100
      < CASE source WHEN 'src0' THEN 40 WHEN 'src1' THEN 15 ELSE 5 END
ORDER BY doc_id
"""

SOURCE_QUOTA_SQL = r"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
WHERE rk <= 12
ORDER BY doc_id
"""

def doc_mix_temperature(spark, sf_dir):
    """Temperature-weighted language mixing (budget 250, T=0.5): the
    LLM-mix step that up-weights small languages against the dominant
    one.  Rates are exact integer ppm thresholds derived from the
    per-lang counts (functions/text.py:temperature_mix) — sqrt is
    correctly rounded by IEEE-754, so the oracle re-derives the same
    thresholds in HUGEINT arithmetic and the retained set matches
    bit-for-bit."""
    from .functions.text import temperature_mix

    return (
        temperature_mix(
            load(spark, sf_dir, "documents"), budget=250, key_col="lang"
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


MIX_TEMPERATURE_SQL = r"""
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
weights AS (
  SELECT lang, n, CAST(floor(sqrt(n) * 1000) AS HUGEINT) AS w FROM counts
),
tot AS (SELECT sum(w) AS sumw FROM weights),
rates AS (
  SELECT lang,
         least(CAST(1000000 AS HUGEINT),
               (CAST(250 AS HUGEINT) * w * 1000000)
               // (CAST(n AS HUGEINT) * sumw)) AS rate_ppm
  FROM weights, tot
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN rates USING (lang)
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT % 1000000
      < rate_ppm
ORDER BY d.doc_id
"""


def doc_chunk_sliding(spark, sf_dir):
    """Sliding-window training chunks (32-token window, 24 stride): the
    per-document chunking a context-bounded trainer consumes.  Narrow
    zero-shuffle plan (functions/text.py:chunk_sliding)."""
    from .functions.text import chunk_sliding

    return chunk_sliding(
        load(spark, sf_dir, "documents"), window=32, stride=24
    ).orderBy("doc_id", "chunk_id")


CHUNK_SLIDING_SQL = r"""
WITH dims AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
         len(regexp_split_to_array(trim(text), '\s+')) AS n
  FROM documents
)
SELECT doc_id, i AS chunk_id,
       CAST(len(toks[i*24+1 : i*24+32]) AS BIGINT) AS n_tokens,
       array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk_text
FROM dims, LATERAL unnest(range(0, 1 + (greatest(n - 32, 0) + 23) // 24)) AS t(i)
ORDER BY doc_id, chunk_id
"""


def spans_linearize(spark, sf_dir):
    """Interleaved-span linearization — the model-facing training
    sequence: text spans verbatim, <p>/<h> sentinels for structure,
    '<media:ref>' placeholders where images sit in the text flow
    (operators/linearize.py).  Consumes the unified PDF+HTML spans
    table; one groupBy(doc) shuffle with in-plan array_sort ordering."""
    from .operators.linearize import linearize_spans

    return linearize_spans(unified_spans(spark, sf_dir)).orderBy(
        "source_format", "doc_id"
    )


def _span_tok_sql() -> str:
    """Rendered-token CASE for one span, derived from
    operators/linearize.SENTINELS so the linearize and pack-chain
    oracles share one source of truth with the Spark-side
    span_token() — adding a sentinel kind updates all of them."""
    from .operators.linearize import SENTINELS

    arms = " ".join(
        f"WHEN kind = '{k}' THEN '{tok}'" for k, tok in sorted(SENTINELS.items())
    )
    return (
        "CASE WHEN kind = 'media' THEN '<media:' || media_ref || '>' "
        + arms
        + " ELSE text END"
    )


_SPAN_TOK_SQL = _span_tok_sql()

SPANS_LINEARIZE_SQL = f"""
WITH u AS (
  SELECT doc_id, 'pdf' AS source_format, pos, kind, text, media_ref
  FROM read_parquet('{{GOLDEN_SPANS}}')
  UNION ALL
  SELECT doc_id, 'html' AS source_format, pos, kind, text, media_ref
  FROM read_parquet('{{GOLDEN_HTML_MAIN}}')
)
SELECT source_format, doc_id,
       string_agg(
         {_SPAN_TOK_SQL},
         ' ' ORDER BY pos,
         -- equal-pos tiebreak: the rendered token, mirroring Spark's
         -- array_sort falling through the (pos, tok) struct
         {_SPAN_TOK_SQL}) AS train_text,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_media
FROM u
GROUP BY source_format, doc_id
ORDER BY source_format, doc_id
"""


def spans_pack_manifest(spark, sf_dir):
    """The north-rule chain end-to-end: PDF+HTML extraction -> unified
    interleaved spans -> linearized training sequences -> GPT-style
    pack shard map at seq_len=128.  Composite doc key
    'source_format:doc_id'; the oracle replays the whole chain in SQL
    (string_agg linearization over the union of goldens feeding the
    same prefix-sum pack CTEs)."""
    from .operators.linearize import linearize_spans
    from .operators.pack import pack_sequences

    lin = linearize_spans(unified_spans(spark, sf_dir))
    seqs = lin.select(
        F.concat_ws(":", "source_format", "doc_id").alias("doc_id"),
        F.col("train_text").alias("text"),
    )
    return pack_sequences(seqs, 128).orderBy("chunk_id", "doc_id")


def _spans_pack_sql() -> str:
    tok = _SPAN_TOK_SQL
    lin = f"""(
  SELECT source_format || ':' || doc_id AS doc_id,
         string_agg({tok}, ' ' ORDER BY pos, {tok}) AS text
  FROM (
    SELECT doc_id, 'pdf' AS source_format, pos, kind, text, media_ref
    FROM read_parquet('{_GOLDEN_SPANS_PARQUET}')
    UNION ALL
    SELECT doc_id, 'html' AS source_format, pos, kind, text, media_ref
    FROM read_parquet('{_GOLDEN_HTML_MAIN_PARQUET}')
  ) u
  GROUP BY source_format, doc_id
) lin"""
    return _pack_sql(128, source=lin)


def doc_repetition_flags(spark, sf_dir):
    """Gopher-style intra-document repetition filter: top-bigram and
    duplicate-trigram occurrence fractions + per-rule booleans
    (functions/text.py:repetition_signals)."""
    from .functions.text import repetition_signals

    return repetition_signals(load(spark, sf_dir, "documents")).orderBy("doc_id")


def doc_span_dedup(spark, sf_dir):
    """C4-style cross-corpus duplicate-span statistics over overlapping
    13-word grams; keeper = global min (doc_id, pos)
    (functions/text.py:span_dedup_stats)."""
    from .functions.text import span_dedup_stats

    return span_dedup_stats(load(spark, sf_dir, "documents")).orderBy("doc_id")


def doc_span_dedup_apply(spark, sf_dir):
    """C4-style span removal: rewrite docs with non-keeper duplicate
    13-gram occurrences dropped (functions/text.py:span_dedup_apply)."""
    from .functions.text import span_dedup_apply

    return span_dedup_apply(load(spark, sf_dir, "documents")).orderBy("doc_id")


def doc_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any 8-word
    gram with the deterministic md5-bucket<3 eval slice
    (functions/text.py:decontaminate)."""
    from .functions.text import decontaminate

    return decontaminate(load(spark, sf_dir, "documents")).orderBy("doc_id")


def doc_holdout_split(spark, sf_dir):
    """Eval-suite construction with leakage control: a deterministic
    md5-bucket 5% heldout slice, with the TRAIN side decontaminated
    against it through the EXTERNAL eval_docs API (the production call
    of functions/text.py:decontaminate — the benchmark frame crosses
    the API boundary instead of the self-contained slice rule).  Emits
    the full split table: eval rows plus train rows with their
    contamination verdict and the final keep decision.

    Scale shape: the split is a scan-side md5 filter; the verdicts are
    decontaminate's one-gram-build broadcast plan; the union is two
    branches of the same scan."""
    from .functions.text import decontaminate, hash_bucket

    docs = load(spark, sf_dir, "documents")
    bk = hash_bucket(F.col("doc_id"))
    eval_side = docs.filter(bk < 5)
    train_side = docs.filter(bk >= 5)
    verdicts = decontaminate(train_side, eval_docs=eval_side)
    train_rows = verdicts.select(
        "doc_id",
        F.lit("train").alias("split"),
        "n_grams",
        "n_hits",
        "contaminated",
        (~F.col("contaminated")).alias("keep"),
    )
    eval_rows = eval_side.select(
        "doc_id",
        F.lit("eval").alias("split"),
        F.lit(0).cast("long").alias("n_grams"),
        F.lit(0).cast("long").alias("n_hits"),
        F.lit(False).alias("contaminated"),
        F.lit(True).alias("keep"),
    )
    return train_rows.unionByName(eval_rows).orderBy("doc_id")


DOC_HOLDOUT_SPLIT_SQL = r"""
WITH base AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100
           AS bk,
         list_distinct(list_transform(range(1, greatest(len(ts) - 7, 0) + 1),
                       i -> array_to_string(ts[i:i+7], ' '))) AS gs
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        FROM documents)
), ev AS (
  SELECT DISTINCT md5(g) AS h FROM base, unnest(gs) AS t(g) WHERE bk < 5
), tr AS (
  SELECT doc_id, md5(g) AS h FROM base, unnest(gs) AS t(g) WHERE bk >= 5
), hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM tr JOIN ev USING (h)
  GROUP BY doc_id
)
SELECT b.doc_id, 'train' AS split,
       CAST(len(b.gs) AS BIGINT) AS n_grams,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated,
       coalesce(h.n_hits, 0) = 0 AS keep
FROM base b LEFT JOIN hits h USING (doc_id)
WHERE b.bk >= 5
UNION ALL
SELECT doc_id, 'eval', CAST(0 AS BIGINT), CAST(0 AS BIGINT), FALSE, TRUE
FROM base WHERE bk < 5
ORDER BY doc_id
"""


def doc_mix_epochs(spark, sf_dir):
    """Token-budget mixture planning: given per-source token totals and
    a 2x-corpus token budget, plan each source's share under sqrt
    (T=0.5) temperature weighting and report the per-source epoch
    factor (how many times the source repeats) — the upsampling plan a
    pretraining mixture uses.  All arithmetic is integer-exact: weights
    come from floor(sqrt(tokens)) (IEEE sqrt of an exactly-represented
    BIGINT, identical in any engine), shares and epochs are integer
    div/mod — no float summation order anywhere.

    Scale shape: one map-side per-source aggregate (a handful of rows),
    a one-row totals frame crossJoined back — the corpus is scanned
    once for token counts and never shuffled."""
    from .functions.text import token_count

    docs = load(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens")
    ).withColumn("isqrt", F.floor(F.sqrt("n_tokens")).cast("long"))
    totals = per_src.agg(
        F.sum("isqrt").cast("long").alias("ssum"),
        F.sum("n_tokens").cast("long").alias("ntotal"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_tokens",
            # `div` = exact BIGINT division (a float `/` then cast would
            # truncate 123.9999… to 123 where DuckDB's `//` gives 124)
            F.expr("isqrt * 1000000L div ssum").alias("weight_ppm"),
            F.expr("2L * ntotal * isqrt div ssum").alias("planned_tokens"),
            # intermediate bound (ADVICE r6): 2*ntotal*isqrt*1000 must
            # stay under 2^63, i.e. ntotal*isqrt < ~4.6e15 — with
            # isqrt = floor(sqrt(per-source tokens)) that holds up to
            # ~2.7e12 total corpus tokens per source-uniform mix (and
            # ANSI mode RAISES rather than wraps beyond it).  Corpora
            # past that bound should compute this column on
            # DECIMAL(38,0); documented rather than reordered because a
            # div reorder changes the floor rounding the oracle pins.
            F.expr(
                "2L * ntotal * isqrt * 1000L div (ssum * n_tokens)"
            ).alias("epochs_x1000"),
        )
        .orderBy("source")
    )


DOC_MIX_EPOCHS_SQL = r"""
WITH per_src AS (
  SELECT source,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
), w AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(n_tokens)) AS BIGINT) AS isqrt
  FROM per_src
), t AS (
  SELECT CAST(sum(isqrt) AS BIGINT) AS ssum,
         CAST(sum(n_tokens) AS BIGINT) AS ntotal
  FROM w
)
SELECT source, n_tokens,
       isqrt * 1000000 // ssum AS weight_ppm,
       2 * ntotal * isqrt // ssum AS planned_tokens,
       2 * ntotal * isqrt * 1000 // (ssum * n_tokens) AS epochs_x1000
FROM w, t
ORDER BY source
"""


def doc_pii_redact(spark, sf_dir):
    """PII scrubbing over documents with deterministic injected PII
    (emails on doc_id%7, IPs on %11, phones on %13 — the synthetic corpus
    itself carries none, so the injection makes the redaction paths real
    in the oracle compare).  functions/text.py:pii_redact."""
    from .functions.text import pii_redact

    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"), did, F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit(" from 10.0."),
                         (F.col("doc_id") % 256).cast("string"), F.lit(".1")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0, F.lit(" call 555-123-4567 or +1 800 555 0199")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_redact(injected).orderBy("doc_id")


def doc_url_dedup(spark, sf_dir):
    """URL canonicalization + URL-keyed dedup over deterministically
    constructed crawl URLs (mixed case, default ports, tracking params,
    fragments; collisions by construction across docs sharing
    (source, doc_id mod 50/4/5)).  functions/urls.py."""
    from .functions.urls import url_dedup

    docs = load(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://"),
            F.upper(F.col("source")),
            F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(":80")).otherwise(F.lit("")),
            F.lit("/docs/"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("?utm_source=feed&b="),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("&a="),
            (F.col("doc_id") % 4).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("#sec1")).otherwise(F.lit("")),
        ).alias("url"),
    )
    return url_dedup(urls).orderBy("doc_id")


DOC_PII_REDACT_SQL = r"""
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' call 555-123-4567 or +1 800 555 0199'
                 ELSE '' END AS text
  FROM documents
), pat AS (
  SELECT doc_id, text,
         '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}' AS email_re,
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b' AS ip_re,
         '\b\d{3}[\-]\d{3}[\-]\d{4}\b|\+\d{1,2}[ ]\d{3}[ ]\d{3}[ ]\d{4}\b' AS phone_re
  FROM injected
), steps AS (
  -- sequential counting (each count on the text AFTER prior replacements)
  -- mirrors pii_redact: counts == placeholder tokens actually inserted
  SELECT doc_id, text, email_re, ip_re, phone_re,
         regexp_replace(text, email_re, '<EMAIL>', 'g') AS t1
  FROM pat
), steps2 AS (
  SELECT *, regexp_replace(t1, ip_re, '<IP>', 'g') AS t2 FROM steps
)
SELECT doc_id,
       regexp_replace(t2, phone_re, '<PHONE>', 'g') AS redacted,
       CAST(len(regexp_extract_all(text, email_re)) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t1, ip_re)) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t2, phone_re)) AS BIGINT) AS n_phones,
       (len(regexp_extract_all(text, email_re))
        + len(regexp_extract_all(t1, ip_re))
        + len(regexp_extract_all(t2, phone_re))) > 0 AS has_pii
FROM steps2
ORDER BY doc_id
"""

DOC_URL_DEDUP_SQL = r"""
WITH urls AS (
  SELECT doc_id,
         'HTTP://' || upper(source) || '.Example.COM'
         || CASE WHEN doc_id % 3 = 0 THEN ':80' ELSE '' END
         || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
         || '?utm_source=feed&b=' || CAST(doc_id % 5 AS VARCHAR)
         || '&a=' || CAST(doc_id % 4 AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0 THEN '#sec1' ELSE '' END AS url
  FROM documents
), parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
         regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS rawpath,
         -- query from the PRE-fragment part only (a '?' inside the
         -- fragment is not a query)
         regexp_extract(regexp_extract(url, '^([^#]*)', 1), '\?(.*)', 1) AS rawq
  FROM urls
), hosted AS (
  SELECT *,
         CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
              ELSE hostport END AS host
  FROM parts
), canon AS (
  SELECT doc_id, url,
         -- validity guard mirrors canonical_url: schemeless/hostless URLs
         -- keep their verbatim form (exact-equality dedup only)
         CASE WHEN scheme = '' OR host = '' THEN url
              ELSE scheme || '://' || host
                   || CASE WHEN rawpath = '' THEN '/' ELSE rawpath END
                   || CASE WHEN len(kept) > 0
                           THEN '?' || array_to_string(kept, '&')
                           ELSE '' END
         END AS canonical_url
  FROM (
    SELECT *,
           list_sort(list_filter(str_split(rawq, '&'),
             p -> p <> '' AND NOT regexp_matches(
                    p, '^(utm_[A-Za-z0-9_]*|fbclid|gclid)='))) AS kept
    FROM hosted
  )
), grp AS (
  SELECT canonical_url, min(doc_id) AS keep_id,
         CAST(count(*) AS BIGINT) AS n_dups
  FROM canon GROUP BY canonical_url
)
SELECT c.doc_id, c.url, c.canonical_url,
       c.doc_id = g.keep_id AS is_canonical,
       g.n_dups
FROM canon c JOIN grp g USING (canonical_url)
ORDER BY c.doc_id
"""


DOC_REPETITION_SQL = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ts) - 1, 0) + 1),
                        i -> ts[i] || ' ' || ts[i+1]) AS bg,
         list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
                        i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS tg
  FROM base
), m AS (
  SELECT doc_id,
         CAST(len(bg) AS BIGINT) AS n_bigrams,
         CAST(coalesce(list_max(list_transform(list_distinct(bg),
              x -> len(list_filter(bg, y -> y = x)))), 0) AS BIGINT)
           AS top_bigram_cnt,
         CAST(len(tg) AS BIGINT) AS n_trigrams,
         CAST(len(tg) - len(list_filter(list_distinct(tg),
              x -> len(list_filter(tg, y -> y = x)) = 1)) AS BIGINT)
           AS dup_trigram_cnt
  FROM g
)
SELECT doc_id, n_bigrams, top_bigram_cnt, n_trigrams, dup_trigram_cnt,
       top_bigram_cnt * 100 <= n_bigrams * 20 AS rule_top_bigram,
       dup_trigram_cnt * 100 <= n_trigrams * 30 AS rule_dup_trigram,
       (top_bigram_cnt * 100 <= n_bigrams * 20)
         AND (dup_trigram_cnt * 100 <= n_trigrams * 30) AS keep
FROM m
ORDER BY doc_id
"""

DOC_SPAN_DEDUP_SQL = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ts) - 12, 0) + 1),
                        i -> array_to_string(ts[i:i+12], ' ')) AS gs
  FROM base
), occ AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, md5(gs[i]) AS h
  FROM g, unnest(range(1, len(gs) + 1)) AS t(i)
), judged AS (
  SELECT doc_id,
         count(*) OVER (PARTITION BY h) AS occ_cnt,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
  FROM occ
), per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN occ_cnt > 1 AND rk > 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup_spans
  FROM judged
  GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(n_spans, 0) AS n_spans,
       coalesce(n_dup_spans, 0) AS n_dup_spans,
       coalesce(n_dup_spans, 0) = 0 AS is_clean
FROM documents d
LEFT JOIN per_doc USING (doc_id)
ORDER BY doc_id
"""

DOC_SPAN_DEDUP_APPLY_SQL = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), g AS (
  SELECT doc_id, ts,
         list_transform(range(1, greatest(len(ts) - 12, 0) + 1),
                        i -> array_to_string(ts[i:i+12], ' ')) AS gs
  FROM base
), occ AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, md5(gs[i]) AS h
  FROM g, unnest(range(1, len(gs) + 1)) AS t(i)
), judged AS (
  SELECT doc_id, pos,
         count(*) OVER (PARTITION BY h) AS occ_cnt,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
  FROM occ
), dup_pos AS (
  SELECT doc_id, list_sort(list(pos)) AS dups
  FROM judged
  WHERE occ_cnt > 1 AND rk > 1
  GROUP BY doc_id
), rewritten AS (
  SELECT b.doc_id,
         CASE WHEN d.dups IS NULL THEN b.ts
              ELSE list_transform(
                     list_filter(range(1, len(b.ts) + 1),
                       i -> len(list_filter(d.dups,
                              p -> i - 1 >= p AND i - 1 < p + 13)) = 0),
                     i -> b.ts[i])
         END AS kept,
         b.ts AS ts
  FROM base b
  LEFT JOIN dup_pos d USING (doc_id)
)
SELECT doc_id,
       -- coalesces: DuckDB's array_to_string([]) is NULL where Spark's
       -- is ''; NULL text rows must yield ('', 0) on both engines
       coalesce(array_to_string(kept, ' '), '') AS clean_text,
       CAST(coalesce(len(ts) - len(kept), 0) AS BIGINT) AS n_tokens_removed
FROM rewritten
ORDER BY doc_id
"""

DOC_DECONTAMINATE_SQL = r"""
WITH base AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100
           AS bk,
         list_distinct(list_transform(range(1, greatest(len(ts) - 7, 0) + 1),
                       i -> array_to_string(ts[i:i+7], ' '))) AS gs
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        FROM documents)
), ev AS (
  SELECT DISTINCT md5(g) AS h FROM base, unnest(gs) AS t(g) WHERE bk < 3
), tr AS (
  SELECT doc_id, md5(g) AS h FROM base, unnest(gs) AS t(g) WHERE bk >= 3
), hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM tr JOIN ev USING (h)
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.gs) AS BIGINT) AS n_grams,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM base b
LEFT JOIN hits h USING (doc_id)
WHERE b.bk >= 3
ORDER BY doc_id
"""


_BLOOM_MBITS = 1 << 14
_BLOOM_K = 4


def doc_decontaminate_bloom(spark, sf_dir):
    """Bloom-bitmap decontamination (functions/text.py:
    decontaminate_bloom): same verdict semantics as doc_decontaminate
    but the eval set travels as a constant-size bitmap and membership
    is a narrow per-row expression — no semi join on the corpus side.
    The oracle rebuilds the identical bitmap in SQL, reproducing every
    deterministic false positive bit-for-bit."""
    from .functions.text import decontaminate_bloom

    return decontaminate_bloom(
        load(spark, sf_dir, "documents"),
        n=8, eval_pct=3, mbits=_BLOOM_MBITS, k=_BLOOM_K,
    ).orderBy("doc_id")


def _bloom_decontaminate_sql(mbits: int = _BLOOM_MBITS,
                             k: int = _BLOOM_K) -> str:
    terms = []
    for i in range(k):
        p = f"((h1 + {i} * h2) % {mbits})"
        terms.append(
            f"(('0x' || substr(bm, CAST({p} // 4 AS INT) + 1, 1))::INT"
            f" & (1 << CAST({p} % 4 AS INT))) <> 0"
        )
    hit = "\n             AND ".join(terms)
    return rf"""
WITH base AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100
           AS bk,
         list_distinct(list_transform(range(1, greatest(len(ts) - 7, 0) + 1),
                       i -> array_to_string(ts[i:i+7], ' '))) AS gs
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        FROM documents)
), evh AS (
  SELECT DISTINCT md5(g) AS h FROM base, unnest(gs) AS t(g) WHERE bk < 3
), posns AS (
  SELECT ((('0x' || substr(h, 1, 8))::BIGINT
           + i * ('0x' || substr(h, 9, 8))::BIGINT) % {mbits}) AS pos
  FROM evh, unnest(range(0, {k})) AS t(i)
), nibbles AS (
  SELECT CAST(pos // 4 AS INT) AS ni,
         bit_or(1 << CAST(pos % 4 AS INT)) AS nv
  FROM posns GROUP BY 1
), bitmap AS (
  -- same nibble-hex layout the Spark side ships as a string literal
  SELECT string_agg(to_hex(coalesce(n.nv, 0)), '' ORDER BY r.range) AS bm
  FROM range(0, {mbits // 4}) r LEFT JOIN nibbles n ON n.ni = r.range
), trh AS (
  SELECT doc_id,
         ('0x' || substr(md5(g), 1, 8))::BIGINT AS h1,
         ('0x' || substr(md5(g), 9, 8))::BIGINT AS h2
  FROM base, unnest(gs) AS t(g) WHERE bk >= 3
), hits AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN {hit}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM trh, bitmap
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.gs) AS BIGINT) AS n_grams,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM base b
LEFT JOIN hits h USING (doc_id)
WHERE b.bk >= 3
ORDER BY doc_id
"""


def corpus_funnel(spark, sf_dir):
    """The COMPOSED corpus-construction pipeline (pipeline.py) as one
    oracled query: per-stage surviving-document counts for quality ->
    exact dedup -> near-dup clusters -> decontamination.  min_stopwords=1
    matches this corpus' register (the synthetic vocabulary carries only
    'the' from the Gopher list); no quota/sampling so the funnel is
    deterministic end-to-end."""
    from .pipeline import corpus_pipeline, funnel_frame

    stages = corpus_pipeline(
        load(spark, sf_dir, "documents"), min_stopwords=1
    )
    return funnel_frame(stages)


# The full pipeline, independently re-implemented in DuckDB SQL: Gopher +
# repetition quality rules -> fingerprint exact dedup -> minhash-LSH pairs
# chased by a recursive-CTE connected components -> 8-gram benchmark
# decontamination over the near-dup survivors.  Every stage mirrors the
# operator SQL used by its standalone oracle, re-chained over the previous
# stage's survivors.
CORPUS_FUNNEL_SQL = r"""
WITH RECURSIVE base AS (
  SELECT d.doc_id, d.text, regexp_split_to_array(trim(lower(text)), '\s+') AS lts,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents d
), gq AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(floor(list_sum(list_transform(toks, t -> length(t))) * 100.0
                / greatest(len(toks), 1)) AS BIGINT) AS mlen,
           len(list_filter(toks, t -> regexp_matches(t, '[^A-Za-z0-9]'))) AS n_sym,
           len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
           len(list_distinct(list_filter(lts, t -> list_contains(
               ['the','be','to','of','and','that','have','with'], t)))) AS n_stop
    FROM base
  ) WHERE n_words BETWEEN 20 AND 100000 AND mlen BETWEEN 300 AND 1000
      AND n_sym * 5 < n_words AND n_stop >= 1 AND n_alpha * 10 >= n_words * 7
), rep AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           CAST(len(bg) AS BIGINT) AS n_bg,
           CAST(coalesce(list_max(list_transform(list_distinct(bg),
                x -> len(list_filter(bg, y -> y = x)))), 0) AS BIGINT) AS top_bg,
           CAST(len(tg) AS BIGINT) AS n_tg,
           CAST(len(tg) - len(list_filter(list_distinct(tg),
                x -> len(list_filter(tg, y -> y = x)) = 1)) AS BIGINT) AS dup_tg
    FROM (SELECT doc_id,
                 list_transform(range(1, greatest(len(lts) - 1, 0) + 1),
                                i -> lts[i] || ' ' || lts[i+1]) AS bg,
                 list_transform(range(1, greatest(len(lts) - 2, 0) + 1),
                                i -> lts[i] || ' ' || lts[i+1] || ' ' || lts[i+2]) AS tg
          FROM base)
  ) WHERE top_bg * 100 <= n_bg * 20 AND dup_tg * 100 <= n_tg * 30
), quality AS (
  SELECT b.* FROM base b
  JOIN gq USING (doc_id) JOIN rep USING (doc_id)
), exact AS (
  SELECT q.* FROM quality q
  JOIN (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
               min(doc_id) AS doc_id
        FROM quality GROUP BY 1) c USING (doc_id)
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(lts) - 2, 0) + 1),
                                      i -> array_to_string(lts[i:i+2], ' '))) AS shingles
  FROM exact
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 8),
             j -> list_min(list_transform(shingles,
                  x -> substr(md5(CAST(j // 4 AS VARCHAR) || ':' || x),
                              CAST((j % 4) * 8 + 1 AS INTEGER), 8)))) AS sig
  FROM sh
  WHERE len(shingles) > 0
), bands AS (
  SELECT doc_id, b, md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bucket
  FROM sig, unnest(range(0, 4)) AS t(b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM bands a
  JOIN bands b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(node, root) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) v
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node
), canon AS (
  SELECT cluster_id, min(doc_id) AS doc_id FROM comp GROUP BY cluster_id
), near AS (
  SELECT e.* FROM exact e
  WHERE e.doc_id NOT IN (
    SELECT c.doc_id FROM comp c
    LEFT JOIN canon k ON k.cluster_id = c.cluster_id AND k.doc_id = c.doc_id
    WHERE k.doc_id IS NULL
  )
), dgrams AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 AS bk,
         list_distinct(list_transform(range(1, greatest(len(lts) - 7, 0) + 1),
                       i -> array_to_string(lts[i:i+7], ' '))) AS gs
  FROM near
), ev AS (
  SELECT DISTINCT md5(g) AS h FROM dgrams, unnest(gs) AS t(g) WHERE bk < 3
), clean AS (
  SELECT d.doc_id FROM dgrams d
  WHERE d.bk >= 3 AND NOT EXISTS (
    SELECT 1 FROM unnest(d.gs) AS t(g) JOIN ev ON ev.h = md5(g)
  )
)
SELECT * FROM (
  SELECT 0 AS stage_idx, 'ingested' AS stage,
         CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
  UNION ALL SELECT 1, 'quality', CAST((SELECT count(*) FROM quality) AS BIGINT)
  UNION ALL SELECT 2, 'exact_dedup', CAST((SELECT count(*) FROM exact) AS BIGINT)
  UNION ALL SELECT 3, 'near_dedup', CAST((SELECT count(*) FROM near) AS BIGINT)
  UNION ALL SELECT 4, 'decontaminated', CAST((SELECT count(*) FROM clean) AS BIGINT)
  UNION ALL SELECT 5, 'final', CAST((SELECT count(*) FROM clean) AS BIGINT)
)
ORDER BY stage_idx
"""


def corpus_funnel_semantic(spark, sf_dir):
    """The composed pipeline with the optional SemDeDup stage enabled:
    lexical near-dup survivors are additionally pruned of semantic
    (paraphrase-level) duplicates via the embeddings table before
    decontamination.  Oracle = the recursive funnel SQL with a `sem` CTE
    spliced in, reading the independent semdedup golden (fingerprint-
    keyed) for the pruned-id set."""
    from .pipeline import corpus_pipeline, funnel_frame

    stages = corpus_pipeline(
        load(spark, sf_dir, "documents"),
        min_stopwords=1,
        embeddings=load(spark, sf_dir, "embeddings"),
    )
    return funnel_frame(stages)


def _splice_semantic_funnel(sql: str) -> str:
    """Compose CORPUS_FUNNEL_SEMANTIC_SQL out of CORPUS_FUNNEL_SQL so the
    shared stages can never drift between the two oracles.  Each anchor
    must hit exactly once — asserted so an edit to the base SQL that
    breaks the splice fails at import, not with a silent wrong oracle."""
    sem_cte = f"""), sem AS (
  SELECT n.* FROM near n
  WHERE n.doc_id NOT IN (
    SELECT vec_id FROM read_parquet('{_GOLDEN_SEMDEDUP_PARQUET}')
    WHERE corpus_fp = (
      SELECT md5(string_agg(vec_id::VARCHAR || embedding::VARCHAR, '|' ORDER BY vec_id))
      FROM embeddings
    ) AND NOT keep
  )
), dgrams AS ("""
    edits = [
        ("), dgrams AS (", sem_cte),
        ("  FROM near\n), ev AS (", "  FROM sem\n), ev AS ("),
        (
            "  UNION ALL SELECT 4, 'decontaminated', "
            "CAST((SELECT count(*) FROM clean) AS BIGINT)\n"
            "  UNION ALL SELECT 5, 'final', "
            "CAST((SELECT count(*) FROM clean) AS BIGINT)",
            "  UNION ALL SELECT 4, 'semantic_dedup', "
            "CAST((SELECT count(*) FROM sem) AS BIGINT)\n"
            "  UNION ALL SELECT 5, 'decontaminated', "
            "CAST((SELECT count(*) FROM clean) AS BIGINT)\n"
            "  UNION ALL SELECT 6, 'final', "
            "CAST((SELECT count(*) FROM clean) AS BIGINT)",
        ),
    ]
    for old, new in edits:
        assert sql.count(old) == 1, f"funnel splice anchor drifted: {old[:40]!r}"
        sql = sql.replace(old, new)
    return sql


CORPUS_SUMMARY_SQL = r"""
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
       min(len(regexp_split_to_array(trim(text), '\s+'))) AS min_tokens,
       max(len(regexp_split_to_array(trim(text), '\s+'))) AS max_tokens
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""

DOC_QUALITY_SQL = r"""
WITH base AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
         text
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(floor(list_sum(list_transform(toks, t -> length(t))) * 100.0
              / greatest(len(toks), 1)) AS BIGINT) AS mean_len_x100,
         len(list_filter(toks, t -> regexp_matches(t, '[^A-Za-z0-9]'))) AS n_symbol,
         len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
         len(list_distinct(list_filter(ltoks, t -> list_contains(
             ['the','be','to','of','and','that','have','with'], t)))) AS n_stop
  FROM base
)
SELECT doc_id, n_words,
       n_words >= 20 AND n_words <= 100000 AS rule_word_count,
       mean_len_x100 >= 300 AND mean_len_x100 <= 1000 AS rule_mean_word_len,
       n_symbol * 5 < n_words AS rule_symbol_ratio,
       n_stop >= 2 AS rule_stopwords,
       n_alpha * 10 >= n_words * 7 AS rule_alpha_ratio,
       (n_words >= 20 AND n_words <= 100000)
         AND (mean_len_x100 >= 300 AND mean_len_x100 <= 1000)
         AND (n_symbol * 5 < n_words)
         AND (n_stop >= 2)
         AND (n_alpha * 10 >= n_words * 7) AS keep
FROM m
ORDER BY doc_id
"""


def dedup_clusters_q(spark, sf_dir):
    """Candidate pairs -> connected components -> dedup clusters with a
    canonical representative (operators/graph.py).  Uses the SAME minhash
    LSH candidate generator as `minhash_lsh_candidates`, so the oracle can
    replicate the pairs exactly and chase them with a recursive CTE."""
    from .operators.graph import dedup_clusters

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs)
    return dedup_clusters(docs, pairs).orderBy("cluster_id")


DEDUP_CLUSTERS_SQL = r"""
WITH RECURSIVE base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
                                      i -> array_to_string(ts[i:i+2], ' '))) AS shingles
  FROM base
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 8),
             j -> list_min(list_transform(shingles,
                  x -> substr(md5(CAST(j // 4 AS VARCHAR) || ':' || x),
                              CAST((j % 4) * 8 + 1 AS INTEGER), 8)))) AS sig
  FROM sh
  WHERE len(shingles) > 0
), bands AS (
  SELECT doc_id, b, md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bucket
  FROM sig, unnest(range(0, 4)) AS t(b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM bands a
  JOIN bands b2 ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(node, root) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges) v
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node AS doc_id, min(root) AS cluster_id FROM reach GROUP BY node
), labeled AS (
  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS cluster_size,
       min(doc_id) AS canonical_doc_id
FROM labeled
GROUP BY cluster_id
ORDER BY cluster_id
"""


def ngram_jaccard_q(spark, sf_dir):
    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), threshold_x1000=300
    ).orderBy("doc_a", "doc_b")


NGRAM_JACCARD_SQL = _SHINGLES_CTE + r"""
, ex0 AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), ex AS (
  -- document-frequency cap (mirrors max_shingle_df=128 in
  -- operators/dedup.py: Jaccard over the capped shingle universe)
  SELECT ex0.doc_id, ex0.shingle
  FROM ex0 JOIN (
    SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) <= 128
  ) rare USING (shingle)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(floor(common * 1000.0 / (sa.n_sh + sb.n_sh - common)) AS BIGINT)
           AS jaccard_x1000
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE floor(common * 1000.0 / (sa.n_sh + sb.n_sh - common)) >= 300
ORDER BY doc_a, doc_b
"""


def spans_explode(spark, sf_dir):
    """Span-array ops over synthesized spans: build (kind,text,offset)
    spans from documents.text, posexplode, running char offsets via a
    per-doc ordered window (SURVEY.md §2.5 span-ordering family)."""
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return words.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.lit("text").alias("kind"),
        F.col("w").alias("text"),
        F.coalesce(F.sum(F.length("w") + 1).over(win), F.lit(0)).cast("long").alias("offset"),
    ).orderBy("doc_id", "pos")


SPANS_EXPLODE_SQL = """
WITH ex AS (
  SELECT doc_id, u.w AS text, u.i - 1 AS pos
  FROM (
    SELECT doc_id,
           list_transform(string_split(text, ' '), (x, i) -> {'w': x, 'i': i}) AS arr
    FROM documents
  ), unnest(arr) AS t(u)
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos, 'text' AS kind, text,
       CAST(coalesce(sum(length(text) + 1) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offset
FROM ex
ORDER BY doc_id, pos
"""


def ann_cosine_topk(spark, sf_dir):
    return brute_force_topk(
        load(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5
    ).orderBy("query_id", "rank")


ANN_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS q FROM v WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, v.vec_id AS nbr_id,
         list_dot_product(q.q, v.v)
           / (sqrt(list_dot_product(q.q, q.q)) * sqrt(list_dot_product(v.v, v.v)))
           AS cos
  FROM v, q WHERE v.vec_id != q.query_id
)
SELECT query_id, nbr_id, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT query_id, nbr_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, nbr_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY query_id, rank
"""


def events_asof_orders(spark, sf_dir):
    """As-of join: for each event, the customer's most recent order placed
    at or before the event time (custom operator — union + carry-forward
    window, operators/joins.py).  Orders predate all events in the
    synthetic data, so every event carries a real match — the join logic
    is exercised, not just the null path."""
    from .operators.joins import asof_join

    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate"),
        F.col("o_orderkey"),
        F.col("o_totalprice"),
    )
    joined = asof_join(
        events, orders, on="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
        # orders are NOT unique per (custkey, orderdate) at sf0.1 — pin
        # the max-orderkey winner so the result is deterministic and the
        # oracle (which pre-dedupes the same way) agrees
        tiebreak="o_orderkey",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.round("o_totalprice", 2).alias("last_price"),
    ).orderBy("event_id")


ASOF_SQL = """
-- right side pre-deduped to the max-orderkey row per (custkey, date):
-- DuckDB's ASOF picks an unspecified row among exact-timestamp ties, so
-- determinism requires removing the ties before the join (the engine
-- applies the identical max-orderkey tie-break)
SELECT event_id, e.user_id AS user_id, o_orderkey AS last_orderkey,
       round(o_totalprice, 2) AS last_price
FROM (SELECT event_id, user_id, ts FROM events) e
ASOF LEFT JOIN (
  SELECT user_id, o_orderdate, o_orderkey, o_totalprice FROM (
    SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey, o_orderdate
                              ORDER BY o_orderkey DESC) AS rn
    FROM orders
  ) WHERE rn = 1
) o
  ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
ORDER BY event_id
"""


def lineitem_rollup(spark, sf_dir):
    """ROLLUP subtotals (grouping-sets family) for the metrics layer."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty"))
        .orderBy("l_returnflag", "l_linestatus")
    )


ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag, l_linestatus
"""


def lineitem_cube(spark, sf_dir):
    """CUBE over (returnflag, linestatus) with grouping_id — completes
    the grouping-sets family beside ROLLUP; subtotal rows distinguish
    real NULLs from aggregation NULLs via the gid."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .orderBy("gid", "l_returnflag", "l_linestatus")
    )


CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
         AS gid,
       count(*) AS n,
       round(sum(l_quantity), 2) AS qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, l_returnflag, l_linestatus
"""


def orders_pivot_priority(spark, sf_dir):
    """PIVOT: per-order-year counts by priority fanned into columns —
    the reshaping every reporting layer runs.  Pivot values are pinned
    (deterministic column set regardless of partition scan order)."""
    orders = load(spark, sf_dir, "orders")
    pris = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = (
        orders.select(
            F.year("o_orderdate").cast("long").alias("o_year"), "o_orderpriority"
        )
        .groupBy("o_year")
        .pivot("o_orderpriority", pris)
        .count()
    )
    renames = {p: f"p{p[0]}" for p in pris}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    cols = [F.col(f"p{i}") for i in range(1, 6)]
    return out.select(
        "o_year", *[F.coalesce(c, F.lit(0)).cast("long").alias(f"p{i + 1}")
                    for i, c in enumerate(cols)]
    ).orderBy("o_year")


PIVOT_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
            AS BIGINT) AS p1,
       CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
            AS BIGINT) AS p2,
       CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
            AS BIGINT) AS p3,
       CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0
            END) AS BIGINT) AS p4,
       CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
            AS BIGINT) AS p5
FROM orders
GROUP BY o_year
ORDER BY o_year
"""


def custkeys_without_urgent_orders(spark, sf_dir):
    """Set op (EXCEPT): customers having no 1-URGENT order."""
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return customer.subtract(urgent).orderBy("custkey")


EXCEPT_SQL = """
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
ORDER BY custkey
"""


def embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cos >= 0.3), integer-scaled.
    Dot products via a sequential fold on both engines so the floats are
    bit-identical."""
    from .operators.similarity import all_pairs_cosine

    emb = load(spark, sf_dir, "embeddings")
    return all_pairs_cosine(emb, min_cos=0.3).orderBy("id_a", "id_b")


NEAR_DUP_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_reduce(list_transform(range(1, len(a.v) + 1),
                                    i -> a.v[i] * b.v[i]), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(range(1, len(a.v) + 1),
                                    i -> a.v[i] * a.v[i]), (x, y) -> x + y))
            * sqrt(list_reduce(list_transform(range(1, len(b.v) + 1),
                                    i -> b.v[i] * b.v[i]), (x, y) -> x + y)))
           AS cos
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, CAST(floor(cos * 1000) AS BIGINT) AS cos_x1000
FROM p WHERE cos >= 0.3
ORDER BY id_a, id_b
"""

def events_in_price_band(spark, sf_dir):
    """Point-in-interval join via bucketing (operators/joins.py): events
    whose value falls inside a part's +-2 retail-price band.  The bucketed
    equi-join replaces the O(n*m) theta join Catalyst would otherwise run
    as broadcast-nested-loop."""
    from .operators.joins import range_join_buckets

    events = load(spark, sf_dir, "events").select("event_id", "value")
    parts = load(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice") / 10 - 2).alias("lo"),
        (F.col("p_retailprice") / 10 + 2).alias("hi"),
    )
    joined = range_join_buckets(events, parts, "value", "lo", "hi", bucket_width=8.0)
    return (
        joined.groupBy("event_id")
        .agg(F.count("*").alias("n_parts"), F.min("p_partkey").alias("first_part"))
        .orderBy("event_id")
    )


RANGE_JOIN_SQL = """
SELECT event_id, count(*) AS n_parts, min(p_partkey) AS first_part
FROM events e
JOIN (SELECT p_partkey, p_retailprice / 10 - 2 AS lo,
             p_retailprice / 10 + 2 AS hi FROM part) p
  ON e.value >= p.lo AND e.value <= p.hi
GROUP BY event_id
ORDER BY event_id
"""


_BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def doc_token_bpe(spark, sf_dir):
    """BPE-style pre-tokenizer counts (GPT-2-ish word/number/punct split)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_BPE_PATTERN)).cast("long").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


BPE_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
           AS n_bpe_tokens
FROM documents
ORDER BY doc_id
"""


def _winnow_kernel(doc_id, text):
    import hashlib

    import numpy as np

    t = text or ""
    n = max(len(t) - 7, 1)
    hs = np.array([hashlib.md5(t[i : i + 8].encode("utf-8")).hexdigest() for i in range(n)])
    # min over string dtype has no ufunc: rank via sorted-unique
    # (rank order == lexicographic order), integer sliding min
    uniq, inv = np.unique(hs, return_inverse=True)
    if n >= 4:
        fps = uniq[np.unique(np.lib.stride_tricks.sliding_window_view(inv, 4).min(axis=1))]
    else:
        fps = uniq[:1]
    for fp in fps.tolist():
        yield doc_id, fp


def doc_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints: rolling 8-gram md5, window-4
    minimum, distinct survivors — the classic local fingerprinting scheme
    for plagiarism/near-dup detection.

    Plan shape: the whole per-doc pipeline (hash every 8-char gram, sliding
    window-4 min, per-doc dedup) runs INSIDE one per-document Arrow stage
    (``map_documents``) — winnowing is embarrassingly parallel per document,
    so exploding one row per character position (round-2 shape) shuffled
    ~40x the corpus text bytes for a computation that never crosses a
    document boundary.  Zero shuffles until the final presentation sort of
    the (much smaller) fingerprint set.  A nested transform/slice array
    expression is also ruled out: Catalyst re-evaluates the inner lambda per
    outer element (no CSE inside lambdas) — measured as a >9 min hang at
    sf0.1."""
    import pyarrow as pa

    from .operators.dedup import _spread
    from .operators.extraction import map_documents

    # CPU-bound per-doc kernel: spread a small-file scan over all cores
    # (a 1x-text-bytes round-robin exchange vs the 40x char-explode shuffle
    # this kernel replaced; no-op at real scale)
    docs = _spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    schema = pa.schema([("doc_id", pa.int64()), ("fp", pa.string())])
    return map_documents(docs, _winnow_kernel, schema).orderBy("doc_id", "fp")


WINNOW_SQL = r"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, greatest(length(text) - 7, 1) + 1),
                        i -> md5(text[i : i + 7])) AS hs
  FROM documents
), w AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                                      j -> list_min(hs[j : j + 3]))) AS fps
  FROM h
)
SELECT DISTINCT doc_id, unnest(fps) AS fp FROM w
ORDER BY doc_id, fp
"""


# ---------------------------------------------------------------------------
# Extraction flagship + non-SQL-expressible operators
# ---------------------------------------------------------------------------

# The extraction oracle: spans derived from the fixtures' HAND-DERIVED
# expected text (tools/gen_golden_spans.py), committed as a parquet so
# DuckDB can serve it side-by-side with the Spark run — converting the
# flagship query from rows-only to a full rows+schema+hash check.


def _golden(name: str) -> str:
    """Absolute path of a committed golden-oracle parquet under dist/."""
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "dist",
        name,
    )


_GOLDEN_SPANS_PARQUET = _golden("golden_spans.parquet")

_GOLDEN_META_PARQUET = _golden("golden_metadata.parquet")

_GOLDEN_PAGED_PARQUET = _golden("golden_paged.parquet")

_GOLDEN_MEDIA_PARQUET = _golden("golden_media.parquet")

_GOLDEN_HTML_PARQUET = _golden("golden_html.parquet")

MEDIA_FEATURES_SQL = f"""
SELECT media_id, media_kind, byte_len, sha256, width, height, feature, decoder
FROM read_parquet('{_GOLDEN_MEDIA_PARQUET}')
ORDER BY media_id
"""

RENDER_HTML_SQL = f"""
SELECT doc_id, html_len, html_md5, error
FROM read_parquet('{_GOLDEN_HTML_PARQUET}')
ORDER BY doc_id
"""

EXTRACT_PAGED_SQL = f"""
SELECT doc_id, page_num, n_spans
FROM read_parquet('{_GOLDEN_PAGED_PARQUET}')
ORDER BY doc_id, page_num
"""

DOC_METADATA_SQL = f"""
SELECT doc_id, version, page_count, title, author, subject, producer,
       creator, error
FROM read_parquet('{_GOLDEN_META_PARQUET}')
ORDER BY doc_id
"""

EXTRACT_SPANS_SQL = f"""
SELECT doc_id, pages, decode_failures, pos, kind, text, media_ref,
       "offset" AS offset
FROM read_parquet('{_GOLDEN_SPANS_PARQUET}')
ORDER BY doc_id, pos
"""


def extract_pdf_spans(spark, sf_dir):
    """The flagship extraction pipeline on the deterministic fixture corpus
    (sf_dir-independent input: fixtures are generated, not read).  Exploded
    to rows so the driver sees a stable scalar schema."""
    from .operators.extraction import extract_documents
    from .sources.raw_docs import fixture_corpus_df

    raw = fixture_corpus_df(spark, replicas=2)
    out = extract_documents(raw, num_partitions=8)
    return out.select(
        "doc_id", "pages", "decode_failures", F.posexplode("spans").alias("pos", "s")
    ).select(
        "doc_id",
        "pages",
        "decode_failures",
        F.col("pos").cast("long").alias("pos"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").cast("long").alias("offset"),
    ).orderBy("doc_id", "pos")


def doc_metadata_q(spark, sf_dir):
    """print_metadata parity (lib.rs:2203-2216) over the fixture corpus."""
    from .operators.extraction import extract_metadata
    from .sources.raw_docs import fixture_corpus_df

    raw = fixture_corpus_df(spark, replicas=1)
    return extract_metadata(raw).orderBy("doc_id")


def extract_paged_spans(spark, sf_dir):
    """Page-exploded extraction (by-pages semantics, lib.rs:2295-2307)."""
    from .operators.extraction import extract_documents_paged
    from .sources.raw_docs import fixture_corpus_df

    raw = fixture_corpus_df(spark, replicas=1)
    paged = extract_documents_paged(raw, pages_per_task=4, num_partitions=8)
    return paged.select(
        "doc_id", "page_num", F.size("spans").cast("long").alias("n_spans")
    ).orderBy("doc_id", "page_num")


def _render_digests(spark, render, prefix):
    """One output device over the fixture corpus as stable per-document
    digests ``(doc_id, <prefix>_len, <prefix>_md5, error)``, not megabytes
    of markup; a document the device fails on is NULL len/md5 and its
    tagged error."""
    import pyarrow as pa

    from .extract import render_digest
    from .operators.extraction import map_documents
    from .sources.raw_docs import fixture_corpus_df

    def kernel(doc_id, content):
        yield (doc_id, *render_digest(render, content))

    schema = pa.schema(
        [
            ("doc_id", pa.string()),
            (f"{prefix}_len", pa.int64()),
            (f"{prefix}_md5", pa.string()),
            ("error", pa.string()),
        ]
    )
    raw = fixture_corpus_df(spark, replicas=1).select("doc_id", "content")
    return map_documents(raw, kernel, schema).orderBy("doc_id")


def render_html(spark, sf_dir):
    """HTML device over the corpus (HTMLOutput parity, lib.rs:1891-1993)."""
    from .extract import extract_html_from_mem

    return _render_digests(spark, extract_html_from_mem, "html")


def render_svg(spark, sf_dir):
    """SVG device over the corpus (SVGOutput parity, lib.rs:1995-2087),
    oracled against dist/golden_svg.parquet — the distributed path must
    reproduce the single-node device bit-for-bit."""
    from .extract import extract_svg_from_mem

    return _render_digests(spark, extract_svg_from_mem, "svg")


_GOLDEN_SVG_PARQUET = _golden("golden_svg.parquet")

RENDER_SVG_SQL = f"""
SELECT doc_id, svg_len, svg_md5, error
FROM read_parquet('{_GOLDEN_SVG_PARQUET}')
ORDER BY doc_id
"""


_GOLDEN_HTML_MAIN_PARQUET = _golden("golden_html_main.parquet")

HTML_MAIN_SQL = f"""
SELECT doc_id, pos, kind, text, media_ref, "offset" AS offset
FROM read_parquet('{_GOLDEN_HTML_MAIN_PARQUET}')
ORDER BY doc_id, pos
"""


def html_main_content(spark, sf_dir):
    """HTML boilerplate strip / main-content extraction (DOM text-density
    heuristics, html_main.py) over the deterministic HTML fixture corpus;
    spans exploded to rows.  Oracled against the hand-derived fixture specs
    (dist/golden_html_main.parquet — independent of the parser)."""
    from .html_fixtures import html_corpus
    from .html_main import extract_main_content

    raw = spark.createDataFrame(
        [(d, h) for d, h, _ in html_corpus(replicas=1)], "doc_id string, html string"
    )
    out = extract_main_content(raw, num_partitions=8)
    return (
        out.select("doc_id", F.posexplode("spans").alias("pos", "s"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").cast("long").alias("offset"),
        )
        .orderBy("doc_id", "pos")
    )


def unified_spans(spark, sf_dir):
    """The north rule's single-table data model: PDF extraction and HTML
    main-content extraction land in ONE interleaved text+media spans table
    (doc_id, source_format, pos, kind, text, media_ref, offset) — a user
    queries both halves through the same schema.  Oracle = union of the
    two golden parquets."""
    pdf = extract_pdf_spans(spark, sf_dir).select(
        "doc_id", F.lit("pdf").alias("source_format"),
        "pos", "kind", "text", "media_ref", "offset",
    )
    html = html_main_content(spark, sf_dir).select(
        "doc_id", F.lit("html").alias("source_format"),
        "pos", "kind", "text", "media_ref", "offset",
    )
    return pdf.unionByName(html).orderBy("source_format", "doc_id", "pos")


UNIFIED_SPANS_SQL = f"""
SELECT doc_id, 'pdf' AS source_format, pos, kind, text, media_ref,
       "offset" AS offset
FROM read_parquet('{_GOLDEN_SPANS_PARQUET}')
UNION ALL
SELECT doc_id, 'html' AS source_format, pos, kind, text, media_ref,
       "offset" AS offset
FROM read_parquet('{_GOLDEN_HTML_MAIN_PARQUET}')
ORDER BY source_format, doc_id, pos
"""


def simhash_pairs(spark, sf_dir):
    out = simhash_near_pairs(load(spark, sf_dir, "documents"), max_hamming=8)
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("doc_a", "doc_b")


# The simhash kernel is md5-based precisely so it is portable: DuckDB can
# parse the top 8 md5 bytes as a UBIGINT and replicate the bit votes, the
# 4x16-bit banding, and the hamming filter exactly — converting this query
# from rows-only to a full value-hash oracle.
SIMHASH_SQL = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h
  FROM toks WHERE t <> ''
), bitacc AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bs
  GROUP BY doc_id, b
), sims AS (
  SELECT doc_id,
         sum(CASE WHEN acc > 0 THEN (1::UBIGINT << b) ELSE 0::UBIGINT END)::UBIGINT AS sim
  FROM bitacc GROUP BY doc_id
), bands AS (
  SELECT doc_id, sim, b AS band, ((sim >> (16 * b)) & 65535)::BIGINT AS key
  FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS b) bs
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b, a.sim AS sa, c.sim AS sb
  FROM bands a
  JOIN bands c ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= 8
ORDER BY doc_a, doc_b
"""


def ann_ivf_topk(spark, sf_dir):
    """IVF coarse-quantizer ANN: deterministic sampled k-means centroids,
    cell-assignment pass, n_probe-cell candidate join, exact re-rank
    (operators/similarity.py:ivf_topk).  Oracled against an independent
    single-node numpy reimplementation of the spec (tools/gen_golden_ann.py,
    ANN_IVF_SQL golden keyed by corpus fingerprint); recall additionally
    gated in pytest and by the oracled ann_recall row."""
    from .operators.similarity import ivf_topk

    return ivf_topk(
        load(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5,
        n_centroids=16, n_probe=4,
    ).orderBy("query_id", "rank")


def ann_lsh_topk(spark, sf_dir):
    """SRP-LSH ANN top-k (operators/similarity.py:lsh_topk).  Oracled by a
    full DuckDB SQL reimplementation (ANN_LSH_SQL) — the md5-derived
    hyperplane family is engine-independent, so buckets, multiprobe,
    candidate join, and re-rank are all recomputed in SQL."""
    # dim=64 is the testdata embedding width (TESTDATA.md) — passing it
    # keeps plan construction free of driver actions
    return lsh_topk(
        load(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5, dim=64
    ).orderBy("query_id", "rank")


def ann_recall(spark, sf_dir):
    """Driver-visible recall check for the approximate ANN paths:
    per-variant hit count against in-query brute-force ground truth
    (brute_force_topk is itself value-hash oracled via ann_cosine_topk),
    emitting BOTH the >= 0.8 gate boolean and the actual mean recall —
    the DuckDB oracle recomputes the value independently (exact top-k in
    SQL joined against the ANN_LSH/IVF/PQ/IVFPQ oracles), so the recall
    numbers themselves are hash-checked, not merely asserted — all FOUR
    approximate paths."""
    from .operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    qids = list(range(10))
    k = 5
    exact = brute_force_topk(emb, qids, k=k).select("query_id", "nbr_id")

    def gate(variant, approx):
        hits = exact.join(
            approx.select("query_id", "nbr_id"), ["query_id", "nbr_id"], "left_semi"
        ).agg(F.count("*").alias("n_hits"))
        denom = float(len(qids) * k)
        return hits.select(
            F.lit(variant).alias("variant"),
            F.lit(len(qids)).cast("long").alias("n_queries"),
            (F.col("n_hits") >= F.lit(int(0.8 * len(qids) * k))).alias("recall_pass"),
            (F.col("n_hits").cast("double") / F.lit(denom)).alias("mean_recall"),
        )

    from .operators.similarity import ivfpq_topk, pq_topk

    ivf = gate("ivf", ivf_topk(emb, query_ids=qids, k=k, n_centroids=16, n_probe=4))
    lsh = gate("lsh", lsh_topk(emb, query_ids=qids, k=k, dim=64))
    pq = gate("pq", pq_topk(emb, query_ids=qids, k=k, m=8, ksub=16, shortlist=96))
    ivfpq = gate(
        "ivfpq",
        ivfpq_topk(emb, query_ids=qids, k=k, n_centroids=16, n_probe=4,
                   m=8, ksub=16, shortlist=64),
    )
    return (
        ivf.unionByName(lsh).unionByName(pq).unionByName(ivfpq)
        .orderBy("variant")
    )


# Full DuckDB reimplementation of SRP-LSH ANN top-k
# (operators/similarity.py:lsh_topk with the queries.py pinned parameters
# query_ids 0..9, k=5, n_planes=6, dim=64 and the module constants
# LSH_TABLES=8, LSH_MULTIPROBE=1).
# The md5-derived hyperplane family is engine-independent by design
# (similarity.py:_hyperplanes), so the whole pipeline — plane generation,
# signed-projection buckets, 1-bit Hamming multiprobe, candidate equi-join,
# exact cosine re-rank with (desc cos, asc nbr_id) tie-break — is
# expressible in SQL and this is a true independent oracle, valid at any
# scale factor.
ANN_LSH_SQL = r"""
WITH idx AS (SELECT unnest(range(0, 64)) AS i),
tp AS (
  SELECT t, p
  FROM (SELECT unnest(range(0, 8)) AS t), (SELECT unnest(range(0, 6)) AS p)
),
comp AS (
  SELECT t, p, i,
    (('0x' || substr(md5(t::VARCHAR || ':' || p::VARCHAR || ':' || i::VARCHAR), 1, 16))::UBIGINT)::DOUBLE
      / 9223372036854775808.0 - 1.0 AS c
  FROM tp, idx
),
planes AS (SELECT t, p, list(c ORDER BY i) AS plane FROM comp GROUP BY t, p),
vb AS (
  SELECT e.vec_id, pl.t,
         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.plane) >= 0
                  THEN (1::BIGINT << pl.p) ELSE 0 END)::BIGINT AS bucket
  FROM embeddings e, planes pl
  GROUP BY e.vec_id, pl.t
),
q AS (SELECT vec_id AS query_id, t, bucket FROM vb WHERE vec_id < 10),
offs AS (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS o),
qprobe AS (SELECT DISTINCT query_id, t, xor(bucket, o) AS qbucket FROM q, offs),
cand AS (
  SELECT DISTINCT qp.query_id, v.vec_id AS nbr_id
  FROM qprobe qp JOIN vb v ON v.t = qp.t AND v.bucket = qp.qbucket
  WHERE v.vec_id <> qp.query_id
),
scored AS (
  SELECT c.query_id, c.nbr_id,
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cos
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.query_id
  JOIN embeddings b ON b.vec_id = c.nbr_id
)
SELECT query_id, nbr_id, rank
FROM (
  SELECT query_id, nbr_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY query_id, rank
"""

_GOLDEN_ANN_IVF_PARQUET = _golden("golden_ann_ivf.parquet")

# IVF top-k oracle: the k-means trainer is not SQL-expressible, so the
# expectations come from an independent single-node numpy reimplementation
# of the spec (tools/gen_golden_ann.py — no Spark, no operator imports).
# Each golden slice is keyed by a fingerprint of the embeddings corpus
# computed HERE in DuckDB, so the oracle self-selects the right slice for
# whatever scale factor the harness runs, and an unknown corpus returns 0
# rows (a loud row-count failure, never a silent pass).
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ADC ANN (operators/similarity.py:pq_topk):
    per-subspace codebooks trained driver-side on the deterministic
    bounded sample, one narrow encode pass (vectors live as m=8 codes),
    per-partition top-shortlist ADC scan (map-side top-k — never
    O(N x Q) rows), exact cosine re-rank of the 96-candidate shortlist.
    Oracled against an independent numpy reimplementation
    (tools/gen_golden_pq.py, fingerprint-keyed); recall gated in
    pytest."""
    from .operators.similarity import pq_topk

    return pq_topk(
        load(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5,
        m=8, ksub=16, shortlist=96,
    ).orderBy("query_id", "rank")


def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ residual ANN (operators/similarity.py:ivfpq_topk) — the
    production layout: coarse cells route the scan, PQ codes quantize
    the residual v - centroid[cell], a query probes 4 cells with
    per-cell ADC tables from its own residual, map-side top-64
    shortlist, exact cosine re-rank.  Oracled against an independent
    numpy reimplementation (tools/gen_golden_ivfpq.py); recall gated
    in pytest."""
    from .operators.similarity import ivfpq_topk

    return ivfpq_topk(
        load(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5,
        n_centroids=16, n_probe=4, m=8, ksub=16, shortlist=64,
    ).orderBy("query_id", "rank")


ANN_IVFPQ_SQL = f"""
SELECT query_id, nbr_id, rank
FROM read_parquet('{_golden("golden_ann_ivfpq.parquet")}')
WHERE corpus_fp = (
  SELECT md5(string_agg(vec_id::VARCHAR || embedding::VARCHAR, '|' ORDER BY vec_id))
  FROM embeddings
)
ORDER BY query_id, rank
"""


ANN_PQ_SQL = f"""
SELECT query_id, nbr_id, rank
FROM read_parquet('{_golden("golden_ann_pq.parquet")}')
WHERE corpus_fp = (
  SELECT md5(string_agg(vec_id::VARCHAR || embedding::VARCHAR, '|' ORDER BY vec_id))
  FROM embeddings
)
ORDER BY query_id, rank
"""

ANN_IVF_SQL = f"""
SELECT query_id, nbr_id, rank
FROM read_parquet('{_GOLDEN_ANN_IVF_PARQUET}')
WHERE corpus_fp = (
  SELECT md5(string_agg(vec_id::VARCHAR || embedding::VARCHAR, '|' ORDER BY vec_id))
  FROM embeddings
)
ORDER BY query_id, rank
"""

# Recall gate oracle: with both approximate paths now fully oracled
# (ANN_LSH_SQL reimplementation + ANN_IVF_SQL independent golden), the
# ACTUAL mean recall is computable in DuckDB — exact top-k via brute-force
# SQL, hits via join against the approximate oracles — so the driver
# hashes the recall VALUE, not a hardcoded boolean.
ANN_RECALL_SQL = f"""
WITH exact AS (
  SELECT query_id, nbr_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS nbr_id,
           row_number() OVER (PARTITION BY a.vec_id ORDER BY
             list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) DESC,
             b.vec_id) AS rank
    FROM embeddings a, embeddings b
    WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id
  ) WHERE rank <= 5
),
approx AS (
  SELECT 'lsh' AS variant, query_id, nbr_id FROM ({ANN_LSH_SQL}) lsh
  UNION ALL
  SELECT 'ivf' AS variant, query_id, nbr_id FROM ({ANN_IVF_SQL}) ivf
  UNION ALL
  SELECT 'pq' AS variant, query_id, nbr_id FROM ({ANN_PQ_SQL}) pq
  UNION ALL
  SELECT 'ivfpq' AS variant, query_id, nbr_id FROM ({ANN_IVFPQ_SQL}) ivfpq
),
hits AS (
  SELECT variant, count(*) AS n_hits
  FROM approx JOIN exact USING (query_id, nbr_id)
  GROUP BY variant
)
-- LEFT JOIN from the variant universe: a zero-hit variant must still
-- emit its (false, 0.0) row to match the engine's cardinality, not
-- vanish from the GROUP BY and fail as a row-count mismatch
SELECT v.variant,
       CAST(10 AS BIGINT) AS n_queries,
       COALESCE(n_hits, 0)::DOUBLE / 50.0 >= 0.8 AS recall_pass,
       COALESCE(n_hits, 0)::DOUBLE / 50.0 AS mean_recall
FROM (VALUES ('ivf'), ('ivfpq'), ('lsh'), ('pq')) AS v(variant)
LEFT JOIN hits ON hits.variant = v.variant
ORDER BY v.variant
"""


def media_features(spark, sf_dir):
    """Multimodal decode/feature kernels over the deterministic media corpus
    (real PPM/BMP/WAV decoders + documented stub tier) plus the fixture PDFs
    as opaque MB-scale blobs.  Oracled against dist/golden_media.parquet —
    expectations derived from the corpus SPECS by closed-form math
    (tools/gen_golden_media.py), never from the decoders.

    The feature vector is serialized to a canonical string so the driver's
    pandas canonicalizer can sort/hash the cell (list cells are unhashable):
    each float32 element -> floor(double(x) * 1e6 + 0.5) as a long, joined
    with commas.  floor is exact on IEEE doubles in both the JVM and the
    Python golden generator, so there is no cross-engine rounding-mode or
    float-formatting ambiguity (unlike %.6f, whose half-way handling differs
    between Java HALF_UP and Python round-half-even)."""
    from .operators.multimodal import extract_media_features
    from .sources.media_corpus import synthetic_media_rows
    from .sources.raw_docs import fixture_corpus_df

    synth = spark.createDataFrame(
        synthetic_media_rows(), "media_id string, media_kind string, payload binary"
    )
    pdfs = fixture_corpus_df(spark, replicas=1).select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_kind"),
        F.col("content").alias("payload"),
    )
    return (
        extract_media_features(synth.unionByName(pdfs), num_partitions=4)
        .select(
            "media_id", "media_kind", "byte_len", "sha256", "width", "height",
            F.concat_ws(
                ",",
                F.transform(
                    "feature",
                    lambda x: F.floor(x.cast("double") * F.lit(1e6) + F.lit(0.5))
                    .cast("string"),
                ),
            ).alias("feature"),
            "decoder",
        )
        .orderBy("media_id")
    )


def media_dhash(spark, sf_dir):
    """Perceptual image hashing over the oracled media corpus: every
    image decoded by the native decoders (PPM/BMP/PNG/JPEG incl.
    progressive/GIF/lossless-WebP) to a 64-bit difference hash
    (operators/multimodal.py:image_dhash); stub-tier and malformed
    payloads emit NULL with decoder='stub'.  Oracled against
    dist/golden_dhash.parquet — hashes derived from the corpus pixel
    SPECS by closed-form math (tools/gen_golden_dhash.py), never from
    the decoders, so every golden bit re-verifies the decode path."""
    from .operators.multimodal import extract_media_dhash
    from .sources.media_corpus import dhash_plant_rows, synthetic_media_rows

    synth = spark.createDataFrame(
        synthetic_media_rows() + dhash_plant_rows(),
        "media_id string, media_kind string, payload binary",
    )
    # dhash serialized to its decimal string: the column is nullable (stub
    # rows), and a nullable int64 turns float64 in pandas canonicalization
    # on BOTH engines — the exact hash-mismatch class round 4 diagnosed.
    return (
        extract_media_dhash(synth, num_partitions=4)
        .withColumn("dhash", F.col("dhash").cast("string"))
        .orderBy("media_id")
    )


def media_dhash_near_dup(spark, sf_dir):
    """Near-duplicate image pairs by dhash Hamming distance <= 3 over
    the media corpus plus the deterministic planted perturbations
    (media_corpus.dhash_plant_rows: the png_pixel pattern with 0/1/2
    flipped resample cells, guaranteeing true positives at hamming
    0/1/2).  Banded equi-join (4 x 16-bit bands) — the image-side twin
    of simhash text dedup; the oracle reimplements band blocking +
    bit_count in DuckDB over the spec-math golden hashes."""
    from .operators.multimodal import dhash_near_pairs, extract_media_dhash
    from .sources.media_corpus import dhash_plant_rows, synthetic_media_rows

    synth = spark.createDataFrame(
        synthetic_media_rows() + dhash_plant_rows(),
        "media_id string, media_kind string, payload binary",
    )
    return dhash_near_pairs(
        extract_media_dhash(synth, num_partitions=4), max_hamming=3
    ).orderBy("media_a", "media_b")


_GOLDEN_DHASH_PARQUET = _golden("golden_dhash.parquet")

MEDIA_DHASH_SQL = f"""
SELECT media_id, width, height,
       CAST(dhash AS VARCHAR) AS dhash, decoder
FROM read_parquet('{_GOLDEN_DHASH_PARQUET}')
ORDER BY media_id
"""

# Band blocking + Hamming re-verified in DuckDB: two's-complement widen to
# HUGEINT for the logical 16-bit band extraction (DuckDB >> on BIGINT is
# arithmetic), xor/bit_count on the signed hashes matches Spark exactly.
# The hashes themselves come from the spec-math golden (incl. the planted
# near-dup rows), so this oracle independently re-verifies the JOIN logic
# while the golden re-verifies the decode+hash kernel.
MEDIA_DHASH_PAIRS_SQL = f"""
WITH h AS (
  SELECT media_id, dhash
  FROM read_parquet('{_GOLDEN_DHASH_PARQUET}') WHERE dhash IS NOT NULL
), u AS (
  SELECT media_id, dhash,
         CASE WHEN dhash < 0
              THEN dhash::HUGEINT + 18446744073709551616::HUGEINT
              ELSE dhash::HUGEINT END AS uh
  FROM h
), bands AS (
  SELECT media_id, dhash, d, ((uh // d) % 65536)::BIGINT AS key
  FROM u, unnest([1::HUGEINT, 65536::HUGEINT,
                  4294967296::HUGEINT, 281474976710656::HUGEINT]) AS t(d)
)
SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.d = b.d AND a.key = b.key AND a.media_id < b.media_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
ORDER BY media_a, media_b
"""


_BLOCKLIST_TERMS = ["slow", "broken pipeline", "leak", "spill risk", "c++"]


def doc_blocklist(spark, sf_dir):
    """C4-style badwords blocklist (functions/text.py:blocklist_flags):
    one scan-side case-insensitive alternation regex — no shuffle, no
    broadcast table; the probe list mixes present single words, absent
    words, multi-word phrases, and a punctuation-edged term ('c++', no
    trailing boundary) so every pattern-construction mode is value-
    checked against the identical RE2 pattern in DuckDB."""
    from .functions.text import blocklist_flags

    docs = load(spark, sf_dir, "documents")
    return blocklist_flags(docs, _BLOCKLIST_TERMS).orderBy("doc_id")


_BLOCKLIST_RE = (
    r"(?i)(\bbroken[ ]pipeline\b|\bc\+\+|\bleak\b|\bslow\b|\bspill[ ]risk\b)"
)

BLOCKLIST_SQL = rf"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BLOCKLIST_RE}'))
         AS BIGINT) AS n_blocked,
       len(regexp_extract_all(text, '{_BLOCKLIST_RE}')) = 0
         AS keep
FROM documents
ORDER BY doc_id
"""


def warc_records_meta(spark, sf_dir):
    """WARC (ISO 28500) ingest — the container web-scale corpora ship in
    (sources/warc.py): record framing, HTTP response-head peel, and the
    parsed-prefix-plus-tagged-tail truncation contract, over the full
    fixture archive and a mid-block-cut copy.  Oracled against byte
    arithmetic over the record SPEC (tools/gen_golden_warc.py — never
    the parser)."""
    from .sources.warc import warc_fixture_archives, warc_records

    arcs = spark.createDataFrame(
        warc_fixture_archives(), "warc_id string, payload binary"
    )
    return (
        warc_records(arcs, num_partitions=4)
        .drop("body")
        .orderBy("warc_id", "rec_index")
    )


def warc_html_spans(spark, sf_dir):
    """The crawl-to-spans composition: WARC archive -> HTTP responses ->
    text/html bodies -> boilerplate strip -> interleaved spans.  The
    extracted spans must equal the html_main golden EXACTLY — i.e. the
    container round-trip (HTTP head peel included) is byte-faithful."""
    from .html_main import extract_main_content
    from .sources.warc import warc_fixture_archives, warc_records

    arcs = spark.createDataFrame(
        [r for r in warc_fixture_archives() if r[0] == "warc-full"],
        "warc_id string, payload binary",
    )
    html = (
        warc_records(arcs, num_partitions=4)
        .filter(
            (F.col("record_type") == "response")
            # media types are case-insensitive (RFC 9110); parse_warc
            # preserves server casing verbatim
            & F.lower(F.col("content_type")).startswith("text/html")
        )
        .select(
            F.regexp_extract("target_uri", r"([^/]+)$", 1).alias("doc_id"),
            F.col("body").cast("string").alias("html"),
        )
    )
    out = extract_main_content(html, num_partitions=4)
    return (
        out.select("doc_id", F.posexplode("spans").alias("pos", "s"))
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").cast("long").alias("offset"),
        )
        .orderBy("doc_id", "pos")
    )


_GOLDEN_WARC_PARQUET = _golden("golden_warc.parquet")

WARC_RECORDS_SQL = f"""
SELECT warc_id, rec_index, record_type, target_uri, record_id,
       content_type, http_status, byte_len, body_sha256, error
FROM read_parquet('{_GOLDEN_WARC_PARQUET}')
ORDER BY warc_id, rec_index
"""

WARC_HTML_SPANS_SQL = f"""
SELECT doc_id, pos, kind, text, media_ref, "offset" AS offset
FROM read_parquet('{_GOLDEN_HTML_MAIN_PARQUET}')
ORDER BY doc_id, pos
"""


def media_audio_fp(spark, sf_dir):
    """Audio fingerprinting over the oracled media corpus: WAV/FLAC
    decoded natively, 16 per-window RMS levels quantized to 4 bits each
    and packed into a 64-bit signature
    (operators/multimodal.py:audio_fingerprint); malformed payloads emit
    NULL with decoder='stub'.  Oracled against
    dist/golden_audiofp.parquet — signatures derived from the corpus
    amplitude SPECS in pure integer math (tools/gen_golden_audiofp.py),
    never from the decoders, so every nibble re-verifies the WAV/FLAC
    decode + RMS path."""
    from .operators.multimodal import extract_audio_fp
    from .sources.media_corpus import audio_plant_rows, synthetic_media_rows

    synth = spark.createDataFrame(
        synthetic_media_rows() + audio_plant_rows(),
        "media_id string, media_kind string, payload binary",
    )
    return (
        extract_audio_fp(synth, num_partitions=4)
        .withColumn("audio_fp", F.col("audio_fp").cast("string"))
        .orderBy("media_id")
    )


def media_audio_near_dup(spark, sf_dir):
    """Near-duplicate audio pairs by signature Hamming distance <= 3
    (banded_hamming_pairs — the shared 4x16-bit blocking); the planted
    single-window RMS nudges guarantee true positives at hamming 0/1/2."""
    from .operators.multimodal import banded_hamming_pairs, extract_audio_fp
    from .sources.media_corpus import audio_plant_rows, synthetic_media_rows

    synth = spark.createDataFrame(
        synthetic_media_rows() + audio_plant_rows(),
        "media_id string, media_kind string, payload binary",
    )
    return banded_hamming_pairs(
        extract_audio_fp(synth, num_partitions=4), "audio_fp", max_hamming=3
    ).orderBy("media_a", "media_b")


_GOLDEN_AUDIOFP_PARQUET = _golden("golden_audiofp.parquet")

MEDIA_AUDIO_FP_SQL = f"""
SELECT media_id, sample_rate, n_channels,
       CAST(audio_fp AS VARCHAR) AS audio_fp, decoder
FROM read_parquet('{_GOLDEN_AUDIOFP_PARQUET}')
ORDER BY media_id
"""

MEDIA_AUDIO_PAIRS_SQL = f"""
WITH h AS (
  SELECT media_id, audio_fp
  FROM read_parquet('{_GOLDEN_AUDIOFP_PARQUET}') WHERE audio_fp IS NOT NULL
), u AS (
  SELECT media_id, audio_fp,
         CASE WHEN audio_fp < 0
              THEN audio_fp::HUGEINT + 18446744073709551616::HUGEINT
              ELSE audio_fp::HUGEINT END AS uh
  FROM h
), bands AS (
  SELECT media_id, audio_fp, d, ((uh // d) % 65536)::BIGINT AS key
  FROM u, unnest([1::HUGEINT, 65536::HUGEINT,
                  4294967296::HUGEINT, 281474976710656::HUGEINT]) AS t(d)
)
SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
       CAST(bit_count(xor(a.audio_fp, b.audio_fp)) AS INTEGER) AS hamming
FROM bands a JOIN bands b
  ON a.d = b.d AND a.key = b.key AND a.media_id < b.media_id
WHERE bit_count(xor(a.audio_fp, b.audio_fp)) <= 3
ORDER BY media_a, media_b
"""


# ---------------------------------------------------------------------------
# LM perplexity scoring + sequence packing (training-pipeline operators)
# ---------------------------------------------------------------------------


def doc_lm_perplexity(spark, sf_dir):
    """CCNet-style bigram-LM surprisal per doc, LM trained on the trusted
    'src0' slice (functions/lm.py).  Docs with <2 tokens carry no bigram
    evidence and are excluded (documented operator contract)."""
    from .functions.lm import lm_perplexity

    docs = load(spark, sf_dir, "documents")
    return lm_perplexity(docs, F.col("source") == "src0").orderBy("doc_id")


def doc_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity split per source
    (functions/lm.py:ppl_buckets): grouped two-phase prefix rank — no
    corpus-sized window partition — then exact integer third-cuts of
    the (avg_bits, doc_id) order."""
    from .functions.lm import ppl_buckets

    docs = load(spark, sf_dir, "documents")
    return ppl_buckets(docs, F.col("source") == "src0").orderBy("doc_id")


# shared bigram-LM scoring core (one source of truth for LM_PPL_SQL and
# PPL_BUCKETS_SQL): add-one-smoothed bigram surprisal vs the src0 slice,
# integer-quantized at the leaf exactly like functions/lm.py
_LM_CORE_SQL = r"""
WITH base AS (
  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), bgl AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, greatest(len(ts) - 1, 0) + 1),
                i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))) AS b
  FROM base
), bgf AS (
  SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bgl
), bg_counts AS (
  SELECT w1, w2, count(*) AS c_bg FROM bgf WHERE source = 'src0' GROUP BY 1, 2
), ctx_counts AS (
  SELECT w1, count(*) AS c_ctx FROM bgf WHERE source = 'src0' GROUP BY 1
), vocab AS (
  SELECT count(DISTINCT t) AS v
  FROM (SELECT unnest(ts) AS t FROM base WHERE source = 'src0')
), scored AS (
  SELECT d.doc_id,
         CAST(floor(-log2(CAST(coalesce(b.c_bg, 0) + 1 AS DOUBLE)
                          / (coalesce(c.c_ctx, 0) + vocab.v)) * 1000)
              AS BIGINT) AS bits
  FROM bgf d
  LEFT JOIN bg_counts b USING (w1, w2)
  LEFT JOIN ctx_counts c USING (w1)
  CROSS JOIN vocab
), doc_ppl AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(bits) AS BIGINT) AS sum_bits_x1000,
         CAST(sum(bits) // count(*) AS BIGINT) AS avg_bits_x1000
  FROM scored
  GROUP BY doc_id
)
"""

LM_PPL_SQL = _LM_CORE_SQL + r"""
SELECT doc_id, n_bigrams, sum_bits_x1000, avg_bits_x1000
FROM doc_ppl
ORDER BY doc_id
"""

def doc_lm_trigram(spark, sf_dir):
    """Trigram-LM surprisal per doc (functions/lm.py:
    lm_trigram_perplexity) — the n-gram-order generalization of the
    CCNet scorer; docs with <3 tokens excluded (one order above the
    bigram contract)."""
    from .functions.lm import lm_trigram_perplexity

    docs = load(spark, sf_dir, "documents")
    return lm_trigram_perplexity(docs, F.col("source") == "src0").orderBy("doc_id")


LM_TRIGRAM_SQL = r"""
WITH base AS (
  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), tgl AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
                i -> struct_pack(w1 := ts[i], w2 := ts[i+1],
                                 w3 := ts[i+2]))) AS t
  FROM base
), tgf AS (
  SELECT doc_id, source, t.w1 AS w1, t.w2 AS w2, t.w3 AS w3 FROM tgl
), tg_counts AS (
  SELECT w1, w2, w3, count(*) AS c_tg FROM tgf WHERE source = 'src0'
  GROUP BY 1, 2, 3
), ctx_counts AS (
  SELECT w1, w2, count(*) AS c_ctx FROM tgf WHERE source = 'src0'
  GROUP BY 1, 2
), vocab AS (
  SELECT count(DISTINCT t) AS v
  FROM (SELECT unnest(ts) AS t FROM base WHERE source = 'src0')
), scored AS (
  SELECT d.doc_id,
         CAST(floor(-log2(CAST(coalesce(g.c_tg, 0) + 1 AS DOUBLE)
                          / (coalesce(c.c_ctx, 0) + vocab.v)) * 1000)
              AS BIGINT) AS bits
  FROM tgf d
  LEFT JOIN tg_counts g USING (w1, w2, w3)
  LEFT JOIN ctx_counts c USING (w1, w2)
  CROSS JOIN vocab
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_trigrams,
       CAST(sum(bits) AS BIGINT) AS sum_bits_x1000,
       CAST(sum(bits) // count(*) AS BIGINT) AS avg_bits_x1000
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


PPL_BUCKETS_SQL = _LM_CORE_SQL + r"""
, ranked AS (
  SELECT p.doc_id, d.source, p.avg_bits_x1000,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY p.avg_bits_x1000, p.doc_id) AS rnk,
         count(*) OVER (PARTITION BY d.source) AS scnt
  FROM doc_ppl p JOIN documents d USING (doc_id)
)
SELECT doc_id, source, avg_bits_x1000,
       CAST(rnk AS BIGINT) AS ppl_rank,
       CASE (3 * (rnk - 1)) // scnt
         WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
       END AS bucket
FROM ranked
ORDER BY doc_id
"""


def doc_quality_classifier(spark, sf_dir):
    """fastText/DCLM-style provenance classifier: multinomial NB trained
    on source labels (src0-2 = trusted), scoring every doc
    (functions/classify.py — exact integer-quantized arithmetic)."""
    from .functions.classify import nb_score

    docs = load(spark, sf_dir, "documents")
    return nb_score(docs, F.col("source").isin("src0", "src1", "src2")).orderBy(
        "doc_id"
    )


_NB_CORE_SQL = r"""
WITH base AS (
  SELECT doc_id, source IN ('src0','src1','src2') AS y,
         regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), toks AS (
  SELECT doc_id, y, unnest(ts) AS t FROM base
), counts AS (
  SELECT t,
         sum(CASE WHEN y THEN 1 ELSE 0 END) AS c_pos,
         sum(CASE WHEN y THEN 0 ELSE 1 END) AS c_neg
  FROM toks GROUP BY t
), scal AS (
  SELECT (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) FROM toks) AS n_pos,
         (SELECT sum(CASE WHEN y THEN 0 ELSE 1 END) FROM toks) AS n_neg,
         (SELECT count(DISTINCT t) FROM toks) AS v,
         (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) FROM base) AS d_pos,
         (SELECT sum(CASE WHEN y THEN 0 ELSE 1 END) FROM base) AS d_neg
), weighted AS (
  SELECT doc_id,
         CAST(floor(log2(CAST(coalesce(c.c_pos, 0) + 1 AS DOUBLE)
                         / (s.n_pos + s.v)) * 1000) AS BIGINT) AS b_pos,
         CAST(floor(log2(CAST(coalesce(c.c_neg, 0) + 1 AS DOUBLE)
                         / (s.n_neg + s.v)) * 1000) AS BIGINT) AS b_neg
  FROM toks k
  LEFT JOIN counts c USING (t)
  CROSS JOIN scal s
), agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(b_pos) AS BIGINT) AS s_pos,
         CAST(sum(b_neg) AS BIGINT) AS s_neg
  FROM weighted GROUP BY doc_id
), pri AS (
  SELECT CAST(floor(log2(CAST(d_pos AS DOUBLE) / (d_pos + d_neg)) * 1000)
              AS BIGINT) AS pp,
         CAST(floor(log2(CAST(d_neg AS DOUBLE) / (d_pos + d_neg)) * 1000)
              AS BIGINT) AS pn
  FROM scal
)
SELECT doc_id, n_tokens,
       s_pos + pp AS score_pos_x1000,
       s_neg + pn AS score_neg_x1000,
       s_pos + pp - (s_neg + pn) AS margin_x1000,
       s_pos + pp > s_neg + pn AS pred_pos
FROM agg CROSS JOIN pri
"""

NB_CLASSIFY_SQL = _NB_CORE_SQL + "ORDER BY doc_id\n"

# exact top-pct% selection: the oracle can afford the global sort the
# engine's histogram/two-phase plan exists to avoid
NB_TOPK_SQL = f"""
WITH nb AS ({_NB_CORE_SQL}),
tot AS (SELECT count(*) AS n FROM nb)
SELECT doc_id, n_tokens, margin_x1000, pred_pos FROM (
  SELECT nb.*, row_number() OVER (ORDER BY margin_x1000 DESC, doc_id) AS rn, t.n
  FROM nb CROSS JOIN tot t
)
WHERE rn <= ceil(n * 10 / 100.0)
ORDER BY doc_id
"""


def doc_classifier_topk(spark, sf_dir):
    """DCLM/FineWeb-Edu-style classifier resampling: keep the exact top
    10% of docs by NB margin (functions/classify.py:nb_topk_filter —
    margin-histogram cumulative ranks via two-phase prefix sums, so no
    corpus-wide global sort or single-task window even under total score
    ties)."""
    from .functions.classify import nb_topk_filter

    docs = load(spark, sf_dir, "documents")
    return (
        nb_topk_filter(docs, F.col("source").isin("src0", "src1", "src2"), pct=10)
        .select("doc_id", "n_tokens", "margin_x1000", "pred_pos")
        .orderBy("doc_id")
    )


def semantic_dedup(spark, sf_dir):
    """SemDeDup semantic near-dup pruning (operators/semdedup.py): shared
    deterministic k-means quantizer, per-cell (cent_sim ASC, id ASC)
    greedy prefix-max pruning at cos >= 1 - eps.  Oracled against an
    independent single-node numpy reimplementation of the spec
    (tools/gen_golden_semdedup.py, golden keyed by corpus fingerprint)."""
    from .operators.semdedup import semantic_dedup as _sd

    return _sd(
        load(spark, sf_dir, "embeddings"), eps=0.7, n_centroids=16
    ).orderBy("vec_id")


_GOLDEN_SEMDEDUP_PARQUET = _golden("golden_semdedup.parquet")

# SemDeDup oracle: k-means + the per-cell greedy prefix rule are not
# SQL-expressible; expectations come from the independent numpy
# reimplementation, fingerprint-keyed exactly like ANN_IVF_SQL.
SEMDEDUP_SQL = f"""
SELECT vec_id, cell, cent_sim_x1m, max_prefix_x1m, keep
FROM read_parquet('{_GOLDEN_SEMDEDUP_PARQUET}')
WHERE corpus_fp = (
  SELECT md5(string_agg(vec_id::VARCHAR || embedding::VARCHAR, '|' ORDER BY vec_id))
  FROM embeddings
)
ORDER BY vec_id
"""


def doc_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk shard map at seq_len=512 over doc_id
    order (operators/pack.py — two-phase distributed prefix sum)."""
    from .operators.pack import pack_sequences

    docs = load(spark, sf_dir, "documents")
    return pack_sequences(docs, 512).orderBy("chunk_id", "doc_id")


def _pack_sql(seq_len: int, source: str = "documents",
              t_cte: str | None = None) -> str:
    """The pack shard-map oracle, parameterized so the same prefix-sum
    SQL verifies the raw-documents query, compositions over a derived
    (doc_id, text) relation, AND packing over precomputed token counts
    (`t_cte` overrides the whitespace-count CTE body — it must yield
    (doc_id, n_tok) with the +1 EOS already applied)."""
    t_body = t_cte or rf"""
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) + 1 AS BIGINT) AS n_tok
  FROM {source}
"""
    return rf"""
WITH t AS (
{t_body}
), c AS (
  SELECT doc_id, n_tok,
         CAST(sum(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS tok_end
  FROM t
), s AS (
  SELECT doc_id, n_tok, tok_end, tok_end - n_tok AS tok_start FROM c
)
SELECT CAST(k.chunk_id AS BIGINT) AS chunk_id,
       doc_id,
       CAST(greatest(tok_start, k.chunk_id * {seq_len}) - tok_start AS BIGINT)
         AS doc_off,
       CAST(greatest(tok_start, k.chunk_id * {seq_len})
            - k.chunk_id * {seq_len} AS BIGINT) AS chunk_off,
       CAST(least(tok_end, (k.chunk_id + 1) * {seq_len})
            - greatest(tok_start, k.chunk_id * {seq_len}) AS BIGINT) AS n_toks
FROM s, unnest(range(tok_start // {seq_len}, (tok_end - 1) // {seq_len} + 1))
     AS k(chunk_id)
ORDER BY chunk_id, doc_id
"""


PACK_SEQUENCES_SQL = _pack_sql(512)


def doc_pack_bpe(spark, sf_dir):
    """Tokenizer-aware packing — the real pretraining flow composed
    end-to-end: train 12 BPE merges, segment every doc to its BPE token
    count (both at histogram scale), then cut the concatenated BPE
    token stream into seq_len=512 chunks with the two-phase distributed
    prefix sum.  The oracle composes the SAME prefix-sum SQL over the
    independent BPE golden's token counts."""
    from .functions.bpe import bpe_segment, bpe_train
    from .operators.pack import pack_sequences

    docs = load(spark, sf_dir, "documents")
    _, merges = bpe_train(docs, 12)
    counts = bpe_segment(docs, merges)
    return pack_sequences(
        counts, 512, count_col="n_bpe_tokens"
    ).orderBy("chunk_id", "doc_id")


# PACK_BPE_SQL is assembled after the BPE golden constants are defined
# (module bottom) — see the doc_pack_bpe docstring for its shape.


def doc_shuffle_shards(spark, sf_dir):
    """Deterministic global corpus shuffle + balanced 16-way shard
    assignment (operators/pack.py:shuffle_shards) — the trainer-facing
    last mile.  Two-phase distributed prefix rank over the md5 order; no
    corpus-sized window partition."""
    from .operators.pack import shuffle_shards

    docs = load(spark, sf_dir, "documents")
    return shuffle_shards(docs, 16).orderBy("doc_id")


SHUFFLE_SHARDS_SQL = """
WITH r AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                 doc_id) - 1 AS BIGINT) AS shuffle_rank,
         CAST(count(*) OVER () AS BIGINT) AS total
  FROM documents
)
SELECT doc_id, shuffle_rank,
       CAST((shuffle_rank * 16) // total AS BIGINT) AS shard,
       CAST(shuffle_rank
            - (((shuffle_rank * 16) // total) * total + 15) // 16
            AS BIGINT) AS pos_in_shard
FROM r
ORDER BY doc_id
"""


def doc_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (Xie et al. 2023): hashed unigram+
    bigram bucket features, smoothed target-vs-raw bucket distributions
    (target = src0 docs), integer-quantized millibit weights
    (functions/dsir.py — exact BIGINT arithmetic after the leaf logs)."""
    from .functions.dsir import dsir_weights

    docs = load(spark, sf_dir, "documents")
    return dsir_weights(docs, F.col("source") == "src0").orderBy("doc_id")


def doc_dsir_select(spark, sf_dir):
    """DSIR Gumbel-top-k resample: the 50 raw (non-src0) docs with the
    largest  ln w + Gumbel  keys, Gumbel keys derived from md5(doc_id)
    so the without-replacement sample is deterministic and
    engine-portable."""
    from .functions.dsir import dsir_resample

    docs = load(spark, sf_dir, "documents")
    return dsir_resample(docs, F.col("source") == "src0", 50).orderBy(
        F.col("key_x1000").desc(), F.col("doc_id").asc()
    )


# the hashed-feature + quantized-weight core shared by both DSIR oracles:
# unigram+bigram stream -> md5 bucket -> smoothed millibit log-ratio per
# bucket -> per-doc BIGINT sum.  Buckets/smoothing mirror functions/dsir.py
# (buckets=4096, add-one, floor(log2 * 1000) at the leaf).
_DSIR_CORE_SQL = r"""
WITH base AS (
  SELECT doc_id, source = 'src0' AS y,
         regexp_split_to_array(trim(lower(text)), '\s+') AS ts
  FROM documents
), grams AS (
  SELECT doc_id, y, unnest(ts) AS g FROM base
  UNION ALL
  SELECT doc_id, y,
         unnest(list_transform(range(1, greatest(len(ts) - 1, 0) + 1),
                               i -> ts[i] || ' ' || ts[i+1])) AS g
  FROM base
), feats AS (
  SELECT doc_id, y, ('0x' || substr(md5(g), 1, 8))::BIGINT % 4096 AS b
  FROM grams
), hist AS (
  SELECT b,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
         CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS c_r
  FROM feats GROUP BY b
), tot AS (
  SELECT CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n_r
  FROM feats
), bw AS (
  SELECT b,
         CAST(floor(log2((c_t + 1)::DOUBLE / (n_t + 4096)) * 1000) AS BIGINT)
       - CAST(floor(log2((c_r + 1)::DOUBLE / (n_r + 4096)) * 1000) AS BIGINT)
           AS w_x1000
  FROM hist CROSS JOIN tot
), doc_w AS (
  SELECT doc_id, any_value(y) AS y,
         CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(w_x1000) AS BIGINT) AS weight_x1000
  FROM feats JOIN bw USING (b)
  GROUP BY doc_id
)
"""

DSIR_WEIGHTS_SQL = _DSIR_CORE_SQL + r"""
SELECT doc_id, n_feats, weight_x1000
FROM doc_w
ORDER BY doc_id
"""

DSIR_SELECT_SQL = _DSIR_CORE_SQL + r"""
SELECT doc_id, weight_x1000,
       CAST(floor(weight_x1000 * 0.6931471805599453) AS BIGINT)
     + CAST(floor(-ln(-ln(
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
         / 4503599627370496.0)) * 1000) AS BIGINT) AS key_x1000
FROM doc_w
WHERE NOT y
ORDER BY key_x1000 DESC, doc_id ASC
LIMIT 50
"""


def bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (functions/bpe.py): word-
    histogram merge loop, 12 merges with the (count DESC, left ASC,
    right ASC) tie-break.  Training is inherently iterative, so query
    CONSTRUCTION runs the 12-round loop with one argmax-row collect per
    round (disclosed, bounded — same kind as the IVF trainer); every
    counting job is histogram-sized.  Oracled against an independent
    pure-Python BPE (tools/gen_golden_bpe.py, fingerprint-keyed)."""
    from .functions.bpe import bpe_train

    docs = load(spark, sf_dir, "documents")
    mdf, _ = bpe_train(docs, 12)
    return mdf.orderBy("rank")


def doc_bpe_tokens(spark, sf_dir):
    """Train-then-segment composition: the 12 learned merges applied to
    the distinct-word table, joined back for per-doc BPE token counts
    (functions/bpe.py:bpe_segment).  Same independent golden oracle."""
    from .functions.bpe import bpe_segment, bpe_train

    docs = load(spark, sf_dir, "documents")
    _, merges = bpe_train(docs, 12)
    return bpe_segment(docs, merges).orderBy("doc_id")


_GOLDEN_BPE_MERGES_PARQUET = _golden("golden_bpe_merges.parquet")
_GOLDEN_BPE_TOKENS_PARQUET = _golden("golden_bpe_tokens.parquet")

# fingerprint expression shared with tools/gen_golden_bpe.py — the golden
# slice is selected by the md5 of the ordered documents table, so running
# against an unknown corpus fails loudly with 0 rows
_BPE_FP_SQL = (
    "SELECT md5(string_agg(doc_id || '|' || text, '' ORDER BY doc_id)) "
    "FROM documents"
)

BPE_MERGES_SQL = f"""
SELECT rank, "left", "right", pair_count
FROM read_parquet('{_GOLDEN_BPE_MERGES_PARQUET}')
WHERE corpus_fp = ({_BPE_FP_SQL})
ORDER BY rank
"""

BPE_TOKENS_SQL = f"""
SELECT doc_id, n_words, n_bpe_tokens
FROM read_parquet('{_GOLDEN_BPE_TOKENS_PARQUET}')
WHERE corpus_fp = ({_BPE_FP_SQL})
ORDER BY doc_id
"""

def unigram_vocab(spark, sf_dir):
    """Distributed unigram-LM (SentencePiece-style) tokenizer training
    (functions/unigram.py): substring seed + 2 rounds of hard-EM with
    exact-integer Laplace Viterbi over the word histogram.  The corpus
    is scanned once; every EM job is vocabulary-sized; the per-round
    piece-table collect is bounded (<= seed_max + alphabet rows).
    Oracled against an independent pure-Python reimplementation
    (tools/gen_golden_unigram.py, fingerprint-keyed)."""
    from .functions.unigram import unigram_train

    docs = load(spark, sf_dir, "documents")
    vdf, _ = unigram_train(docs)
    return vdf.orderBy("rank")


def doc_unigram_tokens(spark, sf_dir):
    """Train-then-segment composition for the unigram tokenizer:
    Viterbi over the distinct-word table under the learned vocab,
    joined back for per-doc token counts.  Same independent golden."""
    from .functions.unigram import unigram_segment, unigram_train

    docs = load(spark, sf_dir, "documents")
    _, pieces = unigram_train(docs)
    return unigram_segment(docs, pieces).orderBy("doc_id")


def doc_pack_unigram(spark, sf_dir):
    """Unigram-tokenizer-aware packing — train the unigram vocab,
    segment every doc to its token count, cut the concatenated stream
    into seq_len=512 chunks with the two-phase distributed prefix sum
    (the doc_pack_bpe composition with the second tokenizer family).
    Oracle composes the SAME prefix-sum SQL over the independent
    unigram golden's token counts."""
    from .functions.unigram import unigram_segment, unigram_train
    from .operators.pack import pack_sequences

    docs = load(spark, sf_dir, "documents")
    _, pieces = unigram_train(docs)
    counts = unigram_segment(docs, pieces)
    return pack_sequences(
        counts, 512, count_col="n_unigram_tokens"
    ).orderBy("chunk_id", "doc_id")


_GOLDEN_UNIGRAM_VOCAB_PARQUET = _golden("golden_unigram_vocab.parquet")
_GOLDEN_UNIGRAM_TOKENS_PARQUET = _golden("golden_unigram_tokens.parquet")

UNIGRAM_VOCAB_SQL = f"""
SELECT rank, piece, piece_count
FROM read_parquet('{_GOLDEN_UNIGRAM_VOCAB_PARQUET}')
WHERE corpus_fp = ({_BPE_FP_SQL})
ORDER BY rank
"""

UNIGRAM_TOKENS_SQL = f"""
SELECT doc_id, n_words, n_unigram_tokens
FROM read_parquet('{_GOLDEN_UNIGRAM_TOKENS_PARQUET}')
WHERE corpus_fp = ({_BPE_FP_SQL})
ORDER BY doc_id
"""

PACK_UNIGRAM_SQL = _pack_sql(
    512,
    t_cte=rf"""
  SELECT doc_id, CAST(n_unigram_tokens + 1 AS BIGINT) AS n_tok
  FROM read_parquet('{_GOLDEN_UNIGRAM_TOKENS_PARQUET}')
  WHERE corpus_fp = ({_BPE_FP_SQL})
""",
)

# tokenizer-aware packing: the SAME prefix-sum SQL as PACK_SEQUENCES_SQL
# composed over the independent BPE golden's per-doc token counts
PACK_BPE_SQL = _pack_sql(
    512,
    t_cte=rf"""
  SELECT doc_id, CAST(n_bpe_tokens + 1 AS BIGINT) AS n_tok
  FROM read_parquet('{_GOLDEN_BPE_TOKENS_PARQUET}')
  WHERE corpus_fp = ({_BPE_FP_SQL})
""",
)


# ---------------------------------------------------------------------------
# Web link graph: anchor extraction, anchor-text aggregation, fixed-point
# PageRank (operators/webgraph.py) over the materialized raw HTML corpus
# (dist/html_corpus.parquet, tools/gen_html_corpus.py) — the SAME bytes the
# DuckDB oracles read, so extraction, resolution, canonicalization, and the
# iterative rank arithmetic are all value-hash-checked end to end.

_HTML_CORPUS_PARQUET = _golden("html_corpus.parquet")


def _web_links(spark):
    from .operators.webgraph import extract_links

    return extract_links(spark.read.parquet(_HTML_CORPUS_PARQUET))


def web_link_edges(spark, sf_dir):
    """Distinct link edges with anchor-occurrence counts, endpoints
    canonicalized; scan-side regex extraction (no UDF)."""
    from .operators.webgraph import edge_list

    return (
        edge_list(_web_links(spark))
        .select("src", "dst", F.col("n_anchors").cast("long").alias("n_anchors"))
        .orderBy("src", "dst")
    )


def web_anchor_text(spark, sf_dir):
    """Per-target anchor-text profile (in-link count, distinct sources,
    sorted distinct anchor texts)."""
    from .operators.webgraph import anchor_text_agg

    return (
        anchor_text_agg(_web_links(spark))
        .select(
            "dst",
            F.col("n_inlinks").cast("long").alias("n_inlinks"),
            F.col("n_sources").cast("long").alias("n_sources"),
            "anchor_texts",
        )
        .orderBy("dst")
    )


def web_pagerank(spark, sf_dir):
    """10-iteration fixed-point PageRank over the extracted link graph —
    exact BIGINT arithmetic, so the iterative Spark joins value-hash-match
    the unrolled DuckDB CTE chain digit for digit."""
    from .operators.webgraph import edge_list, pagerank_fixed_point

    return pagerank_fixed_point(edge_list(_web_links(spark)), iterations=10).orderBy(
        "node"
    )


# anchor pattern with SQL-doubled single quotes
_ANCHOR_RE_SQL = "<a href=''([^'']*)''>([^<]*)</a>"

# shared CTE prefix: canonicalized pages -> anchor occurrences -> resolved
# links (mirrors functions/urls.py:canonical_url on these inputs — scheme
# and host lowercased, default :443/:80 stripped, empty path -> '/'; page
# URLs carry no query or fragment, so the param-sort arm is vacuous and
# kept out of the SQL on purpose)
_WEB_LINKS_CTES = f"""
pages AS (
  SELECT scheme || '://'
         || CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                 WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                 ELSE hostport END
         || CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS src,
         html
  FROM (
    SELECT lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
           lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
           regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS rawpath,
           html
    FROM read_parquet('{_HTML_CORPUS_PARQUET}')
  )
), anchors AS (
  SELECT src,
         unnest(regexp_extract_all(html, '{_ANCHOR_RE_SQL}', 0)) AS a
  FROM pages
), links0 AS (
  -- mirrors operators/webgraph.py resolve_href: a relative href against
  -- a base with no scheme to join resolves to NULL, dropped in links
  SELECT src,
         CASE WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.\\-]*://') THEN href
              WHEN href LIKE '//%' THEN
                NULLIF(regexp_extract(src, '^([A-Za-z][A-Za-z0-9+.\\-]*):', 1), '')
                || ':' || href
              WHEN href LIKE '/%' THEN
                NULLIF(regexp_extract(src, '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)', 1), '')
                || href
              ELSE NULL END AS dst_raw,
         regexp_extract(a, '{_ANCHOR_RE_SQL}', 2) AS anchor_text
  FROM (SELECT src, a, regexp_extract(a, '{_ANCHOR_RE_SQL}', 1) AS href FROM anchors)
), links AS (
  -- dst canonicalized with the SAME rules as src (mirrors
  -- operators/webgraph.py canonicalizing BOTH endpoints): an absolute
  -- href with a messy-cased scheme/host or an explicit default port
  -- must merge with the canonical node, not mint a duplicate
  SELECT src,
         scheme || '://'
         || CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                 WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                 ELSE hostport END
         || CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS dst,
         anchor_text
  FROM (
    SELECT src,
           lower(regexp_extract(dst_raw, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
           lower(regexp_extract(dst_raw, '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
           regexp_extract(dst_raw, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS rawpath,
           anchor_text
    FROM links0 WHERE dst_raw IS NOT NULL
  )
)"""

WEB_LINK_EDGES_SQL = f"""
WITH {_WEB_LINKS_CTES}
SELECT src, dst, CAST(count(*) AS BIGINT) AS n_anchors
FROM links GROUP BY src, dst
ORDER BY src, dst
"""

WEB_ANCHOR_TEXT_SQL = f"""
WITH {_WEB_LINKS_CTES}
SELECT dst,
       CAST(count(*) AS BIGINT) AS n_inlinks,
       CAST(count(DISTINCT src) AS BIGINT) AS n_sources,
       array_to_string(list_sort(list_distinct(list(anchor_text))), '|') AS anchor_texts
FROM links GROUP BY dst
ORDER BY dst
"""


def _pagerank_sql(
    iterations: int = 10,
    damping_pct: int = 85,
    edge_select: str = "SELECT DISTINCT src, dst FROM links",
) -> str:
    """Unrolled fixed-point PageRank as a chained-CTE DuckDB query — one
    (dangling, contribution, rank) CTE triple per iteration, floor division
    everywhere, mirroring operators/webgraph.py:pagerank_fixed_point term
    for term.  (Recursive CTEs can't aggregate in the recursive arm, so the
    loop is unrolled; at oracle scale 10 iterations is trivial.  Every
    iteration CTE is MATERIALIZED: r_k is referenced twice (dangling mass
    + contributions), so inlining would double the plan subtree per
    iteration — 2^10 expansion, minutes of planning — exactly the blowup
    the Spark side's localCheckpoint cadence prevents.)"""
    scale = 1_000_000_000_000
    ctes = [
        _WEB_LINKS_CTES.lstrip(),
        f"e AS MATERIALIZED ({edge_select})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg"
        " FROM e GROUP BY src)",
        "base AS MATERIALIZED (SELECT n.node, coalesce(d.outdeg, 0) AS outdeg"
        " FROM nodes n LEFT JOIN deg d USING (node))",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM base)",
        f"r0 AS MATERIALIZED (SELECT node, outdeg,"
        f" CAST({scale} AS BIGINT) // (SELECT n FROM nn) AS rank FROM base)",
    ]
    for k in range(iterations):
        ctes.append(
            f"d{k} AS MATERIALIZED"
            f" (SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dmass"
            f" FROM r{k} WHERE outdeg = 0)"
        )
        ctes.append(
            f"c{k} AS MATERIALIZED (SELECT e.dst AS node,"
            f" CAST(sum(r.rank // r.outdeg) AS BIGINT) AS inflow"
            f" FROM r{k} r JOIN e ON r.node = e.src"
            f" WHERE r.outdeg > 0 GROUP BY e.dst)"
        )
        ctes.append(
            f"r{k + 1} AS MATERIALIZED (SELECT b.node, b.outdeg,"
            f" (CAST({(100 - damping_pct) * scale} AS BIGINT)"
            f" // (100 * (SELECT n FROM nn)))"
            f" + (({damping_pct} * (coalesce(c.inflow, 0)"
            f" + ((SELECT dmass FROM d{k}) // (SELECT n FROM nn)))) // 100)"
            f" AS rank"
            f" FROM base b LEFT JOIN c{k} c USING (node))"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, rank AS rank_e12 FROM r{iterations} ORDER BY node"
    )


WEB_PAGERANK_SQL = _pagerank_sql()


def web_hits(spark, sf_dir):
    """10-iteration fixed-point HITS (hubs & authorities, L1-normalized)
    over the extracted link graph — exact BIGINT arithmetic throughout
    (operators/webgraph.py:hits_fixed_point), so the iterative Spark
    joins value-hash-match the unrolled DuckDB CTE chain."""
    from .operators.webgraph import edge_list, hits_fixed_point

    return hits_fixed_point(edge_list(_web_links(spark)), iterations=10).orderBy(
        "node"
    )


def _hits_sql(iterations: int = 10) -> str:
    """Unrolled fixed-point HITS mirroring hits_fixed_point term for
    term: per iteration an in-link sum + L1 normalize for authorities,
    then an out-link sum + L1 normalize for hubs.  Every CTE is
    MATERIALIZED for the same plan-blowup reason as _pagerank_sql; the
    normalizer's HUGEINT sum is cast back to BIGINT after the floor
    division (bounded ≤ SCALE_H by construction)."""
    s = 1_000_000_000
    ctes = [
        _WEB_LINKS_CTES.lstrip(),
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM links)",
        "nodes AS MATERIALIZED"
        " (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes)",
        f"h0 AS MATERIALIZED (SELECT node,"
        f" CAST({s} AS BIGINT) // (SELECT n FROM nn) AS hub FROM nodes)",
    ]
    for k in range(iterations):
        ctes.append(
            f"ar{k} AS MATERIALIZED (SELECT n.node, coalesce(s.v, 0) AS auth"
            f" FROM nodes n LEFT JOIN"
            f" (SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS v"
            f"  FROM h{k} h JOIN e ON h.node = e.src GROUP BY e.dst) s"
            f" USING (node))"
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT node, CAST(coalesce("
            f"(auth * {s}) // nullif((SELECT sum(auth) FROM ar{k}), 0), 0)"
            f" AS BIGINT) AS auth FROM ar{k})"
        )
        ctes.append(
            f"hr{k} AS MATERIALIZED (SELECT n.node, coalesce(s.v, 0) AS hub"
            f" FROM nodes n LEFT JOIN"
            f" (SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS v"
            f"  FROM a{k} a JOIN e ON a.node = e.dst GROUP BY e.src) s"
            f" USING (node))"
        )
        ctes.append(
            f"h{k + 1} AS MATERIALIZED (SELECT node, CAST(coalesce("
            f"(hub * {s}) // nullif((SELECT sum(hub) FROM hr{k}), 0), 0)"
            f" AS BIGINT) AS hub FROM hr{k})"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT h.node, h.hub AS hub_e9, a.auth AS auth_e9"
        + f"\nFROM h{iterations} h JOIN a{iterations - 1} a USING (node)"
        + "\nORDER BY node"
    )


WEB_HITS_SQL = _hits_sql()


def html_boilerpipe_blocks(spark, sf_dir):
    """Densitometric boilerplate classification (Kohlschuetter WSDM'10
    shallow-text-features rules) over the raw HTML corpus — the second,
    fully DECLARATIVE boilerplate-strip algorithm: scan-side regex block
    segmentation + one doc-keyed lag/lead window, zero Python
    (operators/boilerpipe.py)."""
    from .operators.boilerpipe import densitometric_blocks

    return densitometric_blocks(
        spark.read.parquet(_HTML_CORPUS_PARQUET)
    ).orderBy("url", "block_ord")


def _boilerpipe_sql() -> str:
    """Term-for-term mirror of operators/boilerpipe.py: same subtree-drop
    and block-tag regexes (RE2-compatible by construction — non-greedy,
    no backreferences), same \\x01-sentinel segmentation, same integer
    cross-multiplied thresholds, so the classification is value-hash
    exact without any float division in either engine."""
    from .operators.boilerpipe import (
        ANCHOR_SUBTREE_RE,
        BLOCK_TAG_RE,
        DROP_SUBTREE_RES,
        TAG_RE,
    )

    cleaned = "html"
    for pat in DROP_SUBTREE_RES:
        cleaned = f"regexp_replace({cleaned}, '{pat}', ' ', 'g')"
    strip = "regexp_replace(raw, '{tag}', ' ', 'g')".format(tag=TAG_RE)
    strip_nolink = (
        "regexp_replace(regexp_replace(raw, '{a}', ' ', 'g'), '{tag}', ' ', 'g')"
        .format(a=ANCHOR_SUBTREE_RE, tag=TAG_RE)
    )
    return f"""
WITH parts AS (
  SELECT url,
         string_split(regexp_replace({cleaned}, '{BLOCK_TAG_RE}', chr(1), 'g'),
                      chr(1)) AS ps
  FROM read_parquet('{_HTML_CORPUS_PARQUET}')
), blocks0 AS (
  SELECT url, generate_subscripts(ps, 1) AS pos, unnest(ps) AS raw FROM parts
), feats AS (
  SELECT url, pos,
         trim(regexp_replace({strip}, '\\s+', ' ', 'g')) AS text,
         len(regexp_extract_all({strip}, '\\S+')) AS words,
         len(regexp_extract_all({strip}, '\\S+'))
           - len(regexp_extract_all({strip_nolink}, '\\S+')) AS link_words
  FROM blocks0
), nonempty AS (
  SELECT * FROM feats WHERE words > 0
), ctx AS (
  SELECT url, pos, text, words, link_words,
         coalesce(lag(words) OVER w, 0) AS p_words,
         coalesce(lag(link_words) OVER w, 0) AS p_link,
         coalesce(lead(words) OVER w, 0) AS n_words,
         row_number() OVER w AS block_ord
  FROM nonempty WINDOW w AS (PARTITION BY url ORDER BY pos)
)
SELECT url, CAST(block_ord AS BIGINT) AS block_ord,
       CAST(words AS BIGINT) AS words,
       CAST(link_words AS BIGINT) AS link_words,
       CASE WHEN link_words * 3 <= words
             AND CASE WHEN p_link * 1000000 <= p_words * 555556
                      THEN (words > 16 OR n_words > 15 OR p_words > 4)
                      ELSE (words > 40 OR n_words > 17) END
            THEN 'content' ELSE 'boilerplate' END AS label,
       text
FROM ctx
ORDER BY url, block_ord
"""


HTML_BOILERPIPE_BLOCKS_SQL = _boilerpipe_sql()


def web_fetch_waves(spark, sf_dir):
    """Politeness crawl scheduling: every frontier URL gets a fetch wave
    such that no wave holds more than 4 URLs of one host (within-host
    order randomized by md5 so waves sample the host's URL space).  The
    per-host rank uses the grouped two-phase distributed prefix rank —
    no mega-host single-task window (operators/crawl.py).  The frontier
    derives deterministically from the documents table."""
    from .operators.crawl import fetch_waves

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frontier = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.org/"),
            F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(F.col("source"), F.lit(".example.org")).alias("host"),
    )
    return fetch_waves(frontier, per_host_cap=4).orderBy("host", "host_rank")


WEB_FETCH_WAVES_SQL = """
WITH frontier AS (
  SELECT 'https://' || source || '.example.org/' || lang || '/'
           || CAST(doc_id AS VARCHAR) AS url,
         source || '.example.org' AS host
  FROM documents
), ranked AS (
  SELECT url, host,
         CAST(row_number() OVER (PARTITION BY host ORDER BY md5(url), url)
              AS BIGINT) AS host_rank
  FROM frontier
)
SELECT url, host, host_rank,
       CAST((host_rank - 1) // 4 AS BIGINT) AS wave,
       CAST((host_rank - 1) % 4 AS BIGINT) AS slot
FROM ranked
ORDER BY host, host_rank
"""


def web_wave_profile(spark, sf_dir):
    """Fetch-round load profile over the deterministic frontier: per
    wave the URL count, participating hosts, and max slot — the
    dispatcher's capacity-planning view (operators/crawl.py
    wave_profile over the same fetch_waves plan as web_fetch_waves)."""
    from .operators.crawl import fetch_waves, wave_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frontier = docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.org/"),
            F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(F.col("source"), F.lit(".example.org")).alias("host"),
    )
    return wave_profile(fetch_waves(frontier, per_host_cap=4)).orderBy("wave")


WEB_WAVE_PROFILE_SQL = """
WITH frontier AS (
  SELECT 'https://' || source || '.example.org/' || lang || '/'
           || CAST(doc_id AS VARCHAR) AS url,
         source || '.example.org' AS host
  FROM documents
), ranked AS (
  SELECT url, host,
         CAST(row_number() OVER (PARTITION BY host ORDER BY md5(url), url)
              AS BIGINT) AS host_rank
  FROM frontier
), waves AS (
  SELECT host, CAST((host_rank - 1) // 4 AS BIGINT) AS wave,
         CAST((host_rank - 1) % 4 AS BIGINT) AS slot
  FROM ranked
)
SELECT wave, CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(max(slot) AS BIGINT) AS max_slot
FROM waves GROUP BY wave
ORDER BY wave
"""


# ---------------------------------------------------------------------------
# Crawl policy: robots.txt exclusion rules + sitemap discovery
# (operators/robots.py) over the materialized crawl-policy corpus
# (dist/robots_corpus.parquet, dist/sitemap_corpus.parquet,
# tools/gen_crawl_policy.py) — the SAME bytes the DuckDB oracles read,
# so line parsing, group merging, agent selection, and longest-match
# precedence are all value-hash-checked against an independent SQL
# reimplementation.

_ROBOTS_CORPUS_PARQUET = _golden("robots_corpus.parquet")
_SITEMAP_CORPUS_PARQUET = _golden("sitemap_corpus.parquet")


def _robots_parsed(spark):
    from .operators.robots import parse_robots

    return parse_robots(spark.read.parquet(_ROBOTS_CORPUS_PARQUET))


def _web_nodes(spark):
    """Every canonical URL the link graph knows — the crawl frontier.
    One explode over a SINGLE pass of the link extraction: the previous
    src-union-dst form scanned the HTML-regex extraction subtree twice
    (Spark has no cross-branch subtree reuse; same fix as the
    connected-components edge symmetrization)."""
    links = _web_links(spark)
    return (
        links.select(F.explode(F.array("src", "dst")).alias("url"))
        .distinct()
    )


def web_robots_rules(spark, sf_dir):
    """Parsed robots.txt rule table, expanded per (agent x rule) within
    each User-agent group: directive grouping, comment/CRLF tolerance,
    and case-insensitive directive names are all exercised by the
    fixture corpus (operators/robots.py parse_robots)."""
    from .operators.robots import robots_rule_table

    return robots_rule_table(_robots_parsed(spark)).orderBy(
        "host", "group_id", "ln", "agent"
    )


def web_robots_allowed(spark, sf_dir):
    """Per-frontier-URL fetch decision for agent 'TrainBot' (matched
    case-insensitively): exact-agent groups override '*', longest rule
    path wins, allow wins length ties, hosts without robots default to
    allowed (operators/robots.py robots_decisions)."""
    from .operators.robots import robots_decisions

    return robots_decisions(
        _robots_parsed(spark), _web_nodes(spark), "TrainBot"
    ).orderBy("url")


def web_crawl_frontier(spark, sf_dir):
    """The composed crawl schedule: robots-allowed frontier URLs fanned
    into politeness fetch waves (per-host cap 2) — robots_decisions
    feeding operators/crawl.py's grouped two-phase prefix rank."""
    from .operators.crawl import fetch_waves
    from .operators.robots import robots_decisions

    allowed = (
        robots_decisions(_robots_parsed(spark), _web_nodes(spark), "TrainBot")
        .where(F.col("allowed"))
        .select("url", "host")
    )
    return fetch_waves(allowed, per_host_cap=2).orderBy("host", "host_rank")


def web_fetch_schedule(spark, sf_dir):
    """The full politeness schedule: robots gate + fetch waves + the
    host's effective Crawl-delay (max across selected groups, default
    1.0 s) timing each wave — fetch_offset_s = wave * crawl_delay
    (operators/crawl.py fetch_schedule)."""
    from .operators.crawl import fetch_schedule

    return fetch_schedule(
        _robots_parsed(spark), _web_nodes(spark), "TrainBot", per_host_cap=2
    ).orderBy("host", "host_rank")


def web_sitemap_urls(spark, sf_dir):
    """Sitemap discovery: urlset <url> and sitemapindex <sitemap>
    entries with canonicalized <loc> and optional lastmod/priority
    (operators/robots.py parse_sitemaps)."""
    from .operators.robots import parse_sitemaps

    return parse_sitemaps(spark.read.parquet(_SITEMAP_CORPUS_PARQUET)).orderBy(
        "sitemap_url", "kind", "loc"
    )


# robots.txt parse pipeline as DuckDB CTEs: line split with 1-based list
# indexing -> 0-based ln (mirrors posexplode), CR/comment strip, directive
# extraction, and the lag/sum group-numbering window — term for term the
# plan parse_robots builds
_ROBOTS_PARSE_CTES = f"""
rlines AS (
  SELECT host, i - 1 AS ln,
         trim(regexp_replace(regexp_replace(ls[i], '\\r$', ''), '#.*$', '')) AS clean
  FROM (SELECT host, regexp_split_to_array(robots_txt, '\\n') AS ls
        FROM read_parquet('{_ROBOTS_CORPUS_PARQUET}')),
       unnest(range(1, len(ls) + 1)) AS t(i)
), rdirs AS (
  SELECT host, ln, directive, trim(regexp_extract(clean, '^[A-Za-z][A-Za-z-]*\\s*:\\s*(.*)$', 1)) AS value
  FROM (
    SELECT host, ln, clean,
           lower(regexp_extract(clean, '^([A-Za-z][A-Za-z-]*)\\s*:', 1)) AS directive
    FROM rlines
  )
  WHERE directive IN ('user-agent', 'allow', 'disallow', 'crawl-delay', 'sitemap')
), rgrp AS (
  SELECT host, ln, directive, value,
         CAST(directive = 'user-agent'
              AND NOT coalesce(lag(directive = 'user-agent')
                               OVER (PARTITION BY host ORDER BY ln), false)
              AS INT) AS sg
  FROM rdirs
), rparsed AS (
  SELECT host, ln, directive, value,
         sum(sg) OVER (PARTITION BY host ORDER BY ln
                       ROWS UNBOUNDED PRECEDING) AS group_id
  FROM rgrp
)"""

WEB_ROBOTS_RULES_SQL = f"""
WITH {_ROBOTS_PARSE_CTES}
SELECT r.host, CAST(r.group_id AS BIGINT) AS group_id,
       lower(a.value) AS agent, r.directive, r.value,
       CAST(r.ln AS BIGINT) AS ln
FROM rparsed r
JOIN (SELECT host, group_id, value FROM rparsed
      WHERE directive = 'user-agent') a
  ON r.host = a.host AND r.group_id = a.group_id
WHERE r.directive IN ('allow', 'disallow', 'crawl-delay') AND r.value <> ''
ORDER BY r.host, r.group_id, r.ln, agent
"""

# effective-rule selection + longest-match decision for agent 'trainbot':
# exact groups (pref 2) beat '*' groups (pref 1); the per-URL winner is
# the rn=1 row of the (length DESC, allow-first) window — the same order
# robots_decisions' struct-max encodes
_ROBOTS_DECISION_CTES = f"""
{_ROBOTS_PARSE_CTES}, {_WEB_LINKS_CTES.lstrip()}, ragents AS (
  SELECT host, group_id,
         CASE WHEN lower(value) = 'trainbot' THEN 2
              WHEN lower(value) = '*' THEN 1 END AS pref
  FROM rparsed WHERE directive = 'user-agent'
), rhostpref AS (
  SELECT host, max(pref) AS host_pref FROM ragents
  WHERE pref IS NOT NULL GROUP BY host
), rsel AS (
  SELECT DISTINCT a.host, a.group_id
  FROM ragents a JOIN rhostpref h
    ON a.host = h.host AND a.pref = h.host_pref
), reff AS (
  SELECT DISTINCT r.host, r.directive AS rule, r.value AS rpath
  FROM rparsed r JOIN rsel s
    ON r.host = s.host AND r.group_id = s.group_id
  WHERE r.directive IN ('allow', 'disallow') AND r.value <> ''
), nodes AS (
  SELECT src AS url FROM links UNION SELECT dst FROM links
), fr AS (
  SELECT url,
         lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1)) AS host,
         CASE WHEN regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) = ''
              THEN '/'
              ELSE regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1)
         END AS path
  FROM nodes
), rmatches AS (
  SELECT f.url, e.rule, e.rpath,
         row_number() OVER (PARTITION BY f.url
                            ORDER BY length(e.rpath) DESC,
                                     (e.rule = 'allow') DESC,
                                     e.rpath DESC, e.rule DESC) AS rn
  FROM fr f JOIN reff e
    ON f.host = e.host AND starts_with(f.path, e.rpath)
), rdecisions AS (
  SELECT f.url, f.host,
         coalesce(m.rule = 'allow', true) AS allowed,
         m.rule, m.rpath AS rule_path
  FROM fr f LEFT JOIN (SELECT * FROM rmatches WHERE rn = 1) m
    ON f.url = m.url
)"""

WEB_ROBOTS_ALLOWED_SQL = f"""
WITH {_ROBOTS_DECISION_CTES}
SELECT url, host, allowed, rule, rule_path
FROM rdecisions ORDER BY url
"""

WEB_FETCH_SCHEDULE_SQL = f"""
WITH {_ROBOTS_DECISION_CTES}, rdelays AS (
  SELECT r.host, max(TRY_CAST(r.value AS DOUBLE)) AS crawl_delay
  FROM rparsed r JOIN rsel s
    ON r.host = s.host AND r.group_id = s.group_id
  WHERE r.directive = 'crawl-delay'
    AND TRY_CAST(r.value AS DOUBLE) IS NOT NULL
  GROUP BY r.host
), franked AS (
  SELECT url, host,
         CAST(row_number() OVER (PARTITION BY host ORDER BY md5(url), url)
              AS BIGINT) AS host_rank
  FROM rdecisions WHERE allowed
)
SELECT f.url, f.host, f.host_rank,
       CAST((f.host_rank - 1) // 2 AS BIGINT) AS wave,
       CAST((f.host_rank - 1) % 2 AS BIGINT) AS slot,
       coalesce(d.crawl_delay, 1.0) AS crawl_delay,
       ((f.host_rank - 1) // 2) * coalesce(d.crawl_delay, 1.0)
         AS fetch_offset_s
FROM franked f LEFT JOIN rdelays d ON f.host = d.host
ORDER BY f.host, f.host_rank
"""

WEB_CRAWL_FRONTIER_SQL = f"""
WITH {_ROBOTS_DECISION_CTES}, franked AS (
  SELECT url, host,
         CAST(row_number() OVER (PARTITION BY host ORDER BY md5(url), url)
              AS BIGINT) AS host_rank
  FROM rdecisions WHERE allowed
)
SELECT url, host, host_rank,
       CAST((host_rank - 1) // 2 AS BIGINT) AS wave,
       CAST((host_rank - 1) % 2 AS BIGINT) AS slot
FROM franked
ORDER BY host, host_rank
"""

# sitemap parse pipeline as shared CTEs ending in sentries
# (sitemap_url, kind, loc, lastmod, priority) — reused by the frontier
_SITEMAP_PARSE_CTES = f"""
sm AS (
  SELECT url AS sitemap_url, xml
  FROM read_parquet('{_SITEMAP_CORPUS_PARQUET}')
), sblocks AS (
  SELECT sitemap_url, 'url' AS kind,
         unnest(regexp_extract_all(xml, '<url>([\\s\\S]*?)</url>', 1)) AS b
  FROM sm
  UNION ALL
  SELECT sitemap_url, 'sitemap' AS kind,
         unnest(regexp_extract_all(xml, '<sitemap>([\\s\\S]*?)</sitemap>', 1)) AS b
  FROM sm
), sent AS (
  SELECT sitemap_url, kind,
         trim(regexp_extract(b, '<loc>([\\s\\S]*?)</loc>', 1)) AS loc_raw,
         nullif(trim(regexp_extract(b, '<lastmod>([\\s\\S]*?)</lastmod>', 1)), '')
           AS lastmod,
         nullif(trim(regexp_extract(b, '<priority>([\\s\\S]*?)</priority>', 1)), '')
           AS priority
  FROM sblocks
), sparts AS (
  SELECT sitemap_url, kind, lastmod, priority,
         lower(regexp_extract(loc_raw, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
         lower(regexp_extract(loc_raw, '^[^:/?#]+://([^/?#]*)', 1)) AS hostport,
         regexp_extract(loc_raw, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS rawpath
  FROM sent
), sentries AS (
  SELECT sitemap_url, kind,
         scheme || '://'
         || CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                 WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                 ELSE hostport END
         || CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS loc,
         lastmod, priority
  FROM sparts
)"""

WEB_SITEMAP_URLS_SQL = f"""
WITH {_SITEMAP_PARSE_CTES}
SELECT sitemap_url, kind, loc, lastmod, priority
FROM sentries
ORDER BY sitemap_url, kind, loc
"""


def doc_langid(spark, sf_dir):
    """Heuristic language ID over the documents table: per-language
    function-word evidence scores (plus a Han codepoint count for zh)
    and the deterministic arg-max — pure scan-side codegen, zero
    shuffle (functions/langid.py)."""
    from .functions.langid import identify_language

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return identify_language(docs).orderBy("doc_id")


def _langid_sql() -> str:
    return f"""
WITH toked AS (
  SELECT doc_id,
         {_LANGID_TOKED_SQL}
  FROM documents
), scored AS (
  SELECT doc_id,
         {_langid_scores_sql()},
         score_zh
  FROM toked
)
SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
       {_langid_pred_sql()} AS lang_pred
FROM scored
ORDER BY doc_id
"""


DOC_LANGID_SQL = _langid_sql()


def corpus_card(spark, sf_dir):
    """The one-row 'data card' a released corpus ships: doc/token/source
    totals, distinct predicted languages, exact-duplicate rate, and
    benchmark-contamination rate, all as exact integers (ppm / x100).
    Composes four already-oracled measurement families into one row —
    each input is a map-side-combinable aggregate over its (cached or
    scan-side) stage, the outputs crossJoin as one-row frames.

    Scale shape: four aggregates over the corpus scan + three bounded
    cross joins; no windows, no collect."""
    from .functions.langid import identify_language
    from .functions.text import decontaminate, token_count
    from .operators.dedup import dedup_exact

    docs = load(spark, sf_dir, "documents")
    base = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    langs = identify_language(docs).agg(
        F.countDistinct("lang_pred").cast("long").alias("n_langs")
    )
    dups = dedup_exact(docs).agg(F.count("*").cast("long").alias("n_fp"))
    cont = decontaminate(docs).agg(
        F.count("*").cast("long").alias("n_train"),
        F.sum(F.col("contaminated").cast("long")).cast("long").alias("n_cont"),
    )
    return (
        base.crossJoin(langs)
        .crossJoin(dups)
        .crossJoin(cont)
        .select(
            "n_docs",
            "n_tokens",
            "n_sources",
            "n_langs",
            F.expr("(n_docs - n_fp) * 1000000L div n_docs").alias(
                "exact_dup_ppm"
            ),
            F.expr("n_cont * 1000000L div n_train").alias("contaminated_ppm"),
            F.expr("n_tokens * 100L div n_docs").alias("mean_tokens_x100"),
        )
    )


CORPUS_CARD_SQL = rf"""
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM documents
), lang AS (
  SELECT CAST(count(DISTINCT lang_pred) AS BIGINT) AS n_langs
  FROM ({DOC_LANGID_SQL})
), dup AS (
  SELECT CAST(count(*) AS BIGINT) AS n_fp FROM ({DEDUP_EXACT_SQL})
), cont AS (
  SELECT CAST(count(*) AS BIGINT) AS n_train,
         CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cont
  FROM ({DOC_DECONTAMINATE_SQL})
)
SELECT n_docs, n_tokens, n_sources, n_langs,
       (n_docs - n_fp) * 1000000 // n_docs AS exact_dup_ppm,
       n_cont * 1000000 // n_train AS contaminated_ppm,
       n_tokens * 100 // n_docs AS mean_tokens_x100
FROM base, lang, dup, cont
"""


# ---------------------------------------------------------------------------
# Host-level (domain) graph + sitemap discovery frontier

_HOST_OF = "lower(regexp_extract({c}, '^[^:/?#]+://([^/?#]*)', 1))"


def web_host_edges(spark, sf_dir):
    """The domain-level link graph: page edges projected to hosts,
    intra-host navigation dropped — per (src_host, dst_host) the count
    of distinct page edges and total anchors (operators/webgraph.py
    host_edges).  The table a 10^12-page pipeline ranks instead of the
    page graph when it needs domain quality signals."""
    from .operators.webgraph import edge_list, host_edges

    return host_edges(edge_list(_web_links(spark))).orderBy(
        "src_host", "dst_host"
    )


def web_host_pagerank(spark, sf_dir):
    """10-iteration fixed-point PageRank over the HOST graph — the same
    exact-BIGINT iteration as web_pagerank on a graph 4-5 orders of
    magnitude smaller, value-hash-matched against the unrolled CTE chain
    re-parameterized with the host edge list."""
    from .operators.webgraph import (
        edge_list,
        host_edges,
        pagerank_fixed_point,
    )

    he = host_edges(edge_list(_web_links(spark))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return pagerank_fixed_point(he, iterations=10).orderBy("node")


def web_host_communities(spark, sf_dir):
    """Domain communities by deterministic synchronous label propagation
    (operators/webgraph.py:label_propagation): 5 rounds of
    most-frequent-neighbor-label with min-label tie-break over the
    undirected host graph — the site-family clustering signal (link
    farms collapse to one community).  The argmax per round is a plain
    min(struct(-count, label)) aggregate, no per-vertex window; oracle
    is the 5-round unrolled CTE chain."""
    from .operators.webgraph import edge_list, host_edges, label_propagation

    he = host_edges(edge_list(_web_links(spark))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return label_propagation(he, rounds=5).orderBy("node")


def web_host_triangles(spark, sf_dir):
    """Per-host triangle counts + integer-exact local clustering
    coefficient over the undirected host graph (operators/webgraph.py:
    triangle_stats) — the link-farm near-clique signal.  Node-ordered
    canonical enumeration: two shuffle joins, each triangle found once;
    no adjacency list ever gathers on one task."""
    from .operators.webgraph import edge_list, host_edges, triangle_stats

    he = host_edges(edge_list(_web_links(spark))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return triangle_stats(he).orderBy("node")


def web_host_components(spark, sf_dir):
    """Weakly connected components of the host graph — the SAME
    min-label + pointer-jumping kernel the dedup clusters use
    (operators/graph.py:connected_components), re-aimed at the domain
    graph: component = the crawl's reachability islands, the unit a
    scheduler partitions work by.  Oracle is an independent recursive
    min-reachability CTE."""
    from .operators.graph import connected_components
    from .operators.webgraph import edge_list, host_edges

    he = host_edges(edge_list(_web_links(spark))).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return (
        connected_components(he, src="src", dst="dst")
        .select(
            F.col("doc_id").alias("host"),
            F.col("cluster_id").alias("component"),
        )
        .orderBy("host")
    )


def _label_prop_sql(rounds: int = 5) -> str:
    rs = []
    prev = "l0"
    for k in range(1, rounds + 1):
        rs.append(f"""l{k} AS (
  SELECT node, label FROM (
    SELECT s.dst AS node, l.label, count(*) AS cnt,
           row_number() OVER (PARTITION BY s.dst
                              ORDER BY count(*) DESC, l.label) AS rn
    FROM sym s JOIN {prev} l ON s.src = l.node
    GROUP BY s.dst, l.label
  ) WHERE rn = 1
)""")
        prev = f"l{k}"
    chain = ",\n".join(rs)
    return f"""
WITH {_WEB_LINKS_CTES}, hpairs AS (
  {_HOST_EDGE_SELECT}
), sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM hpairs
    UNION ALL SELECT dst AS src, src AS dst FROM hpairs
  )
), l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM sym
),
{chain}
SELECT l.node, l.label AS community, CAST(c.n AS BIGINT) AS community_size
FROM {prev} l
JOIN (SELECT label, count(*) AS n FROM {prev} GROUP BY label) c
  USING (label)
ORDER BY l.node
"""


def web_discovery_frontier(spark, sf_dir):
    """Sitemap-declared URLs merged with link-graph nodes: the crawl's
    new-URL feed (declared-but-unlinked) and stale-page flags
    (linked-but-undeclared), with max priority / lastmod per URL
    (operators/robots.py discovery_frontier)."""
    from .operators.robots import discovery_frontier, parse_sitemaps

    entries = parse_sitemaps(spark.read.parquet(_SITEMAP_CORPUS_PARQUET))
    # nullable double -> string at the ORACLE boundary only: DuckDB's
    # pandas fetch turns NULL doubles into NaN, which the driver's
    # canonicalizer hashes differently from a true NULL
    return (
        discovery_frontier(entries, _web_nodes(spark))
        .withColumn(
            "sitemap_priority", F.col("sitemap_priority").cast("string")
        )
        .orderBy("url")
    )


WEB_HOST_EDGES_SQL = f"""
WITH {_WEB_LINKS_CTES}, pe AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n_anchors
  FROM links GROUP BY src, dst
), he AS (
  SELECT {_HOST_OF.format(c='src')} AS src_host,
         {_HOST_OF.format(c='dst')} AS dst_host,
         n_anchors
  FROM pe
  WHERE {_HOST_OF.format(c='src')} <> {_HOST_OF.format(c='dst')}
)
SELECT src_host, dst_host,
       CAST(count(*) AS BIGINT) AS n_page_edges,
       CAST(sum(n_anchors) AS BIGINT) AS n_anchors
FROM he GROUP BY src_host, dst_host
ORDER BY src_host, dst_host
"""

_HOST_EDGE_SELECT = (
    "SELECT DISTINCT h1 AS src, h2 AS dst FROM ("
    f"SELECT {_HOST_OF.format(c='src')} AS h1, "
    f"{_HOST_OF.format(c='dst')} AS h2 FROM links) WHERE h1 <> h2"
)

WEB_HOST_PAGERANK_SQL = _pagerank_sql(edge_select=_HOST_EDGE_SELECT)

WEB_HOST_COMMUNITIES_SQL = _label_prop_sql(5)

WEB_HOST_COMPONENTS_SQL = f"""
WITH RECURSIVE {_WEB_LINKS_CTES.lstrip()}, hpairs AS (
  {_HOST_EDGE_SELECT}
), sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM hpairs
    UNION ALL SELECT dst AS src, src AS dst FROM hpairs
  )
), reach AS (
  SELECT src AS node, src AS label FROM sym
  UNION
  SELECT s.dst AS node, r.label
  FROM reach r JOIN sym s ON r.node = s.src
)
SELECT node AS host, min(label) AS component
FROM reach GROUP BY node
ORDER BY host
"""

WEB_HOST_TRIANGLES_SQL = f"""
WITH {_WEB_LINKS_CTES}, hpairs AS (
  {_HOST_EDGE_SELECT}
), und AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM hpairs WHERE src <> dst
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT lo AS node FROM und UNION ALL SELECT hi FROM und
  ) GROUP BY node
), tris AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e1.hi = e2.lo
  JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
), per_node AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS node FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY node
)
SELECT d.node, d.degree,
       coalesce(p.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN 2 * coalesce(p.n_triangles, 0) * 1000
                 // (d.degree * (d.degree - 1))
            ELSE 0 END AS clustering_x1000
FROM deg d LEFT JOIN per_node p USING (node)
ORDER BY d.node
"""

WEB_DISCOVERY_FRONTIER_SQL = f"""
WITH {_SITEMAP_PARSE_CTES}, {_WEB_LINKS_CTES.lstrip()}, gnodes AS (
  SELECT DISTINCT url, true AS in_graph
  FROM (SELECT src AS url FROM links UNION SELECT dst FROM links)
), smurls AS (
  SELECT loc AS url,
         max(CAST(priority AS DOUBLE)) AS sitemap_priority,
         max(lastmod) AS sitemap_lastmod,
         true AS in_sitemap
  FROM sentries WHERE kind = 'url' GROUP BY loc
)
SELECT coalesce(g.url, s.url) AS url,
       coalesce(g.in_graph, false) AS in_graph,
       coalesce(s.in_sitemap, false) AS in_sitemap,
       CAST(s.sitemap_priority AS VARCHAR) AS sitemap_priority,
       s.sitemap_lastmod
FROM gnodes g FULL OUTER JOIN smurls s ON g.url = s.url
ORDER BY url
"""


# ---------------------------------------------------------------------------
# Redirect-chain resolution (operators/redirects.py) over a redirect
# mapping derived DETERMINISTICALLY from the documents table (both
# engines compute the same derivation, so it scales with sf):
#   url(i)   = https://site{i%5}.test/p{i}
#   redirect(i) -> i+1 when i%97==95   (one half of a planted 2-cycle)
#                  i-1 when i%97==96   (the other half)
#                  i-1 when i%8 != 0   (chains of length 1..7 down to
#                                       the multiple-of-8 terminal)
# Chains that run into the planted cycle (e.g. 97 -> 96 -> 95 -> 96…)
# come back resolved=false — the quarantine tier.


def _redirect_url_expr(i):
    return F.concat(
        F.lit("https://site"),
        (i % 5).cast("string"),
        F.lit(".test/p"),
        i.cast("string"),
    )


def web_redirect_resolution(spark, sf_dir):
    """Terminal-target resolution of HTTP redirect chains via pointer
    jumping (operators/redirects.py resolve_redirects): ceil(log2
    max_hops) self-join doubling rounds instead of per-hop walking;
    cycles and over-long chains land resolved=false with NULL final."""
    from .operators.redirects import resolve_redirects

    i = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    urls = docs.select(_redirect_url_expr(i).alias("url"))
    j = (
        F.when(i % 97 == 95, i + 1)
        .when(i % 97 == 96, i - 1)
        .when(i % 8 != 0, i - 1)
    )
    redirects = docs.select(
        _redirect_url_expr(i).alias("src"), _redirect_url_expr(j).alias("dst")
    ).where(j.isNotNull())
    # nullable BIGINT -> string at the ORACLE boundary (cycle rows are
    # NULL; the pandas fetch floats the Duck column otherwise)
    return (
        resolve_redirects(urls, redirects, max_hops=16)
        .withColumn("hops", F.col("hops").cast("string"))
        .orderBy("url")
    )


_REDIRECT_URL_SQL = "'https://site' || ({i} % 5) || '.test/p' || {i}"

WEB_REDIRECT_RESOLUTION_SQL = f"""
WITH RECURSIVE durls AS (
  SELECT {_REDIRECT_URL_SQL.format(i='doc_id')} AS url FROM documents
), redirs AS (
  SELECT {_REDIRECT_URL_SQL.format(i='doc_id')} AS src,
         {_REDIRECT_URL_SQL.format(i='j')} AS dst
  FROM (SELECT doc_id, CASE WHEN doc_id % 97 = 95 THEN doc_id + 1
                            WHEN doc_id % 97 = 96 THEN doc_id - 1
                            WHEN doc_id % 8 <> 0 THEN doc_id - 1 END AS j
        FROM documents)
  WHERE j IS NOT NULL
), walk(url, cur, hops) AS (
  SELECT url, url, 0 FROM durls
  UNION
  SELECT w.url, r.dst, w.hops + 1
  FROM walk w JOIN redirs r ON w.cur = r.src
  WHERE w.hops < 16
), term AS (
  SELECT w.url, w.cur, w.hops
  FROM walk w LEFT JOIN (SELECT DISTINCT src FROM redirs) s ON w.cur = s.src
  WHERE s.src IS NULL
)
SELECT u.url,
       t.cur AS final_url,
       CAST(t.hops AS VARCHAR) AS hops,
       t.url IS NOT NULL AS resolved
FROM durls u LEFT JOIN term t ON u.url = t.url
ORDER BY u.url
"""


def web_snapshot_diff(spark, sf_dir):
    """Crawl-over-crawl change detection (operators/recrawl.py
    snapshot_diff): two snapshots derived deterministically from
    documents — prev drops doc_id%10==9, curr drops doc_id%10==0 and
    perturbs text when doc_id%7==3 — full-outer joined on url with
    status in {added, removed, changed, unchanged}."""
    from .operators.recrawl import snapshot_diff

    i = F.col("doc_id")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    prev = docs.where(i % 10 != 9).select(
        _redirect_url_expr(i).alias("url"),
        F.md5(F.encode(F.col("text"), "utf-8")).alias("fingerprint"),
    )
    curr = docs.where(i % 10 != 0).select(
        _redirect_url_expr(i).alias("url"),
        F.md5(
            F.encode(
                F.concat(
                    F.col("text"),
                    F.when(i % 7 == 3, F.lit("v2")).otherwise(F.lit("")),
                ),
                "utf-8",
            )
        ).alias("fingerprint"),
    )
    return snapshot_diff(prev, curr).orderBy("url")


WEB_SNAPSHOT_DIFF_SQL = f"""
WITH prev AS (
  SELECT {_REDIRECT_URL_SQL.format(i='doc_id')} AS url,
         md5(text) AS prev_fp
  FROM documents WHERE doc_id % 10 <> 9
), curr AS (
  SELECT {_REDIRECT_URL_SQL.format(i='doc_id')} AS url,
         md5(text || CASE WHEN doc_id % 7 = 3 THEN 'v2' ELSE '' END) AS curr_fp
  FROM documents WHERE doc_id % 10 <> 0
)
SELECT coalesce(p.url, c.url) AS url,
       CASE WHEN p.prev_fp IS NULL THEN 'added'
            WHEN c.curr_fp IS NULL THEN 'removed'
            WHEN p.prev_fp = c.curr_fp THEN 'unchanged'
            ELSE 'changed' END AS status,
       p.prev_fp, c.curr_fp
FROM prev p FULL OUTER JOIN curr c ON p.url = c.url
ORDER BY url
"""


# ---------------------------------------------------------------------------
# TPC-H completion: q2/q9/q11/q16/q20 over a DERIVED partsupp table.
# The testdata ships no partsupp parquet, so both engines derive the
# same relation deterministically from part x supplier — a TPC-H-spec-
# style spread of 4 suppliers per part:
#   ps_suppkey_i = (p_partkey + i*(S div 4 + p_partkey div S)) mod S,
#     i in 0..3, S = |supplier|  (0-based keys, matching the testdata)
#   ps_availqty       = (ps_partkey*47 + ps_suppkey*31) mod 9999 + 1
#   ps_supplycost_cents = (ps_partkey*13 + ps_suppkey*7) mod 99900 + 100
#   ps_supplycost     = cents / 100.0  (one IEEE division, identical
#                       bit-for-bit in both engines)
# The i-loop can collide at small S (e.g. S=10: i*(2+k) mod 10 repeats),
# so the pair set is DISTINCT-ed and the value formulas key on the PAIR,
# never on i — dedup-safe and engine-identical.  Exact comparisons
# (q11's HAVING, q20's threshold) run on the integer cents/quantities;
# reported money aggregates round to 2 like every other TPC-H entry.


def _partsupp(spark, sf_dir):
    part = load(spark, sf_dir, "part").select("p_partkey")
    s_n = load(spark, sf_dir, "supplier").agg(F.count("*").alias("s_n"))
    pairs = (
        part.crossJoin(F.broadcast(s_n))
        .select(
            "p_partkey",
            "s_n",
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.expr(
                "(p_partkey + i * (s_n div 4 + p_partkey div s_n)) % s_n"
            ).cast("long").alias("ps_suppkey"),
        )
        .distinct()
    )
    cents = (
        F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 7
    ) % 99900 + 100
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 47 + F.col("ps_suppkey") * 31) % 9999 + 1)
        .cast("long")
        .alias("ps_availqty"),
        (cents.cast("double") / F.lit(100.0)).alias("ps_supplycost"),
        cents.cast("long").alias("ps_supplycost_cents"),
    )


_PARTSUPP_CTE = """
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         (ps_partkey * 47 + ps_suppkey * 31) % 9999 + 1 AS ps_availqty,
         CAST((ps_partkey * 13 + ps_suppkey * 7) % 99900 + 100 AS DOUBLE)
           / 100.0 AS ps_supplycost,
         (ps_partkey * 13 + ps_suppkey * 7) % 99900 + 100
           AS ps_supplycost_cents
  FROM (
    SELECT DISTINCT p_partkey AS ps_partkey,
           (p_partkey + i * ((SELECT count(*) FROM supplier) // 4
                             + p_partkey // (SELECT count(*) FROM supplier)))
             % (SELECT count(*) FROM supplier) AS ps_suppkey
    FROM part, unnest([0, 1, 2, 3]) AS t(i)
  )
)"""


def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 (adapted to the shipped columns): for EUROPE suppliers
    of size-15 parts, the supplier(s) achieving the minimum
    ps_supplycost per part.  The correlated MIN compiles to a per-part
    pre-aggregate joined back on exact equality (supplycost doubles are
    derived identically in both engines, so equality is exact)."""
    ps = _partsupp(spark, sf_dir)
    part = load(spark, sf_dir, "part").where(F.col("p_size") == 15)
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        ps.join(sup, ps["ps_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .join(F.broadcast(part), ps["ps_partkey"] == part["p_partkey"])
    )
    mins = (
        eu.groupBy("ps_partkey")
        .agg(F.min("ps_supplycost").alias("min_cost"))
        .select(F.col("ps_partkey").alias("min_partkey"), "min_cost")
    )
    return (
        eu.join(
            mins,
            (eu["ps_partkey"] == mins["min_partkey"])
            & (eu["ps_supplycost"] == mins["min_cost"]),
        )
        .select(
            "s_acctbal", "s_name", "n_name",
            eu["ps_partkey"].alias("p_partkey"),
            "p_brand", "ps_supplycost",
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


Q2_SQL = f"""
WITH {_PARTSUPP_CTE.lstrip()}
SELECT s_acctbal, s_name, n_name, ps_partkey AS p_partkey,
       p_brand, ps_supplycost
FROM partsupp
JOIN supplier ON ps_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
JOIN part ON ps_partkey = p_partkey AND p_size = 15
WHERE ps_supplycost = (
  SELECT min(ps2.ps_supplycost)
  FROM partsupp ps2
  JOIN supplier s2 ON ps2.ps_suppkey = s2.s_suppkey
  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE'
  WHERE ps2.ps_partkey = partsupp.ps_partkey
)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9: profit by nation and order year over parts named
    '%red%' — lineitem joined to the derived partsupp on the composite
    (partkey, suppkey) key.  nation broadcasts; the partsupp join is
    left to AQE (at real TPC-H scale partsupp is lineitem/7.5 — NOT a
    broadcast side)."""
    li = load(spark, sf_dir, "lineitem")
    ps = _partsupp(spark, sf_dir)
    part = load(spark, sf_dir, "part").where(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    sup = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    profit = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(
            ps,
            (li["l_partkey"] == ps["ps_partkey"])
            & (li["l_suppkey"] == ps["ps_suppkey"]),
        )
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("n_name").alias("nation"),
            "o_year",
            (
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - F.col("ps_supplycost") * F.col("l_quantity")
            ).alias("amount"),
        )
    )
    return (
        profit.groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = f"""
WITH {_PARTSUPP_CTE.lstrip()}
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount)
                 - ps_supplycost * l_quantity), 2) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 (region-adapted): partsupp value held by ASIA suppliers
    per part, keeping parts whose value exceeds 0.1% of the total.  The
    HAVING threshold compares EXACT integer cents x quantity sums (the
    derived cents column) so the boundary can never flip on double
    summation order; the reported value is the one-division float."""
    ps = _partsupp(spark, sf_dir)
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    scoped = (
        ps.join(sup, ps["ps_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_cents") * F.col("ps_availqty")).alias(
                "value_cents"
            ),
        )
    )
    per_part = scoped.groupBy("ps_partkey").agg(
        F.sum("value_cents").alias("part_cents")
    )
    total = scoped.agg(F.sum("value_cents").alias("total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_cents") * 1000 > F.col("total_cents"))
        .select(
            "ps_partkey",
            (F.col("part_cents").cast("double") / F.lit(100.0)).alias(
                "value"
            ),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


Q11_SQL = f"""
WITH {_PARTSUPP_CTE.lstrip()}, scoped AS (
  SELECT ps_partkey, ps_supplycost_cents * ps_availqty AS value_cents
  FROM partsupp
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
)
SELECT ps_partkey,
       CAST(sum(value_cents) AS DOUBLE) / 100.0 AS value
FROM scoped
GROUP BY ps_partkey
HAVING sum(value_cents) * 1000 > (SELECT sum(value_cents) FROM scoped)
ORDER BY value DESC, ps_partkey
"""


def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 (adapted: the spec's comment-text complaint filter
    becomes the negative-balance filter the shipped supplier schema
    supports): distinct supplier counts per (brand, type, size) for
    parts outside Brand#3/PROMO in 8 chosen sizes, excluding flagged
    suppliers via an anti-join (keys are non-null, so NOT IN == anti)."""
    ps = _partsupp(spark, sf_dir)
    part = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    flagged = load(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("ps_suppkey"))
    return (
        ps.join(part, ps["ps_partkey"] == part["p_partkey"])
        .join(flagged, "ps_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = f"""
WITH {_PARTSUPP_CTE.lstrip()}
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q20_potential_promotion(spark, sf_dir):
    """TPC-H Q20 (region-adapted): ASIA suppliers holding more than half
    a year's shipped quantity of any 'small%' part.  The correlated
    quantity subquery compiles to a per-(part, supplier) pre-aggregate
    inner-joined back — the empty-subquery->NULL->false semantics of the
    spec's scalar compare, expressed as a join."""
    ps = _partsupp(spark, sf_dir)
    part = load(spark, sf_dir, "part").where(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    qualifying = (
        ps.join(part, ps["ps_partkey"] == part["p_partkey"])
        .join(
            shipped,
            (ps["ps_partkey"] == shipped["l_partkey"])
            & (ps["ps_suppkey"] == shipped["l_suppkey"]),
        )
        .where(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        sup.join(qualifying, sup["s_suppkey"] == qualifying["ps_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_SQL = f"""
WITH {_PARTSUPP_CTE.lstrip()}, shipped AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  GROUP BY l_partkey, l_suppkey
), qualifying AS (
  SELECT DISTINCT ps_suppkey
  FROM partsupp
  JOIN part ON ps_partkey = p_partkey AND p_name LIKE 'small%'
  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  WHERE ps_availqty > 0.5 * qty
)
SELECT s_name, s_acctbal
FROM supplier
JOIN qualifying ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
ORDER BY s_name
"""


# ---------------------------------------------------------------------------
# Hybrid retrieval + event analytics wave (round 6): reciprocal-rank
# fusion of lexical and semantic retrieval, ordered funnel conversion,
# weekly cohort retention, and integer-exact value-outlier ranking.


def doc_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-20 fused with embedding-cosine
    semantic top-20 (query = doc 0's embedding) via reciprocal-rank
    fusion, k=60.  Only ranks cross the fusion boundary, so the two
    score scales never need calibration; documents found by one system
    only still rank (their other contribution is 0).

    Scale shape: both inputs are bounded top-k lists, so the fusion
    full-outer join exchanges a few rows no matter the corpus size —
    all heavy lifting stays in the upstream retrieval plans (BM25's
    filter-before-explode, ANN's broadcast-query scan)."""
    from .operators.retrieval import bm25_topk, rrf_fuse
    from .operators.similarity import brute_force_topk

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, ["spark", "window", "merge"], k=20).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("doc_id")))
        .alias("rank"),
    )
    sem = brute_force_topk(emb, query_ids=[0], k=20).select(
        F.col("nbr_id").alias("doc_id"), "rank"
    )
    return rrf_fuse({"lex": lex, "sem": sem}, k=10, c=60)


DOC_HYBRID_RRF_SQL = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
dims AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM base),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dims),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM base)
  WHERE term IN ('spark', 'window', 'merge')
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
bm25 AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
           * (tf * (1.2 + 1.0))
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
         ), 4) AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dims ON tf.doc_id = dims.doc_id
  CROSS JOIN stats
  GROUP BY tf.doc_id
  ORDER BY score DESC, tf.doc_id ASC
  LIMIT 20
),
lex AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
           AS rank_lex
  FROM bm25
),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (SELECT v AS q FROM v WHERE vec_id = 0),
scored AS (
  SELECT v.vec_id AS doc_id,
         list_dot_product(q.q, v.v)
           / (sqrt(list_dot_product(q.q, q.q))
              * sqrt(list_dot_product(v.v, v.v))) AS cos
  FROM v, q WHERE v.vec_id != 0
),
sem AS (
  SELECT doc_id, CAST(rank AS BIGINT) AS rank_sem
  FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS rank
    FROM scored
  )
  WHERE rank <= 20
)
SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
       COALESCE(rank_lex, 0) AS rank_lex,
       COALESCE(rank_sem, 0) AS rank_sem,
       round(COALESCE(1.0 / (60.0 + rank_lex), 0.0)
             + COALESCE(1.0 / (60.0 + rank_sem), 0.0), 6) AS rrf_score
FROM lex
FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
ORDER BY rrf_score DESC, COALESCE(lex.doc_id, sem.doc_id) ASC
LIMIT 10
"""


def events_funnel_steps(spark, sf_dir):
    """Ordered funnel conversion (view -> click -> purchase): a user
    completes step i only with an event STRICTLY AFTER their step-(i-1)
    completion time — the sequential semantics product funnels mean, not
    mere per-type presence.

    Scale shape: each step is one per-user min-aggregate (map-side
    combined) joined to the previous step's per-user frame on the same
    user key — AQE co-partitions the chain, no windows over corpus-size
    partitions, and the final count is a 3-column scalar aggregate."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        e.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .agg(
            F.count("t1").cast("long").alias("users_view"),
            F.count("t2").cast("long").alias("users_click_after_view"),
            F.count("t3").cast("long").alias("users_purchase_after_click"),
        )
    )


def events_funnel_windowed(spark, sf_dir):
    """Conversion-window funnel: each step counts only within 24 hours
    of the previous step's completion (view -> click <= 24h -> purchase
    <= 24h) — the time-bounded semantics product funnels report.  Same
    min-agg join chain as events_funnel_steps, with the window bound as
    one more join predicate; still no event-time window function."""
    e = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        e.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .agg(
            F.count("t1").cast("long").alias("users_view"),
            F.count("t2").cast("long").alias("users_click_24h"),
            F.count("t3").cast("long").alias("users_purchase_24h"),
        )
    )


EVENTS_FUNNEL_WINDOWED_SQL = """
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t1
    AND e.ts <= t1.t1 + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
    AND e.ts <= t2.t2 + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT CAST(count(t1.t1) AS BIGINT) AS users_view,
       CAST(count(t2.t2) AS BIGINT) AS users_click_24h,
       CAST(count(t3.t3) AS BIGINT) AS users_purchase_24h
FROM t1
LEFT JOIN t2 ON t1.user_id = t2.user_id
LEFT JOIN t3 ON t1.user_id = t3.user_id
"""


EVENTS_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t1
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
  GROUP BY e.user_id
)
SELECT CAST(count(t1.t1) AS BIGINT) AS users_view,
       CAST(count(t2.t2) AS BIGINT) AS users_click_after_view,
       CAST(count(t3.t3) AS BIGINT) AS users_purchase_after_click
FROM t1
LEFT JOIN t2 ON t1.user_id = t2.user_id
LEFT JOIN t3 ON t1.user_id = t3.user_id
"""


def events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by first-seen week (weeks
    since 2024-01-01), activity counted per whole-week offset from each
    user's own first event; retention is active/cohort-size.  All
    bucketing is integer day arithmetic (floor-div by 7), so the matrix
    is exact — no engine-specific week-truncation semantics.

    Scale shape: one per-user min-agg, one join back on user_id, one
    (cohort, offset) countDistinct; cohort sizes come from the offset-0
    rows of the same aggregate (every user is active in their own first
    week by construction), so no second pass over events."""
    e = load(spark, sf_dir, "events").select("user_id", "ts")
    first = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    act = (
        e.join(first, "user_id")
        .select(
            "user_id",
            F.floor(
                F.datediff(F.to_date("first_ts"), F.lit("2024-01-01")) / 7
            ).alias("cohort_week"),
            F.floor(
                F.datediff(F.to_date("ts"), F.to_date("first_ts")) / 7
            ).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"))
    )
    size = act.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("active_users").alias("cohort_size")
    )
    return (
        act.join(size, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            F.round(
                F.col("active_users") * 100.0 / F.col("cohort_size"), 2
            ).alias("retention_pct"),
        )
        .orderBy("cohort_week", "week_offset")
    )


EVENTS_COHORT_SQL = """
WITH first AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
),
act AS (
  SELECT date_diff('day', DATE '2024-01-01', CAST(first_ts AS DATE)) // 7
           AS cohort_week,
         date_diff('day', CAST(first_ts AS DATE), CAST(e.ts AS DATE)) // 7
           AS week_offset,
         CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
  FROM events e JOIN first ON e.user_id = first.user_id
  GROUP BY 1, 2
),
size AS (
  SELECT cohort_week, active_users AS cohort_size FROM act
  WHERE week_offset = 0
)
SELECT act.cohort_week, week_offset, active_users,
       round(active_users * 100.0 / cohort_size, 2) AS retention_pct
FROM act JOIN size ON act.cohort_week = size.cohort_week
ORDER BY act.cohort_week, week_offset
"""


def events_value_extremes(spark, sf_dir):
    """Per-type value outliers: the 5 events deviating most from their
    type's mean.  The ranking key is |value_cents*n - sum_cents| — the
    deviation cross-multiplied into EXACT 64-bit integers (values carry
    2 decimals), so the order can never flip on float-summation order
    across engines; the reported deviation divides back once at the end.

    Scale shape: one per-type scalar aggregate (5 rows) broadcast back
    over the scan, then a per-type top-5 window over rows already
    filtered to each type's partition — map-side combine everywhere,
    no global sort."""
    cents = F.round(F.col("value") * 100).cast("long")
    e = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", cents.alias("cents")
    )
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("cents").alias("sum_cents")
    )
    dev = e.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "event_id",
        "value",
        F.abs(F.col("cents") * F.col("n") - F.col("sum_cents")).alias(
            "dev_scaled"
        ),
        F.col("n"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("dev_scaled"), F.asc("event_id")
    )
    return (
        dev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "event_type",
            F.col("rnk").cast("long").alias("rnk"),
            "event_id",
            "value",
            F.round(F.col("dev_scaled") / (100.0 * F.col("n")), 4).alias(
                "abs_dev"
            ),
        )
        .orderBy("event_type", "rnk")
    )


EVENTS_EXTREMES_SQL = """
WITH e AS (
  SELECT event_id, event_type, value,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
stats AS (
  SELECT event_type, count(*) AS n, sum(cents) AS sum_cents
  FROM e GROUP BY event_type
),
dev AS (
  SELECT e.event_type, event_id, value,
         abs(cents * n - sum_cents) AS dev_scaled, n,
         row_number() OVER (
           PARTITION BY e.event_type
           ORDER BY abs(cents * n - sum_cents) DESC, event_id ASC
         ) AS rnk
  FROM e JOIN stats ON e.event_type = stats.event_type
)
SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id, value,
       round(dev_scaled / (100.0 * n), 4) AS abs_dev
FROM dev WHERE rnk <= 5
ORDER BY event_type, rnk
"""


# ---------------------------------------------------------------------------
# Interleaved text+media alignment family (operators/interleave.py): the
# graft's payload axis made first-class — caption mining, interleave
# profiling, and multimodal-cost packing over the interleaved spans
# table, with a deterministic synthetic generator standing in for a
# crawl's real interleaved stream at any sf.

_INTERLEAVED_CTE = r"""
words AS (
  SELECT doc_id, u.w AS w, u.i - 1 AS p
  FROM (
    SELECT doc_id,
           list_transform(regexp_split_to_array(trim(text), '\s+'),
                          (x, i) -> {'w': x, 'i': i}) AS arr
    FROM documents
  ), unnest(arr) AS t(u)
  WHERE u.w <> ''
),
inter AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1
              AS BIGINT) AS pos,
         kind, text, media_ref
  FROM (
    SELECT doc_id, p * 2 AS ord, 'text' AS kind, w AS text,
           '' AS media_ref
    FROM words
    UNION ALL
    SELECT doc_id, p * 2 + 1, 'media', '',
           'img-' || doc_id || '-' || CAST(p // 11 AS VARCHAR)
    FROM words WHERE p % 11 = 7
  )
)"""


def spans_interleaved_synth(spark, sf_dir):
    """The deterministic interleaved text+media spans generator
    (operators/interleave.py:synth_interleaved): one text span per
    word, a media span injected after every word at p % 11 == 7 —
    the input_hint's table shape synthesized from documents at any
    scale.  One explode + one per-doc window; no corpus-sized
    partition."""
    from .operators.interleave import synth_interleaved

    docs = load(spark, sf_dir, "documents")
    return synth_interleaved(docs).orderBy("doc_id", "pos")


SPANS_INTERLEAVED_SQL = f"""
WITH {_INTERLEAVED_CTE}
SELECT doc_id, pos, kind, text, media_ref
FROM inter
ORDER BY doc_id, pos
"""


def spans_media_captions(spark, sf_dir):
    """Caption mining over the interleaved stream: each media span's
    caption is up to 6 following text spans before the next media span
    (operators/interleave.py:media_captions) — the adjacency heuristic
    CLIP-style pair corpora use.  Windows keyed (doc_id[, media_idx])
    only; the caption concat is array_sort-deterministic."""
    from .operators.interleave import media_captions, synth_interleaved

    docs = load(spark, sf_dir, "documents")
    return media_captions(
        synth_interleaved(docs), max_words=6, min_words=0
    ).orderBy("doc_id", "media_pos")


SPANS_MEDIA_CAPTIONS_SQL = f"""
WITH {_INTERLEAVED_CTE},
g AS (
  SELECT doc_id, pos, kind, text, media_ref,
         sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS media_idx
  FROM inter
),
media AS (
  SELECT doc_id, media_idx AS grp, media_ref, pos AS media_pos
  FROM g WHERE kind = 'media'
),
cand AS (
  SELECT doc_id, media_idx AS grp, pos, text,
         row_number() OVER (PARTITION BY doc_id, media_idx ORDER BY pos)
           AS rnk
  FROM g WHERE kind <> 'media' AND media_idx >= 1
),
caps AS (
  SELECT doc_id, grp,
         string_agg(text, ' ' ORDER BY pos) AS caption,
         CAST(count(*) AS BIGINT) AS caption_words
  FROM cand WHERE rnk <= 6 GROUP BY doc_id, grp
)
SELECT m.doc_id, m.media_ref, CAST(m.media_pos AS BIGINT) AS media_pos,
       COALESCE(c.caption, '') AS caption,
       COALESCE(c.caption_words, 0) AS caption_words
FROM media m
LEFT JOIN caps c ON m.doc_id = c.doc_id AND m.grp = c.grp
ORDER BY m.doc_id, m.media_pos
"""


def spans_interleave_stats(spark, sf_dir):
    """Per-doc interleaving profile (span/media counts, first media
    position, media density x100 as exact integers) — the curation
    signals a multimodal mixture builder stratifies on.  One map-side
    combinable aggregate, zero windows."""
    from .operators.interleave import interleave_stats, synth_interleaved

    docs = load(spark, sf_dir, "documents")
    return interleave_stats(synth_interleaved(docs)).orderBy("doc_id")


SPANS_INTERLEAVE_STATS_SQL = f"""
WITH {_INTERLEAVED_CTE}
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_media,
       CAST(COALESCE(min(CASE WHEN kind = 'media' THEN pos END), -1)
            AS BIGINT) AS first_media_pos,
       CAST(floor(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END)
                  * 10000.0 / count(*)) AS BIGINT) AS media_per_100_x100
FROM inter
GROUP BY doc_id
ORDER BY doc_id
"""


def spans_pack_interleaved(spark, sf_dir):
    """Multimodal packing: interleaved docs costed as whitespace tokens
    + 64 patch tokens per media span, cut into seq_len=256 chunks via
    the SAME two-phase distributed prefix sum as the text pack
    (operators/interleave.py:pack_interleaved -> pack_sequences)."""
    from .operators.interleave import pack_interleaved, synth_interleaved

    docs = load(spark, sf_dir, "documents")
    return pack_interleaved(synth_interleaved(docs), 256, 64).orderBy(
        "chunk_id", "doc_id"
    )


SPANS_PACK_INTERLEAVED_SQL = _pack_sql(
    256,
    t_cte=r"""
  SELECT doc_id,
         CAST(count(*) + 64 * sum(CASE WHEN p % 11 = 7 THEN 1 ELSE 0 END)
              + 1 AS BIGINT) AS n_tok
  FROM (
    SELECT doc_id, u.i - 1 AS p
    FROM (
      SELECT doc_id,
             list_transform(regexp_split_to_array(trim(text), '\s+'),
                            (x, i) -> {'w': x, 'i': i}) AS arr
      FROM documents
    ), unnest(arr) AS t(u)
    WHERE u.w <> ''
  )
  GROUP BY doc_id
""",
)


def media_caption_mining(spark, sf_dir):
    """Caption mining on the REAL extraction output: media_captions
    over the unified pdf+html interleaved spans (composite
    source_format:doc_id key), so the alignment operator is exercised
    against spans the engine actually extracted, not only the synthetic
    stream.  Oracle replays the same windows over the golden
    parquets."""
    from .operators.interleave import media_captions

    spans = unified_spans(spark, sf_dir).select(
        F.concat_ws(":", "source_format", "doc_id").alias("doc_id"),
        "pos",
        "kind",
        "text",
        "media_ref",
    )
    return media_captions(spans, max_words=6, min_words=0).orderBy(
        "doc_id", "media_pos"
    )


MEDIA_CAPTION_MINING_SQL = f"""
WITH u AS (
  SELECT 'pdf:' || doc_id AS doc_id, pos, kind, text, media_ref
  FROM read_parquet('{{GOLDEN_SPANS}}')
  UNION ALL
  SELECT 'html:' || doc_id AS doc_id, pos, kind, text, media_ref
  FROM read_parquet('{{GOLDEN_HTML_MAIN}}')
),
g AS (
  SELECT doc_id, pos, kind, text, media_ref,
         sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS media_idx
  FROM u
),
media AS (
  SELECT doc_id, media_idx AS grp, media_ref, pos AS media_pos
  FROM g WHERE kind = 'media'
),
cand AS (
  SELECT doc_id, media_idx AS grp, pos, text,
         row_number() OVER (PARTITION BY doc_id, media_idx ORDER BY pos)
           AS rnk
  FROM g WHERE kind <> 'media' AND media_idx >= 1
),
caps AS (
  SELECT doc_id, grp,
         string_agg(text, ' ' ORDER BY pos) AS caption,
         CAST(count(*) AS BIGINT) AS caption_words
  FROM cand WHERE rnk <= 6 GROUP BY doc_id, grp
)
SELECT m.doc_id, m.media_ref, CAST(m.media_pos AS BIGINT) AS media_pos,
       COALESCE(c.caption, '') AS caption,
       COALESCE(c.caption_words, 0) AS caption_words
FROM media m
LEFT JOIN caps c ON m.doc_id = c.doc_id AND m.grp = c.grp
ORDER BY m.doc_id, m.media_pos
""".replace("{GOLDEN_SPANS}", _GOLDEN_SPANS_PARQUET).replace(
    "{GOLDEN_HTML_MAIN}", _GOLDEN_HTML_MAIN_PARQUET
)


def wet_text_docs(spark, sf_dir):
    """Common Crawl WET ingest (sources/warc.py:wet_records): a WET
    archive — WARC container of WARC-Type: conversion / text/plain
    records — parsed back to text documents.  The fixture archive is
    built from the first 40 documents rows (bounded, disclosed
    driver-side fixture construction; the OPERATOR path is the
    distributed warc_records -> wet_records chain), and the oracle
    reads the same 40 rows straight from the source relation, so the
    container round-trip must be byte-faithful (URI keying, HTTP-less
    block framing, UTF-8 body) to match."""
    from .sources.warc import warc_records, wet_fixture_archive, wet_records

    rows = [
        (r["doc_id"], r["text"])
        for r in load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(40)
        .collect()
    ]
    arcs = spark.createDataFrame(
        [("wet-full", wet_fixture_archive(rows))],
        "warc_id string, payload binary",
    )
    return (
        wet_records(warc_records(arcs, num_partitions=4))
        .select(
            F.col("rec_index").cast("long").alias("rec_index"),
            F.regexp_extract("target_uri", r"https://wet\.test/(.*)", 1).alias(
                "doc_id"
            ),
            "target_uri",
            F.length("text").cast("long").alias("n_chars"),
            "body_sha256",
        )
        .orderBy("rec_index")
    )


WET_TEXT_DOCS_SQL = """
SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rec_index,
       CAST(doc_id AS VARCHAR) AS doc_id,
       'https://wet.test/' || doc_id AS target_uri,
       CAST(length(text) AS BIGINT) AS n_chars,
       sha256(text) AS body_sha256
FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 40)
ORDER BY rec_index
"""


def wat_link_edges_q(spark, sf_dir):
    """WAT (Common Crawl metadata container) link extraction: a WAT
    archive of Envelope-JSON metadata records parsed back to the link
    graph without touching any HTML (sources/warc.py:wat_link_edges —
    JVM from_json, no Python in the parse).  The fixture archive is
    built from the first 30 documents rows under a deterministic link
    rule; the oracle derives the same edges from the rule directly, so
    the container + JSON round-trip must be faithful to match.
    Completes the WARC (responses) / WET (text) / WAT (metadata)
    Common Crawl triple."""
    from .sources.warc import warc_records, wat_fixture_archive, wat_link_edges

    ids = [
        r["doc_id"]
        for r in load(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(30)
        .collect()
    ]
    n = len(ids)

    def url(d):
        return f"https://site{d % 5}.test/p{d}"

    pages = [
        (
            url(d),
            [url(ids[(j + 1) % n]), url(ids[(j * 2 + 1) % n])],
        )
        for j, d in enumerate(ids)
    ]
    arcs = spark.createDataFrame(
        [("wat-full", wat_fixture_archive(pages))],
        "warc_id string, payload binary",
    )
    return wat_link_edges(warc_records(arcs, num_partitions=4)).orderBy(
        "src", "dst"
    )


WAT_LINK_EDGES_SQL = """
WITH d AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS j
  FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 30)
), u AS (
  SELECT j, 'https://site' || (doc_id % 5) || '.test/p' || doc_id AS url
  FROM d
), n AS (SELECT count(*) AS n FROM u),
e AS (
  SELECT a.url AS src, b.url AS dst
  FROM u a, n JOIN u b ON b.j = (a.j + 1) % n.n
  UNION
  SELECT a.url, c.url
  FROM u a, n JOIN u c ON c.j = (a.j * 2 + 1) % n.n
)
SELECT DISTINCT src, dst FROM e ORDER BY src, dst
"""


def interleaved_funnel(spark, sf_dir):
    """The COMPOSED multimodal-curation funnel as one oracled query —
    the interleaved sibling of corpus_funnel: synthetic interleaved
    stream -> docs with media -> caption mining -> caption quality gate
    (>= 3 words) -> multimodal pack chunk count, reported as per-stage
    counts (stage_idx, stage, n).

    Scale shape: stages 1-2 are one aggregate over the interleave
    profile, 3-4 one aggregate over the caption pairs, 5 the pack
    manifest's distinct-chunk count (the two-phase prefix sum); the
    three one-row frames cross-join and explode into the funnel rows —
    no corpus-sized window, no collect.  The spans frame is recomputed
    per branch (narrow ops over the scan); a production run over real
    extraction output would persist it once, as pipeline.py does for
    the text funnel.  Oracle: independent SQL over the same CTEs, with
    the chunk count derived arithmetically (ceil(total/256)) rather
    than replaying the manifest — an independent derivation of the
    same quantity."""
    from .operators.interleave import (
        media_captions,
        pack_interleaved,
        synth_interleaved,
    )

    docs = load(spark, sf_dir, "documents")
    # the spans frame feeds the stats, caption, and pack branches of ONE
    # final plan: a lazy localCheckpoint materializes it on first use
    # and the other branches reuse the partitions instead of re-running
    # the explode+window three times (4.5 s -> ~2 s at sf0.1)
    spans = synth_interleaved(docs).localCheckpoint(eager=False)
    # stage 1-2 counts DIRECTLY from the spans frame (r7): stats rows are
    # exactly the docs with >= 1 span, and docs_with_media the docs with
    # >= 1 media span, so countDistinct over spans gives the identical
    # numbers without building the interleave profile twice (the stats
    # frame used to feed BOTH this agg and the with-media spine — each
    # consumer re-ran its groupBy over spans)
    a = spans.agg(
        F.countDistinct("doc_id").cast("long").alias("docs_total"),
        F.countDistinct(F.when(F.col("kind") == "media", F.col("doc_id")))
        .cast("long")
        .alias("docs_with_media"),
    )
    wm = spans.filter(F.col("kind") == "media").select("doc_id").distinct()
    # caps feeds the caption agg AND the kept-doc spine: eager-checkpoint
    # the caption-pair-sized frame so the double-window mining pass runs
    # once, not once per consumer (measured 2.4-2.8 -> ~2.0 s at sf0.1)
    caps = media_captions(
        spans.join(wm, "doc_id"), max_words=6, min_words=0
    ).localCheckpoint(eager=True)
    b = caps.agg(
        F.count("*").cast("long").alias("captions_mined"),
        F.sum((F.col("caption_words") >= 3).cast("long"))
        .cast("long")
        .alias("captions_kept"),
    )
    kept_docs = (
        caps.filter(F.col("caption_words") >= 3).select("doc_id").distinct()
    )
    manifest = pack_interleaved(spans.join(kept_docs, "doc_id"), 256, 64)
    c = manifest.agg(
        F.countDistinct("chunk_id").cast("long").alias("pack_chunks")
    )
    one = a.crossJoin(b).crossJoin(c)
    stages = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(name).cast("long").alias("n"),
            )
            for i, name in enumerate(
                [
                    "docs_total",
                    "docs_with_media",
                    "captions_mined",
                    "captions_kept",
                    "pack_chunks",
                ]
            )
        ]
    )
    return (
        one.select(F.explode(stages).alias("s"))
        .select("s.stage_idx", "s.stage", "s.n")
        .orderBy("stage_idx")
    )


INTERLEAVED_FUNNEL_SQL = f"""
WITH {_INTERLEAVED_CTE},
stats AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS n_media
  FROM inter GROUP BY doc_id
),
wm AS (SELECT doc_id FROM stats WHERE n_media >= 1),
g AS (
  SELECT i.doc_id, i.pos, i.kind, i.text, i.media_ref,
         sum(CASE WHEN i.kind = 'media' THEN 1 ELSE 0 END)
           OVER (PARTITION BY i.doc_id ORDER BY i.pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS media_idx
  FROM inter i JOIN wm ON i.doc_id = wm.doc_id
),
media AS (
  SELECT doc_id, media_idx AS grp, media_ref, pos AS media_pos
  FROM g WHERE kind = 'media'
),
cand AS (
  SELECT doc_id, media_idx AS grp, pos, text,
         row_number() OVER (PARTITION BY doc_id, media_idx ORDER BY pos)
           AS rnk
  FROM g WHERE kind <> 'media' AND media_idx >= 1
),
caps AS (
  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS caption_words
  FROM cand WHERE rnk <= 6 GROUP BY doc_id, grp
),
pairs AS (
  SELECT m.doc_id, COALESCE(c.caption_words, 0) AS caption_words
  FROM media m
  LEFT JOIN caps c ON m.doc_id = c.doc_id AND m.grp = c.grp
),
kept AS (SELECT DISTINCT doc_id FROM pairs WHERE caption_words >= 3),
cost AS (
  SELECT w.doc_id,
         count(*) + 64 * sum(CASE WHEN w.p % 11 = 7 THEN 1 ELSE 0 END) + 1
           AS n_tok
  FROM words w JOIN kept ON w.doc_id = kept.doc_id
  GROUP BY w.doc_id
),
scalars AS (
  SELECT (SELECT count(*) FROM stats) AS docs_total,
         (SELECT count(*) FROM wm) AS docs_with_media,
         (SELECT count(*) FROM pairs) AS captions_mined,
         (SELECT count(*) FROM pairs WHERE caption_words >= 3)
           AS captions_kept,
         (SELECT COALESCE((sum(n_tok) + 255) // 256, 0) FROM cost)
           AS pack_chunks
)
SELECT CAST(u.stage_idx AS BIGINT) AS stage_idx, u.stage, CAST(u.n AS BIGINT) AS n
FROM scalars, unnest([
  {{'stage_idx': 0, 'stage': 'docs_total', 'n': docs_total}},
  {{'stage_idx': 1, 'stage': 'docs_with_media', 'n': docs_with_media}},
  {{'stage_idx': 2, 'stage': 'captions_mined', 'n': captions_mined}},
  {{'stage_idx': 3, 'stage': 'captions_kept', 'n': captions_kept}},
  {{'stage_idx': 4, 'stage': 'pack_chunks', 'n': pack_chunks}}
]) AS t(u)
ORDER BY stage_idx
"""


class Query(NamedTuple):
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL over the same parquet tables
    headline: bool  # timed by bench.py, in table order


# Each query is declared once, here.  QUERIES, ORACLES and bench.py's
# HEADLINE are derived from this table.
REGISTRY = [
    Query("q1_pricing_summary", q1_pricing_summary, Q1_SQL, True),
    Query("q3_top_urgent_revenue", q3_top_urgent_revenue, Q3_SQL, True),
    Query("q4_order_priority", q4_order_priority, Q4_SQL, True),
    Query("q12_shipmode_priority", q12_shipmode_priority, Q12_SQL, True),
    Query("q14_promo_revenue", q14_promo_revenue, Q14_SQL, True),
    Query("q18_large_volume_customers", q18_large_volume_customers,
          Q18_SQL, True),
    Query("q19_discounted_revenue", q19_discounted_revenue, Q19_SQL, True),
    Query("q10_returned_revenue", q10_returned_revenue, Q10_SQL, True),
    Query("q7_volume_shipping", q7_volume_shipping, Q7_SQL, True),
    Query("q8_market_share", q8_market_share, Q8_SQL, True),
    Query("q13_customer_distribution", q13_customer_distribution,
          Q13_SQL, True),
    Query("q15_top_supplier", q15_top_supplier, Q15_SQL, True),
    Query("q17_small_quantity_revenue", q17_small_quantity_revenue,
          Q17_SQL, True),
    Query("q21_waiting_suppliers", q21_waiting_suppliers, Q21_SQL, True),
    Query("q22_global_sales_opportunity", q22_global_sales_opportunity,
          Q22_SQL, True),
    # partsupp-derived TPC-H tail (the derived relation is built inside
    # each query; q2/q11/q16/q20 time the dim-broadcast plans, q9 the
    # profit join over the widest fact chain)
    Query("q2_min_cost_supplier", q2_min_cost_supplier, Q2_SQL, True),
    Query("q9_product_type_profit", q9_product_type_profit, Q9_SQL, True),
    Query("q11_important_stock", q11_important_stock, Q11_SQL, True),
    Query("q16_supplier_part_counts", q16_supplier_part_counts, Q16_SQL, True),
    Query("q20_potential_promotion", q20_potential_promotion, Q20_SQL, True),
    # event analytics wave: ordered funnel (min-agg join chain), weekly
    # cohorts (integer day arithmetic), integer-exact outlier ranking,
    # and hybrid lexical+semantic RRF fusion over bounded top-k lists
    Query("events_funnel_steps", events_funnel_steps, EVENTS_FUNNEL_SQL, True),
    Query("events_funnel_windowed", events_funnel_windowed,
          EVENTS_FUNNEL_WINDOWED_SQL, True),
    Query("events_cohort_retention", events_cohort_retention,
          EVENTS_COHORT_SQL, True),
    Query("events_value_extremes", events_value_extremes,
          EVENTS_EXTREMES_SQL, True),
    Query("doc_hybrid_rrf", doc_hybrid_rrf, DOC_HYBRID_RRF_SQL, True),
    # interleaved text+media alignment family: synthetic stream caption
    # mining + profile (doc-keyed windows only) and multimodal packing
    # through the two-phase prefix sum with a per-media patch budget
    Query("spans_interleaved_synth", spans_interleaved_synth,
          SPANS_INTERLEAVED_SQL, False),
    Query("spans_media_captions", spans_media_captions,
          SPANS_MEDIA_CAPTIONS_SQL, True),
    Query("spans_interleave_stats", spans_interleave_stats,
          SPANS_INTERLEAVE_STATS_SQL, True),
    Query("spans_pack_interleaved", spans_pack_interleaved,
          SPANS_PACK_INTERLEAVED_SQL, True),
    # the composed multimodal funnel (stats -> captions -> gate -> pack)
    Query("interleaved_funnel", interleaved_funnel,
          INTERLEAVED_FUNNEL_SQL, True),
    Query("media_caption_mining", media_caption_mining,
          MEDIA_CAPTION_MINING_SQL, False),
    Query("events_value_percentiles", events_value_percentiles,
          EVENTS_PCTL_SQL, True),
    Query("events_distinct_users_hll", events_distinct_users_hll,
          _events_hll_sql(), True),
    Query("events_value_quantile_sketch", events_value_quantile_sketch,
          _events_quantile_sql(), True),
    Query("corpus_term_cm_freq", corpus_term_cm_freq, _corpus_cm_sql(), True),
    Query("nation_balance_full_outer", nation_balance_full_outer,
          NATION_BALANCE_SQL, True),
    Query("custkeys_urgent_and_returned", custkeys_urgent_and_returned,
          CUST_INTERSECT_SQL, True),
    Query("custkeys_without_urgent_orders", custkeys_without_urgent_orders,
          EXCEPT_SQL, False),
    Query("events_moving_avg", events_moving_avg, EVENTS_MAVG_SQL, True),
    Query("events_json_props", events_json_props, EVENTS_JSON_SQL, True),
    Query("corpus_top_terms", corpus_top_terms, CORPUS_TOP_TERMS_SQL, True),
    Query("doc_bm25_topk", doc_bm25_topk, DOC_BM25_SQL, True),
    Query("doc_index_hot_terms", doc_index_hot_terms, DOC_INDEX_HOT_SQL, True),
    Query("q5_nation_revenue", q5_nation_revenue, Q5_SQL, True),
    Query("q6_forecast_revenue", q6_forecast_revenue, Q6_SQL, True),
    Query("top3_orders_per_customer", top3_orders_per_customer,
          TOP3_SQL, True),
    Query("events_sessionize", events_sessionize, SESSIONIZE_SQL, True),
    Query("events_hourly_rollup", events_hourly_rollup, HOURLY_SQL, True),
    Query("events_asof_orders", events_asof_orders, ASOF_SQL, True),
    Query("events_in_price_band", events_in_price_band, RANGE_JOIN_SQL, False),
    Query("lineitem_rollup", lineitem_rollup, ROLLUP_SQL, True),
    Query("lineitem_cube", lineitem_cube, CUBE_SQL, True),
    Query("orders_pivot_priority", orders_pivot_priority, PIVOT_SQL, True),
    Query("doc_stats", doc_stats, DOC_STATS_SQL, True),
    Query("doc_quality_filter", doc_quality_filter, DOC_QUALITY_SQL, True),
    Query("doc_sample_stratified", doc_sample_stratified,
          SAMPLE_STRATIFIED_SQL, True),
    Query("doc_mix_temperature", doc_mix_temperature,
          MIX_TEMPERATURE_SQL, True),
    Query("doc_chunk_sliding", doc_chunk_sliding, CHUNK_SLIDING_SQL, True),
    Query("spans_linearize", spans_linearize, SPANS_LINEARIZE_SQL.format(
        GOLDEN_SPANS=_GOLDEN_SPANS_PARQUET,
        GOLDEN_HTML_MAIN=_GOLDEN_HTML_MAIN_PARQUET), False),
    Query("spans_pack_manifest", spans_pack_manifest,
          _spans_pack_sql(), False),
    Query("doc_source_quota", doc_source_quota, SOURCE_QUOTA_SQL, True),
    Query("doc_source_token_quota", doc_source_token_quota,
          DOC_SOURCE_TOKEN_QUOTA_SQL, True),
    Query("corpus_summary_stats", corpus_summary_stats,
          CORPUS_SUMMARY_SQL, True),
    Query("corpus_card", corpus_card, CORPUS_CARD_SQL, True),
    Query("doc_vocab_coverage", doc_vocab_coverage,
          DOC_VOCAB_COVERAGE_SQL, True),
    Query("doc_repetition_flags", doc_repetition_flags,
          DOC_REPETITION_SQL, True),
    Query("doc_span_dedup", doc_span_dedup, DOC_SPAN_DEDUP_SQL, True),
    Query("doc_span_dedup_apply", doc_span_dedup_apply,
          DOC_SPAN_DEDUP_APPLY_SQL, True),
    Query("doc_decontaminate", doc_decontaminate, DOC_DECONTAMINATE_SQL, True),
    Query("doc_decontaminate_bloom", doc_decontaminate_bloom,
          _bloom_decontaminate_sql(), True),
    Query("doc_holdout_split", doc_holdout_split, DOC_HOLDOUT_SPLIT_SQL, True),
    Query("doc_decontaminate_fuzzy", doc_decontaminate_fuzzy,
          DOC_DECONTAMINATE_FUZZY_SQL, True),
    Query("doc_mix_epochs", doc_mix_epochs, DOC_MIX_EPOCHS_SQL, True),
    Query("doc_pii_redact", doc_pii_redact, DOC_PII_REDACT_SQL, True),
    Query("doc_blocklist", doc_blocklist, BLOCKLIST_SQL, True),
    Query("doc_url_dedup", doc_url_dedup, DOC_URL_DEDUP_SQL, True),
    Query("corpus_funnel", corpus_funnel, CORPUS_FUNNEL_SQL, False),
    Query("doc_token_bpe", doc_token_bpe, BPE_SQL, True),
    Query("doc_winnow_fingerprints", doc_winnow_fingerprints,
          WINNOW_SQL, True),
    Query("doc_shuffle_shards", doc_shuffle_shards, SHUFFLE_SHARDS_SQL, True),
    Query("doc_lm_perplexity", doc_lm_perplexity, LM_PPL_SQL, True),
    Query("doc_lm_trigram", doc_lm_trigram, LM_TRIGRAM_SQL, True),
    Query("doc_ppl_buckets", doc_ppl_buckets, PPL_BUCKETS_SQL, True),
    Query("doc_pack_sequences", doc_pack_sequences, PACK_SEQUENCES_SQL, True),
    Query("doc_quality_classifier", doc_quality_classifier,
          NB_CLASSIFY_SQL, True),
    Query("doc_dsir_weights", doc_dsir_weights, DSIR_WEIGHTS_SQL, True),
    Query("doc_dsir_select", doc_dsir_select, DSIR_SELECT_SQL, True),
    Query("semantic_dedup", semantic_dedup, SEMDEDUP_SQL, True),
    Query("corpus_funnel_semantic", corpus_funnel_semantic,
          _splice_semantic_funnel(CORPUS_FUNNEL_SQL), False),
    Query("doc_classifier_topk", doc_classifier_topk, NB_TOPK_SQL, True),
    # bpe_merges covers the BPE family in the bench; doc_bpe_tokens shares
    # the same 12-round training loop at construction (it would re-train
    # per timed invocation, doubling the loop cost without new signal) and
    # stays correctness-gated via its oracle row instead
    Query("bpe_merges", bpe_merges, BPE_MERGES_SQL, True),
    Query("doc_bpe_tokens", doc_bpe_tokens, BPE_TOKENS_SQL, False),
    Query("doc_pack_bpe", doc_pack_bpe, PACK_BPE_SQL, False),
    # unigram-LM sibling: substring seed + 2 EM rounds, every job
    # vocabulary-sized, corpus scanned once (functions/unigram.py)
    Query("unigram_vocab", unigram_vocab, UNIGRAM_VOCAB_SQL, True),
    Query("doc_unigram_tokens", doc_unigram_tokens, UNIGRAM_TOKENS_SQL, False),
    Query("doc_pack_unigram", doc_pack_unigram, PACK_UNIGRAM_SQL, False),
    Query("media_features", media_features, MEDIA_FEATURES_SQL, False),
    Query("media_dhash", media_dhash, MEDIA_DHASH_SQL, True),
    Query("media_dhash_near_dup", media_dhash_near_dup,
          MEDIA_DHASH_PAIRS_SQL, True),
    Query("media_audio_fp", media_audio_fp, MEDIA_AUDIO_FP_SQL, True),
    Query("media_audio_near_dup", media_audio_near_dup,
          MEDIA_AUDIO_PAIRS_SQL, True),
    Query("warc_records_meta", warc_records_meta, WARC_RECORDS_SQL, True),
    Query("wet_text_docs", wet_text_docs, WET_TEXT_DOCS_SQL, True),
    Query("wat_link_edges", wat_link_edges_q, WAT_LINK_EDGES_SQL, True),
    Query("warc_html_spans", warc_html_spans, WARC_HTML_SPANS_SQL, True),
    Query("dedup_exact", dedup_exact_q, DEDUP_EXACT_SQL, True),
    Query("minhash_lsh_candidates", minhash_lsh_q, MINHASH_SQL, True),
    Query("dedup_clusters", dedup_clusters_q, DEDUP_CLUSTERS_SQL, True),
    Query("ngram_jaccard_pairs", ngram_jaccard_q, NGRAM_JACCARD_SQL, True),
    Query("simhash_pairs", simhash_pairs, SIMHASH_SQL, False),
    Query("embedding_near_dup", embedding_near_dup, NEAR_DUP_SQL, True),
    Query("spans_explode", spans_explode, SPANS_EXPLODE_SQL, True),
    Query("ann_cosine_topk", ann_cosine_topk, ANN_SQL, True),
    # ANN approximate paths: LSH has a full DuckDB SQL reimplementation
    # (the md5 hyperplane family is engine-independent); IVF has an
    # independent numpy golden keyed by corpus fingerprint
    # (tools/gen_golden_ann.py) since k-means isn't SQL-expressible.
    Query("ann_lsh_topk", ann_lsh_topk, ANN_LSH_SQL, False),
    Query("ann_ivf_topk", ann_ivf_topk, ANN_IVF_SQL, False),
    Query("ann_pq_topk", ann_pq_topk, ANN_PQ_SQL, True),
    Query("ann_ivfpq_topk", ann_ivfpq_topk, ANN_IVFPQ_SQL, True),
    Query("ann_recall", ann_recall, ANN_RECALL_SQL, False),
    Query("html_main_content", html_main_content, HTML_MAIN_SQL, True),
    # bench.py times PDF extraction in its own throughput stage
    Query("extract_pdf_spans", extract_pdf_spans, EXTRACT_SPANS_SQL, False),
    Query("extract_paged_spans", extract_paged_spans,
          EXTRACT_PAGED_SQL, False),
    Query("doc_metadata", doc_metadata_q, DOC_METADATA_SQL, False),
    Query("unified_spans", unified_spans, UNIFIED_SPANS_SQL, False),
    Query("render_html", render_html, RENDER_HTML_SQL, False),
    Query("render_svg", render_svg, RENDER_SVG_SQL, False),
    # web link-graph family: edges/anchor-text are scan-side extraction;
    # pagerank times the 10-iteration fixed-point join loop (the corpus is
    # the fixed fixture graph, so this measures per-iteration scheduling
    # + join cost, the quantity that scales with iteration count)
    Query("web_link_edges", web_link_edges, WEB_LINK_EDGES_SQL, True),
    Query("web_anchor_text", web_anchor_text, WEB_ANCHOR_TEXT_SQL, True),
    Query("web_pagerank", web_pagerank, WEB_PAGERANK_SQL, True),
    # hits adds the L1-normalize half-steps (two one-row broadcast
    # aggregates per iteration) on top of pagerank's join loop
    Query("web_hits", web_hits, WEB_HITS_SQL, True),
    # the declarative boilerplate classifier: regex segmentation +
    # one window shuffle, the zero-Python HTML strip path
    Query("html_boilerpipe_blocks", html_boilerpipe_blocks,
          HTML_BOILERPIPE_BLOCKS_SQL, True),
    # politeness scheduler: grouped two-phase prefix rank over the
    # synthetic frontier (checkpoint + two bounded broadcasts)
    Query("web_fetch_waves", web_fetch_waves, WEB_FETCH_WAVES_SQL, True),
    # crawl-policy layer: robots parse + agent selection + longest-match
    # decisions over the link-graph frontier, and the composed
    # robots->waves schedule (the full WHAT+WHEN crawl gate)
    Query("web_robots_rules", web_robots_rules, WEB_ROBOTS_RULES_SQL, False),
    Query("web_robots_allowed", web_robots_allowed,
          WEB_ROBOTS_ALLOWED_SQL, True),
    Query("web_crawl_frontier", web_crawl_frontier,
          WEB_CRAWL_FRONTIER_SQL, True),
    # host projection + the shared fixed-point kernel on the 4-5-orders
    # smaller domain graph, and the sitemap/graph discovery merge
    Query("web_host_edges", web_host_edges, WEB_HOST_EDGES_SQL, False),
    Query("web_host_pagerank", web_host_pagerank, WEB_HOST_PAGERANK_SQL, True),
    Query("web_host_communities", web_host_communities,
          WEB_HOST_COMMUNITIES_SQL, True),
    Query("web_host_triangles", web_host_triangles,
          WEB_HOST_TRIANGLES_SQL, True),
    Query("web_host_components", web_host_components,
          WEB_HOST_COMPONENTS_SQL, True),
    Query("web_sitemap_urls", web_sitemap_urls, WEB_SITEMAP_URLS_SQL, False),
    Query("web_discovery_frontier", web_discovery_frontier,
          WEB_DISCOVERY_FRONTIER_SQL, True),
    # delay-timed schedule (one more bounded join over the frontier) and
    # pointer-jumping redirect resolution (log2(max_hops) self-joins)
    Query("web_fetch_schedule", web_fetch_schedule,
          WEB_FETCH_SCHEDULE_SQL, True),
    Query("web_redirect_resolution", web_redirect_resolution,
          WEB_REDIRECT_RESOLUTION_SQL, True),
    Query("web_wave_profile", web_wave_profile, WEB_WAVE_PROFILE_SQL, True),
    Query("web_snapshot_diff", web_snapshot_diff, WEB_SNAPSHOT_DIFF_SQL, True),
    # scan-side language ID over documents: pure codegen, zero shuffle —
    # times the per-row profile-scoring projection at corpus scale
    Query("doc_langid", doc_langid, DOC_LANGID_SQL, True),
]

QUERIES = {q.name: q.fn for q in REGISTRY}
ORACLES = {q.name: q.oracle for q in REGISTRY}
HEADLINE = [q.name for q in REGISTRY if q.headline]
_twice = [n for n, k in Counter(q.name for q in REGISTRY).items() if k > 1]
if _twice:
    raise ValueError(f"query declared twice: {_twice}")
