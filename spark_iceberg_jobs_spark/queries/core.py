"""Core relational queries — reference-parity analytics on the fixture schema.

Maps the reference's specified analytics surface (README.md:16-25; SURVEY.md
§2.2-2.5) onto the driver's TPC-H-ish tables:

- flagship (§7.1): broadcast-dim + multiway fact join + hash agg + top-k
- A1-A4 (README.md:19-23) re-expressed: avg-per-key, distinct-count-per-key,
  dim-join count, filtered-sum — each a "group → agg → top-1" with stable
  tie-breakers
- J2/J3/J4 joins incl. outer/semi/anti (the reference only needs inner;
  exposing the rest is free via ``how=``)
- set ops, window functions, scalar function showcase, rollup, global top-k

Every query aliases computed columns identically to its DuckDB oracle and
rounds floating aggregates (sum order differs across engines; SURVEY.md §7.3c).

Scale notes are per-function; the common themes: dims are broadcast, facts
never collect, aggregates are partial+final hash aggs, top-k is
TakeOrderedAndProject (per-partition k + driver merge of k·partitions rows).
"""

from __future__ import annotations

import pandas as pd  # module scope: pandas_udf resolves 'pd.Series' hints here

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.aggs import (
    avg_metric_per_key,
    distinct_count_per_key,
    filtered_sum_per_key,
    top_k_by_agg,
)
from ..functions.frames import local_frame
from ..functions.money import (
    dec_avg,
    dec_sum,
    fast_money_sum,
    money,
    money_avg,
    money_sum,
    revenue_dec,
)
from ..operators.joins import broadcast_dim_join, copartitioned_join
from ..sources.readers import load_tables
from . import QuerySpec

# DuckDB oracle fragment for the exact-decimal revenue term — single
# canonical copy in functions/money.py (review finding: a local literal
# here would drift if the canonical expression ever changes).
from ..functions.money import SQL_REVENUE as SQL_REV  # noqa: E402


def _revenue():
    """l_extendedprice * (1 - l_discount) in double — kept for non-aggregated
    row-level uses; money SUMs go through revenue_dec()/money_sum so the
    aggregation is order-independent (functions/money.py, VERDICT r4 item 1).
    Built lazily — classic-mode column expressions require an active
    SparkContext, and the driver may import this module before creating its
    session."""
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# Flagship (SURVEY.md §7.1): scan → broadcast dims → multiway join → agg → topk
# --------------------------------------------------------------------------


def flagship_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 customers by lineitem revenue, with nation/region context.

    Aggregate-before-join (optimization guide §2.3/§2.4, r14): revenue is
    summed per o_custkey straight off lineitem ⋈ orders, and only the
    |customers|-sized aggregate joins the dim side (customer ⋈
    broadcast(nation) ⋈ broadcast(region)). The group keys (c_name, n_name,
    r_name) are functionally dependent on c_custkey, so grouping by
    custkey first computes the same groups — but the exchange after the
    fact join now carries ~|customers| partial-agg rows instead of every
    joined lineitem row with names attached. The r13 shape also fell to a
    SortMergeJoin because the enriched-customer side's join-output size
    ESTIMATE (a product of three joins) blew past the broadcast threshold
    the 312 KB table is actually under; the aggregate side now reuses its
    own exchange partitioning, so only the dim side moves.
    """
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    enriched = broadcast_dim_join(
        t["customer"],
        [
            (t["nation"].withColumnRenamed("n_nationkey", "c_nationkey"), "c_nationkey"),
            (t["region"].withColumnRenamed("r_regionkey", "n_regionkey"), "n_regionkey"),
        ],
    )
    per_cust = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        # per-customer groups: int64 unit-sum fast path — exact and
        # order-independent like the decimal path, ~70% cheaper (see
        # functions/money.fast_money_sum capacity note)
        .groupBy("o_custkey")
        .agg(fast_money_sum(_revenue()).alias("revenue"))
    )
    return (
        per_cust.join(enriched, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "n_name", "r_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(5)
    )


FLAGSHIP_ORACLE = f"""
SELECT c_custkey, c_name, n_name, r_name,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY c_custkey, c_name, n_name, r_name
ORDER BY revenue DESC, c_custkey
LIMIT 5
"""


# --------------------------------------------------------------------------
# TPC-H-style headliners
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single-table scan + wide hash aggregation.

    Filter pushes to the parquet scan; the agg is partial+final with only
    |returnflag|x|linestatus| groups crossing the shuffle — at 100 TB this
    is scan-bound, which is the right bottleneck.
    """
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(revenue_dec()).alias("sum_disc_price"),
            money_avg("l_quantity", scale=4).alias("avg_qty"),
            money_avg("l_extendedprice", scale=4).alias("avg_price"),
            money_avg("l_discount", scale=6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS sum_disc_price,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice), 4) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on both fact sides + top-10.

    Both date predicates push into their scans; join order
    (customer→orders→lineitem) lets Catalyst broadcast the filtered customer
    side if small enough, else AQE decides.
    """
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer")
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("2000-03-15"))
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1995-03-15"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(fast_money_sum(_revenue()).alias("revenue"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q3_ORACLE = f"""
SELECT o_orderkey,
       STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a same-nation constraint, dims broadcast."""
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region"
    )
    asia_nations = t["nation"].join(
        F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(dec_sum(revenue_dec()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_ORACLE = f"""
SELECT n_name, CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --------------------------------------------------------------------------
# A1-A4: the four README-specified aggregate questions (README.md:19-23)
# --------------------------------------------------------------------------


def a1_top_customer_by_avg_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 "which player averages the most kills per game" (README.md:20) →
    which customer averages the most quantity per lineitem."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    joined = t["lineitem"].join(
        t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
    )
    return avg_metric_per_key(joined, "o_custkey", "l_quantity", k=1, exact_decimal=True)


A1_ORACLE = """
SELECT o_custkey,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(l_quantity), 4) AS avg_l_quantity
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_custkey
ORDER BY avg_l_quantity DESC, o_custkey
LIMIT 1
"""


def a2_top_orderpriority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 "which playlist gets played the most" (README.md:21) → which
    order-priority has the most **distinct** orders (countDistinct because
    post-join row counts are inflated; SURVEY.md §2.3)."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return distinct_count_per_key(orders, "o_orderpriority", "o_orderkey", k=1)


A2_ORACLE = """
SELECT o_orderpriority, COUNT(DISTINCT o_orderkey) AS n_o_orderkey
FROM orders
GROUP BY o_orderpriority
ORDER BY n_o_orderkey DESC, o_orderpriority
LIMIT 1
"""


def a3_top_region_by_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 "which map gets played the most" (README.md:22) → which region
    (via the broadcast dim chain) has the most distinct orders."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation", "region")
    joined = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return distinct_count_per_key(joined, "r_name", "o_orderkey", k=1)


A3_ORACLE = """
SELECT r_name, COUNT(DISTINCT o_orderkey) AS n_o_orderkey
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY n_o_orderkey DESC, r_name
LIMIT 1
"""


def a4_brand_quantity_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 "which map do players get the most Killing Spree medals on"
    (README.md:23) → on which supplier-nation is the most Brand#1 quantity
    sold: filter a dim attribute, join fact⋈dim⋈dim, sum a fact measure."""
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier", "nation")
    joined = (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    from ..operators.aggs import filtered_exact_sum_per_key

    return filtered_exact_sum_per_key(
        joined, F.col("p_brand") == "Brand#1", "n_name", "l_quantity", k=1
    )


A4_ORACLE = """
SELECT n_name, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_l_quantity
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_brand = 'Brand#1'
GROUP BY n_name
ORDER BY sum_l_quantity DESC, n_name
LIMIT 1
"""


# --------------------------------------------------------------------------
# Join forms beyond inner (free via how=; SURVEY.md §2.2 "ABSENT" note)
# --------------------------------------------------------------------------


def join_left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join: every customer with its order count (0 kept)."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


LEFT_OUTER_ORACLE = """
SELECT c_custkey, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


def join_semi_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join: customers having at least one 1-URGENT order."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


SEMI_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def join_anti_customers_no_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with no 1-URGENT order."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


ANTI_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def copartitioned_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 bucket-join analogue (README.md:18): lineitem⋈orders with both
    sides explicitly hash-partitioned on the key before joining, so the
    exchange is reusable by later same-key stages. Persistent version:
    sources.writers.write_bucketed_table (no Exchange at all; see tests)."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    joined = copartitioned_join(
        t["lineitem"].withColumnRenamed("l_orderkey", "okey"),
        t["orders"].withColumnRenamed("o_orderkey", "okey"),
        on="okey",
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            dec_sum(revenue_dec()).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


COPART_ORACLE = f"""
SELECT o_orderstatus, COUNT(*) AS n_rows,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# --------------------------------------------------------------------------
# Set operations / windows / scalar functions / rollup / sorts
# --------------------------------------------------------------------------


def setops_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT then EXCEPT: (building ∪ machinery customers) minus
    customers with negative balance."""
    c = load_tables(spark, sf_dir, "customer")["customer"]
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    machinery = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    negative = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return building.union(machinery).distinct().subtract(negative)


SETOPS_ORACLE = """
(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
 UNION
 SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal < 0
"""


def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-3 orders per customer by totalprice.

    Scale note: partitioned row_number shuffles once on the partition key
    and sorts within partitions — no global sort; skewed customers are
    bounded by orders-per-customer, not table size.
    """
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


WINDOW_TOP3_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders) t
WHERE rnk <= 3
"""


def window_running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window: per-customer running total of order value."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        # Decimal window sum: exact regardless of the engine's frame
        # evaluation strategy (DuckDB's segment tree re-associates double
        # additions; decimal is associative — functions/money.py).
        F.sum(money("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


WINDOW_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders
"""


def scalar_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math / conditional scalar functions, all JVM-side
    (whole-stage codegen; no Python UDF in the hot path)."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return orders.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("pri_upper"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("pri_code"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_pri"),
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.floor(F.abs(F.col("o_totalprice"))).cast("long").alias("price_floor"),
        F.when(F.col("o_totalprice") < 1000, "low")
        .when(F.col("o_totalprice") < 5000, "mid")
        .otherwise("high")
        .alias("price_bucket"),
    )


SCALAR_ORACLE = """
SELECT o_orderkey,
       UPPER(o_orderpriority) AS pri_upper,
       CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS pri_code,
       o_orderstatus || '-' || o_orderpriority AS status_pri,
       CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS o_month,
       CAST(FLOOR(ABS(o_totalprice)) AS BIGINT) AS price_floor,
       CASE WHEN o_totalprice < 1000 THEN 'low'
            WHEN o_totalprice < 5000 THEN 'mid'
            ELSE 'high' END AS price_bucket
FROM orders
"""


def rollup_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-set aggregation: rollup over (status, priority)."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice").alias("total_price"),
        )
    )


ROLLUP_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def sort_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global order-by + limit → TakeOrderedAndProject (never a full sort)."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


SORT_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-style semi join with a date-arithmetic
    predicate — orders having ≥1 lineitem shipped more than 90 days after
    the order date, counted per priority."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    late = t["lineitem"].select("l_orderkey", "l_shipdate")
    return (
        t["orders"]
        .join(
            late,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive pushdown filter + scalar
    aggregate — the canonical filter-pushdown benchmark (one output row)."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 10)
    ).agg(
        dec_sum(money("l_extendedprice") * money("l_discount")).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


Q6_ORACLE = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 10
"""


def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation ratio — the share of revenue
    from PROMO parts per year."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    rev = revenue_dec()
    zero = F.lit(0).cast("decimal(18,2)")
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero))
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            F.round(
                F.lit(100) * promo.cast("double") / F.sum(rev).cast("double"), 4
            ).alias("promo_share_pct"),
            dec_sum(rev).alias("total_revenue"),
        )
        .orderBy("l_year")
    )


Q14_ORACLE = f"""
SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
       ROUND(100 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                            THEN {SQL_REV}
                            ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({SQL_REV}) AS DOUBLE), 4) AS promo_share_pct,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY l_year
ORDER BY l_year
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional trade volume between two nations by
    year — supplier nation ≠ customer nation pairs, dims broadcast twice
    under different aliases."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation")
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (("NATION_1", "NATION_2"), ("NATION_2", "NATION_1"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), "s_nationkey")
        .join(F.broadcast(n2), "c_nationkey")
        .filter(
            ((F.col("supp_nation") == pair[0][0]) & (F.col("cust_nation") == pair[0][1]))
            | ((F.col("supp_nation") == pair[1][0]) & (F.col("cust_nation") == pair[1][1]))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(dec_sum(revenue_dec()).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_ORACLE = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(fast_money_sum(_revenue()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_ORACLE = f"""
SELECT c_custkey, c_name, n_name,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (aggregate-then-semi-join), with customer context. Quantities are
    integral doubles, so the HAVING threshold is float-safe."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer")
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(money("l_quantity")).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "total_qty")
    )


Q18_ORACLE = """
SELECT c_custkey, c_name, o_orderkey, total_qty
FROM (SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def window_lag_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead navigation: days between each customer's consecutive orders."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    es = F.unix_timestamp("o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag(es).over(w)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            ((es - prev) / 86400).cast("long").alias("gap_days"),
        )
        .filter(F.col("gap_days").isNotNull())
    )


LAG_GAPS_ORACLE = """
WITH o AS (
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(EPOCH(o_orderdate) AS BIGINT) AS es
    FROM orders
)
SELECT o_custkey, o_orderkey,
       (es - LAG(es) OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey)) // 86400 AS gap_days
FROM o
QUALIFY gap_days IS NOT NULL
"""


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIASES = ["urgent", "high", "medium", "not_specified", "low"]


def pivot_revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format pivot: yearly revenue, one column per order priority.

    The pivot values are EXPLICIT — with an open values list Spark first
    runs a collect-distinct over the pivot column to discover headers, a
    full extra pass over the fact table at 100 TB. Pinned values make the
    pivot a single partial+final conditional aggregation (same plan as the
    CASE-WHEN oracle)."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    wide = (
        orders.withColumn("year", F.year("o_orderdate").cast("long"))
        .groupBy("year")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.round(F.sum(money("o_totalprice")), 2).cast("double"))
    )
    renamed = wide.select(
        "year", *[F.col(f"`{v}`").alias(a) for v, a in zip(_PRIORITIES, _PRIORITY_ALIASES)]
    )
    return renamed.orderBy("year")


PIVOT_ORACLE = """
SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS year,
       CAST(ROUND(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS urgent,
       CAST(ROUND(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS high,
       CAST(ROUND(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS medium,
       CAST(ROUND(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS not_specified,
       CAST(ROUND(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS low
FROM orders
GROUP BY 1
ORDER BY year
"""


def window_trailing_spend_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: each order's trailing 90-day spend and
    order count for its customer. Range frames (value-based, not
    row-count-based) are the time-series feature pattern; the window is
    PARTITIONED by customer so no global sort exists anywhere in the plan.

    The frame aggregates are SUM + COUNT, not AVG: a windowed average of
    2-decimal prices lands on exact .xx5 midpoints for 2-row frames, where
    Spark's decimal HALF_UP and DuckDB's binary-double rounding disagree by
    a cent (~1% of rows at sf0.01). The SUM runs in DECIMAL (exact and
    associative — DuckDB evaluates moving frames with a re-associating
    segment tree; functions/money.py); the average is derivable
    downstream."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    day = F.unix_date(F.col("o_orderdate").cast("date"))
    w = Window.partitionBy("o_custkey").orderBy(day).rangeBetween(-90, 0)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        day.cast("long").alias("day"),
        F.sum(money("o_totalprice")).over(w).cast("double").alias("trailing_spend"),
        F.count("*").over(w).alias("n_in_window"),
    )


TRAILING_SPEND_ORACLE = """
WITH o AS (
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate::DATE - DATE '1970-01-01' AS BIGINT) AS day,
           CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice
    FROM orders
)
SELECT o_custkey, o_orderkey, day,
       CAST(SUM(o_totalprice) OVER w AS DOUBLE) AS trailing_spend,
       COUNT(*) OVER w AS n_in_window
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY day
             RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
"""


def stringagg_types_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: per brand, the sorted distinct part-type
    list as one CSV string. collect_set → array_sort → concat_ws keeps the
    result deterministic (an unordered STRING_AGG would hash-flip); the
    grouped sets are bounded (distinct types per brand ≪ rows), so the
    shuffle carries small arrays, not row streams."""
    part = load_tables(spark, sf_dir, "part")["part"]
    return (
        part.groupBy("p_brand")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("p_type"))).alias("types"),
            F.countDistinct("p_type").alias("n_types"),
        )
        .orderBy("p_brand")
    )


STRINGAGG_ORACLE = """
SELECT p_brand,
       STRING_AGG(DISTINCT p_type, ',' ORDER BY p_type) AS types,
       COUNT(DISTINCT p_type) AS n_types
FROM part
GROUP BY p_brand
ORDER BY p_brand
"""


def grouped_trend_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation order-value trend over time, fit with the grouped-map
    Arrow tier (``applyInPandas`` + numpy least squares — see
    operators/aggs.py::grouped_ols_trend for when to prefer the closed-form
    sufficient-statistics aggregation instead). Dims broadcast; x is epoch
    day so slope is currency-per-day."""
    from ..operators.aggs import grouped_ols_trend

    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    joined = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.unix_date(F.col("o_orderdate").cast("date")).cast("double").alias("day"),
            F.col("o_totalprice").alias("price"),
        )
    )
    fitted = grouped_ols_trend(joined, key_cols=["n_name"], x_col="day", y_col="price")
    return fitted.select(
        "n_name",
        "n",
        F.round("slope", 4).alias("slope"),
        F.round("intercept", 1).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    ).orderBy("n_name")


GROUPED_TREND_ORACLE = """
SELECT n_name,
       COUNT(*) AS n,
       ROUND(REGR_SLOPE(o_totalprice, day), 4) AS slope,
       ROUND(REGR_INTERCEPT(o_totalprice, day), 1) AS intercept,
       ROUND(REGR_R2(o_totalprice, day), 6) AS r2
FROM (
    SELECT n_name,
           CAST(o_orderdate::DATE - DATE '1970-01-01' AS DOUBLE) AS day,
           o_totalprice
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
)
GROUP BY n_name
ORDER BY n_name
"""


def subquery_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape: customers with balance above their
    nation's average. Decorrelated Spark-side into aggregate + broadcast
    join — what Catalyst does to the subquery form anyway, stated
    explicitly so the plan is obvious."""
    c = load_tables(spark, sf_dir, "customer")["customer"]
    nation_avg = c.groupBy("c_nationkey").agg(
        (F.sum(money("c_acctbal")).cast("double") / F.count("c_acctbal")).alias(
            "_avg_bal"
        )
    )
    return (
        c.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .select("c_custkey", "c_name")
    )


SUBQUERY_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                          / COUNT(c2.c_acctbal)
                   FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
"""


def having_frequent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING on an exact count (threshold on integers, so no
    float-boundary risk in the oracle comparison)."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
    )


HAVING_ORACLE = """
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
"""


def percentiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) of order value per priority
    — F.percentile (exact, sort-based) vs DuckDB quantile_cont. At 100 TB
    you'd switch to approx_percentile (t-digest sketch, one pass, no sort)
    and accept the epsilon; the exact form is the verifiable baseline."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    pct = F.percentile("o_totalprice", F.lit([0.5, 0.9]))
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.element_at(pct, 1), 2).alias("p50"),
            F.round(F.element_at(pct, 2), 2).alias("p90"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


PERCENTILES_ORACLE = """
SELECT o_orderpriority,
       ROUND(QUANTILE_CONT(o_totalprice, 0.5), 2) AS p50,
       ROUND(QUANTILE_CONT(o_totalprice, 0.9), 2) AS p90,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def salted_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join, verified to produce exactly the plain
    join's aggregate: lineitem (skewed side, salted) ⋈ orders (exploded
    x salt), revenue per order status."""
    from ..operators.joins import salted_join

    t = load_tables(spark, sf_dir, "lineitem", "orders")
    joined = salted_join(
        t["lineitem"].withColumnRenamed("l_orderkey", "okey"),
        t["orders"].withColumnRenamed("o_orderkey", "okey"),
        "okey",
        salt_buckets=8,
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            dec_sum(revenue_dec()).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


def setops_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: building-segment customers who also have ≥1 order."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    building = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    with_orders = t["orders"].select(F.col("o_custkey").alias("c_custkey"))
    return building.intersect(with_orders)


INTERSECT_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders
"""


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 4 grouping-set combinations."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        money_sum("o_totalprice").alias("total_price"),
    )


CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def approx_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog sketch: approx_count_distinct per priority — the 100 TB
    replacement for exact countDistinct (one pass, fixed memory, no exact
    shuffle of distinct values). The raw estimate is implementation-
    specific, so the output exposes what IS deterministic (VERDICT r1 item
    5): the exact count alongside a boolean asserting the sketch landed
    within 5% of it — fully hash-matchable against a DuckDB oracle that
    expects TRUE on every row."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
            F.countDistinct("o_custkey").alias("exact_customers"),
        )
        .select(
            "o_orderpriority",
            "exact_customers",
            (
                F.abs(F.col("approx") - F.col("exact_customers"))
                <= F.col("exact_customers") * 0.05
            ).alias("within_5pct"),
        )
        .orderBy("o_orderpriority")
    )


APPROX_DISTINCT_ORACLE = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       TRUE AS within_5pct
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def pandas_udf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized Pandas UDF on the hot path — when logic genuinely
    can't be a built-in expression, this is the fallback shape: columnar
    Arrow batches into numpy, ~10-100x faster than row-at-a-time Python
    UDFs. The arithmetic here is deliberately built-in-expressible so the
    UDF path itself is what the oracle verifies."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def discounted(price: pd.Series, discount: pd.Series) -> pd.Series:
        return price * (1.0 - discount)

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # The UDF's double product is within half-an-ulp of the exact 4-decimal
    # revenue value; quantizing at scale 4 recovers that exact grid point,
    # so the SUM is decimal-exact and order-independent (functions/money.py)
    # while the Arrow UDF stays the thing under test.
    from ..functions.money import quantized

    return (
        li.withColumn("rev", discounted("l_extendedprice", "l_discount"))
        .groupBy("l_returnflag")
        .agg(
            dec_sum(quantized("rev", 4)).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


PANDAS_UDF_ORACLE = f"""
SELECT l_returnflag,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def grouped_zscore_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: z-score each customer's orders against
    their own mean/std in pandas, return the outliers (|z| > 2). The same
    result is SQL-expressible (window avg/stddev), which is exactly what
    makes the pandas path verifiable."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["o_totalprice"].mean()
        sd = pdf["o_totalprice"].std(ddof=1)  # sample std = SQL stddev_samp
        if pd.isna(sd) or sd == 0:
            return pdf.iloc[0:0][["o_custkey", "o_orderkey"]].assign(z=pd.Series(dtype="f8"))
        out = pdf[["o_custkey", "o_orderkey"]].copy()
        out["z"] = (pdf["o_totalprice"] - mu) / sd
        return out[out["z"].abs() > 2]

    return (
        orders.groupBy("o_custkey")
        .applyInPandas(zscore, schema="o_custkey long, o_orderkey long, z double")
        .select("o_custkey", "o_orderkey", F.round("z", 4).alias("z"))
    )


ZSCORE_ORACLE = """
WITH scored AS (
    SELECT o_custkey, o_orderkey,
           (o_totalprice - AVG(o_totalprice) OVER (PARTITION BY o_custkey))
             / STDDEV_SAMP(o_totalprice) OVER (PARTITION BY o_custkey) AS z
    FROM orders
)
SELECT o_custkey, o_orderkey, ROUND(z, 4) AS z
FROM scored
WHERE ABS(z) > 2
"""


def argmax_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/arg_max: the richest customer per nation in ONE aggregation —
    no join-back, no window. The single-pass argmax Spark and DuckDB both
    ship natively (acctbals are continuous doubles: ties don't occur)."""
    t = load_tables(spark, sf_dir, "customer", "nation")
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.max_by("c_name", "c_acctbal").alias("richest_customer"),
            F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
        )
        .orderBy("n_name")
    )


ARGMAX_ORACLE = """
SELECT n_name,
       ARG_MAX(c_name, c_acctbal) AS richest_customer,
       ROUND(MAX(c_acctbal), 2) AS max_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan data-quality profile of lineitem's numeric measures."""
    from ..operators.aggs import profile_numeric_columns

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return profile_numeric_columns(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


PROFILE_ORACLE = """
SELECT 'l_quantity' AS column, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT l_quantity) AS n_distinct,
       CAST(MIN(l_quantity) AS DOUBLE) AS min_v, CAST(MAX(l_quantity) AS DOUBLE) AS max_v,
       ROUND(AVG(l_quantity), 4) AS avg_v
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', COUNT(*),
       CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT l_extendedprice),
       CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE),
       ROUND(AVG(l_extendedprice), 4)
FROM lineitem
UNION ALL
SELECT 'l_discount', COUNT(*),
       CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT l_discount),
       CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE),
       ROUND(AVG(l_discount), 4)
FROM lineitem
UNION ALL
SELECT 'l_tax', COUNT(*),
       CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       COUNT(DISTINCT l_tax),
       CAST(MIN(l_tax) AS DOUBLE), CAST(MAX(l_tax) AS DOUBLE),
       ROUND(AVG(l_tax), 4)
FROM lineitem
"""


def stats_moments_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: sample stddev/variance and Pearson
    correlation per return flag — single-pass distributed moments.

    Computed from explicit sufficient statistics (Σx, Σx², Σxy in exact
    DECIMAL — every term is on the 1e-4 grid of 2-decimal inputs), not the
    engines' Welford-style STDDEV/CORR aggregates, whose per-row running
    updates are summation-order-sensitive (functions/money.py): the same
    exact rationals reach the closed-form IEEE composition in both engines,
    so the rounded report is replayable bit-for-bit."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    n = F.count(F.lit(1)).cast("double")
    sp = F.sum(money("l_extendedprice")).cast("double")
    sp2 = F.sum(money("l_extendedprice") * money("l_extendedprice")).cast("double")
    sq = F.sum(money("l_quantity")).cast("double")
    sq2 = F.sum(money("l_quantity") * money("l_quantity")).cast("double")
    spq = F.sum(money("l_quantity") * money("l_extendedprice")).cast("double")
    var_p = (sp2 - sp * sp / n) / (n - 1)
    var_q = (sq2 - sq * sq / n) / (n - 1)
    corr = (n * spq - sq * sp) / F.sqrt((n * sq2 - sq * sq) * (n * sp2 - sp * sp))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.sqrt(var_p), 3).alias("std_price"),
            F.round(var_q, 3).alias("var_qty"),
            F.round(corr, 5).alias("corr_qty_price"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


STATS_ORACLE = """
WITH s AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp2,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq2,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spq,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
)
SELECT l_returnflag,
       ROUND(SQRT((sp2 - sp * sp / n) / (n - 1)), 3) AS std_price,
       ROUND((sq2 - sq * sq / n) / (n - 1), 3) AS var_qty,
       ROUND((n * spq - sq * sp) / SQRT((n * sq2 - sq * sq) * (n * sp2 - sp * sp)), 5)
           AS corr_qty_price,
       n_rows
FROM s
ORDER BY l_returnflag
"""


def sql_interface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql(...) entry point (reference §3.2: the DDL loop at
    job1:281 is the only SQL the reference executes; here the full analytics
    path runs through SQL text over registered temp views — identical plan
    to the DataFrame form, same Catalyst pipeline)."""
    for name, df in load_tables(spark, sf_dir, "lineitem", "orders", "customer").items():
        df.createOrReplaceTempView(f"v_{name}")
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_rows
        FROM v_lineitem JOIN v_orders ON l_orderkey = o_orderkey
                        JOIN v_customer ON o_custkey = c_custkey
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


SQL_INTERFACE_ORACLE = f"""
SELECT o_orderstatus,
       CAST(ROUND(SUM({SQL_REV}), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def layout_compression_lab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README.md:24-25 re-expressed: write the orders fact under several
    sortWithinPartitions orderings, measure parquet bytes. Low-cardinality-
    first orderings (status, priority) win via RLE/dictionary encoding. Raw
    byte counts are environment-dependent, so the driver-facing projection
    is the deterministic part (VERDICT r1 item 5): each requested ordering
    present exactly once with non-empty output — hash-matchable against a
    VALUES oracle. The byte-level claims (sizes differ; results invariant)
    stay pytest-asserted in tests/test_plans.py."""
    from ..plans.layout import compare_sort_layouts

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    results = compare_sort_layouts(
        orders,
        [[], ["o_orderstatus", "o_orderpriority"], ["o_orderpriority", "o_orderstatus"], ["o_totalprice"]],
    )
    return local_frame(
        spark,
        [
            (("+".join(r.ordering) or "unsorted"), r.n_files > 0, r.total_bytes > 0)
            for r in results
        ],
        "ordering string, has_files boolean, has_bytes boolean",
    )


LAYOUT_LAB_ORACLE = """
SELECT * FROM (VALUES
    ('unsorted', TRUE, TRUE),
    ('o_orderstatus+o_orderpriority', TRUE, TRUE),
    ('o_orderpriority+o_orderstatus', TRUE, TRUE),
    ('o_totalprice', TRUE, TRUE)
) AS t(ordering, has_files, has_bytes)
"""




def skew_profile_lineitem_suppkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic (operators/aggs.skew_profile) on the lineitem
    supplier key — the pre-flight check that pairs with salted_join_agg:
    run this first, salt only when x_avg says a key is pathological."""
    from ..operators.aggs import skew_profile

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return skew_profile(li, "l_suppkey", k=5)


SKEW_PROFILE_ORACLE = """
WITH per_key AS (
    SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
), stats AS (
    SELECT AVG(cnt) AS avg_cnt, CAST(SUM(cnt) AS DOUBLE) AS total FROM per_key
)
SELECT l_suppkey, cnt,
       ROUND(cnt / total * 100, 4) AS pct_of_rows,
       ROUND(cnt / avg_cnt, 3) AS x_avg
FROM per_key CROSS JOIN stats
ORDER BY cnt DESC, l_suppkey
LIMIT 5
"""




def window_analytics_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic ranking functions — ntile / percent_rank / cume_dist over a
    per-priority price ordering, summarized per quartile. Ranks are integer
    arithmetic over a uniquely-ordered frame (orderkey tie-break), so the
    ratios are engine-exact. Scale: one shuffle on the partition key; the
    window never sees an unpartitioned frame."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
            F.round(F.max("pr"), 6).alias("max_pct_rank"),
            F.round(F.max("cd"), 6).alias("max_cume_dist"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


WINDOW_ANALYTICS_ORACLE = """
WITH ranked AS (
    SELECT o_orderpriority, o_totalprice,
           NTILE(4) OVER w AS quartile,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
)
SELECT o_orderpriority, quartile,
       COUNT(*) AS n_orders,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price,
       ROUND(MAX(pr), 6) AS max_pct_rank,
       ROUND(MAX(cd), 6) AS max_cume_dist
FROM ranked
GROUP BY o_orderpriority, quartile
ORDER BY o_orderpriority, quartile
"""


def timeseries_gap_filled_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order-count time series over an explicit month spine
    (sequence + explode), so interior months with zero orders appear as
    zeros — the gap-fill pattern every reporting pipeline needs. The spine
    bounds derive from the DATA's min/max month (a hardcoded range would
    silently drop months if the fixture's date span ever changed — and the
    oracle, sharing the literals, would never notice); the fact aggregates
    to one row per month BEFORE everything else, so the bounds aggregate
    and the outer join touch |months| rows, never the fact (per_month is
    scope-persisted for its two consumers)."""
    from ..functions.cache import scoped_persist

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    per_month = scoped_persist(
        orders.groupBy(F.trunc("o_orderdate", "month").alias("month_start")).agg(
            F.count("*").alias("cnt"),
            money_sum("o_totalprice").alias("revenue"),
        )
    )
    spine = (
        per_month.agg(
            F.min("month_start").alias("lo"), F.max("month_start").alias("hi")
        )
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 MONTH"))
            ).alias("month_start")
        )
    )
    return (
        spine.join(per_month, "month_start", "left_outer")
        .select(
            F.date_format("month_start", "yyyy-MM").alias("month"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("n_orders"),
            F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
        )
        .orderBy("month")
    )


GAP_FILLED_ORACLE = """
WITH per_month AS (
    SELECT DATE_TRUNC('month', o_orderdate) AS month_start,
           COUNT(*) AS cnt,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1
), spine AS (
    SELECT UNNEST(GENERATE_SERIES((SELECT MIN(month_start) FROM per_month),
                                  (SELECT MAX(month_start) FROM per_month),
                                  INTERVAL 1 MONTH)) AS month_start
)
SELECT STRFTIME(s.month_start, '%Y-%m') AS month,
       COALESCE(cnt, 0) AS n_orders,
       COALESCE(revenue, 0.0) AS revenue
FROM spine s LEFT OUTER JOIN per_month p ON s.month_start = p.month_start
ORDER BY month
"""




def approx_percentiles_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch: percentile_approx (Greenwald-Khanna) per priority —
    the 100 TB replacement for exact percentiles (one pass, bounded
    memory, mergeable partials; exact percentile needs a per-group sort).
    Like approx_distinct_custkeys, the output exposes what IS
    deterministic: the exact median alongside a boolean asserting the
    sketch landed within 2% of it — hash-matchable against an oracle that
    expects TRUE everywhere."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", 0.5, 1000).alias("approx_median"),
            F.expr("percentile(o_totalprice, 0.5)").alias("exact_median"),
        )
        .select(
            "o_orderpriority",
            F.round("exact_median", 2).alias("exact_median"),
            (
                F.abs(F.col("approx_median") - F.col("exact_median"))
                <= F.col("exact_median") * 0.02
            ).alias("within_2pct"),
        )
        .orderBy("o_orderpriority")
    )


APPROX_PERCENTILES_ORACLE = """
SELECT o_orderpriority,
       ROUND(QUANTILE_CONT(o_totalprice, 0.5), 2) AS exact_median,
       TRUE AS within_2pct
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""




def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the generalization rollup/cube specialize:
    exactly the (status, priority), (status), and () aggregates in one
    pass, with grouping_id distinguishing the levels. Spark expands the
    sets into one Expand + single aggregation — no multi-scan union."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT)
                   AS gid,
               COUNT(*) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
                   AS revenue
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        ORDER BY gid, o_orderstatus, o_orderpriority
        """
    )


GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
           AS gid,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
ORDER BY gid, o_orderstatus, o_orderpriority
"""


def setops_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag-semantics difference (multiplicities subtract,
    unlike EXCEPT's set semantics): order priorities of BUILDING-segment
    customers minus those of MACHINERY-segment URGENT orders. The
    subtrahend drains multiplicity from the 1-URGENT priority only — at
    the verified scales it cancels entirely (absent row = multiplicity 0)
    while the other priorities pass through with their full counts; under
    plain EXCEPT every surviving priority would collapse to one row."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    def seg(name):
        return (
            t["orders"]
            .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
            .filter(F.col("c_mktsegment") == name)
            .select("o_orderpriority")
        )
    return (
        seg("BUILDING")
        .exceptAll(seg("MACHINERY").filter(F.col("o_orderpriority") == "1-URGENT"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("surviving_rows"))
        .orderBy("o_orderpriority")
    )


EXCEPT_ALL_ORACLE = """
WITH b AS (
    SELECT o_orderpriority FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
), m AS (
    SELECT o_orderpriority FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'MACHINERY' AND o_orderpriority = '1-URGENT'
)
SELECT o_orderpriority, COUNT(*) AS surviving_rows
FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM m)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def join_null_safe_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=>): NULLIF turns the 'AUTOMOBILE' segment into
    NULL on both sides, then a <=> self-join of the per-segment counts
    matches the NULL row to itself — where a plain = join drops it. Output
    contrasts both join semantics per segment."""
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    per_seg = cust.groupBy(
        F.nullif(F.col("c_mktsegment"), F.lit("AUTOMOBILE")).alias("seg")
    ).agg(F.count("*").alias("n"))
    a = per_seg.select(F.col("seg").alias("seg_a"), F.col("n").alias("n_a"))
    b = per_seg.select(F.col("seg").alias("seg_b"), F.col("n").alias("n_b"))
    nullsafe = (
        a.join(b, F.col("seg_a").eqNullSafe(F.col("seg_b")))
        .select(F.coalesce(F.col("seg_a"), F.lit("<null>")).alias("segment"), "n_a", "n_b")
    )
    return nullsafe.orderBy("segment")


NULL_SAFE_ORACLE = """
WITH per_seg AS (
    SELECT NULLIF(c_mktsegment, 'AUTOMOBILE') AS seg, COUNT(*) AS n
    FROM customer GROUP BY 1
)
SELECT COALESCE(a.seg, '<null>') AS segment, a.n AS n_a, b.n AS n_b
FROM per_seg a JOIN per_seg b ON a.seg IS NOT DISTINCT FROM b.seg
ORDER BY segment
"""




def lateral_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery — the per-row dependent join (each outer
    customer drives an ordered LIMIT-1 inner lookup). Catalyst decorrelates
    the lateral into a ranked join rather than per-row re-execution; same
    semantics as the argmax window, expressed in the dialect many BI tools
    emit."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    t["customer"].createOrReplaceTempView("customer_lat")
    t["orders"].createOrReplaceTempView("orders_lat")
    return spark.sql(
        """
        SELECT c_custkey, c_name, t.o_orderkey AS top_orderkey,
               t.o_totalprice AS top_price
        FROM customer_lat,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        WHERE c_custkey < 20
        ORDER BY c_custkey
        """
    )


LATERAL_ORACLE = """
SELECT c_custkey, c_name, t.o_orderkey AS top_orderkey,
       t.o_totalprice AS top_price
FROM customer,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
WHERE c_custkey < 20
ORDER BY c_custkey
"""


def scd2_customer_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build from a change feed — the
    warehouse-maintenance primitive every large pipeline runs to keep
    dimension history: treating each order as a state observation of its
    customer's priority, collapse consecutive repeats and emit validity
    intervals [valid_from, valid_to) with an is_current flag.

    Scale shape: two windows over the SAME (o_custkey)-partitioned,
    date-ordered sort — the change-detection lag and the interval-closing
    lead reuse one exchange (no second shuffle; the filter between them
    preserves partitioning and order). At 100 TB the feed would be
    date-partitioned and the merge incremental per partition; the
    per-customer window is bounded by one entity's history, never the
    corpus. Output restricted to o_custkey <= 500 to keep the verify
    payload bounded."""
    return _scd2_history(spark, sf_dir).orderBy(
        "o_custkey", "valid_from", "o_orderpriority"
    )


def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 interval build WITHOUT the final presentation sort — join
    consumers (the point-in-time query) must not inherit a useless global
    rangepartitioning exchange below their join."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    feed = orders.filter(F.col("o_custkey") <= 500).select(
        "o_custkey",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("valid_from", "o_orderkey")
    changes = (
        feed.withColumn("_prev", F.lag("o_orderpriority").over(w))
        .filter(~F.col("_prev").eqNullSafe(F.col("o_orderpriority")))
    )
    w2 = Window.partitionBy("o_custkey").orderBy("valid_from", "o_orderkey")
    return changes.withColumn("valid_to", F.lead("valid_from").over(w2)).select(
        "o_custkey",
        "o_orderpriority",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )


SCD2_ORACLE = """
WITH feed AS (
    SELECT o_custkey, o_orderpriority,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS valid_from, o_orderkey
    FROM orders WHERE o_custkey <= 500
), changes AS (
    SELECT * FROM (
        SELECT o_custkey, o_orderpriority, valid_from, o_orderkey,
               LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                                          ORDER BY valid_from, o_orderkey) AS prev
        FROM feed
    ) WHERE prev IS DISTINCT FROM o_orderpriority
)
SELECT o_custkey, o_orderpriority, valid_from,
       LEAD(valid_from) OVER (PARTITION BY o_custkey
                              ORDER BY valid_from, o_orderkey) AS valid_to,
       LEAD(valid_from) OVER (PARTITION BY o_custkey
                              ORDER BY valid_from, o_orderkey) IS NULL AS is_current
FROM changes
ORDER BY o_custkey, valid_from, o_orderpriority
"""


def join_full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the one join type the registry lacked: per-nation
    rich-customer counts against in-debt-supplier counts, where each side's
    filter leaves nations unmatched on the other (COALESCE key + zero
    fill). Both inputs pre-aggregate to |nations| rows BEFORE the full
    outer join, so the join itself is dimension-sized at any corpus scale;
    the nation names broadcast on at the end."""
    t = load_tables(spark, sf_dir, "customer", "supplier", "nation")
    c = (
        t["customer"]
        .filter(F.col("c_acctbal") > 9000)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_rich_customers"))
    )
    s = (
        t["supplier"]
        .filter(F.col("s_acctbal") < 0)
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_debt_suppliers"))
    )
    f = c.join(s, c.c_nationkey == s.s_nationkey, "full_outer").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_rich_customers", F.lit(0)).cast("long").alias("n_rich_customers"),
        F.coalesce("n_debt_suppliers", F.lit(0)).cast("long").alias("n_debt_suppliers"),
    )
    return (
        f.join(F.broadcast(t["nation"]), f.nationkey == F.col("n_nationkey"))
        .select("n_name", "n_rich_customers", "n_debt_suppliers")
        .orderBy("n_name")
    )


FULL_OUTER_ORACLE = """
WITH c AS (
    SELECT c_nationkey, COUNT(*) AS n_rich_customers
    FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
), s AS (
    SELECT s_nationkey, COUNT(*) AS n_debt_suppliers
    FROM supplier WHERE s_acctbal < 0 GROUP BY s_nationkey
)
SELECT n.n_name,
       CAST(COALESCE(c.n_rich_customers, 0) AS BIGINT) AS n_rich_customers,
       CAST(COALESCE(s.n_debt_suppliers, 0) AS BIGINT) AS n_debt_suppliers
FROM c FULL OUTER JOIN s ON c.c_nationkey = s.s_nationkey
JOIN nation n ON n.n_nationkey = COALESCE(c.c_nationkey, s.s_nationkey)
ORDER BY n.n_name
"""


def source_python_datasource_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source end-to-end (sources/pygen.py — the Spark 4
    DataSource API): register, read 10k synthetic events across 8 real
    input partitions, aggregate per type. Every generated field is an
    md5 hex-digit function of the row index, so the DuckDB oracle replays
    the GENERATOR itself (RANGE + md5 digit math) — a custom source whose
    output is hash-verified, not just row-counted. ``sf_dir`` is unused:
    the source is algorithmic, which is the point."""
    from ..sources.pygen import register

    register(spark)
    ev = (
        spark.read.format("synthetic_events")
        .option("rows", 10000)
        .option("partitions", 8)
        .load()
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("value").cast("long").alias("sum_value"),
        )
        .orderBy("event_type")
    )


def _pygen_oracle_sql(n: int = 10000) -> str:
    hexd = "0123456789abcdef"

    def hex_int(start: int, width: int) -> str:
        return " + ".join(
            f"(STRPOS('{hexd}', SUBSTR(h, {start + j}, 1)) - 1) * {16 ** (width - 1 - j)}"
            for j in range(width)
        )

    types = "view click purchase refund share".split()
    type_case = " ".join(
        f"WHEN {i} THEN '{t}'" for i, t in enumerate(types)
    )
    return f"""
WITH g AS (
    SELECT i, MD5('gen:' || CAST(i AS VARCHAR)) AS h FROM RANGE({n}) t(i)
), rows_ AS (
    SELECT i AS event_id,
           ({hex_int(1, 4)}) % 997 AS user_id,
           CASE (STRPOS('{hexd}', SUBSTR(h, 5, 1)) - 1) % 5 {type_case} END
               AS event_type,
           ({hex_int(6, 4)}) % 1000 AS value
    FROM g
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM(value) AS BIGINT) AS sum_value
FROM rows_
GROUP BY event_type
ORDER BY event_type
"""


PYGEN_ORACLE = _pygen_oracle_sql()


def udaf_weighted_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A true custom AGGREGATE (pandas GROUPED_AGG UDAF — the UDAF row in
    SURVEY §2.3's absent list): quantity-weighted mean price per return
    flag, computed as one numpy reduction per group. Spark plans it as a
    real aggregate exchange (partial batches stream into the UDF per
    group), not a collect — the vectorized path for aggregation logic the
    built-ins can't express. This one IS expressible (sum(p*q)/sum(q)),
    deliberately, so the oracle verifies the UDAF machinery itself."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        import numpy as np

        # Integer-cent arithmetic: Σ(p·q) and Σq are exact int64 sums, so
        # the result is identical no matter how Spark batches/orders the
        # group's rows — and bit-identical to the oracle's decimal-sum
        # formulation. The sums pass through PYTHON ints before dividing:
        # int/int division is correctly rounded for any magnitude, whereas
        # float(sum)/1e4 would double-round once the cent-unit sum passes
        # 2^53 (reachable at sf >= 1; review finding, round 5).
        p_c = np.rint(np.asarray(price, dtype=np.float64) * 100).astype(np.int64)
        q_c = np.rint(np.asarray(qty, dtype=np.float64) * 100).astype(np.int64)
        # The int64 SUM itself can wrap silently (numpy never promotes):
        # Σ(p·q) passes 2^63 around 1.8e8 rows/group at TPC-H magnitudes
        # (~sf200; round-5 ADVICE). Chunk the reduction so each numpy
        # partial is provably below 2^62 (chunk size derived from the
        # batch's actual max |p·q|) and accumulate the chunk partials in
        # Python ints — exact at any group size, still vectorized.
        pmax = int(np.abs(p_c).max(initial=0)) * int(np.abs(q_c).max(initial=0))
        if pmax >= 2**62:  # even one product near int64: go full Python-int
            total_pq = sum(int(a) * int(b) for a, b in zip(p_c.tolist(), q_c.tolist()))
        else:
            # vectorized multiply only on the guarded path — on the
            # Python-int branch above it would be wasted work on values
            # that can silently wrap (round-6 ADVICE)
            prod = p_c * q_c  # per-element ≤ pmax < 2^62 here
            chunk = max(1, (2**62) // max(pmax, 1))
            total_pq = 0
            for i in range(0, len(prod), chunk):
                total_pq += int(prod[i : i + chunk].sum())
        qchunk = 2**48  # |q_c| ≤ 2^14 here ⇒ 2^48-row chunks stay < 2^62
        total_q = 0
        for i in range(0, len(q_c), qchunk):
            total_q += int(q_c[i : i + qchunk].sum())
        pq = total_pq / 10**4
        qs = total_q / 10**2
        return pq / qs

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    # a GROUPED_AGG pandas UDF cannot share an .agg() with built-in
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — the count rides a second
    # aggregation joined back on the 3-row group key
    w = li.groupBy("l_returnflag").agg(
        F.round(wavg("l_extendedprice", "l_quantity"), 2).alias("wavg_price")
    )
    n = li.groupBy("l_returnflag").agg(F.count("*").cast("long").alias("n_rows"))
    return w.join(n, "l_returnflag").orderBy("l_returnflag")


UDAF_WAVG_ORACLE = """
SELECT l_returnflag,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS wavg_price,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def page_orders_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination — the scalable replacement for OFFSET (SURVEY
    §2.5's absent pagination row): page N arrives as WHERE key > cursor
    ORDER BY key LIMIT page_size, where the cursor is the last key of the
    previous page. OFFSET must scan and discard all preceding rows on
    every request (O(offset) per page, quadratic over a full paginated
    export); the keyset predicate pushes into the scan (min/max pruning
    skips whole files once the data is key-sorted) and each page costs
    O(page). The fixed cursor literal stands in for the value the client
    echoed back from the previous response."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    cursor = 1000  # last o_orderkey seen on the previous page
    return (
        orders.filter(F.col("o_orderkey") > cursor)
        .orderBy("o_orderkey")
        .limit(20)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


KEYSET_PAGE_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderpriority,
       ROUND(o_totalprice, 2) AS o_totalprice
FROM orders
WHERE o_orderkey > 1000
ORDER BY o_orderkey
LIMIT 20
"""


_HIST_LO, _HIST_HI, _HIST_BINS = 0.0, 600000.0, 120


def sketch_histogram_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quantile sketch (operators/aggs.histogram_sketch +
    histogram_quantile): per priority, the median of order value estimated
    from a 120-bin fixed-width histogram, next to the exact interpolated
    median. Unlike percentile_approx (t-digest, implementation-internal,
    oracled only via a tolerance flag), every piece here — bin counts,
    cumulative walk, within-bin interpolation — is integer/IEEE
    deterministic, so the ESTIMATOR itself hash-verifies. One pass +
    a |groups| x bins exchange; histograms merge by summing bins."""
    from ..operators.aggs import histogram_quantile, histogram_sketch

    orders = load_tables(spark, sf_dir, "orders")["orders"]
    hist = histogram_sketch(
        orders, "o_totalprice", "o_orderpriority",
        lo=_HIST_LO, hi=_HIST_HI, bins=_HIST_BINS,
    )
    est = histogram_quantile(
        hist, "o_orderpriority", 0.5, lo=_HIST_LO, hi=_HIST_HI, bins=_HIST_BINS
    )
    exact = orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("exact_p50")
    )
    return (
        est.join(exact, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_rows",
            F.round("est", 2).alias("est_p50"),
            "exact_p50",
        )
        .orderBy("o_orderpriority")
    )


def _hist_median_oracle_sql(
    lo: float = _HIST_LO, hi: float = _HIST_HI, bins: int = _HIST_BINS
) -> str:
    width = (hi - lo) / bins
    return f"""
WITH hist AS (
    SELECT o_orderpriority,
           CAST(LEAST(GREATEST(FLOOR((o_totalprice - {lo!r}) / {width!r}), 0),
                      {bins - 1}) AS BIGINT) AS bin,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY 1, 2
), c AS (
    SELECT o_orderpriority, bin, cnt,
           SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) AS cum,
           SUM(cnt) OVER (PARTITION BY o_orderpriority) AS total
    FROM hist
), cand AS (
    SELECT o_orderpriority, bin, cnt, cum, total,
           0.5 * CAST(total AS DOUBLE) AS target,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY bin) AS rn
    FROM c
    WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(total AS DOUBLE)
), est AS (
    SELECT o_orderpriority, CAST(total AS BIGINT) AS n_rows,
           {lo!r} + bin * {width!r}
           + {width!r} * (target - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)
               AS est
    FROM cand WHERE rn = 1
), exact AS (
    SELECT o_orderpriority,
           ROUND(QUANTILE_CONT(o_totalprice, 0.5), 2) AS exact_p50
    FROM orders GROUP BY o_orderpriority
)
SELECT e.o_orderpriority, e.n_rows, ROUND(e.est, 2) AS est_p50, x.exact_p50
FROM est e JOIN exact x USING (o_orderpriority)
ORDER BY e.o_orderpriority
"""


HIST_MEDIAN_ORACLE = _hist_median_oracle_sql()


def stats_trimmed_mean_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust aggregation: the 5-95% trimmed mean of order value per
    priority — exact percentile thresholds (one sort-based pass), then a
    mean over the in-range rows. The two-aggregation shape (thresholds
    join back onto the scan) is the standard way outlier-robust stats run
    distributed; at 100 TB the exact percentile pass would swap for the
    deterministic histogram sketch (sketch_histogram_median) with
    identical downstream plumbing. Interpolated thresholds are pure IEEE
    on identical inputs, so the boundary predicate agrees cross-engine."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    pct = F.percentile("o_totalprice", F.lit([0.05, 0.95]))
    th = orders.groupBy("o_orderpriority").agg(
        F.element_at(pct, 1).alias("lo"), F.element_at(pct, 2).alias("hi")
    )
    j = orders.join(F.broadcast(th), "o_orderpriority").filter(
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") <= F.col("hi"))
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            money_avg("o_totalprice").alias("trimmed_mean"),
        )
        .orderBy("o_orderpriority")
    )


TRIMMED_MEAN_ORACLE = """
WITH th AS (
    SELECT o_orderpriority,
           QUANTILE_CONT(o_totalprice, 0.05) AS lo,
           QUANTILE_CONT(o_totalprice, 0.95) AS hi
    FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(o.o_totalprice), 2) AS trimmed_mean
FROM orders o JOIN th ON o.o_orderpriority = th.o_orderpriority
WHERE o.o_totalprice >= th.lo AND o.o_totalprice <= th.hi
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


def scd2_point_in_time_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-was) join against the SCD2 history — the
    correctness test every warehouse dimension exists for: each line item
    is attributed to the customer-priority version valid AT SHIP DATE
    (ship happens after order; the priority may have changed in between),
    never the current one. The half-open [valid_from, valid_to) intervals
    are disjoint per customer by construction, so the range predicate
    matches at most one version; same-day changes produce empty [d, d)
    intervals that can never match. Revenue summed per as-was priority.

    Scale: the history (one row per dimension change) is orders of
    magnitude smaller than the fact and broadcasts; the fact side is one
    scan + one custkey-keyed join — the same shape at 100 TB with a
    date-partitioned incremental history."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    hist = _scd2_history(spark, sf_dir).drop("is_current")
    ship = (
        t["lineitem"]
        .join(
            t["orders"].filter(F.col("o_custkey") <= 500).select("o_orderkey", "o_custkey"),
            t["lineitem"].l_orderkey == F.col("o_orderkey"),
        )
        .select(
            "o_custkey",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
            revenue_dec().alias("rev"),
        )
    )
    j = ship.join(
        F.broadcast(hist),
        (ship.o_custkey == hist.o_custkey)
        & (F.col("ship_date") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ship_date") < F.col("valid_to"))),
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            dec_sum(F.col("rev")).alias("as_was_revenue"),
        )
        .orderBy("o_orderpriority")
    )


SCD2_PIT_ORACLE = """
WITH feed AS (
    SELECT o_custkey, o_orderpriority,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS valid_from, o_orderkey
    FROM orders WHERE o_custkey <= 500
), marked AS (
    SELECT *, LAG(o_orderpriority) OVER (PARTITION BY o_custkey
                  ORDER BY valid_from, o_orderkey) AS _prev
    FROM feed
), changes AS (
    SELECT * FROM marked
    WHERE _prev IS NULL OR _prev <> o_orderpriority
), hist AS (
    SELECT o_custkey, o_orderpriority, valid_from,
           LEAD(valid_from) OVER (PARTITION BY o_custkey
               ORDER BY valid_from, o_orderkey) AS valid_to
    FROM changes
), ship AS (
    SELECT o.o_custkey,
           STRFTIME(l.l_shipdate, '%Y-%m-%d') AS ship_date,
           CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS rev
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_custkey <= 500
)
SELECT h.o_orderpriority,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(s.rev), 2) AS DOUBLE) AS as_was_revenue
FROM ship s JOIN hist h
  ON s.o_custkey = h.o_custkey
 AND s.ship_date >= h.valid_from
 AND (h.valid_to IS NULL OR s.ship_date < h.valid_to)
GROUP BY h.o_orderpriority
ORDER BY h.o_orderpriority
"""


def nation_trade_corridors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade-corridor matrix — TPC-H Q7 generalized from one nation pair
    to the full supplier-nation → customer-nation revenue matrix, top-10
    corridors: the aggregate answers 'where does value flow' in one
    fact pass with both dimension chains broadcast. Cross-border only
    (supp nation ≠ cust nation), revenue rounded at the report edge."""
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    rev = revenue_dec()
    j = (
        t["lineitem"]
        .join(t["orders"].select("o_orderkey", "o_custkey"),
              t["lineitem"].l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
              t["lineitem"].l_suppkey == F.col("s_suppkey"))
        .join(t["customer"].select("c_custkey", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy("supp_nation", "cust_nation")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            dec_sum(rev).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "supp_nation", "cust_nation")
        .limit(10)
    )


TRADE_CORRIDORS_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name
ORDER BY revenue DESC, supp_nation, cust_nation
LIMIT 10
"""


def part_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price dispersion per brand — coefficient of variation of retail
    prices (population std over mean, in the explicit E[x²]−E[x]² form
    both engines replay identically), plus range: the catalog-hygiene
    screen for inconsistent pricing within a brand line."""
    part = load_tables(spark, sf_dir, "part")["part"]
    # Sufficient statistics in exact decimal (x and x² of a 2-decimal price
    # are on the 1e-2/1e-4 grids), so both moments are order-independent;
    # the E[x²]−E[x]² composition is then pure IEEE on identical doubles.
    n = F.count("p_retailprice")
    e1 = F.sum(money("p_retailprice")).cast("double") / n
    e2 = F.sum(money("p_retailprice") * money("p_retailprice")).cast("double") / n
    return (
        part.groupBy("p_brand")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.round(e1, 2).alias("mean_price"),
            F.round(F.sqrt(e2 - e1 * e1) / e1, 4).alias("cv"),
            F.round(F.max("p_retailprice") - F.min("p_retailprice"), 2).alias(
                "price_range"
            ),
        )
        .orderBy("p_brand")
    )


PRICE_DISPERSION_ORACLE = """
WITH stats AS (
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(p_retailprice) AS e1,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))
                    * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(p_retailprice) AS e2,
           MAX(p_retailprice) - MIN(p_retailprice) AS rng
    FROM part
    GROUP BY p_brand
)
SELECT p_brand,
       n_parts,
       ROUND(e1, 2) AS mean_price,
       ROUND(SQRT(e2 - e1 * e1) / e1, 4) AS cv,
       ROUND(rng, 2) AS price_range
FROM stats
ORDER BY p_brand
"""


def integrity_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each
    foreign-key edge, total child rows and ORPHANS (children whose key
    has no parent) via left-anti joins — the lakehouse has no FK
    enforcement, so this query IS the constraint. Each edge is one
    anti join keyed by the FK (broadcast where the parent is a dim);
    a healthy release reads all zeros, which the oracle confirms rather
    than assumes."""
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "nation", "supplier", "part"
    )
    edges = [
        ("lineitem.l_orderkey->orders", t["lineitem"].select(F.col("l_orderkey").alias("k")),
         t["orders"].select(F.col("o_orderkey").alias("k"))),
        ("lineitem.l_partkey->part", t["lineitem"].select(F.col("l_partkey").alias("k")),
         t["part"].select(F.col("p_partkey").alias("k"))),
        ("lineitem.l_suppkey->supplier", t["lineitem"].select(F.col("l_suppkey").alias("k")),
         t["supplier"].select(F.col("s_suppkey").alias("k"))),
        ("orders.o_custkey->customer", t["orders"].select(F.col("o_custkey").alias("k")),
         t["customer"].select(F.col("c_custkey").alias("k"))),
        ("customer.c_nationkey->nation", t["customer"].select(F.col("c_nationkey").alias("k")),
         t["nation"].select(F.col("n_nationkey").alias("k"))),
    ]
    out = None
    for name, child, parent in edges:
        row = (
            child.join(parent.distinct(), "k", "left_anti")
            .agg(F.count("*").cast("long").alias("n_orphans"))
            .crossJoin(child.agg(F.count("*").cast("long").alias("n_children")))
            .select(F.lit(name).alias("fk_edge"), "n_children", "n_orphans")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("fk_edge")


FK_ORPHANS_ORACLE = """
SELECT fk_edge, n_children, n_orphans FROM (
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           (SELECT COUNT(*) FROM lineitem) AS n_children,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
               AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
)
ORDER BY fk_edge
"""


def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging — the fulfillment-ops staple: unfilled
    orders ('O'/'P' status) bucketed by age as of the DATA'S OWN latest
    order date (never wall-clock 'now' — reruns must reproduce), with
    count and value at risk per (status, age bucket). The as-of anchor
    is a one-row broadcast aggregate; everything else is a single scan
    with CASE bucketing."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    asof = orders.agg(F.max(F.unix_timestamp("o_orderdate")).alias("asof_es"))
    age_days = (F.col("asof_es") - F.unix_timestamp("o_orderdate")) / 86400.0
    bucket = (
        F.when(age_days < 90, "0_under_90d")
        .when(age_days < 365, "1_90d_to_1y")
        .when(age_days < 730, "2_1y_to_2y")
        .otherwise("3_over_2y")
    )
    return (
        orders.filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(asof))
        .groupBy("o_orderstatus", bucket.alias("age_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            money_sum("o_totalprice").alias("value_at_risk"),
        )
        .orderBy("o_orderstatus", "age_bucket")
    )


BACKLOG_ORACLE = """
WITH anchor AS (
    SELECT MAX(CAST(EPOCH(DATE_TRUNC('second', o_orderdate)) AS BIGINT)) AS asof_es
    FROM orders
), aged AS (
    SELECT o_orderstatus, o_totalprice,
           (asof_es - CAST(EPOCH(DATE_TRUNC('second', o_orderdate)) AS BIGINT))
           / 86400.0 AS age_days
    FROM orders, anchor
    WHERE o_orderstatus <> 'F'
)
SELECT o_orderstatus,
       CASE WHEN age_days < 90 THEN '0_under_90d'
            WHEN age_days < 365 THEN '1_90d_to_1y'
            WHEN age_days < 730 THEN '2_1y_to_2y'
            ELSE '3_over_2y' END AS age_bucket,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS value_at_risk
FROM aged
GROUP BY 1, 2
ORDER BY 1, 2
"""


def part_substitutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substitute-product candidates: part pairs sharing brand AND type
    whose retail prices sit within 10% of each other — the attribute
    blocking + tolerance predicate of entity matching (the (brand, type)
    equi key bounds the pair space exactly like dedup's shingle
    blocking; no all-pairs product). Top-20 tightest price gaps with
    full id tie-break."""
    part = load_tables(spark, sf_dir, "part")["part"]
    a, b = part.alias("a"), part.alias("b")
    rel_gap = F.abs(F.col("a.p_retailprice") - F.col("b.p_retailprice")) / F.greatest(
        F.col("a.p_retailprice"), F.col("b.p_retailprice")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_type") == F.col("b.p_type"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .withColumn("_gap", rel_gap)
        .filter(F.col("_gap") <= 0.10)
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.p_brand").alias("brand"),
            F.col("a.p_type").alias("p_type"),
            F.round("_gap", 6).alias("rel_price_gap"),
        )
    )
    return pairs.orderBy("rel_price_gap", "part_a", "part_b").limit(20)


SUBSTITUTES_ORACLE = """
WITH pairs AS (
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_brand AS brand, a.p_type AS p_type,
           ABS(a.p_retailprice - b.p_retailprice)
           / GREATEST(a.p_retailprice, b.p_retailprice) AS gap
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_type = b.p_type
     AND a.p_partkey < b.p_partkey
)
SELECT part_a, part_b, brand, p_type, ROUND(gap, 6) AS rel_price_gap
FROM pairs
WHERE gap <= 0.10
ORDER BY ROUND(gap, 6), part_a, part_b
LIMIT 20
"""


def cohort_ltv_by_first_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-value curve by acquisition cohort: customers
    grouped by FIRST-order year, spend accumulated at each year offset —
    the LTV triangle finance models retention revenue with. Per-customer
    first year is one partial-aggregated min; cumulative spend is a
    (customer)-partitioned running sum over per-(customer, year) rollups
    (bounded by a customer's active years, never corpus-wide); the final
    matrix is |cohorts| x |offsets|. Integer year arithmetic; spend is
    accumulated in exact DECIMAL end-to-end — this was the suite's first
    observed oracle flake (r4 VERDICT item 1: double partial-sum combine
    order flipped a cohort average across a .005 rounding boundary), so
    every aggregation level (per-(customer,year) sum, window cumsum, and
    the final cohort mean via exact-sum/count) is now order-independent
    (functions/money.py); the float boundary no longer exists."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    yr = F.year("o_orderdate").cast("long")
    per_cy = orders.groupBy("o_custkey", yr.alias("order_year")).agg(
        F.sum(money("o_totalprice")).alias("spend")
    )
    firsts = per_cy.groupBy("o_custkey").agg(F.min("order_year").alias("cohort_year"))
    w = Window.partitionBy("o_custkey").orderBy("order_year").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        per_cy.join(firsts, "o_custkey")
        .withColumn("cum_spend", F.sum("spend").over(w))
        .withColumn("year_offset", F.col("order_year") - F.col("cohort_year"))
    )
    return (
        cum.groupBy("cohort_year", "year_offset")
        .agg(
            F.count("*").cast("long").alias("n_active_customers"),
            dec_avg(F.col("cum_spend")).alias("avg_cum_spend"),
        )
        .orderBy("cohort_year", "year_offset")
    )


LTV_ORACLE = """
WITH per_cy AS (
    SELECT o_custkey, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
    FROM orders GROUP BY 1, 2
), firsts AS (
    SELECT o_custkey, MIN(order_year) AS cohort_year FROM per_cy GROUP BY o_custkey
), cum AS (
    SELECT p.o_custkey, f.cohort_year,
           p.order_year - f.cohort_year AS year_offset,
           SUM(p.spend) OVER (PARTITION BY p.o_custkey ORDER BY p.order_year
                              ROWS UNBOUNDED PRECEDING) AS cum_spend
    FROM per_cy p JOIN firsts f ON p.o_custkey = f.o_custkey
)
SELECT cohort_year, year_offset,
       COUNT(*) AS n_active_customers,
       ROUND(CAST(SUM(cum_spend) AS DOUBLE) / COUNT(*), 2) AS avg_cum_spend
FROM cum
GROUP BY cohort_year, year_offset
ORDER BY cohort_year, year_offset
"""


def supplier_delivery_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier delivery SLA scorecard on order→ship lead time (the
    driver's slimmed lineitem carries l_shipdate but not TPC-H's
    commit/receipt dates): per supplier, shipped items, mean lead days
    from order placement, and the >90-day late rate; the 10 worst
    suppliers with at least 20 shipments (small-sample noise gated
    out). One fact⋈orders join (orderkey-keyed, AQE-planned) + a
    suppkey partial aggregation; the top-k is a TakeOrderedAndProject
    on the rounded rate with id tie-break."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    j = t["lineitem"].join(
        t["orders"].select("o_orderkey", "o_orderdate"),
        t["lineitem"].l_orderkey == F.col("o_orderkey"),
    )
    lead_sec = F.unix_timestamp("l_shipdate") - F.unix_timestamp("o_orderdate")
    late = (lead_sec / 86400.0) > 90.0
    scored = (
        j.groupBy("l_suppkey")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(F.when(late, 1).otherwise(0)).cast("long").alias("n_late"),
            # Exact integer-second sum → one double division chain: the mean
            # never touches an order-dependent double sum (functions/money.py).
            F.round(
                F.sum(lead_sec).cast("double") / F.count(F.lit(1)) / 86400.0, 4
            ).alias("mean_lead_days"),
        )
        .filter(F.col("n_items") >= 20)
        .withColumn("late_rate", F.round(F.col("n_late") / F.col("n_items"), 4))
    )
    return scored.orderBy(
        F.desc("late_rate"), F.desc("n_items"), "l_suppkey"
    ).limit(10)


SLA_ORACLE = """
WITH lead AS (
    SELECT l.l_suppkey,
           (CAST(EPOCH(DATE_TRUNC('second', l.l_shipdate)) AS BIGINT)
            - CAST(EPOCH(DATE_TRUNC('second', o.o_orderdate)) AS BIGINT)) AS lead_sec
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), scored AS (
    SELECT l_suppkey,
           COUNT(*) AS n_items,
           CAST(SUM(CASE WHEN lead_sec / 86400.0 > 90.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           ROUND(CAST(SUM(lead_sec) AS DOUBLE) / COUNT(*) / 86400.0, 4) AS mean_lead_days
    FROM lead
    GROUP BY l_suppkey
    HAVING COUNT(*) >= 20
)
SELECT l_suppkey, n_items, n_late, mean_lead_days,
       ROUND(CAST(n_late AS DOUBLE) / n_items, 4) AS late_rate
FROM scored
ORDER BY ROUND(CAST(n_late AS DOUBLE) / n_items, 4) DESC, n_items DESC, l_suppkey
LIMIT 10
"""


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value grid: per customer,
    Recency (last order date), Frequency (order count), Monetary (total
    spend), each split high/low at its exact MEDIAN threshold, yielding
    8 segments with counts and average spend. Window-free at scale (the
    ntile formulation ranks all customers through a global window; the
    threshold formulation is one percentile aggregate + a broadcast
    compare). High = strictly above the median, so the rule is exact and
    engine-replayable."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.unix_timestamp("o_orderdate")).alias("last_es"),
        F.count("*").alias("freq"),
        F.sum(money("o_totalprice")).alias("spend_dec"),
    ).withColumn("spend", F.col("spend_dec").cast("double"))
    from ..functions.cache import scoped_persist

    per_cust = scoped_persist(per_cust)
    med = per_cust.agg(
        F.percentile("last_es", F.lit(0.5)).alias("m_r"),
        F.percentile("freq", F.lit(0.5)).alias("m_f"),
        F.percentile("spend", F.lit(0.5)).alias("m_m"),
    )
    seg = per_cust.crossJoin(F.broadcast(med)).select(
        F.when(F.col("last_es") > F.col("m_r"), "R+").otherwise("R-").alias("recency"),
        F.when(F.col("freq") > F.col("m_f"), "F+").otherwise("F-").alias("frequency"),
        F.when(F.col("spend") > F.col("m_m"), "M+").otherwise("M-").alias("monetary"),
        "spend_dec",
    )
    return (
        seg.groupBy("recency", "frequency", "monetary")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            dec_avg(F.col("spend_dec")).alias("avg_spend"),
        )
        .orderBy("recency", "frequency", "monetary")
    )


RFM_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey,
           MAX(CAST(EPOCH(DATE_TRUNC('second', o_orderdate)) AS BIGINT)) AS last_es,
           COUNT(*) AS freq,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
    FROM orders GROUP BY o_custkey
), med AS (
    SELECT QUANTILE_CONT(last_es, 0.5) AS m_r,
           QUANTILE_CONT(freq, 0.5) AS m_f,
           QUANTILE_CONT(spend, 0.5) AS m_m
    FROM per_cust
), seg AS (
    SELECT CASE WHEN last_es > m_r THEN 'R+' ELSE 'R-' END AS recency,
           CASE WHEN freq > m_f THEN 'F+' ELSE 'F-' END AS frequency,
           CASE WHEN spend > m_m THEN 'M+' ELSE 'M-' END AS monetary,
           spend_dec
    FROM per_cust, med
)
SELECT recency, frequency, monetary,
       COUNT(*) AS n_customers,
       ROUND(CAST(SUM(spend_dec) AS DOUBLE) / COUNT(*), 2) AS avg_spend
FROM seg
GROUP BY recency, frequency, monetary
ORDER BY recency, frequency, monetary
"""


def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining over orders: the 10 part pairs most often
    bought together (distinct parts per order, ordered self-join within
    the order key), with each pair's support count — the co-purchase
    signal behind 'frequently bought together'. The self-join is keyed
    by l_orderkey, so pair work is Σ_order |basket|² — bounded by basket
    width (TPC-H ~4), never corpus size; at retail scale you'd cap or
    sample mega-baskets the same way the dedup tier caps hot shingles."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
        )
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(10)
    )


BASKET_PAIRS_ORACLE = """
WITH items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 10
"""


def aqp_sample_estimate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing by deterministic sampling: per return
    flag, total revenue estimated from a 10% md5-threshold row sample
    (scaled by 1/rate) next to the exact total and the signed relative
    error — the estimate-first/verify-later pattern that answers
    dashboard queries from a sample store at 1/10th the scan. The md5
    sample is a pure row predicate (engine-replayable, append-stable —
    the same machinery as the split/sample tier), so unlike TABLESAMPLE
    the 'sample' is a first-class reproducible set. One scan computes
    BOTH estimate and truth via conditional aggregation; a production
    deployment reads only the materialized sample partition."""
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    rate = 0.1
    in_sample = (
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit("aqp"), F.col("l_orderkey"), F.col("l_linenumber")
                )
            ),
            1,
            8,
        )
        < format(int(rate * (1 << 32)), "08x")
    )
    rev = revenue_dec()
    zero = F.lit(0).cast("decimal(18,2)")
    samp = F.sum(F.when(in_sample, rev).otherwise(zero))
    tot = F.sum(rev)
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(in_sample, 1).otherwise(0)).cast("long").alias("n_sampled"),
            F.round(samp.cast("double") / rate, 2).alias("est_revenue"),
            F.round(tot, 2).cast("double").alias("exact_revenue"),
            F.round(
                (samp.cast("double") / rate - tot.cast("double")) / tot.cast("double"),
                6,
            ).alias("rel_error"),
        )
        .orderBy("l_returnflag")
    )


AQP_SAMPLE_ORACLE = f"""
WITH flagged AS (
    SELECT l_returnflag,
           {SQL_REV} AS rev,
           SUBSTR(MD5('aqp' || ':' || CAST(l_orderkey AS VARCHAR)
                      || ':' || CAST(l_linenumber AS VARCHAR)), 1, 8)
               < '{format(int(0.1 * (1 << 32)), "08x")}' AS in_sample
    FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       ROUND(CAST(SUM(CASE WHEN in_sample THEN rev
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / 0.1, 2)
           AS est_revenue,
       CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS exact_revenue,
       ROUND((CAST(SUM(CASE WHEN in_sample THEN rev
                            ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / 0.1
              - CAST(SUM(rev) AS DOUBLE))
             / CAST(SUM(rev) AS DOUBLE), 6) AS rel_error
FROM flagged
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


QUERIES: dict[str, QuerySpec] = {
    "layout_compression_lab": QuerySpec(layout_compression_lab, LAYOUT_LAB_ORACLE),
    "subquery_above_nation_avg": QuerySpec(subquery_above_nation_avg, SUBQUERY_ORACLE),
    "setops_intersect": QuerySpec(setops_intersect, INTERSECT_ORACLE),
    "q4_late_shipment_priority": QuerySpec(q4_late_shipment_priority, Q4_ORACLE),
    "q6_forecast_revenue": QuerySpec(q6_forecast_revenue, Q6_ORACLE, headline=True),
    "q14_promo_revenue_share": QuerySpec(q14_promo_revenue_share, Q14_ORACLE),
    "q7_nation_volume": QuerySpec(q7_nation_volume, Q7_ORACLE),
    "q10_returned_items": QuerySpec(q10_returned_items, Q10_ORACLE, headline=True),
    "q18_large_orders": QuerySpec(q18_large_orders, Q18_ORACLE),
    "window_lag_order_gaps": QuerySpec(window_lag_order_gaps, LAG_GAPS_ORACLE),
    "pivot_revenue_by_priority": QuerySpec(pivot_revenue_by_priority, PIVOT_ORACLE),
    "grouped_trend_by_nation": QuerySpec(grouped_trend_by_nation, GROUPED_TREND_ORACLE),
    "stringagg_types_by_brand": QuerySpec(stringagg_types_by_brand, STRINGAGG_ORACLE),
    "window_trailing_spend_range": QuerySpec(window_trailing_spend_range, TRAILING_SPEND_ORACLE),
    "sql_interface_revenue": QuerySpec(sql_interface_revenue, SQL_INTERFACE_ORACLE),
    "stats_moments_by_flag": QuerySpec(stats_moments_by_flag, STATS_ORACLE),
    "profile_lineitem": QuerySpec(profile_lineitem, PROFILE_ORACLE),
    "argmax_customer_per_nation": QuerySpec(argmax_customer_per_nation, ARGMAX_ORACLE),
    "cube_order_stats": QuerySpec(cube_order_stats, CUBE_ORACLE),
    "approx_distinct_custkeys": QuerySpec(approx_distinct_custkeys, APPROX_DISTINCT_ORACLE),
    "pandas_udf_revenue": QuerySpec(pandas_udf_revenue, PANDAS_UDF_ORACLE),
    "grouped_zscore_extremes": QuerySpec(grouped_zscore_extremes, ZSCORE_ORACLE),
    "having_frequent_customers": QuerySpec(having_frequent_customers, HAVING_ORACLE),
    "percentiles_by_priority": QuerySpec(percentiles_by_priority, PERCENTILES_ORACLE),
    "salted_join_agg": QuerySpec(salted_join_agg, COPART_ORACLE),
    "flagship_revenue_topk": QuerySpec(flagship_revenue_topk, FLAGSHIP_ORACLE, headline=True),
    "q1_pricing_summary": QuerySpec(q1_pricing_summary, Q1_ORACLE, headline=True),
    "q3_shipping_priority": QuerySpec(q3_shipping_priority, Q3_ORACLE, headline=True),
    "q5_regional_supplier_volume": QuerySpec(
        q5_regional_supplier_volume, Q5_ORACLE, headline=True
    ),
    "a1_top_customer_by_avg_quantity": QuerySpec(a1_top_customer_by_avg_quantity, A1_ORACLE),
    "a2_top_orderpriority": QuerySpec(a2_top_orderpriority, A2_ORACLE),
    "a3_top_region_by_orders": QuerySpec(a3_top_region_by_orders, A3_ORACLE),
    "a4_brand_quantity_by_nation": QuerySpec(a4_brand_quantity_by_nation, A4_ORACLE),
    "join_left_outer_order_counts": QuerySpec(join_left_outer_order_counts, LEFT_OUTER_ORACLE),
    "join_semi_urgent_customers": QuerySpec(join_semi_urgent_customers, SEMI_ORACLE),
    "join_anti_customers_no_urgent": QuerySpec(
        join_anti_customers_no_urgent, ANTI_ORACLE
    ),
    "copartitioned_join_agg": QuerySpec(copartitioned_join_agg, COPART_ORACLE, headline=True),
    "setops_segments": QuerySpec(setops_segments, SETOPS_ORACLE),
    "window_top3_orders_per_customer": QuerySpec(
        window_top3_orders_per_customer, WINDOW_TOP3_ORACLE
    ),
    "window_running_order_total": QuerySpec(window_running_order_total, WINDOW_RUNNING_ORACLE),
    "scalar_functions_showcase": QuerySpec(scalar_functions_showcase, SCALAR_ORACLE),
    "rollup_order_stats": QuerySpec(rollup_order_stats, ROLLUP_ORACLE),
    "sort_global_topk": QuerySpec(sort_global_topk, SORT_TOPK_ORACLE),
    "skew_profile_lineitem_suppkey": QuerySpec(
        skew_profile_lineitem_suppkey, SKEW_PROFILE_ORACLE
    ),
    "window_analytics_showcase": QuerySpec(
        window_analytics_showcase, WINDOW_ANALYTICS_ORACLE
    ),
    "timeseries_gap_filled_monthly": QuerySpec(
        timeseries_gap_filled_monthly, GAP_FILLED_ORACLE
    ),
    "approx_percentiles_quality": QuerySpec(
        approx_percentiles_quality, APPROX_PERCENTILES_ORACLE
    ),
    "grouping_sets_order_stats": QuerySpec(
        grouping_sets_order_stats, GROUPING_SETS_ORACLE
    ),
    "setops_except_all": QuerySpec(setops_except_all, EXCEPT_ALL_ORACLE),
    "join_null_safe_segments": QuerySpec(join_null_safe_segments, NULL_SAFE_ORACLE),
    "lateral_top_order_per_customer": QuerySpec(
        lateral_top_order_per_customer, LATERAL_ORACLE
    ),
    "scd2_customer_priority": QuerySpec(scd2_customer_priority, SCD2_ORACLE),
    "scd2_point_in_time_revenue": QuerySpec(
        scd2_point_in_time_revenue, SCD2_PIT_ORACLE
    ),
    "aqp_sample_estimate_revenue": QuerySpec(
        aqp_sample_estimate_revenue, AQP_SAMPLE_ORACLE
    ),
    "basket_part_pairs": QuerySpec(basket_part_pairs, BASKET_PAIRS_ORACLE),
    "customer_rfm_segments": QuerySpec(customer_rfm_segments, RFM_ORACLE),
    "cohort_ltv_by_first_year": QuerySpec(cohort_ltv_by_first_year, LTV_ORACLE),
    "orders_backlog_aging": QuerySpec(orders_backlog_aging, BACKLOG_ORACLE),
    "part_substitutes": QuerySpec(part_substitutes, SUBSTITUTES_ORACLE),
    "integrity_fk_orphans": QuerySpec(integrity_fk_orphans, FK_ORPHANS_ORACLE),
    "nation_trade_corridors": QuerySpec(nation_trade_corridors, TRADE_CORRIDORS_ORACLE),
    "part_price_dispersion": QuerySpec(part_price_dispersion, PRICE_DISPERSION_ORACLE),
    "supplier_delivery_sla": QuerySpec(supplier_delivery_sla, SLA_ORACLE),
    "join_full_outer_nation_activity": QuerySpec(
        join_full_outer_nation_activity, FULL_OUTER_ORACLE
    ),
    "source_python_datasource_agg": QuerySpec(
        source_python_datasource_agg, PYGEN_ORACLE
    ),
    "udaf_weighted_avg_price": QuerySpec(udaf_weighted_avg_price, UDAF_WAVG_ORACLE),
    "page_orders_keyset": QuerySpec(page_orders_keyset, KEYSET_PAGE_ORACLE),
    "sketch_histogram_median": QuerySpec(sketch_histogram_median, HIST_MEDIAN_ORACLE),
    "stats_trimmed_mean_by_priority": QuerySpec(
        stats_trimmed_mean_by_priority, TRIMMED_MEAN_ORACLE
    ),
}
