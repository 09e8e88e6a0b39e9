"""Relational operator coverage: filters, projections, aggregation, joins
(broadcast/semi/anti), windows, set ops — SURVEY.md §2.3/§2.7/§2.9.

Cross-engine determinism rules used throughout (SURVEY §7 "hard parts"):
  - Money aggregation goes through DECIMAL casts: the driver's value-hash
    compares Spark vs DuckDB bit-for-bit, and double summation is
    order-dependent; decimal sums are exact and order-independent. The final
    cast back to DOUBLE is then identical in both engines.
  - Every query that returns a LIMIT/top-k has a total deterministic order
    (tie-broken by a key column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wurzel_spark.tables import table


def _dec(col, prec: int = 18, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})")


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary over lineitem.

    Map-side partial aggregation + single shuffle on the (tiny) group keys;
    at 100 TB this is the canonical "scan-heavy, agg-light" query — the scan
    should show PushedFilters on l_shipdate and prune to 7 columns.
    """
    li = table(spark, sf_dir, "lineitem")
    price = _dec("l_extendedprice")
    disc = _dec("l_discount")
    tax = _dec("l_tax")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: revenue of unshipped orders for one market segment.

    Join graph customer⋈orders⋈lineitem — customer is small relative to
    lineitem, so Catalyst broadcasts it (verified in .explain); the
    orders⋈lineitem join shuffles on o_orderkey, which is also the group key,
    so the aggregation reuses the join's partitioning (one shuffle, not two).
    """
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 6-way join, revenue per nation within one region.

    Dimension chain region→nation is tiny → broadcast all the way; the only
    real shuffles are orders⋈lineitem and lineitem⋈supplier. At 100 TB the
    c_nationkey = s_nationkey correlation filter runs after the joins; AQE
    handles any nation skew.
    """
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def join_semi_orders_with_big_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): orders that have at least one high-quantity
    lineitem. Semi joins never duplicate the left side — at scale this avoids
    materializing the N:M blowup a plain join + distinct would create.

    Reference parity: the prune-stale anti/semi pattern of the KB sinks
    (wurzel/steps/wonderful/step.py:207, elevenlabs/step.py:284).
    """
    orders = table(spark, sf_dir, "orders")
    big = table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    )


SEMI_SQL = """
SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
ORDER BY o_orderkey
"""


def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers that never placed an order.

    Reference parity: prune-stale anti-join against remote KB listings
    (wurzel/steps/wonderful/step.py:207-246).
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def setop_nation_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: nations that have customers INTERSECT nations that have
    suppliers, minus (EXCEPT) nations in region 0 — exercises
    INTERSECT/EXCEPT distinct semantics.
    """
    cust = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    nat0 = (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 0)
        .select(F.col("n_nationkey").alias("nationkey"))
    )
    return cust.intersect(supp).exceptAll(nat0).orderBy("nationkey")


SETOP_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
EXCEPT
SELECT n_nationkey AS nationkey FROM nation WHERE n_regionkey = 0
ORDER BY nationkey
"""


def window_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: per-customer order sequence (row_number) + running
    spend (decimal running sum → order-independent exactness) + rank by price.

    Reference parity: chunk_index/chunks_count enumeration declared as
    row_number (SURVEY §2.9, semantic_splitter.py:776-798).
    """
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).alias("order_seq"),
            F.count(F.lit(1)).over(W.partitionBy("o_custkey")).alias("orders_count"),
            F.sum(_dec("o_totalprice"))
            .over(w.rowsBetween(W.unboundedPreceding, 0))
            .cast("double")
            .alias("running_spend"),
        )
        .orderBy("o_custkey", "order_seq")
    )


WINDOW_SQL = """
SELECT o_custkey, o_orderkey,
       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq,
       COUNT(*) OVER (PARTITION BY o_custkey) AS orders_count,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM orders
ORDER BY o_custkey, order_seq
"""


def distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical aggregation: embedding-distribution stats
    {mean, std, var, min, p5, p25, median, p75, p95, max}
    (wurzel/steps/embedding/step.py:89-121), declared over
    lineitem.l_extendedprice.

    Moments are computed from exact decimal power sums (sum, sum of squares)
    so the result is order-independent and bit-identical to the oracle;
    Spark's native stddev/variance would drift in the last ulp.

    var/std keep the WHOLE numerator n·S2 − S1² in exact integer cents
    (decimal(38,0) here, HUGEINT in the oracle) and round to double only
    once, at the end — casting S1/S2 to double first loses different ulps
    in each engine once S1² needs >53 bits (seen at sf0.1: 9th-decimal
    drift), and the single-rounding form stays bit-exact at ANY scale the
    38-digit numerator can hold (≥10¹⁰ rows).
    """
    li = table(spark, sf_dir, "lineitem")
    x = _dec("l_extendedprice")
    n = F.count(F.lit(1))
    s1 = F.sum(x).cast("double")
    cents = (x * F.lit(100)).cast("decimal(38,0)")
    c1 = F.sum(cents)
    c2 = F.sum((cents * cents).cast("decimal(38,0)"))
    num = (n * c2 - c1 * c1).cast("double")  # exact integer until this cast
    var = num / (n * (n - F.lit(1))) / F.lit(10000.0)
    return li.agg(
        (s1 / n).alias("mean"),
        F.sqrt(var).alias("std"),
        var.alias("var"),
        F.min("l_extendedprice").alias("min"),
        F.expr("percentile(l_extendedprice, 0.05)").alias("p5"),
        F.expr("percentile(l_extendedprice, 0.25)").alias("p25"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("median"),
        F.expr("percentile(l_extendedprice, 0.75)").alias("p75"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        F.max("l_extendedprice").alias("max"),
    )


DIST_SQL = """
WITH s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS c1,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
             * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS c2,
         MIN(l_extendedprice) AS mn,
         quantile_cont(l_extendedprice, 0.05) AS p5,
         quantile_cont(l_extendedprice, 0.25) AS p25,
         quantile_cont(l_extendedprice, 0.5) AS median,
         quantile_cont(l_extendedprice, 0.75) AS p75,
         quantile_cont(l_extendedprice, 0.95) AS p95,
         MAX(l_extendedprice) AS mx
  FROM lineitem
)
SELECT s1 / n AS mean,
       SQRT(CAST(n * c2 - c1 * c1 AS DOUBLE) / (n * (n - 1)) / 10000.0) AS std,
       CAST(n * c2 - c1 * c1 AS DOUBLE) / (n * (n - 1)) / 10000.0 AS var,
       mn AS min, p5, p25, median, p75, p95, mx AS max
FROM s
"""


def topk_parts_by_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation + HAVING + deterministic top-k: avg retail price per brand
    for mid-size parts. avg goes through exact decimal sum / count.
    """
    part = table(spark, sf_dir, "part")
    return (
        part.filter((F.col("p_size") >= 10) & (F.col("p_size") <= 40))
        .groupBy("p_brand")
        .agg(
            (F.sum(_dec("p_retailprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .filter(F.col("n_parts") >= 2)
        .orderBy(F.desc("n_parts"), "p_brand")
        .limit(15)
    )


TOPK_PARTS_SQL = """
SELECT p_brand,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS n_parts
FROM part
WHERE p_size BETWEEN 10 AND 40
GROUP BY p_brand
HAVING COUNT(*) >= 2
ORDER BY n_parts DESC, p_brand
LIMIT 15
"""


def grouping_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (o_orderstatus, o_orderpriority): subtotals + grand total.
    Catalyst expands rollup into a single expand+agg — one shuffle.
    """
    orders = table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: pure filter + single aggregate — the canonical
    predicate-pushdown probe. All three filters reach the parquet scan
    (PushedFilters in .explain); no shuffle at all except the final
    single-row reduce.
    """
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: order-priority histogram of orders having at least
    one late-shipped item (EXISTS → left-semi, never duplicates orders).
    """
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    late = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") > F.col("l_shipdate").cast("date").cast("timestamp"))
        | (F.col("l_quantity") >= 30)
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND (l_shipdate > CAST(CAST(l_shipdate AS DATE) AS TIMESTAMP)
                     OR l_quantity >= 30))
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: revenue lost to returns per customer, top 20.
    customer is broadcast; orders⋈lineitem shuffles on orderkey; the final
    per-customer agg re-shuffles on custkey (unavoidable key change).
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_mktsegment,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def join_left_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + null-aware aggregates: every customer with order
    count and total spend, zero-order customers included (count of a null
    join column is 0; sum coalesced).
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")).cast("double"), F.lit(0.0)).alias(
                "total_spend"
            ),
        )
        .orderBy("c_custkey")
    )


LEFT_OUTER_SQL = """
SELECT c_custkey, c_name,
       COUNT(o_orderkey) AS n_orders,
       COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
ORDER BY c_custkey
"""


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (o_orderstatus, o_orderpriority): all four grouping-set
    combinations in one expand+agg pass.
    """
    orders = table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def string_funcs_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function battery (SURVEY §2.8 parity surface): upper /
    lower / length / substring / replace / trim / lpad / regexp_extract /
    concat — row-level, no shuffle, fully codegen'd.
    """
    part = table(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.upper("p_name").alias("name_upper"),
            F.lower("p_brand").alias("brand_lower"),
            F.length("p_name").alias("name_len"),
            F.substring("p_type", 1, 6).alias("type_prefix"),
            F.regexp_replace("p_name", "a", "@").alias("name_at"),
            F.trim(F.lpad("p_brand", 12, "_")).alias("brand_padded"),
            F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_first_word"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        )
        .orderBy("p_partkey")
    )


STRING_FUNCS_SQL = """
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       LOWER(p_brand) AS brand_lower,
       LENGTH(p_name) AS name_len,
       SUBSTRING(p_type, 1, 6) AS type_prefix,
       REGEXP_REPLACE(p_name, 'a', '@', 'g') AS name_at,
       TRIM(LPAD(p_brand, 12, '_')) AS brand_padded,
       REGEXP_EXTRACT(p_type, '^(\\w+)', 1) AS type_first_word,
       CONCAT_WS('|', p_brand, p_type) AS brand_type
FROM part
ORDER BY p_partkey
"""


def date_funcs_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-function battery: date_trunc / year / quarter / month /
    dayofmonth / last_day / datediff, grouped to monthly order stats.
    """
    orders = table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
            F.datediff(
                F.lit("1998-12-31").cast("timestamp"), F.col("o_orderdate")
            ).alias("days_to_eoy"),
            _dec("o_totalprice").alias("price"),
        )
        .groupBy("month_start", "yr", "qtr")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("days_to_eoy").alias("min_days_to_eoy"),
            F.sum("price").cast("double").alias("monthly_total"),
        )
        .orderBy("month_start")
    )


DATE_FUNCS_SQL = """
SELECT DATE_TRUNC('month', o_orderdate) AS month_start,
       EXTRACT(YEAR FROM o_orderdate) AS yr,
       EXTRACT(QUARTER FROM o_orderdate) AS qtr,
       COUNT(*) AS n_orders,
       MIN(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')) AS min_days_to_eoy,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monthly_total
FROM orders
GROUP BY DATE_TRUNC('month', o_orderdate), EXTRACT(YEAR FROM o_orderdate), EXTRACT(QUARTER FROM o_orderdate)
ORDER BY month_start
"""


def subquery_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery pattern: orders above the global average price. The
    single-row aggregate is broadcast against the fact table (no shuffle of
    orders; at 100 TB this is a metadata-sized broadcast).
    Average via exact decimal sum / count → bit-identical across engines.
    """
    orders = table(spark, sf_dir, "orders")
    avg_df = orders.agg(
        (F.sum(_dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias("avg_price")
    )
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice", "avg_price")
        .orderBy("o_orderkey")
    )


SUBQUERY_AVG_SQL = """
SELECT o_orderkey, o_totalprice,
       (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders) AS avg_price
FROM orders
WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
ORDER BY o_orderkey
"""


def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + covariance of quantity vs extended price,
    computed from exact decimal power sums (n, Σx, Σy, Σxy, Σx², Σy²) so the
    result is order-independent and bit-identical to the oracle — Spark's
    native corr()/covar_samp() accumulate in floating point and drift.

    All five power sums are kept in exact integer CENTS (decimal(38,0)
    here, HUGEINT in the oracle) so each of the three moment numerators
    n·Σxy − Σx·Σy etc. is a single exact integer rounded to double ONCE —
    bit-exact at any scale (the double-first form drifted in the last
    ulps at sf0.1). The 100× cent scaling cancels inside corr; covar
    divides it back out after the one rounding.
    """
    li = table(spark, sf_dir, "lineitem")
    cx = (_dec("l_quantity") * F.lit(100)).cast("decimal(38,0)")
    cy = (_dec("l_extendedprice") * F.lit(100)).cast("decimal(38,0)")
    n = F.count(F.lit(1))
    sx = F.sum(cx)
    sy = F.sum(cy)
    sxy = F.sum((cx * cy).cast("decimal(38,0)"))
    sxx = F.sum((cx * cx).cast("decimal(38,0)"))
    syy = F.sum((cy * cy).cast("decimal(38,0)"))
    num_xy = (n * sxy - sx * sy).cast("double")  # exact until this cast
    num_xx = (n * sxx - sx * sx).cast("double")
    num_yy = (n * syy - sy * sy).cast("double")
    return li.agg(
        (num_xy / (n * (n - F.lit(1))) / F.lit(10000.0)).alias("covar_samp"),
        (num_xy / F.sqrt(num_xx * num_yy)).alias("corr"),
    )


CORR_SQL = """
WITH s AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sx,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)
             * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sxy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)
             * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sxx,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
             * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS syy
  FROM lineitem)
SELECT CAST(n * sxy - sx * sy AS DOUBLE) / (n * (n - 1)) / 10000.0 AS covar_samp,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / SQRT(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) AS corr
FROM s
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: promo revenue share. lineitem⋈part on partkey with
    part broadcast; the CASE-gated and total sums come out of ONE aggregate
    pass (no second scan). Division ordered after both decimal sums → exact.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-06-01").cast("timestamp"))
    )
    part = table(spark, sf_dir, "part")
    one = F.lit(1).cast("decimal(18,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
        F.lit(0).cast("decimal(38,4)")
    )
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(disc_price).cast("double")
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q14_SQL = """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                             ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS promo_revenue_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-06-01'
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: orders whose total quantity exceeds a threshold,
    with the customer attached. The HAVING runs on the lineitem aggregate
    BEFORE any join (smallest possible intermediate), then orders/customer
    attach via broadcast-able joins.
    """
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300
) big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q19_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: disjunction of (brand, size, quantity) brackets.
    The OR-of-conjunctions stays a single scan predicate (partially pushed
    to parquet); part is broadcast.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    bracket1 = (
        (F.col("p_brand") == "Brand#12")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity") >= 1)
        & (F.col("l_quantity") <= 11)
    )
    bracket2 = (
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_size").between(1, 25))
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 20)
    )
    bracket3 = (
        (F.col("p_brand") == "Brand#34")
        & (F.col("p_size").between(1, 35))
        & (F.col("l_quantity") >= 20)
        & (F.col("l_quantity") <= 30)
    )
    one = F.lit(1).cast("decimal(18,2)")
    return j.filter(bracket1 | bracket2 | bracket3).agg(
        F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


def window_funcs_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth: lag / lead / dense_rank / ntile /
    percent_rank / first / last over per-customer order sequences. One
    shuffle on o_custkey serves every window (same partitioning + ordering).
    """
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_orderkey").over(w).alias("prev_orderkey"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
            F.dense_rank().over(w).alias("drank"),
            F.ntile(4).over(w).alias("quartile"),
            F.percent_rank().over(w).alias("prank"),
            F.first("o_orderkey").over(wr).alias("first_orderkey"),
            F.last("o_orderkey").over(wr).alias("last_orderkey"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


WINDOW_FUNCS_SQL = """
SELECT o_custkey, o_orderkey,
       LAG(o_orderkey) OVER w AS prev_orderkey,
       LEAD(o_orderkey) OVER w AS next_orderkey,
       DENSE_RANK() OVER w AS drank,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS prank,
       FIRST_VALUE(o_orderkey) OVER wr AS first_orderkey,
       LAST_VALUE(o_orderkey) OVER wr AS last_orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey, o_orderkey
"""


def sql_api_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: the same declarative plan expressed through
    ``spark.sql`` over registered temp views — users of the reference's
    pipeline YAML can drop to raw SQL and get identical Catalyst treatment.
    """
    from wurzel_spark.tables import load_tables

    load_tables(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               COUNT(DISTINCT o_custkey) AS n_customers
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


SQL_API_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(DISTINCT o_custkey) AS n_customers
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q2_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style correlated subquery: the supplier with the maximum
    account balance per nation (ties broken by key). Expressed as a window
    argmax — one shuffle on nationkey replaces the per-row correlated
    rescans a naive engine would do.
    """
    from pyspark.sql import Window as W

    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    w = W.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), "s_suppkey")
    best = (
        supp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(F.broadcast(nation), best.s_nationkey == nation.n_nationkey)
        .select("n_name", "s_suppkey", "s_name", "s_acctbal")
        .orderBy("n_name")
    )


Q2_SQL = """
SELECT n_name, s_suppkey, s_name, s_acctbal
FROM (
  SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
         ROW_NUMBER() OVER (PARTITION BY s_nationkey
                            ORDER BY s_acctbal DESC, s_suppkey) AS rn
  FROM supplier
) s
JOIN nation ON s_nationkey = n_nationkey
WHERE rn = 1
ORDER BY n_name
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: trade volume between two nations by year, in both
    directions. Two broadcast dimension chains (supplier→nation,
    customer→nation) around the orders⋈lineitem shuffle; the nation-pair
    filter collapses to a tiny IN-pair predicate after broadcast.
    """
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    supp = table(spark, sf_dir, "supplier")
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    one = F.lit(1).cast("decimal(18,2)")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(YEAR FROM l_shipdate) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style: supplier(s) with the maximum quarterly revenue —
    the revenue "view" computed once, its max broadcast back as a scalar.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    one = F.lit(1).cast("decimal(18,2)")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
        .cast("double")
        .alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q21_multi_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-flavored double EXISTS: suppliers ranked by how many
    multi-supplier orders they participated in. The per-order supplier
    count is computed once (one aggregate), then semi-joined — no
    correlated re-scans.
    """
    li = table(spark, sf_dir, "lineitem")
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
        .filter(F.col("n_suppliers") >= 3)
    )
    supp = table(spark, sf_dir, "supplier")
    return (
        li.join(multi, "l_orderkey", "left_semi")
        .groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("n_multi_orders"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "n_multi_orders")
        .orderBy(F.desc("n_multi_orders"), "s_suppkey")
        .limit(25)
    )


Q21_SQL = """
WITH multi AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING COUNT(DISTINCT l_suppkey) >= 3
)
SELECT s_suppkey, s_name, COUNT(DISTINCT l_orderkey) AS n_multi_orders
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
WHERE l_orderkey IN (SELECT l_orderkey FROM multi)
GROUP BY s_suppkey, s_name
ORDER BY n_multi_orders DESC, s_suppkey
LIMIT 25
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share: NATION_7's share of PROMO-part
    revenue sold to EUROPE customers, per year.

    Join graph part⋈lineitem⋈orders⋈customer⋈n1(⋈region) + supplier⋈n2.
    All dimension sides (part after filter, supplier, customer, nation,
    region) are broadcast; only lineitem⋈orders shuffles, on o_orderkey.
    The share division happens on DOUBLEs derived from exact DECIMAL sums,
    so both engines perform one IEEE division on identical inputs.
    """
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").alias("n1")
    n2 = table(spark, sf_dir, "nation").alias("n2")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    one = F.lit(1).cast("decimal(18,2)")
    vol = _dec("l_extendedprice") * (one - _dec("l_discount"))
    zero = F.lit(0).cast("decimal(38,4)")
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(region), F.col("n1.n_regionkey") == region.r_regionkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey"))
    )
    return (
        joined.select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            vol.alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(zero)
                ).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_7'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(38,4)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO'
  AND r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_year
ORDER BY o_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product-type profit by (supplier nation, year), for
    parts whose name contains 'red'. The testdata has no partsupp table, so
    profit = discounted revenue (the ps_supplycost term is dropped) —
    semantics otherwise identical (reference has no joins at all; SURVEY
    §2.9 takes relational coverage from Spark built-ins).

    part is filtered then broadcast; nation/supplier broadcast; the only
    shuffle is lineitem⋈orders on orderkey + the final small group-by.
    """
    part = table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    one = F.lit(1).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            F.sum(_dec("l_extendedprice") * (one - _dec("l_discount")))
            .cast("double")
            .alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


Q9_SQL = """
SELECT n_name AS nation,
       CAST(YEAR(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, YEAR(o_orderdate)
ORDER BY nation, o_year DESC
"""


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: per line status (testdata has no l_shipmode), how
    many 1997-shipped lineitems belong to urgent/high- vs lower-priority
    orders. CASE-sum pivot over a single orders⋈lineitem shuffle join; at
    scale the filter on l_shipdate is pushed to the parquet scan.
    """
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count, including
    zero-order customers via LEFT OUTER join. Two aggregations, each
    reducing cardinality sharply — the second group-by (on c_count) is
    near-free because its input is one row per customer.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style small-quantity-order revenue: average yearly revenue
    lost if SMALL-type parts ordered below 20% of their average quantity
    were not filled. The correlated scalar subquery is decorrelated into a
    per-part aggregate that is broadcast back — one pass over lineitem for
    the averages, one for the filtered sum (vs the naive per-row rescan).
    The per-part average goes through an exact DECIMAL sum divided once in
    DOUBLE, so the 0.2×avg threshold is bit-identical across engines.
    """
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    li = table(spark, sf_dir, "lineitem")
    li_small = li.join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
    avg_qty = li_small.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li_small.join(F.broadcast(avg_qty), F.col("l_partkey") == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly")
        )
    )


Q17_SQL = """
WITH small_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'SMALL'
), avg_qty AS (
  SELECT l_partkey AS a_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM small_li
  GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM small_li JOIN avg_qty ON l_partkey = a_partkey
WHERE l_quantity < 0.2 * avg_qty
"""


def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style global sales opportunity: per nation (testdata has no
    phone country code), customers with above-average positive balance and
    no order since 2000-01-01. Scalar subquery (broadcast single-row
    aggregate) + LEFT ANTI join against the date-filtered orders — the anti
    join shuffles on custkey only, and the o_orderdate filter is pushed to
    the parquet scan.
    """
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    nation = table(spark, sf_dir, "nation")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("n_name")
    )


Q22_SQL = """
SELECT n_name,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
ORDER BY n_name
"""


def q11_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style: parts whose shipped value (from NATION_7 suppliers)
    exceeds 0.1% of the nation's total shipped value. The testdata has no
    partsupp, so value = discounted revenue from lineitem.

    The HAVING > fraction-of-total scalar subquery is decorrelated into a
    1-row global aggregate broadcast back over the per-part aggregate
    (BroadcastNestedLoopJoin on one row — free). The threshold compare is
    kept in exact DECIMAL on both sides (value*1000 > total) so the filter
    set is bit-identical; division never happens.
    """
    nation = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    supp = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = table(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(18,2)")
    part_vals = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice") * (one - _dec("l_discount"))).alias("value_dec"))
    )
    total = part_vals.agg(F.sum("value_dec").cast("decimal(38,4)").alias("total_dec"))
    return (
        part_vals.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("decimal(38,4)") * F.lit(1000) > F.col("total_dec"))
        .select(F.col("l_partkey"), F.col("value_dec").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


Q11_SQL = """
WITH part_vals AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS value_dec
  FROM lineitem
  WHERE l_suppkey IN (
      SELECT s_suppkey FROM supplier
      WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_7'))
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
FROM part_vals
WHERE CAST(value_dec AS DECIMAL(38,4)) * 1000 > (SELECT CAST(SUM(value_dec) AS DECIMAL(38,4)) FROM part_vals)
ORDER BY part_value DESC, l_partkey
"""


def q16_supplier_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style: how many distinct suppliers ship each surviving
    (brand, type, size) combination. The complaint-supplier NOT IN becomes
    a broadcast anti-join on the (tiny, pre-filtered) supplier exclusion
    list (no s_comment in testdata — s_acctbal < 0 stands in); part is
    filtered then broadcast. COUNT(DISTINCT) shuffles on the 3 group keys
    with AQE-sized partitions — the only shuffle in the plan.
    """
    part = table(spark, sf_dir, "part").filter(
        (~F.col("p_type").startswith("PROMO")) & (F.col("p_size") < 15)
    )
    excl = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(excl), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type NOT LIKE 'PROMO%'
  AND p_size < 15
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style: NATION_3 suppliers who dominated shipments of a
    'blue' part in 1997 (their quantity > 1/4 of that part's total; the
    availqty comparison is re-based on shipped quantity — no partsupp).

    Per-(part,supplier) sums reuse one shuffle; the per-part total is a
    window over the already-partitioned aggregate (no second shuffle of
    lineitem). The dominance compare multiplies in exact DECIMAL
    (qty*4 > total) — no division. Suppliers then arrive via semi-join.
    """
    from pyspark.sql import Window as W

    part_green = (
        table(spark, sf_dir, "part").filter(F.col("p_name").contains("blue")).select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    qty = (
        li.join(F.broadcast(part_green), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
    )
    w = W.partitionBy("l_partkey")
    cand = (
        qty.withColumn("total_dec", F.sum("qty_dec").over(w))
        .filter(F.col("qty_dec") * F.lit(4) > F.col("total_dec"))
        .select("l_suppkey")
        .distinct()
    )
    nation = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    supp = table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        supp.join(cand, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name", "s_suppkey")
    )


Q20_SQL = """
WITH qty AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%blue%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY l_partkey, l_suppkey
), cand AS (
  SELECT DISTINCT l_suppkey FROM (
    SELECT l_suppkey, qty_dec,
           SUM(qty_dec) OVER (PARTITION BY l_partkey) AS total_dec
    FROM qty)
  WHERE qty_dec * 4 > total_dec
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM cand)
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
ORDER BY s_name, s_suppkey
"""


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((status), (priority), ()) over orders — the explicit
    multi-granularity form (rollup/cube are covered separately). grouping_id
    disambiguates which set produced a row (same bit convention — leftmost
    column is the most significant bit — in Spark and DuckDB/Postgres).
    Spark expands the sets with a single Expand node over one scan: one
    shuffle regardless of how many sets.
    NULLS FIRST is forced on both engines (Spark ASC default) since DuckDB
    defaults to NULLS LAST.
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("sum_price"),
            F.grouping_id().alias("gid"),
        )
        .orderBy(
            "gid",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""


def rolling_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue per customer: a time-based sliding window
    (RANGE BETWEEN INTERVAL) — the rolling-aggregate shape of a hypertable
    rollup. Ordering and frame bounds are epoch-microsecond integers in both
    engines (Spark rangeBetween takes longs; DuckDB RANGE takes numerics),
    and the windowed sum stays in DECIMAL — bit-exact across engines.

    One shuffle on o_custkey; the frame scan is a per-partition sorted
    sliding sum, O(rows) total. At 100 TB, partition by customer and let AQE
    size the shuffle; no self-join (the naive formulation) ever happens.
    """
    from pyspark.sql import Window as W

    seven_days_us = 7 * 24 * 3600 * 1_000_000
    o = table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-seven_days_us, 0)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(_dec("o_totalprice")).over(w).cast("double").alias("revenue_7d"),
            F.count(F.lit(1)).over(w).alias("n_orders_7d"),
        )
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
        .limit(2000)
    )


ROLLING_7D_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS revenue_7d,
       COUNT(*) OVER w AS n_orders_7d
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
             RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderdate, o_orderkey
LIMIT 2000
"""


# --------------------------------------------------- join-key diagnostics

SKEW_TOP_N = 10


def join_key_skew_profile(
    df: DataFrame, key_col: str, top_n: int = SKEW_TOP_N
) -> DataFrame:
    """Skew diagnostics for a prospective join/aggregation key: total
    keys, row count, mean rows per key, the max key weight, the skew
    ratio (max/mean — the number AQE's skew-join thresholds reason
    about), and the top-N heaviest keys inline. The planning readout you
    run BEFORE shipping a 100 TB join: a skew ratio in the thousands
    means salting or AQE skew handling, single digits means the plain
    hash join is fine.

    Scale shape: one grouped count (map-side combined), one tiny
    aggregate over the per-key table, and a top-N sort-limit of the same
    table; exact integers everywhere, one final double division."""
    per = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("c")
    )
    per = per.localCheckpoint(eager=True)  # feeds stats AND top-n
    stats = per.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_key_rows"),
    )
    top = (
        per.orderBy(F.col("c").desc(), F.col("key").asc())
        .limit(top_n)
        .agg(
            # sort key (-c, key) ASC == (c DESC, key ASC) — struct
            # comparison would otherwise break ties key-DESC and disagree
            # with the oracle's ORDER BY c DESC, key ASC
            F.sort_array(
                F.collect_list(F.struct((-F.col("c")).alias("negc"), F.col("key")))
            ).alias("top")
        )
        .select(
            F.to_json(
                F.transform(
                    "top",
                    lambda s: F.struct(
                        s["key"].cast("string").alias("key"),
                        (-s["negc"]).alias("c"),
                    ),
                )
            ).alias("top_keys_json")
        )
    )
    return stats.crossJoin(F.broadcast(top)).select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        (F.col("n_rows").cast("double") / F.col("n_keys").cast("double")).alias(
            "mean_key_rows"
        ),
        (
            F.col("max_key_rows").cast("double")
            * F.col("n_keys").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("skew_ratio"),
        "top_keys_json",
    )


def q_join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile lineitem's l_orderkey — the key every TPC-H join hits."""
    return join_key_skew_profile(table(spark, sf_dir, "lineitem"), "l_orderkey")


SKEW_PROFILE_SQL = f"""
WITH per AS (
  SELECT l_orderkey AS key, COUNT(*) AS c FROM lineitem GROUP BY l_orderkey
), stats AS (
  SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(MAX(c) AS BIGINT) AS max_key_rows
  FROM per
), top AS (
  SELECT to_json(list({{'key': CAST(key AS VARCHAR), 'c': c}} ORDER BY c DESC, key ASC))
         AS top_keys_json
  FROM (SELECT key, c FROM per ORDER BY c DESC, key ASC LIMIT {SKEW_TOP_N})
)
SELECT n_keys, n_rows, max_key_rows,
       CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE) AS mean_key_rows,
       CAST(max_key_rows AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE) AS skew_ratio,
       top_keys_json
FROM stats, top
"""


# --------------------------------------------- market-basket part affinity

BASKET_CAP = 32
AFFINITY_TOP_K = 50


def part_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: the top co-purchased part pairs by LIFT
    with exact support — the classic association-rule readout (Agrawal &
    Srikant 1994, reduced to the 2-itemset tier that drives
    recommendation candidates and co-location layout decisions).

    Exactness: lift = P(ab)/(P(a)P(b)) clears denominators to
    ``1000·n_ab·N // (n_a·n_b)`` — counts are exact ints, the product
    n_ab·N reaches ~10²⁴ at 100 TB order counts so the multiply runs in
    decimal(38,0)/HUGEINT; support is ``1000·n_ab // N``. The top-K
    sort key (lift desc, n_ab desc, part_a, part_b) is total, so LIMIT
    is deterministic.

    Scale shape: baskets are per-order item sets capped at BASKET_CAP
    items (row_number within order — WindowGroupLimit prunes pre-shuffle;
    TPC-H orders hold ≤7 items, the cap guards pathological baskets at
    scale), so the self-join fans out ≤ C(cap,2) per order — linear in
    orders. Item counts and the scalar N are grouped aggregates; the
    final sort is a TopK (take-ordered), never a full shuffle."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    w = W.partitionBy("l_orderkey").orderBy("l_partkey")
    basket = (
        items.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BASKET_CAP)
        .drop("rn")
    )
    n_orders = basket.agg(
        F.countDistinct("l_orderkey").cast("decimal(38,0)").alias("n_orders")
    )
    counts = basket.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_single")
    )
    a = basket.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = basket.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pair_counts = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n_ab"))
    )
    joined = (
        pair_counts.join(
            counts.select(F.col("l_partkey").alias("part_a"), F.col("n_single").alias("n_a")),
            "part_a",
        )
        .join(
            counts.select(F.col("l_partkey").alias("part_b"), F.col("n_single").alias("n_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    scored = joined.select(
        "part_a",
        "part_b",
        F.col("n_ab").cast("long").alias("n_ab"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.expr("CAST(div(1000 * n_ab, n_orders) AS BIGINT)").alias("support_permille"),
        F.expr("CAST(div(1000 * n_ab * n_orders, n_a * n_b) AS BIGINT)").alias(
            "lift_permille"
        ),
    )
    return scored.orderBy(
        F.col("lift_permille").desc(),
        F.col("n_ab").desc(),
        "part_a",
        "part_b",
    ).limit(AFFINITY_TOP_K)


PART_AFFINITY_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), basket AS (
  SELECT l_orderkey, l_partkey FROM (
    SELECT l_orderkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
    FROM items
  ) WHERE rn <= {BASKET_CAP}
), n AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS HUGEINT) AS n_orders FROM basket
), counts AS (
  SELECT l_partkey, CAST(COUNT(*) AS HUGEINT) AS n_single
  FROM basket GROUP BY l_partkey
), pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS HUGEINT) AS n_ab
  FROM basket a JOIN basket b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)
SELECT part_a, part_b,
       CAST(n_ab AS BIGINT) AS n_ab,
       CAST(ca.n_single AS BIGINT) AS n_a,
       CAST(cb.n_single AS BIGINT) AS n_b,
       CAST((1000 * n_ab) // n_orders AS BIGINT) AS support_permille,
       CAST((1000 * n_ab * n_orders) // (ca.n_single * cb.n_single) AS BIGINT)
         AS lift_permille
FROM pair_counts
JOIN counts ca ON ca.l_partkey = part_a
JOIN counts cb ON cb.l_partkey = part_b
CROSS JOIN n
ORDER BY lift_permille DESC, n_ab DESC, part_a, part_b
LIMIT {AFFINITY_TOP_K}
"""


# --------------------------------------------------- Benford digit audit

# floor(1000·log10(1 + 1/d)) for d = 1..9, precomputed ONCE here and
# inlined as the same integer literals in both engines (the NDCG-discount
# convention — log10 never runs inside an engine).
BENFORD_PERMILLE = [
    int(1000 * __import__("math").log10(1 + 1 / d)) for d in range(1, 10)
]


def benford_value_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the money column — the classic
    fabricated-data / unit-mixing detector (Benford 1938; the auditor's
    screen): naturally-spread multiplicative quantities put ~30.1% of
    first digits at 1, while fabricated, truncated, or unit-mixed
    batches flatten the curve. Emits the observed-vs-expected digit
    distribution; the deviation column makes the violating digits
    directly readable.

    Exactness: cents = FLOOR(price·100) — FLOOR on both sides (cast
    truncate-vs-round differs across engines, the floor-not-cast rule);
    the first digit comes from the BIGINT's decimal string (identical
    rendering both engines, no logarithm); expected permilles are the
    shared BENFORD_PERMILLE table; observed permille is integer
    floor-div. Non-positive values are excluded (no first digit) and
    surfaced via n_excluded.

    Scale shape: one row-local projection + one 9-group aggregate +
    one 9-row window for the total — map-side combinable end to end."""
    return benford_from_partials(
        benford_partials(table(spark, sf_dir, "lineitem"))
    )


def benford_partials(df: DataFrame, value_col: str = "l_extendedprice") -> DataFrame:
    """ADDITIVE digit counts — the staged unit of the streaming twin
    (streaming/benford.py). Digit 0 is the excluded (non-positive)
    bucket; 1..9 are first digits."""
    base = df.select(
        F.expr(f"CAST(FLOOR({value_col} * 100) AS BIGINT)").alias("cents")
    )
    return base.select(
        F.when(F.col("cents") <= 0, F.lit(0))
        .otherwise(
            F.substring(F.col("cents").cast("string"), 1, 1).cast("int")
        )
        .alias("digit")
    ).groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n_values"))


def benford_from_partials(counts: DataFrame) -> DataFrame:
    """Permille tail over digit counts (shared with the streaming drain)."""
    from pyspark.sql import Window as W

    exp_arr = F.array(*[F.lit(p).cast("long") for p in BENFORD_PERMILLE])
    excl = counts.agg(
        F.sum(F.when(F.col("digit") == 0, F.col("n_values")).otherwise(0))
        .cast("long")
        .alias("n_excluded")
    )
    digits = counts.filter(F.col("digit") > 0)
    w = W.partitionBy()
    return (
        digits.withColumn("total", F.sum("n_values").over(w))
        .crossJoin(F.broadcast(excl))
        .select(
            "digit",
            "n_values",
            F.expr("div(1000 * n_values, total)").alias("obs_permille"),
            F.element_at(exp_arr, F.col("digit")).alias("exp_permille"),
            (
                F.expr("div(1000 * n_values, total)")
                - F.element_at(exp_arr, F.col("digit"))
            ).alias("dev_permille"),
            "n_excluded",
        )
        .orderBy("digit")
    )


def _benford_sql() -> str:
    exp_arr = "[" + ", ".join(str(p) for p in BENFORD_PERMILLE) + "]"
    return f"""
WITH base AS (
  SELECT CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem
), excl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_excluded FROM base WHERE cents <= 0
), digits AS (
  SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n_values
  FROM base WHERE cents > 0 GROUP BY 1
)
SELECT digit, n_values,
       CAST((1000 * n_values) // SUM(n_values) OVER () AS BIGINT) AS obs_permille,
       CAST(({exp_arr})[digit] AS BIGINT) AS exp_permille,
       CAST((1000 * n_values) // SUM(n_values) OVER ()
            - ({exp_arr})[digit] AS BIGINT) AS dev_permille,
       n_excluded
FROM digits CROSS JOIN excl
ORDER BY digit
"""


BENFORD_SQL = _benford_sql()


# --------------------------------------------------- RFM segmentation

_RFM_LABEL_CASE = """CASE
  WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
  WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
  WHEN r_score = 1 AND f_score <= 2 THEN 'lost'
  WHEN f_score >= 4 THEN 'loyal'
  WHEN m_score = 5 THEN 'big_spender'
  ELSE 'other' END"""


# Per-window-partition row bound for rfm's bucketed ranks — the same
# 65,536-row discipline the global-window whitelist test enforces
# (tests/test_plans_round10.py). Buckets above this refine (sub-split).
_RFM_BUCKET_CAP_ROWS = 1 << 16
# Refinement rounds are bounded: each round strictly narrows every heavy
# bucket's value/custkey sub-range ≥2×, so residual over-cap partitions
# after the bound are possible only under adversarial key clustering —
# and affect parallelism, never results.
_RFM_MAX_REFINE_ROUNDS = 4


def _rfm_bucket_histogram(b: DataFrame, dims: dict[str, str]):
    """ONE job over the bucketed customer frame: per (dim, bucket) the
    row count plus min/max of the rank value and the o_custkey
    tie-break — the count drives the prefix-sum rank offsets, the
    min/max bounds drive skew refinement. Collect size ≤ Σ buckets rows
    of six longs."""
    u = None
    for d in dims:
        part = b.select(
            F.lit(d).alias("d"),
            F.col(f"b_{d}").alias("bkt"),
            F.col(f"v_{d}").alias("v"),
            F.col("o_custkey").alias("ck"),
        )
        u = part if u is None else u.unionByName(part)
    rows = (
        u.groupBy("d", "bkt")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("v").alias("vlo"),
            F.max("v").alias("vhi"),
            F.min("ck").alias("klo"),
            F.max("ck").alias("khi"),
        )
        .collect()
    )
    per_dim: dict[str, dict[int, dict[str, int]]] = {d: {} for d in dims}
    for r in rows:
        per_dim[r["d"]][r["bkt"]] = {
            "c": r["c"],
            "vlo": r["vlo"],
            "vhi": r["vhi"],
            "klo": r["klo"],
            "khi": r["khi"],
        }
    n_cust = sum(s["c"] for s in per_dim[next(iter(dims))].values())
    return per_dim, n_cust


def _rfm_refine_exprs(d: str, stats: dict[int, dict[str, int]]) -> str:
    """SQL expr mapping (b_d, v_d, o_custkey) → refined dense bucket id.

    Buckets over the cap sub-split ``k`` ways (k ≈ 2·count/cap for
    headroom against in-bucket non-uniformity): a single-value atom
    splits on the o_custkey tie-break (order within an atom is by
    custkey alone, so a custkey-range split keeps bucket order ==
    composite (value, custkey) order); a multi-value bucket splits on
    its OBSERVED value sub-range (strictly narrower than the parent
    range, so rounds converge geometrically). New ids are prefix-sum
    bases — dense, and monotone in the composite sort key by
    construction. All arithmetic stays in bigint: post-round-1 value
    spans are ≤ range/1024 and k ≤ 2n/cap, so (x − lo)·k stays far
    under 2⁶³ even at 10⁹ customers."""
    nb = max(stats) + 1
    base = [0] * nb
    ks = [1] * nb
    lo = [0] * nb
    span = [1] * nb
    byck = [0] * nb
    run = 0
    for i in range(nb):
        s = stats.get(i)
        base[i] = run
        if s is None or s["c"] <= _RFM_BUCKET_CAP_ROWS:
            run += 1
            continue
        k = max(2, -((-2 * s["c"]) // _RFM_BUCKET_CAP_ROWS))
        if s["vlo"] == s["vhi"]:
            byck[i], lo[i], span[i] = 1, s["klo"], s["khi"] - s["klo"] + 1
        else:
            byck[i], lo[i], span[i] = 0, s["vlo"], s["vhi"] - s["vlo"] + 1
        k = min(k, span[i])  # never more sub-buckets than distinct slots
        ks[i] = k
        run += k

    def arr(vals):
        return "array(" + ",".join(f"{v}L" for v in vals) + ")"

    idx = f"CAST(b_{d} + 1 AS INT)"
    k_at = f"element_at({arr(ks)}, {idx})"
    x = (
        f"(CASE WHEN element_at({arr(byck)}, {idx}) = 1"
        f" THEN o_custkey ELSE v_{d} END)"
    )
    return (
        f"element_at({arr(base)}, {idx})"
        f" + (CASE WHEN {k_at} = 1 THEN 0L ELSE"
        f" div(({x} - element_at({arr(lo)}, {idx})) * {k_at},"
        f" element_at({arr(span)}, {idx})) END)"
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (Hughes 1994, the retention-marketing
    classic): quintile scores for Recency (last order date), Frequency
    (order count), Monetary (lifetime cents), rolled up to segment
    counts with the standard champion/at-risk/lost labels — the
    analytics readout every CRM pipeline derives from the order fact
    stream.

    Exactness: monetary sums FLOOR(price·100) cents per order BEFORE
    the integer sum (a double sum is order-dependent); quintiles come
    from ``1 + (5·(rn−1)) div n`` over row_number with custkey
    tie-break — unambiguous integer algebra, no NTILE
    remainder-distribution semantics to match across engines.

    Scale shape: one order-fact grouped aggregate to customer grain,
    then — because CUSTOMER grain scales with the data (billions at
    100 TB), never a global window over it — each of the three ranks is
    TWO-PHASE like quality_percentile_gate / corpus_shuffle: rows
    range-bucket on the rank key (bucket order == key order), per-bucket
    counts collect to the driver (≤3·1025 longs, one job), prefix
    offsets broadcast back, and each row_number window partitions by
    its bucket — identical global ranks, no single-partition sort.
    Buckets are SKEW-REFINED: value-range bucketing alone concentrates
    atoms (a modal freq value, or a degenerate hi==lo domain) into one
    data-scaling window partition, so buckets whose driver-side count
    exceeds ``_RFM_BUCKET_CAP_ROWS`` are sub-split — by the o_custkey
    tie-break when the bucket holds a single value (order within an
    atom is by custkey alone, so a custkey-range split preserves bucket
    order == composite (value, custkey) order), by the observed
    value sub-range otherwise — iterating until every window partition
    is bounded. Any monotone-in-(value, custkey) bucketing yields the
    identical global rank, so refinement changes parallelism only,
    never the result (equivalence- and bound-tested in
    tests/test_round11.py / tests/test_round12.py).
    Then a ≤125-group rollup. The customer-grain frame (4 longs/row,
    no strings) is pinned only below the shared input-size gate
    (operators/common.py) — customer grain scales with the data, so
    above the gate the branches re-run the order-fact aggregate instead
    of pinning billions of rows to local disks."""
    from pyspark.sql import Window as W

    from wurzel_spark.operators import common

    _NB = 1024
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        # o_orderdate is TIMESTAMP_NTZ; cast through TIMESTAMP (session tz
        # is pinned UTC) so unix_micros accepts it — same instant as the
        # oracle's epoch_us on the naive value.
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)")).alias("cents"),
    )
    cust = common.pin_if_small(cust, o)
    dims = {"r": "last_us", "f": "freq", "m": "cents"}
    panel = cust.agg(
        *[
            agg(c).alias(f"{side}_{d}")
            for d, c in dims.items()
            for side, agg in (("lo", F.min), ("hi", F.max))
        ]
    )
    b = cust.crossJoin(F.broadcast(panel)).select(
        "o_custkey",
        "cents",
        *[F.col(c).alias(f"v_{d}") for d, c in dims.items()],
        *[
            F.expr(f"div(({c} - lo_{d}) * {_NB}, hi_{d} - lo_{d} + 1)").alias(
                f"b_{d}"
            )
            for d, c in dims.items()
        ],
    )
    # ONE collect fetches all three dims' bucket histograms (≤3·(NB+1)
    # rows of longs) — per-bucket count plus min/max of the rank value
    # and the custkey tie-break, which is exactly what the skew
    # refinement needs to sub-split an oversized bucket.
    per_dim, n_cust = _rfm_bucket_histogram(b, dims)
    for _ in range(_RFM_MAX_REFINE_ROUNDS):
        refines = {
            d: _rfm_refine_exprs(d, per_dim[d])
            for d in dims
            if any(s["c"] > _RFM_BUCKET_CAP_ROWS for s in per_dim[d].values())
        }
        if not refines:
            break
        b = b.select(
            "o_custkey",
            "cents",
            *[F.col(f"v_{d}") for d in dims],
            *[
                F.expr(refines[d]).alias(f"b_{d}")
                if d in refines
                else F.col(f"b_{d}")
                for d in dims
            ],
        )
        per_dim, n_cust = _rfm_bucket_histogram(b, dims)
    # Offsets ride back as LITERAL arrays (bucket → rows before it), not
    # join tables: ≤buckets+1 longs per dim inlined into codegen — zero
    # extra joins/shuffles, the broadcast-side cost the toy-scale bench
    # pays for nothing. (Bucket ids after refinement are dense prefix-sum
    # assignments, so the array stays index-addressable.)
    ranked = b
    for d in dims:
        nb_d = max(per_dim[d], default=0) + 1
        run, offs = 0, [0] * nb_d
        for bk in range(nb_d):
            offs[bk] = run
            run += per_dim[d].get(bk, {"c": 0})["c"]
        arr = "array(" + ",".join(f"{v}L" for v in offs) + ")"
        w = W.partitionBy(f"b_{d}").orderBy(f"v_{d}", "o_custkey")
        ranked = ranked.withColumn(
            f"rn_{d}",
            F.expr(f"element_at({arr}, CAST(b_{d} + 1 AS INT))")
            + F.row_number().over(w),
        )
    scored = ranked.select(
        "cents",
        *[
            F.expr(f"1 + div(5 * (rn_{d} - 1), {n_cust})").alias(f"{d}_score")
            for d in dims
        ],
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            F.expr(_RFM_LABEL_CASE).alias("segment"),
            "n_customers",
            "total_cents",
        )
        .orderBy("r_score", "f_score", "m_score")
    )


RFM_SEGMENTS_SQL = f"""
WITH cust AS (
  SELECT o_custkey,
         MAX(epoch_us(o_orderdate)) AS last_us,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT cents,
         1 + (5 * (ROW_NUMBER() OVER (ORDER BY last_us, o_custkey) - 1))
             // COUNT(*) OVER () AS r_score,
         1 + (5 * (ROW_NUMBER() OVER (ORDER BY freq, o_custkey) - 1))
             // COUNT(*) OVER () AS f_score,
         1 + (5 * (ROW_NUMBER() OVER (ORDER BY cents, o_custkey) - 1))
             // COUNT(*) OVER () AS m_score
  FROM cust
)
SELECT r_score, f_score, m_score,
       {_RFM_LABEL_CASE} AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM scored GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""


# --------------------------------------------------- FD violation profiler

# (determinant, dependent) candidate functional dependencies to profile —
# the schema-discovery pass every data-profiling tool (Metanome/HyFD
# lineage) runs before trusting a column as a key or a lookup.
FD_CANDIDATES = [
    ("part", "p_name", "p_brand"),
    ("part", "p_name", "p_type"),
    ("part", "p_brand", "p_type"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_mktsegment", "c_nationkey"),
]


def fd_violation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiler: for each candidate X → Y, how
    close does the data come to satisfying it — distinct determinant
    groups, groups where Y is NOT single-valued (the violations), rows
    trapped in violating groups, and the g3-style satisfaction permille
    (kept rows under the minimal repair = keep each group's plurality
    value). The readout that separates "safe join key / derivable
    column" from "needs cleansing" before a 100 TB denormalization.

    Exactness: plurality per group = max per-(X, Y) count with
    lexicographic Y tie-break — deterministic in both engines via
    (count desc, Y) row_number; all outputs exact integer counts.

    Scale shape: per FD one (X, Y) grouped count (corpus shuffle),
    then group-sized aggregates; the per-table FDs union at the end
    (each branch prunes to its two columns at the scan)."""
    from pyspark.sql import Window as W

    outs = []
    for tbl, det, dep in FD_CANDIDATES:
        t = table(spark, sf_dir, tbl)
        per = t.groupBy(F.col(det).alias("x"), F.col(dep).alias("y")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        wg = W.partitionBy("x").orderBy(F.desc("c"), "y")
        grp = (
            per.withColumn("rn", F.row_number().over(wg))
            .groupBy("x")
            .agg(
                F.sum("c").alias("n_rows"),
                F.count(F.lit(1)).alias("n_values"),
                F.sum(F.when(F.col("rn") == 1, F.col("c")).otherwise(0)).alias(
                    "n_plurality"
                ),
            )
        )
        outs.append(
            grp.agg(
                F.lit(f"{tbl}.{det}->{dep}").alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum(F.when(F.col("n_values") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating_groups"),
                F.sum(F.when(F.col("n_values") > 1, F.col("n_rows")).otherwise(0))
                .cast("long")
                .alias("n_rows_in_violations"),
                F.sum("n_rows").cast("long").alias("n_rows"),
                F.expr(
                    "CAST(div(1000 * SUM(n_plurality), SUM(n_rows)) AS BIGINT)"
                ).alias("g3_keep_permille"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fd")


def _fd_sql() -> str:
    branches = []
    for tbl, det, dep in FD_CANDIDATES:
        branches.append(f"""
SELECT '{tbl}.{det}->{dep}' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_values > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
       CAST(SUM(CASE WHEN n_values > 1 THEN n_rows ELSE 0 END) AS BIGINT) AS n_rows_in_violations,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST((1000 * SUM(n_plurality)) // SUM(n_rows) AS BIGINT) AS g3_keep_permille
FROM (
  SELECT x, SUM(c) AS n_rows, COUNT(*) AS n_values,
         SUM(CASE WHEN rn = 1 THEN c ELSE 0 END) AS n_plurality
  FROM (
    SELECT x, y, c, ROW_NUMBER() OVER (PARTITION BY x ORDER BY c DESC, y) AS rn
    FROM (SELECT {det} AS x, {dep} AS y, CAST(COUNT(*) AS BIGINT) AS c
          FROM {tbl} GROUP BY {det}, {dep})
  ) GROUP BY x
)""")
    return "\nUNION ALL\n".join(branches) + "\nORDER BY fd"


FD_VIOLATION_SQL = _fd_sql()


# --------------------------------------------------- IQR outlier audit


def iqr_outlier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit of the money column per return-flag
    group — the boxplot screen (Tukey 1977) that pairs with
    [[benford_value_audit]]: Benford catches fabricated DIGITS, the IQR
    fences catch fat-finger magnitudes (an extra zero) before they skew
    downstream revenue aggregates.

    Exactness: cents = FLOOR(price·100); quartiles are the exact
    rank-based value at 1-based rank ceil(p·n) (the
    corpus_length_quantiles DEFINITION — interpolating percentiles
    differ across engines); the 1.5·IQR fences clear the half to
    quarter-cents — ``4·x < 4·q1 − 6·iqr`` — so the outlier predicate is
    pure integer comparison. Ties in value need no tie-break: the value
    AT a rank is well-defined whatever the tie order.

    Scale shape: one window shuffle on the group key (the per-group sort
    that exact quantiles cost), a group-sized quartile panel, and a
    broadcast join back for the fence counts."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    w = W.partitionBy("l_returnflag").orderBy("cents")
    wc = W.partitionBy("l_returnflag")
    ranked = base.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(wc)
    )
    quart = ranked.groupBy("l_returnflag").agg(
        F.max(
            F.when(
                F.col("__rn") == F.ceil(F.col("__n") * F.lit(0.25)).cast("int"),
                F.col("cents"),
            )
        ).alias("q1_cents"),
        F.max(
            F.when(
                F.col("__rn") == F.ceil(F.col("__n") * F.lit(0.75)).cast("int"),
                F.col("cents"),
            )
        ).alias("q3_cents"),
    )
    joined = base.join(F.broadcast(quart), "l_returnflag")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.first("q1_cents").alias("q1_cents"),
            F.first("q3_cents").alias("q3_cents"),
            F.sum(
                F.expr("CASE WHEN 4 * cents < 4 * q1_cents - 6 * (q3_cents - q1_cents)"
                       " THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias("n_low_outliers"),
            F.sum(
                F.expr("CASE WHEN 4 * cents > 4 * q3_cents + 6 * (q3_cents - q1_cents)"
                       " THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias("n_high_outliers"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            "q1_cents",
            "q3_cents",
            "n_low_outliers",
            "n_high_outliers",
            F.expr(
                "div(1000 * (n_low_outliers + n_high_outliers), n_rows)"
            ).alias("outlier_permille"),
        )
        .orderBy("l_returnflag")
    )


IQR_OUTLIER_SQL = """
WITH base AS (
  SELECT l_returnflag, CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), ranked AS (
  SELECT l_returnflag, cents,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY cents) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM base
), quart AS (
  SELECT l_returnflag,
         MAX(CASE WHEN rn = CAST(CEIL(n * 0.25) AS INT) THEN cents END) AS q1_cents,
         MAX(CASE WHEN rn = CAST(CEIL(n * 0.75) AS INT) THEN cents END) AS q3_cents
  FROM ranked GROUP BY l_returnflag
)
SELECT b.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(q1_cents) AS BIGINT) AS q1_cents,
       CAST(MIN(q3_cents) AS BIGINT) AS q3_cents,
       CAST(SUM(CASE WHEN 4 * cents < 4 * q1_cents - 6 * (q3_cents - q1_cents)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
       CAST(SUM(CASE WHEN 4 * cents > 4 * q3_cents + 6 * (q3_cents - q1_cents)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
       (1000 * CAST(SUM(CASE WHEN 4 * cents < 4 * q1_cents - 6 * (q3_cents - q1_cents)
                              OR 4 * cents > 4 * q3_cents + 6 * (q3_cents - q1_cents)
                             THEN 1 ELSE 0 END) AS BIGINT)) // COUNT(*) AS outlier_permille
FROM base b JOIN quart q ON q.l_returnflag = b.l_returnflag
GROUP BY b.l_returnflag ORDER BY b.l_returnflag
"""


# --------------------------------------------------- concentration metrics


def customer_balance_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of positive customer account balances per nation
    — the inequality/concentration readout (Gini 1912, the Lorenz-curve
    integral) risk teams run per market: a nation where five accounts
    hold the balance sheet is a different book than one with a flat
    curve. Distinct from [[user_type_gini]] (Gini IMPURITY of a
    categorical distribution); this is the economic coefficient over a
    continuous column.

    Exactness: cents = FLOOR(acctbal·100); with balances sorted
    ascending per nation, ``G = Σ(2i−n−1)·x_i / (n·Σx)`` — numerator
    and denominator exact non-negative integers (decimal/HUGEINT), one
    floor-div at the end. Non-positive balances have no Lorenz meaning:
    excluded and counted.

    Scale shape: one per-nation sort window over the customer dimension
    (dimension-sized, the exact-quantile cost class) + one grouped
    aggregate."""
    from pyspark.sql import Window as W

    c = table(spark, sf_dir, "customer")
    base = c.select(
        "c_nationkey",
        F.expr("CAST(FLOOR(c_acctbal * 100) AS BIGINT)").alias("cents"),
    )
    pos = base.filter(F.col("cents") > 0)
    w = W.partitionBy("c_nationkey").orderBy("cents")
    wc = W.partitionBy("c_nationkey")
    ranked = pos.withColumn("i", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    gini = ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_accounts"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sum_cents"),
        F.sum(
            (2 * F.col("i") - F.col("n") - 1).cast("decimal(38,0)")
            * F.col("cents").cast("decimal(38,0)")
        ).alias("num"),
    )
    excl = base.groupBy("c_nationkey").agg(
        F.sum(F.when(F.col("cents") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_nonpositive")
    )
    return (
        gini.join(excl, "c_nationkey")
        .select(
            "c_nationkey",
            "n_accounts",
            "n_nonpositive",
            F.col("sum_cents").cast("long").alias("sum_cents"),
            F.expr(
                "CAST(CASE WHEN n_accounts > 0 AND sum_cents > 0"
                " THEN div(1000 * num, n_accounts * sum_cents) END AS BIGINT)"
            ).alias("gini_permille"),
        )
        .orderBy("c_nationkey")
    )


BALANCE_GINI_SQL = """
WITH base AS (
  SELECT c_nationkey, CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
), ranked AS (
  SELECT c_nationkey, CAST(cents AS HUGEINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY cents) AS i,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n
  FROM base WHERE cents > 0
), gini AS (
  SELECT c_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_accounts,
         SUM(cents) AS sum_cents,
         SUM((2 * i - n - 1) * cents) AS num
  FROM ranked GROUP BY c_nationkey
), excl AS (
  SELECT c_nationkey,
         CAST(SUM(CASE WHEN cents <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpositive
  FROM base GROUP BY c_nationkey
)
SELECT g.c_nationkey, n_accounts, n_nonpositive,
       CAST(sum_cents AS BIGINT) AS sum_cents,
       CASE WHEN n_accounts > 0 AND sum_cents > 0
            THEN CAST((1000 * num) // (n_accounts * sum_cents) AS BIGINT)
            END AS gini_permille
FROM gini g JOIN excl e ON e.c_nationkey = g.c_nationkey
ORDER BY g.c_nationkey
"""


def revenue_hhi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-revenue concentration per nation —
    the antitrust concentration index (HHI = Σ share², 10000 = monopoly)
    over lineitem revenue attributed to suppliers: the market-structure
    readout a sourcing/risk pipeline derives from the order stream
    (HHI > 2500 = concentrated per the DOJ bands).

    Exactness: per-line revenue cents = FLOOR(extendedprice·
    (1−discount)·100) — one FLOOR per line, identical IEEE multiply
    both engines — then every sum is integer; HHI clears shares to
    ``10000·Σr_i² div (Σr_i)²`` in decimal/HUGEINT (r_i² reaches ~10²⁴
    at 100 TB).

    Scale shape: one fact-grain grouped sum to supplier grain, a
    broadcast supplier→nation join, two group-sized aggregates."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(
            F.expr(
                "CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
            ).cast("decimal(38,0)")
        ).alias("rev")
    )
    joined = per_supp.join(
        F.broadcast(s.select("s_suppkey", "s_nationkey")),
        per_supp.l_suppkey == F.col("s_suppkey"),
    )
    agg = joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("rev").alias("total_rev"),
        F.sum(F.col("rev") * F.col("rev")).alias("sum_rev2"),
    )
    return agg.select(
        "s_nationkey",
        "n_suppliers",
        F.col("total_rev").cast("long").alias("total_rev_cents"),
        F.expr(
            "CAST(CASE WHEN total_rev > 0"
            " THEN div(10000 * sum_rev2, total_rev * total_rev) END AS BIGINT)"
        ).alias("hhi"),
        F.expr(
            "CASE WHEN total_rev > 0 THEN"
            " CASE WHEN div(10000 * sum_rev2, total_rev * total_rev) > 2500"
            " THEN 'concentrated'"
            " WHEN div(10000 * sum_rev2, total_rev * total_rev) > 1500"
            " THEN 'moderate' ELSE 'competitive' END END"
        ).alias("band"),
    ).orderBy("s_nationkey")


REVENUE_HHI_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS HUGEINT) AS rev
  FROM lineitem GROUP BY l_suppkey
), agg AS (
  SELECT s_nationkey,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         SUM(rev) AS total_rev,
         SUM(rev * rev) AS sum_rev2
  FROM per_supp JOIN supplier ON s_suppkey = l_suppkey
  GROUP BY s_nationkey
)
SELECT s_nationkey, n_suppliers,
       CAST(total_rev AS BIGINT) AS total_rev_cents,
       CASE WHEN total_rev > 0
            THEN CAST((10000 * sum_rev2) // (total_rev * total_rev) AS BIGINT)
            END AS hhi,
       CASE WHEN total_rev > 0 THEN
         CASE WHEN (10000 * sum_rev2) // (total_rev * total_rev) > 2500
              THEN 'concentrated'
              WHEN (10000 * sum_rev2) // (total_rev * total_rev) > 1500
              THEN 'moderate' ELSE 'competitive' END END AS band
FROM agg ORDER BY s_nationkey
"""


# --------------------------------------------------- cohort LTV curve


def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers cohorted by FIRST order
    month, revenue accumulated by cohort age in months — the
    complement to [[cohort_retention]] (events-based activity): that
    says who came back, this says what they were WORTH, the payback
    readout every acquisition decision reads.

    Exactness: cohort/age months via exact integer month index
    (year·12 + month — no months_between float semantics to match);
    revenue cents FLOOR'd per order before any sum; ltv_permille =
    cumulative cents // cohort lifetime total (non-negative because
    TPC-H totalprice > 0; a refunds-bearing ledger would sign-split).

    Scale shape: one customer-grain window for the first-order month
    (fact rows shuffle once on custkey), one grouped sum to
    (cohort, age) grain, then windows over cohort-sized rows."""
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("midx"),
        F.expr("CAST(FLOOR(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    wc = W.partitionBy("o_custkey")
    aged = base.withColumn("cohort_midx", F.min("midx").over(wc)).select(
        "cohort_midx",
        (F.col("midx") - F.col("cohort_midx")).alias("age_months"),
        "cents",
        "o_custkey",
    )
    grid = aged.groupBy("cohort_midx", "age_months").agg(
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("rev"),
        F.countDistinct("o_custkey").cast("long").alias("n_active"),
    )
    wr = W.partitionBy("cohort_midx").orderBy("age_months").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    wt = W.partitionBy("cohort_midx")
    return (
        grid.withColumn("cum_rev", F.sum("rev").over(wr))
        .withColumn("total_rev", F.sum("rev").over(wt))
        .select(
            F.expr("CAST(div(cohort_midx - 1, 12) AS INT)").alias("cohort_year"),
            F.expr("CAST(pmod(cohort_midx - 1, 12) + 1 AS INT)").alias("cohort_month"),
            "age_months",
            "n_active",
            F.col("rev").cast("long").alias("rev_cents"),
            F.col("cum_rev").cast("long").alias("cum_rev_cents"),
            F.expr("CAST(div(1000 * cum_rev, total_rev) AS BIGINT)").alias(
                "ltv_permille"
            ),
        )
        .orderBy("cohort_year", "cohort_month", "age_months")
    )


COHORT_LTV_SQL = """
WITH base AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) AS midx,
         CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), aged AS (
  SELECT MIN(midx) OVER (PARTITION BY o_custkey) AS cohort_midx,
         midx - MIN(midx) OVER (PARTITION BY o_custkey) AS age_months,
         cents, o_custkey
  FROM base
), grid AS (
  SELECT cohort_midx, age_months,
         CAST(SUM(cents) AS HUGEINT) AS rev,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active
  FROM aged GROUP BY cohort_midx, age_months
), curved AS (
  SELECT cohort_midx, age_months, n_active, rev,
         SUM(rev) OVER (PARTITION BY cohort_midx ORDER BY age_months
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
         SUM(rev) OVER (PARTITION BY cohort_midx) AS total_rev
  FROM grid
)
SELECT CAST((cohort_midx - 1) // 12 AS INT) AS cohort_year,
       CAST((cohort_midx - 1) % 12 + 1 AS INT) AS cohort_month,
       age_months, n_active,
       CAST(rev AS BIGINT) AS rev_cents,
       CAST(cum_rev AS BIGINT) AS cum_rev_cents,
       CAST((1000 * cum_rev) // total_rev AS BIGINT) AS ltv_permille
FROM curved
ORDER BY cohort_year, cohort_month, age_months
"""


# --------------------------------------------------- Spearman correlation


def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price per return
    flag — the nonparametric complement to [[corr_quantity_price]]'s
    Pearson: monotone-but-curved relationships (price grows with
    quantity but saturates) score high here while Pearson undersells
    them; the d²-shortcut form is WRONG under ties, so this is Pearson
    computed on tie-averaged ranks.

    Exactness: average ranks are kept integer as ``r2 = 2·rank_min +
    ties − 1`` (twice the average rank — the 2× cancels inside the
    correlation); the rank power sums accumulate in decimal(38,0)/
    HUGEINT and each moment numerator is rounded to double ONCE (the
    corr_quantity_price single-rounding convention).

    Scale shape: two rank windows per group over the fact table (the
    exact-quantile cost class), then one grouped aggregate."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.expr("CAST(FLOOR(l_quantity * 100) AS BIGINT)").alias("x"),
        F.expr("CAST(FLOOR(l_extendedprice * 100) AS BIGINT)").alias("y"),
    )
    g = "l_returnflag"

    def r2(col):
        wr = W.partitionBy(g).orderBy(col)
        wt = W.partitionBy(g, col)
        return (
            2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - 1
        ).cast("decimal(38,0)")

    ranked = base.select(g, r2("x").alias("rx"), r2("y").alias("ry"))
    n = F.count(F.lit(1))
    sx, sy = F.sum("rx"), F.sum("ry")
    sxy = F.sum(F.expr("CAST(rx * ry AS DECIMAL(38,0))"))
    sxx = F.sum(F.expr("CAST(rx * rx AS DECIMAL(38,0))"))
    syy = F.sum(F.expr("CAST(ry * ry AS DECIMAL(38,0))"))
    return (
        ranked.groupBy(g)
        .agg(
            n.cast("long").alias("n_rows"),
            ((n * sxy - sx * sy).cast("double")
             / F.sqrt(
                 (n * sxx - sx * sx).cast("double")
                 * (n * syy - sy * sy).cast("double")
             )).alias("spearman_rho"),
        )
        .orderBy(g)
    )


SPEARMAN_SQL = """
WITH base AS (
  SELECT l_returnflag,
         CAST(FLOOR(l_quantity * 100) AS BIGINT) AS x,
         CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), ranked AS (
  SELECT l_returnflag,
         CAST(2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY x)
              + COUNT(*) OVER (PARTITION BY l_returnflag, x) - 1 AS HUGEINT) AS rx,
         CAST(2 * RANK() OVER (PARTITION BY l_returnflag ORDER BY y)
              + COUNT(*) OVER (PARTITION BY l_returnflag, y) - 1 AS HUGEINT) AS ry
  FROM base
), s AS (
  SELECT l_returnflag, COUNT(*) AS n,
         SUM(rx) AS sx, SUM(ry) AS sy,
         SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
  FROM ranked GROUP BY l_returnflag
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS spearman_rho
FROM s ORDER BY l_returnflag
"""


# --------------------------------------------------- Pareto 80/20


PARETO_TARGET_PERMILLE = 800


def pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto 80/20 readout per nation: the SMALLEST number of customer
    accounts whose balances cover 80% of the nation's positive balance
    sheet — the actionable complement to [[customer_balance_gini]]'s
    coefficient (Gini says "concentrated", this says "these 37
    accounts ARE the book", the number a risk or key-account team
    actually staffs against).

    Exactness: accounts rank DESCENDING by cents (tie-break custkey);
    the cover count is the first rank whose running sum clears
    ``⌈0.8·total⌉`` — the comparison ``1000·cum ≥ 800·total`` stays in
    exact integers, no division at all until the final share permilles.

    Scale shape: one per-nation sort window over the customer dimension
    (the gini cost class) + one grouped aggregate."""
    from pyspark.sql import Window as W

    c = table(spark, sf_dir, "customer")
    base = c.select(
        "c_nationkey",
        "c_custkey",
        F.expr("CAST(FLOOR(c_acctbal * 100) AS BIGINT)").alias("cents"),
    ).filter(F.col("cents") > 0)
    w = W.partitionBy("c_nationkey").orderBy(F.desc("cents"), "c_custkey")
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    wt = W.partitionBy("c_nationkey")
    ranked = base.select(
        "c_nationkey",
        F.row_number().over(w).alias("rn"),
        F.sum(F.col("cents").cast("decimal(38,0)")).over(wrun).alias("cum"),
        F.sum(F.col("cents").cast("decimal(38,0)")).over(wt).alias("total"),
        F.count(F.lit(1)).over(wt).alias("n_accounts"),
    )
    return (
        ranked.filter(
            F.lit(1000) * F.col("cum") >= F.lit(PARETO_TARGET_PERMILLE) * F.col("total")
        )
        .groupBy("c_nationkey")
        .agg(
            F.min("rn").cast("long").alias("n_for_80pct"),
            F.first("n_accounts").cast("long").alias("n_accounts"),
        )
        .select(
            "c_nationkey",
            "n_for_80pct",
            "n_accounts",
            F.expr("div(1000 * n_for_80pct, n_accounts)").alias(
                "account_share_permille"
            ),
        )
        .orderBy("c_nationkey")
    )


PARETO_SQL = f"""
WITH base AS (
  SELECT c_nationkey, c_custkey, CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer WHERE CAST(FLOOR(c_acctbal * 100) AS BIGINT) > 0
), ranked AS (
  SELECT c_nationkey,
         ROW_NUMBER() OVER w AS rn,
         SUM(CAST(cents AS HUGEINT)) OVER (PARTITION BY c_nationkey ORDER BY cents DESC, c_custkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(CAST(cents AS HUGEINT)) OVER (PARTITION BY c_nationkey) AS total,
         COUNT(*) OVER (PARTITION BY c_nationkey) AS n_accounts
  FROM base
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY cents DESC, c_custkey)
)
SELECT c_nationkey,
       CAST(MIN(rn) AS BIGINT) AS n_for_80pct,
       CAST(MIN(n_accounts) AS BIGINT) AS n_accounts,
       CAST((1000 * MIN(rn)) // MIN(n_accounts) AS BIGINT) AS account_share_permille
FROM ranked
WHERE 1000 * cum >= {PARETO_TARGET_PERMILLE} * total
GROUP BY c_nationkey ORDER BY c_nationkey
"""


# --------------------------------------------- inter-order gap analysis

GAP_QUANTILES = (500, 900)


def order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap analysis per market segment: how often do
    customers come back, and how long between orders?  The cadence
    readout between [[rfm_segments]]' point-in-time scores and
    [[cohort_retention]]'s monthly grid — median/p90 gap days set
    reorder-reminder windows and churn thresholds ("a MACHINERY
    customer 200 days silent is normal; an AUTOMOBILE one is gone").

    Exactness: gaps are integer epoch-day differences
    (``div(unix_micros, 86400·10⁶)`` / ``epoch_us // 86400·10⁶`` — the
    orderdate column is a timestamp, so clearing to epoch days avoids
    any engine date-diff convention); consecutive-order adjacency is
    the total order (o_orderdate, o_orderkey); gap quantiles are exact
    rank-based values at integer-ceiling ranks ``div(p·n+999, 1000)``
    (the Theil–Sen convention); SUMS are emitted beside counts (never a
    mean — the single-rounding rule has nothing to round here).

    Scale shape: orders ⋈ customer keyed on custkey (fact-grain hash
    join), ONE custkey-partitioned lag window over the joined fact
    stream, a customer-grain grouped count, then per-segment rank
    windows over gap rows (the robust_length_stats cost class: one rank
    window per segment, range-partitioned at scale)."""
    from pyspark.sql import Window as W

    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        # NTZ → TIMESTAMP cast is identity under the session's UTC tz
        # (the rfm_segments lesson: unix_micros rejects TIMESTAMP_NTZ)
        F.expr(
            "div(unix_micros(CAST(o_orderdate AS TIMESTAMP)), 86400000000)"
        ).alias("eday"),
    )
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "o_custkey", "o_orderkey", "eday"
    )
    w = W.partitionBy("o_custkey").orderBy("eday", "o_orderkey")
    gaps = j.select(
        "segment",
        (F.col("eday") - F.lag("eday").over(w)).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())

    per_cust = j.groupBy("segment", "o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    seg_cust = per_cust.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("repeat_customers"),
    )

    wseg = W.partitionBy("segment").orderBy("gap_days")
    ranked = gaps.select(
        "segment",
        "gap_days",
        F.row_number().over(wseg).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("segment")).alias("n_gaps"),
    )
    picks = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"CAST(div({p} * n_gaps + 999, 1000) AS BIGINT)"),
                F.col("gap_days"),
            )
        ).alias(f"gap_p{p}_days")
        for p in GAP_QUANTILES
    ]
    seg_gaps = ranked.groupBy("segment").agg(
        F.max("n_gaps").cast("long").alias("n_gaps"),
        F.sum("gap_days").cast("long").alias("gap_days_sum"),
        *picks,
    )
    return (
        seg_cust.join(seg_gaps, "segment", "left")
        .select(
            "segment",
            "n_customers",
            "repeat_customers",
            F.expr("div(1000 * repeat_customers, n_customers)").alias(
                "repeat_permille"
            ),
            "n_gaps",
            "gap_days_sum",
            f"gap_p{GAP_QUANTILES[0]}_days",
            f"gap_p{GAP_QUANTILES[1]}_days",
        )
        .orderBy("segment")
    )


def _order_gap_sql() -> str:
    picks = ",\n         ".join(
        f"MAX(CASE WHEN rn = ({p} * n_gaps + 999) // 1000"
        f" THEN gap_days END) AS gap_p{p}_days"
        for p in GAP_QUANTILES
    )
    return f"""
WITH j AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey, o.o_orderkey,
         epoch_us(o.o_orderdate) // 86400000000 AS eday
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), gaps AS (
  SELECT segment,
         eday - LAG(eday) OVER (PARTITION BY o_custkey
                                ORDER BY eday, o_orderkey) AS gap_days
  FROM j
  QUALIFY gap_days IS NOT NULL
), seg_cust AS (
  SELECT segment,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS repeat_customers
  FROM (
    SELECT segment, o_custkey, COUNT(*) AS n_orders
    FROM j GROUP BY segment, o_custkey
  ) GROUP BY segment
), ranked AS (
  SELECT segment, gap_days,
         ROW_NUMBER() OVER (PARTITION BY segment ORDER BY gap_days) AS rn,
         COUNT(*) OVER (PARTITION BY segment) AS n_gaps
  FROM gaps
), seg_gaps AS (
  SELECT segment,
         CAST(MAX(n_gaps) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_days) AS BIGINT) AS gap_days_sum,
         {picks}
  FROM ranked GROUP BY segment
)
SELECT sc.segment, sc.n_customers, sc.repeat_customers,
       CAST((1000 * sc.repeat_customers) // sc.n_customers AS BIGINT)
         AS repeat_permille,
       sg.n_gaps, sg.gap_days_sum,
       sg.gap_p{GAP_QUANTILES[0]}_days, sg.gap_p{GAP_QUANTILES[1]}_days
FROM seg_cust sc LEFT JOIN seg_gaps sg ON sg.segment = sc.segment
ORDER BY sc.segment
"""


ORDER_GAP_SQL = _order_gap_sql()


# ----------------------------------------- customer migration matrix

MIGRATION_TIERS = ("none", "one", "multi")


def customer_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-tier migration matrix per market segment: each
    customer's order count in the FIRST half of the observed span vs
    the SECOND half, tiered none/one/multi — the churn-dynamics grid
    ([[order_gap_stats]] says how long between orders; this says who
    moved between silent, one-off and repeat engagement, the
    new/retained/churned/resurrected readout a growth dashboard is).

    Exactness: the span midpoint is integer epoch-day algebra
    ``mid = lo + div(hi − lo, 2)`` (orders ON the midpoint day belong
    to H1 — documented, both engines share the literal comparison);
    tiers are exact count thresholds; every cell is a plain count.
    Customers with zero orders in both halves cannot appear (the grid
    is over customers WITH orders; the all-none cell is structurally
    empty).

    Scale shape: one fact-grain conditional aggregate to customer grain
    (map-side combinable after the custkey shuffle), a broadcast-sized
    1-row bounds panel, the custkey ⋈ customer dim join, then a
    ≤(S·9)-row grouped count."""
    from pyspark.sql import Window as W

    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "div(unix_micros(CAST(o_orderdate AS TIMESTAMP)), 86400000000)"
        ).alias("eday"),
    )
    # span midpoint as a 1-row scalar panel broadcast back over the fact
    # stream — never a global window (that would single-partition the
    # whole orders table; bounded-grain window guard, round 10)
    bounds = orders.agg(
        (
            F.min("eday")
            + F.expr("div(CAST(max(eday) - min(eday) AS BIGINT), 2)")
        ).alias("mid")
    )
    flagged = orders.crossJoin(F.broadcast(bounds))
    per_cust = flagged.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("eday") <= F.col("mid"), 1).otherwise(0))
        .cast("long")
        .alias("n_h1"),
        F.sum(F.when(F.col("eday") > F.col("mid"), 1).otherwise(0))
        .cast("long")
        .alias("n_h2"),
    )

    def tier(col):
        return F.expr(
            f"CASE WHEN {col} = 0 THEN '{MIGRATION_TIERS[0]}'"
            f" WHEN {col} = 1 THEN '{MIGRATION_TIERS[1]}'"
            f" ELSE '{MIGRATION_TIERS[2]}' END"
        )

    joined = per_cust.join(cust, per_cust.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        tier("n_h1").alias("tier_h1"),
        tier("n_h2").alias("tier_h2"),
    )
    cells = joined.groupBy("segment", "tier_h1", "tier_h2").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    wseg = W.partitionBy("segment")
    return (
        cells.withColumn("seg_total", F.sum("n_customers").over(wseg))
        .select(
            "segment",
            "tier_h1",
            "tier_h2",
            "n_customers",
            F.expr("div(1000 * n_customers, seg_total)").alias("share_permille"),
        )
        .orderBy("segment", "tier_h1", "tier_h2")
    )


MIGRATION_SQL = f"""
WITH base AS (
  SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS eday
  FROM orders
), flagged AS (
  SELECT o_custkey, eday,
         MIN(eday) OVER () + (MAX(eday) OVER () - MIN(eday) OVER ()) // 2
           AS mid
  FROM base
), per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN eday <= mid THEN 1 ELSE 0 END) AS BIGINT) AS n_h1,
         CAST(SUM(CASE WHEN eday > mid THEN 1 ELSE 0 END) AS BIGINT) AS n_h2
  FROM flagged GROUP BY o_custkey
), cells AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN n_h1 = 0 THEN '{MIGRATION_TIERS[0]}'
              WHEN n_h1 = 1 THEN '{MIGRATION_TIERS[1]}'
              ELSE '{MIGRATION_TIERS[2]}' END AS tier_h1,
         CASE WHEN n_h2 = 0 THEN '{MIGRATION_TIERS[0]}'
              WHEN n_h2 = 1 THEN '{MIGRATION_TIERS[1]}'
              ELSE '{MIGRATION_TIERS[2]}' END AS tier_h2,
         CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
  GROUP BY 1, 2, 3
)
SELECT segment, tier_h1, tier_h2, n_customers,
       CAST((1000 * n_customers)
            // SUM(n_customers) OVER (PARTITION BY segment) AS BIGINT)
         AS share_permille
FROM cells ORDER BY segment, tier_h1, tier_h2
"""


# --------------------------------------------- exact-integer OLS fit

OLS_SLOPE_SCALE = 100_000  # 1e5 × cents/centiunit = millicents per unit


def ols_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares fit of extended price (cents) on quantity
    per return flag — the EFFECT SIZE next to [[corr_quantity_price]]'s
    unitless correlation and [[spearman_qty_price]]'s rank view: the
    slope is the marginal cents a unit adds (the empirical unit price),
    the intercept the fixed offset a zero-quantity extrapolation pays.

    Exactness (no double anywhere): power sums in integer CENTI-units
    (decimal(38,0) / HUGEINT); slope = num/den with
    num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)² ≥ 0, quantized via the
    TWO-STAGE long division ``div(a, den)·S + div(pmod(a, den)·S, den)``
    (the priority_scores lesson: a single a·S product wraps decimal(38)
    once n passes ~10¹¹ rows — the split is exact over the full domain),
    sign-split outside.  Intercept reuses the QUANTIZED slope
    (deterministic shared algebra): ``div(S·Σy − slope_q·Σx, S·n)``,
    sign-split.  The 10⁵ scale on cents/centiunit lands the slope in
    millicents per unit.

    Scale shape: ONE map-side-combinable grouped aggregate over the
    fact stream; 3-row tail algebra.  The power sums are ADDITIVE, so
    the streaming twin (streaming/ols.py) stages them per batch and
    drains through `ols_from_partials`."""
    return ols_from_partials(ols_partials(table(spark, sf_dir, "lineitem")))


def ols_partials(li: DataFrame) -> DataFrame:
    """Per-returnflag integer power sums — the additive staged unit."""
    cx = (_dec("l_quantity") * F.lit(100)).cast("decimal(38,0)")
    cy = (_dec("l_extendedprice") * F.lit(100)).cast("decimal(38,0)")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(cx).alias("sx"),
        F.sum(cy).alias("sy"),
        F.sum((cx * cy).cast("decimal(38,0)")).alias("sxy"),
        F.sum((cx * cx).cast("decimal(38,0)")).alias("sxx"),
    )


def ols_from_partials(agg: DataFrame) -> DataFrame:
    """Fit tail over summed power sums (shared with the streaming drain)."""
    s = OLS_SLOPE_SCALE
    fit = agg.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        F.expr("n * sxy - sx * sy").alias("num"),
        F.expr("n * sxx - sx * sx").alias("den"),
    ).select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        F.expr(
            f"CAST(CASE WHEN den = 0 THEN NULL"
            f" WHEN num >= 0 THEN div(num, den) * {s}"
            f"   + div(pmod(num, den) * {s}, den)"
            f" ELSE -(div(-num, den) * {s} + div(pmod(-num, den) * {s}, den))"
            f" END AS BIGINT)"
        ).alias("slope_millicents_per_unit"),
    )
    out = fit.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.col("sx").cast("long").alias("sum_centiqty"),
        F.col("sy").cast("long").alias("sum_cents"),
        "slope_millicents_per_unit",
        F.expr(
            f"CAST(CASE WHEN slope_millicents_per_unit IS NULL THEN NULL"
            f" WHEN {s} * sy - slope_millicents_per_unit * sx >= 0"
            f" THEN div({s} * sy - slope_millicents_per_unit * sx, {s} * n)"
            f" ELSE -div(-({s} * sy - slope_millicents_per_unit * sx), {s} * n)"
            f" END AS BIGINT)"
        ).alias("intercept_cents"),
    )
    return out.orderBy("l_returnflag")


OLS_SQL = f"""
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sx,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)
             * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
           AS sxy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)
             * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sxx
  FROM lineitem GROUP BY l_returnflag
), fit AS (
  SELECT l_returnflag, n, sx, sy,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den
  FROM s
), sloped AS (
  SELECT l_returnflag, n, sx, sy,
         CAST(CASE WHEN den = 0 THEN NULL
              WHEN num >= 0 THEN (num // den) * {OLS_SLOPE_SCALE}
                + ((num % den) * {OLS_SLOPE_SCALE}) // den
              ELSE -(((-num) // den) * {OLS_SLOPE_SCALE}
                + (((-num) % den) * {OLS_SLOPE_SCALE}) // den)
              END AS BIGINT) AS slope_millicents_per_unit
  FROM fit
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_rows,
       CAST(sx AS BIGINT) AS sum_centiqty,
       CAST(sy AS BIGINT) AS sum_cents,
       slope_millicents_per_unit,
       CAST(CASE WHEN slope_millicents_per_unit IS NULL THEN NULL
            WHEN {OLS_SLOPE_SCALE} * sy - slope_millicents_per_unit * sx >= 0
            THEN ({OLS_SLOPE_SCALE} * sy - slope_millicents_per_unit * sx)
                 // ({OLS_SLOPE_SCALE} * n)
            ELSE -((-({OLS_SLOPE_SCALE} * sy - slope_millicents_per_unit * sx))
                 // ({OLS_SLOPE_SCALE} * n))
            END AS BIGINT) AS intercept_cents
FROM sloped ORDER BY l_returnflag
"""


# --------------------------------------------- Simpson's paradox audit


def simpson_flip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit on the price~quantity relation: the
    POOLED OLS slope next to every per-returnflag slope, counting sign
    flips — the aggregation trap made a query ("the discount helps in
    every segment but hurts overall" is this audit firing).  Any
    dashboard that reports a pooled trend over grouped data needs this
    row before shipping the headline number.

    Exactness: both levels reuse [[ols_price_quantity]]'s certified
    machinery verbatim — [[ols_partials]] once, the per-group fit AND
    the pooled fit (partials summed to one row, the additivity that
    makes the streaming twin work) through the same two-stage-division
    tail — so the two slopes being compared carry identical
    quantization by construction; a sign flip is an integer comparison.

    Scale shape: ONE map-side-combinable grouped aggregate (the shared
    partials), 3-row + 1-row tails."""
    li = table(spark, sf_dir, "lineitem")
    parts = ols_partials(li)
    per_group = ols_from_partials(parts).select(
        "l_returnflag", F.col("slope_millicents_per_unit").alias("slope_g")
    )
    pooled_parts = parts.groupBy(F.lit("ALL").alias("l_returnflag")).agg(
        F.sum("n").cast("decimal(38,0)").alias("n"),
        F.sum("sx").cast("decimal(38,0)").alias("sx"),
        F.sum("sy").cast("decimal(38,0)").alias("sy"),
        F.sum("sxy").cast("decimal(38,0)").alias("sxy"),
        F.sum("sxx").cast("decimal(38,0)").alias("sxx"),
    )
    pooled = ols_from_partials(pooled_parts).select(
        F.col("slope_millicents_per_unit").alias("pooled_slope")
    )
    return (
        per_group.crossJoin(F.broadcast(pooled))
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.max("pooled_slope").cast("long").alias("pooled_slope_millicents"),
            F.min("slope_g").cast("long").alias("min_group_slope"),
            F.max("slope_g").cast("long").alias("max_group_slope"),
            F.sum(
                F.when(F.expr("sign(slope_g) != sign(pooled_slope)"), 1).otherwise(0)
            ).cast("long").alias("n_sign_flips"),
        )
        .select(
            "n_groups",
            "pooled_slope_millicents",
            "min_group_slope",
            "max_group_slope",
            "n_sign_flips",
            (F.col("n_sign_flips") > 0).alias("simpson_flag"),
        )
    )


SIMPSON_SQL = f"""
WITH s AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sx,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)
             * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
           AS sxy,
         SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)
             * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS sxx
  FROM lineitem GROUP BY l_returnflag
), lvl AS (
  SELECT l_returnflag, n, sx, sy, sxy, sxx FROM s
  UNION ALL
  SELECT 'ALL', SUM(n), SUM(sx), SUM(sy), SUM(sxy), SUM(sxx) FROM s
), fit AS (
  SELECT l_returnflag,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den
  FROM lvl
), sloped AS (
  SELECT l_returnflag,
         CAST(CASE WHEN den = 0 THEN NULL
              WHEN num >= 0 THEN (num // den) * {OLS_SLOPE_SCALE}
                + ((num % den) * {OLS_SLOPE_SCALE}) // den
              ELSE -(((-num) // den) * {OLS_SLOPE_SCALE}
                + (((-num) % den) * {OLS_SLOPE_SCALE}) // den)
              END AS BIGINT) AS slope
  FROM fit
)
SELECT CAST((SELECT COUNT(*) FROM sloped WHERE l_returnflag != 'ALL') AS BIGINT)
         AS n_groups,
       (SELECT slope FROM sloped WHERE l_returnflag = 'ALL')
         AS pooled_slope_millicents,
       (SELECT MIN(slope) FROM sloped WHERE l_returnflag != 'ALL')
         AS min_group_slope,
       (SELECT MAX(slope) FROM sloped WHERE l_returnflag != 'ALL')
         AS max_group_slope,
       CAST((SELECT COUNT(*) FROM sloped g WHERE g.l_returnflag != 'ALL'
             AND SIGN(g.slope) != SIGN((SELECT slope FROM sloped
                                        WHERE l_returnflag = 'ALL')))
         AS BIGINT) AS n_sign_flips,
       (SELECT COUNT(*) FROM sloped g WHERE g.l_returnflag != 'ALL'
        AND SIGN(g.slope) != SIGN((SELECT slope FROM sloped
                                   WHERE l_returnflag = 'ALL'))) > 0
         AS simpson_flag
"""


# --------------------------------------------- supplier lead time

LEADTIME_QUANTILES = (500, 900)


def supplier_leadtime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier lead-time scorecard per nation: exact p50/p90 of the
    order→ship lag in days, late-line share against a fixed SLA — the
    operational complement to [[revenue_hhi_stats]]' concentration view
    (a nation can be cheap AND slow; procurement reads both before
    moving volume).

    Exactness: lag = integer epoch-day difference (the order_gap_stats
    clearing); rank quantiles at integer-ceiling ranks over a value
    HISTOGRAM (the value_percentiles lesson: the rank window scales
    with distinct lag values per nation, not lineitems); the SLA test
    is an integer comparison; SUMS beside counts.

    Scale shape: fact ⋈ broadcast-able supplier dim ⋈ orders on
    orderkey (the fact stream's own key — co-partitioned at scale),
    folded to (nation, lag)-grain counts, then nation-partitioned
    cumulative windows over histogram rows."""
    from pyspark.sql import Window as W

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "div(unix_micros(CAST(l_shipdate AS TIMESTAMP)), 86400000000)"
        ).alias("ship_day"),
    )
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.expr(
            "div(unix_micros(CAST(o_orderdate AS TIMESTAMP)), 86400000000)"
        ).alias("order_day"),
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    lag = (
        li.join(orders, "l_orderkey")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_nationkey").alias("nation"),
            (F.col("ship_day") - F.col("order_day")).alias("lag_days"),
        )
    )
    hist = lag.groupBy("nation", "lag_days").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wn = W.partitionBy("nation").orderBy("lag_days")
    cum = hist.select(
        "nation",
        "lag_days",
        "c",
        F.sum("c").over(wn).alias("cum"),
        F.sum("c").over(W.partitionBy("nation")).alias("n"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"CAST(div({p} * n + 999, 1000) AS BIGINT)"),
                F.col("lag_days"),
            )
        ).alias(f"lag_p{p}_days")
        for p in LEADTIME_QUANTILES
    ]
    return (
        cum.groupBy("nation")
        .agg(
            F.max("n").cast("long").alias("n_lines"),
            F.sum(F.col("lag_days") * F.col("c")).cast("long").alias("lag_days_sum"),
            *picks,
            F.sum(F.when(F.col("lag_days") > SLA_LEADTIME_DAYS, F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_late"),
        )
        .select(
            "nation",
            "n_lines",
            "lag_days_sum",
            f"lag_p{LEADTIME_QUANTILES[0]}_days",
            f"lag_p{LEADTIME_QUANTILES[1]}_days",
            "n_late",
            F.expr("div(1000 * n_late, n_lines)").alias("late_permille"),
        )
        .orderBy("nation")
    )


SLA_LEADTIME_DAYS = 90


def _leadtime_sql() -> str:
    picks = ",\n       ".join(
        f"MIN(CASE WHEN cum >= ({p} * n + 999) // 1000"
        f" THEN lag_days END) AS lag_p{p}_days"
        for p in LEADTIME_QUANTILES
    )
    return f"""
WITH lag AS (
  SELECT s.s_nationkey AS nation,
         epoch_us(l.l_shipdate) // 86400000000
           - epoch_us(o.o_orderdate) // 86400000000 AS lag_days
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
), hist AS (
  SELECT nation, lag_days, CAST(COUNT(*) AS BIGINT) AS c
  FROM lag GROUP BY nation, lag_days
), cum AS (
  SELECT nation, lag_days, c,
         SUM(c) OVER (PARTITION BY nation ORDER BY lag_days) AS cum,
         SUM(c) OVER (PARTITION BY nation) AS n
  FROM hist
)
SELECT nation,
       CAST(MAX(n) AS BIGINT) AS n_lines,
       CAST(SUM(lag_days * c) AS BIGINT) AS lag_days_sum,
       {picks},
       CAST(SUM(CASE WHEN lag_days > {SLA_LEADTIME_DAYS} THEN c ELSE 0 END)
            AS BIGINT) AS n_late,
       CAST((1000 * SUM(CASE WHEN lag_days > {SLA_LEADTIME_DAYS} THEN c ELSE 0 END))
            // MAX(n) AS BIGINT) AS late_permille
FROM cum GROUP BY nation ORDER BY nation
"""


LEADTIME_SQL = _leadtime_sql()


# --------------------------------------------- open-order aging

AGING_BUCKETS = ((0, 30), (31, 90), (91, 365), (366, None))


def backlog_aging_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging report per priority: orders still open ('O') at
    the corpus's latest order date, bucketed by age — the
    accounts-receivable/ops staple ("what's been sitting >90 days and
    how much money is it") that every backlog review opens with.

    Exactness: age = integer epoch-day difference against the global
    max order date (a lazy 1-row panel — no eager driver count); value
    sums FLOOR to cents before summing (the house money rule); bucket
    edges are integer comparisons; the bucket label set is fixed so the
    output grain is ≤ |priorities| × 4.

    Scale shape: one fact scan + broadcast 1-row max-date panel + a
    tiny grouped count."""
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.expr(
            "div(unix_micros(CAST(o_orderdate AS TIMESTAMP)), 86400000000)"
        ).alias("eday"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    maxd = orders.groupBy().agg(F.max("eday").alias("max_day"))
    aged = (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_orderpriority",
            (F.col("max_day") - F.col("eday")).alias("age_days"),
            "cents",
        )
    )
    bucket = F.expr(
        "CASE WHEN age_days <= 30 THEN '0-30'"
        " WHEN age_days <= 90 THEN '31-90'"
        " WHEN age_days <= 365 THEN '91-365'"
        " ELSE '365+' END"
    )
    wt = W.partitionBy("o_orderpriority")
    return (
        aged.groupBy("o_orderpriority", bucket.alias("age_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("open_cents"),
        )
        .withColumn("prio_total", F.sum("n_orders").over(wt))
        .select(
            "o_orderpriority",
            "age_bucket",
            "n_orders",
            "open_cents",
            F.expr("div(1000 * n_orders, prio_total)").alias("share_permille"),
        )
        .orderBy("o_orderpriority", "age_bucket")
    )


BACKLOG_AGING_SQL = """
WITH base AS (
  SELECT o_orderstatus, o_orderpriority,
         epoch_us(o_orderdate) // 86400000000 AS eday,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), maxd AS (
  SELECT MAX(eday) AS max_day FROM base
), aged AS (
  SELECT o_orderpriority, max_day - eday AS age_days, cents
  FROM base, maxd WHERE o_orderstatus = 'O'
), bucketed AS (
  SELECT o_orderpriority,
         CASE WHEN age_days <= 30 THEN '0-30'
              WHEN age_days <= 90 THEN '31-90'
              WHEN age_days <= 365 THEN '91-365'
              ELSE '365+' END AS age_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(cents) AS BIGINT) AS open_cents
  FROM aged GROUP BY 1, 2
)
SELECT o_orderpriority, age_bucket, n_orders, open_cents,
       CAST((1000 * n_orders)
            // SUM(n_orders) OVER (PARTITION BY o_orderpriority) AS BIGINT)
         AS share_permille
FROM bucketed ORDER BY o_orderpriority, age_bucket
"""


# --------------------------------------------- revenue growth (MoM/YoY)


def revenue_growth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month and year-over-year growth —
    the finance dashboard's first page, exact: [[cohort_ltv_curve]]
    slices revenue by cohort, this reads the top line's trajectory
    (MoM catches the cliff, YoY sees through seasonality — both or
    you're guessing).

    Exactness: months are the exact integer index ``year·12 + month``
    (the cohort_ltv convention — no months_between float semantics);
    revenue FLOORs to cents per order BEFORE the sum; growth permilles
    sign-split ``div(1000·(cur − prev), prev)`` (revenue deltas go
    negative; div truncates, floor floors — the centroid lesson); a
    month with no 12-back sibling in the OBSERVED series emits NULL
    YoY, never a wrong join to the positionally-previous row (the
    comparison joins on the month INDEX, not on lag position).

    Scale shape: one fact-grain grouped sum to month grain (map-side
    combinable), then month-grain self-joins on idx−1 / idx−12."""
    orders = table(spark, sf_dir, "orders").select(
        F.expr("year(o_orderdate) * 12 + month(o_orderdate)").alias("midx"),
        F.expr("year(o_orderdate)").alias("yr"),
        F.expr("month(o_orderdate)").alias("mo"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    monthly = orders.groupBy("midx", "yr", "mo").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("rev_cents"),
    )
    prev_m = monthly.select(
        (F.col("midx") + 1).alias("midx"), F.col("rev_cents").alias("prev_rev")
    )
    prev_y = monthly.select(
        (F.col("midx") + 12).alias("midx"), F.col("rev_cents").alias("yoy_rev")
    )

    def growth(cur, prev):
        return F.expr(
            f"CAST(CASE WHEN {prev} IS NULL OR {prev} = 0 THEN NULL"
            f" WHEN {cur} >= {prev} THEN div(1000 * ({cur} - {prev}), {prev})"
            f" ELSE -div(1000 * ({prev} - {cur}), {prev}) END AS BIGINT)"
        )

    return (
        monthly.join(prev_m, "midx", "left")
        .join(prev_y, "midx", "left")
        .select(
            "yr",
            "mo",
            "n_orders",
            "rev_cents",
            growth("rev_cents", "prev_rev").alias("mom_permille"),
            growth("rev_cents", "yoy_rev").alias("yoy_permille"),
        )
        .orderBy("yr", "mo")
    )


REVENUE_GROWTH_SQL = """
WITH monthly AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS midx,
         year(o_orderdate) AS yr, month(o_orderdate) AS mo,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1, 2, 3
)
SELECT m.yr, m.mo, m.n_orders, m.rev_cents,
       CAST(CASE WHEN pm.rev_cents IS NULL OR pm.rev_cents = 0 THEN NULL
            WHEN m.rev_cents >= pm.rev_cents
            THEN (1000 * (m.rev_cents - pm.rev_cents)) // pm.rev_cents
            ELSE -((1000 * (pm.rev_cents - m.rev_cents)) // pm.rev_cents)
            END AS BIGINT) AS mom_permille,
       CAST(CASE WHEN py.rev_cents IS NULL OR py.rev_cents = 0 THEN NULL
            WHEN m.rev_cents >= py.rev_cents
            THEN (1000 * (m.rev_cents - py.rev_cents)) // py.rev_cents
            ELSE -((1000 * (py.rev_cents - m.rev_cents)) // py.rev_cents)
            END AS BIGINT) AS yoy_permille
FROM monthly m
LEFT JOIN monthly pm ON pm.midx = m.midx - 1
LEFT JOIN monthly py ON py.midx = m.midx - 12
ORDER BY m.yr, m.mo
"""


# --------------------------------------------- discount band ROI


def discount_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo ROI by discount band: for 0% / 1–3% / 4–6% / 7%+ discount
    lines, the volume and money given up — does a deeper discount buy
    enough quantity?  [[q1_pricing_summary]] sums the ledger flat;
    [[ols_price_quantity]] fits the marginal price; this is the
    merchandising readout in the middle ("the 7%+ band moved 12% more
    units per line and cost 9% of gross" is the promo decision).

    Exactness: band from the exact centi-discount integer
    (``CAST(discount·100 AS DECIMAL)`` is exact for 2-dp fractions);
    per-line net FLOORs ONCE from the exact decimal product
    ``price·(1−disc)·100`` (decimal arithmetic both engines — no IEEE
    product in the money path); integer sums, floor-div permilles.

    Scale shape: one row-local projection + a 4-group map-side
    combinable aggregate."""
    price = _dec("l_extendedprice")
    disc = _dec("l_discount")
    one = F.lit(1).cast("decimal(18,2)")
    li = table(spark, sf_dir, "lineitem").select(
        F.expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "disc_centi"
        ),
        F.expr("CAST(floor(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT)").alias(
            "qty_centi"
        ),
        F.expr("CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)").alias(
            "gross_cents"
        ),
        (F.floor((price * (one - disc)) * F.lit(100))).cast("bigint").alias(
            "net_cents"
        ),
    )
    band = F.expr(
        "CASE WHEN disc_centi = 0 THEN '0'"
        " WHEN disc_centi <= 3 THEN '1-3'"
        " WHEN disc_centi <= 6 THEN '4-6'"
        " ELSE '7+' END"
    )
    return (
        li.groupBy(band.alias("disc_band"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("qty_centi").cast("long").alias("qty_centi_sum"),
            F.sum("gross_cents").cast("long").alias("gross_cents"),
            F.sum("net_cents").cast("long").alias("net_cents"),
        )
        .select(
            "disc_band",
            "n_lines",
            "qty_centi_sum",
            "gross_cents",
            "net_cents",
            F.expr("div(1000 * net_cents, gross_cents)").alias("kept_permille"),
            F.expr("div(qty_centi_sum, n_lines)").alias("qty_centi_per_line"),
        )
        .orderBy("disc_band")
    )


DISCOUNT_BAND_SQL = """
WITH base AS (
  SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_centi,
         CAST(floor(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS qty_centi,
         CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS gross_cents,
         CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2))) * 100) AS BIGINT)
           AS net_cents
  FROM lineitem
), banded AS (
  SELECT CASE WHEN disc_centi = 0 THEN '0'
              WHEN disc_centi <= 3 THEN '1-3'
              WHEN disc_centi <= 6 THEN '4-6'
              ELSE '7+' END AS disc_band,
         qty_centi, gross_cents, net_cents
  FROM base
)
SELECT disc_band,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(qty_centi) AS BIGINT) AS qty_centi_sum,
       CAST(SUM(gross_cents) AS BIGINT) AS gross_cents,
       CAST(SUM(net_cents) AS BIGINT) AS net_cents,
       CAST((1000 * SUM(net_cents)) // SUM(gross_cents) AS BIGINT)
         AS kept_permille,
       CAST(SUM(qty_centi) // COUNT(*) AS BIGINT) AS qty_centi_per_line
FROM banded GROUP BY disc_band ORDER BY disc_band
"""


# --------------------------------------------- single-source exposure


def single_source_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain single-source exposure: parts whose entire shipment
    history comes from ONE supplier, by part brand — the procurement
    risk register ("if that supplier fails, these SKUs stop").  The
    concentration metrics ([[revenue_hhi_stats]]) score the revenue
    side; this counts the parts with NO fallback at all.

    Exactness: supplier breadth is an exact COUNT DISTINCT per part;
    brand comes from the broadcast part dim; shares are floor-div
    permilles.

    Scale shape: one (partkey → distinct suppliers) fact fold, a
    broadcast dim join, a brand-grain count."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    breadth = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers")
    )
    return (
        breadth.join(
            F.broadcast(part), breadth.l_partkey == part.p_partkey
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum((F.col("n_suppliers") == 1).cast("long"))
            .cast("long")
            .alias("n_single_source"),
        )
        .select(
            "p_brand",
            "n_parts",
            "n_single_source",
            F.expr("div(1000 * n_single_source, n_parts)").alias(
                "single_source_permille"
            ),
        )
        .orderBy("p_brand")
    )


SINGLE_SOURCE_SQL = """
WITH breadth AS (
  SELECT l_partkey, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(CASE WHEN b.n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_single_source,
       CAST((1000 * SUM(CASE WHEN b.n_suppliers = 1 THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS single_source_permille
FROM breadth b JOIN part p ON p.p_partkey = b.l_partkey
GROUP BY p.p_brand ORDER BY p.p_brand
"""
