"""Remaining TPC-H query shapes, adapted to the driver's synthetic schema.

The driver tables (TESTDATA.md) are TPC-H-ish but lack ``partsupp``,
``l_commitdate``/``l_receiptdate``/``l_shipmode`` and the comment/phone
columns, so each query here keeps the *plan shape* of its TPC-H namesake
(correlated EXISTS, scalar subquery vs global aggregate, left-join
distribution, view + argmax, double NOT-EXISTS decorrelation, anti join)
re-parameterized onto the available columns. Reference behaviors covered:
none directly (kukur has no SQL engine — SURVEY.md §2.3 notes "no general
join operator"); these queries are the beyond-reference relational surface
that makes the Spark engine a superset.

Determinism conventions are identical to ``workloads.py``: decimal-bridged
sums in micro-units (``*_e6`` bigint columns), epoch-microsecond
timestamps, explicit total tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark.io import load_table, persist_once
from kukur_spark.registry import register


def _dsum(col) -> Column:
    """Exact decimal-bridged sum in micro-units (bigint) — see workloads.dsum."""
    if isinstance(col, str):
        col = F.col(col)
    return F.floor(F.sum(col.cast("decimal(30,10)")) * 1_000_000).cast("long")


# ---------------------------------------------------------------------------
# q4 — order priority checking: correlated EXISTS with an inequality on the
# outer row (l_shipdate > o_orderdate stands in for commitdate < receiptdate).
# ---------------------------------------------------------------------------
def tpch_q4_priority(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    lineitem = load_table(spark, sf, "lineitem")
    matched = orders.join(
        lineitem,
        (orders.o_orderkey == lineitem.l_orderkey)
        & (lineitem.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


TPCH_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q8 — national market share: 6-table join, numerator/denominator conditional
# aggregation, integer-exact share in parts-per-million.
# ---------------------------------------------------------------------------
def tpch_q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    lineitem = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    customer = load_table(spark, sf, "customer")
    supplier = load_table(spark, sf, "supplier")
    part = load_table(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    nation_c = load_table(spark, sf, "nation").alias("nc")
    nation_s = load_table(spark, sf, "nation").alias("ns")
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "AMERICA")

    joined = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(nation_c),
            customer.c_nationkey == F.col("nc.n_nationkey"),
        )
        .join(
            F.broadcast(region), F.col("nc.n_regionkey") == region.r_regionkey
        )
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(
            F.broadcast(nation_s),
            supplier.s_nationkey == F.col("ns.n_nationkey"),
        )
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    yearly = joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        _dsum(F.when(F.col("ns.n_name") == "NATION_7", volume).otherwise(0)).alias(
            "nation_volume_e6"
        ),
        _dsum(volume).alias("total_volume_e6"),
    )
    return yearly.select(
        "o_year",
        "nation_volume_e6",
        "total_volume_e6",
        # decimal bridge: the e6×1e6 product overflows BIGINT at ~100× sf0.1
        F.expr(
            "CAST(CAST(nation_volume_e6 AS DECIMAL(38,0)) * 1000000"
            " div total_volume_e6 AS BIGINT)"
        ).alias("share_ppm"),
    ).orderBy("o_year")


TPCH_Q8_SQL = """
WITH yearly AS (
  SELECT
    EXTRACT(year FROM o_orderdate) AS o_year,
    CAST(FLOOR(SUM(CAST(CASE WHEN ns.n_name = 'NATION_7'
        THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS nation_volume_e6,
    CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS total_volume_e6
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region ON nc.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
    AND p_type = 'ECONOMY'
    AND r_name = 'AMERICA'
  GROUP BY o_year
)
SELECT o_year, nation_volume_e6, total_volume_e6,
  CAST(CAST(nation_volume_e6 AS HUGEINT) * 1000000 // total_volume_e6 AS BIGINT)
    AS share_ppm
FROM yearly
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# q9 — product-type profit by nation and year (profit = discounted revenue;
# no partsupp table, so supplycost is absent from the formula).
# ---------------------------------------------------------------------------
def tpch_q9_profit(spark: SparkSession, sf: str) -> DataFrame:
    lineitem = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    part = load_table(spark, sf, "part").filter(F.col("p_name").contains("gear"))
    joined = (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_dsum(profit).alias("profit_e6"))
        .orderBy(F.col("supp_nation").asc(), F.col("o_year").desc())
    )


TPCH_Q9_SQL = """
SELECT n_name AS supp_nation, EXTRACT(year FROM o_orderdate) AS o_year,
  CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) * 1000000) AS BIGINT)
    AS profit_e6
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, o_year
ORDER BY supp_nation ASC, o_year DESC
"""


# ---------------------------------------------------------------------------
# q11 — important stock: per-part value vs a scalar-subquery global fraction.
# Integer-exact: part_value_e6 * 1000 > total_e6 avoids any float threshold.
# ---------------------------------------------------------------------------
def tpch_q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    lineitem = load_table(spark, sf, "lineitem")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_4")
    )
    scoped = lineitem.join(
        F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey
    ).join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
    # l_extendedprice is a 2-decimal price stored as double: go through
    # integer cents so price*quantity is exact bigint arithmetic (a direct
    # double->decimal cast of the product diverges between engines at the
    # 17th significant digit).
    value_cents = F.round(F.col("l_extendedprice") * 100).cast("long") * F.col(
        "l_quantity"
    ).cast("long")
    per_part = scoped.groupBy("l_partkey").agg(
        (F.sum(value_cents) * 10_000).alias("value_e6")
    )
    per_part = persist_once(per_part)  # ≤ |parts| rows; feeds both the
    # threshold scalar and the filter branch — without it the
    # scan+join+aggregate runs twice
    total = per_part.agg(F.sum("value_e6").alias("total_e6"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_e6") * 1000 > F.col("total_e6"))
        .select("l_partkey", "value_e6")
        .orderBy(F.col("value_e6").desc(), F.col("l_partkey").asc())
    )


TPCH_Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey,
    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) * 10000 AS BIGINT)
      AS value_e6
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_4')
  GROUP BY l_partkey
)
SELECT l_partkey, value_e6
FROM per_part
WHERE value_e6 * 1000 > (SELECT SUM(value_e6) FROM per_part)
ORDER BY value_e6 DESC, l_partkey ASC
"""


# ---------------------------------------------------------------------------
# q12 — shipping-priority classification: join + dual conditional aggregation
# (late = shipped more than 90 days after the order date; returnflag stands
# in for the absent l_shipmode).
# ---------------------------------------------------------------------------
def tpch_q12_late_lines(spark: SparkSession, sf: str) -> DataFrame:
    lineitem = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf, "orders")
    joined = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


TPCH_Q12_SQL = """
SELECT l_returnflag,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q13 — customer order-count distribution: left outer join preserved through
# a two-level aggregation.
# ---------------------------------------------------------------------------
def tpch_q13_custdist(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_customer = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_customer.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


TPCH_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# q15 — top supplier: revenue view + scalar-max selection (ties kept, as in
# the spec's note on multiple maximum-revenue suppliers).
# ---------------------------------------------------------------------------
def tpch_q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    lineitem = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    supplier = load_table(spark, sf, "supplier")
    revenue = lineitem.groupBy("l_suppkey").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue_e6"
        )
    )
    revenue = persist_once(revenue)  # ≤ |suppliers| rows; feeds the MAX
    # scalar and the filter
    max_rev = revenue.agg(F.max("total_revenue_e6").alias("max_revenue_e6"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue_e6") == F.col("max_revenue_e6"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_e6")
        .orderBy("s_suppkey")
    )


TPCH_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
    CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) * 1000000) AS BIGINT)
      AS total_revenue_e6
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue_e6
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue_e6 = (SELECT MAX(total_revenue_e6) FROM revenue)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# q16 — supplier diversity per part group: COUNT(DISTINCT) after an anti-join
# exclusion list (negative-balance suppliers stand in for complaint filter).
# ---------------------------------------------------------------------------
def tpch_q16_part_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    lineitem = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_size").isin(1, 5, 9, 13, 17))
    )
    excluded = load_table(spark, sf, "supplier").filter(F.col("s_acctbal") < 0)
    kept = lineitem.join(
        F.broadcast(excluded),
        lineitem.l_suppkey == excluded.s_suppkey,
        "left_anti",
    )
    return (
        kept.join(F.broadcast(part), kept.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


TPCH_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13, 17)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


# ---------------------------------------------------------------------------
# q21 — suppliers who kept orders waiting: EXISTS (another supplier in the
# order) AND NOT EXISTS (another supplier also returned) — the classic
# double-decorrelation shape, on returnflag instead of receipt/commit dates.
# ---------------------------------------------------------------------------
def tpch_q21_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    lineitem = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    l1 = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == orders.o_orderkey, "left_semi")
        .alias("l1")
    )
    l2 = lineitem.alias("l2")
    l3 = lineitem.filter(F.col("l_returnflag") == "R").alias("l3")
    waited = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        waited.join(
            F.broadcast(supplier), F.col("l1.l_suppkey") == supplier.s_suppkey
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


TPCH_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE l1.l_returnflag = 'R'
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  AND EXISTS (
    SELECT 1 FROM orders
    WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
  )
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q22 — global sales opportunity: scalar AVG subquery + NOT EXISTS anti join
# (nationkey stands in for the phone country code).
# ---------------------------------------------------------------------------
def tpch_q22_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    customer = load_table(spark, sf, "customer")
    # "idle" = no orders since 2000 (every synthetic customer has *some*
    # order, so the unscoped anti join would be trivially empty)
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(30,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    rich_idle = (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
    )
    return (
        rich_idle.groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum("c_acctbal").alias("totacctbal_e6"),
        )
        .orderBy("cntrycode")
    )


TPCH_Q22_SQL = """
SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
  CAST(FLOOR(SUM(CAST(c_acctbal AS DECIMAL(30,10))) * 1000000) AS BIGINT)
    AS totacctbal_e6
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY cntrycode
ORDER BY cntrycode
"""


# ---------------------------------------------------------------------------
# q2 — minimum-cost supplier: the correlated-MIN scalar subquery over a
# 5-table join (part × bridge × supplier × nation × region).  The driver
# schema has no partsupp, so lineitem is the part↔supplier bridge and
# l_extendedprice stands in for ps_supplycost; the subquery decorrelates
# into a per-part window MIN over the region-restricted bridge rows.
# ---------------------------------------------------------------------------
def tpch_q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    )
    supplier = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    # EUROPE suppliers: two broadcast joins over tiny dims
    eu_supp = (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    lineitem = load_table(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    # restrict the bridge to the filtered parts *before* the window: the
    # per-part MIN is unchanged (it is per part) and the window input
    # shrinks by ~20× — this is what keeps the plan viable at 100 TB
    bridge = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_name")),
        lineitem.l_partkey == F.col("p_partkey"),
    ).join(F.broadcast(eu_supp), lineitem.l_suppkey == F.col("s_suppkey"))
    w = Window.partitionBy("l_partkey")
    best = bridge.withColumn(
        "min_cost", F.min("l_extendedprice").over(w)
    ).filter(F.col("l_extendedprice") == F.col("min_cost"))
    return (
        best.select(
            F.floor(F.col("s_acctbal").cast("decimal(30,10)") * 1_000_000)
            .cast("long")
            .alias("s_acctbal_e6"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
        )
        .distinct()
        .orderBy(
            F.col("s_acctbal_e6").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


TPCH_Q2_SQL = """
SELECT DISTINCT
  CAST(FLOOR(CAST(s_acctbal AS DECIMAL(30,10)) * 1000000) AS BIGINT)
    AS s_acctbal_e6,
  s_name, n_name, p_partkey, p_name
FROM part, lineitem, supplier, nation, region
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND p_type = 'STANDARD' AND p_size <= 15
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND l_extendedprice = (
    SELECT MIN(l2.l_extendedprice)
    FROM lineitem l2, supplier s2, nation n2, region r2
    WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal_e6 DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# q20 — excess-share suppliers: nested IN subqueries with a correlated
# scalar aggregate in the HAVING.  Without partsupp/availqty the predicate
# becomes "this supplier shipped more than half of the part's total 1996
# volume" (TPC-H's 0.5 factor); quantities are decimal-bridged so the
# > comparison is integer-exact on both engines.
# ---------------------------------------------------------------------------
def tpch_q20_excess_share(spark: SparkSession, sf: str) -> DataFrame:
    part = (
        load_table(spark, sf, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    lineitem = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    bridge = lineitem.join(
        F.broadcast(part), lineitem.l_partkey == F.col("p_partkey")
    ).select(
        "l_suppkey",
        "l_partkey",
        F.col("l_quantity").cast("decimal(30,10)").alias("qty"),
    )
    # one shuffle for the (supplier, part) partial sums; the per-part
    # total is a window over those partials (tiny relative to the scan)
    sp = bridge.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("qty").alias("supp_qty")
    )
    w = Window.partitionBy("l_partkey")
    qualified = sp.withColumn("total_qty", F.sum("supp_qty").over(w)).filter(
        F.col("supp_qty") * 2 > F.col("total_qty")
    )
    supp_ids = qualified.select("l_suppkey").distinct()
    nation = load_table(spark, sf, "nation").filter(
        F.col("n_name").like("NATION_1%")
    )
    supplier = load_table(spark, sf, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        supplier.join(
            F.broadcast(supp_ids),
            supplier.s_suppkey == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "s_nationkey")
        .orderBy("s_name")
    )


TPCH_Q20_SQL = """
SELECT s_name, s_nationkey
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT l.l_suppkey FROM lineitem l
    WHERE l.l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING SUM(CAST(l.l_quantity AS DECIMAL(30,10))) * 2 > (
      SELECT SUM(CAST(l2.l_quantity AS DECIMAL(30,10)))
      FROM lineitem l2
      WHERE l2.l_partkey = l.l_partkey
        AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l2.l_shipdate < TIMESTAMP '1997-01-01')
  )
  AND s_nationkey = n_nationkey AND n_name LIKE 'NATION_1%'
ORDER BY s_name
"""


register("tpch_q2", tpch_q2_min_cost_supplier, TPCH_Q2_SQL)
register("tpch_q20", tpch_q20_excess_share, TPCH_Q20_SQL)
register("tpch_q4", tpch_q4_priority, TPCH_Q4_SQL)
register("tpch_q8", tpch_q8_market_share, TPCH_Q8_SQL)
register("tpch_q9", tpch_q9_profit, TPCH_Q9_SQL)
register("tpch_q11", tpch_q11_important_parts, TPCH_Q11_SQL)
register("tpch_q12", tpch_q12_late_lines, TPCH_Q12_SQL)
register("tpch_q13", tpch_q13_custdist, TPCH_Q13_SQL)
register("tpch_q15", tpch_q15_top_supplier, TPCH_Q15_SQL)
register("tpch_q16", tpch_q16_part_suppliers, TPCH_Q16_SQL)
register("tpch_q21", tpch_q21_waiting_suppliers, TPCH_Q21_SQL)
register("tpch_q22", tpch_q22_idle_customers, TPCH_Q22_SQL)
