"""Headline workload registry: Spark queries + DuckDB oracle SQL pairs.

Every entry exercises one operator family from SURVEY.md §2 (or a
beyond-reference pipeline operator) against the driver's synthetic tables
(TESTDATA.md). The oracle SQL is the same computation in ANSI/DuckDB SQL.

Every workloads module registers its own queries with
``kukur_spark.registry.register``.  This module imports them all and
exports ``QUERIES`` (the driver window first, then every other name in
name order) and ``ORACLES``.

Determinism rules used throughout so Spark and DuckDB agree bit-for-bit:

- timestamps are returned as epoch microseconds (``unix_micros`` /
  ``epoch_us``) — avoids tz-naive vs tz-aware schema mismatches;
- large floating-point sums go through an exact **decimal bridge**:
  ``cast(sum(cast(x as decimal(30,10))) as double)`` — identical regardless
  of summation order; divisions happen after the bridge on identical
  doubles;
- ratio metrics are returned in **scaled integer micro-units**
  (``(a * 1_000_000) div b``) — integer arithmetic, no float rounding mode
  ambiguity;
- tie-breaks in every top-k are explicit and total.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Callable, Dict, List

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kukur_spark import (  # noqa: F401 — each module registers its queries
    workloads_llm,
    workloads_mm,
    workloads_r2,
    workloads_r3,
    workloads_r4,
    workloads_r5,
    workloads_r6,
    workloads_r7,
    workloads_r8,
    workloads_r9,
    workloads_r10,
    workloads_r11,
    workloads_r12,
    workloads_r13,
    workloads_r14,
    workloads_r15,
    workloads_tpch,
    workloads_ts,
    workloads_ts2,
)
from kukur_spark.dedup_sql import DEDUP_CLUSTERS_SQL
from kukur_spark.dedup_sql import lsh_edges_sql_ctes as _lsh_edges_sql_ctes
from kukur_spark.io import load_table, persist_once
from kukur_spark.operators.asof import asof_join
from kukur_spark.operators.dedup import (
    EDGE_BANDS as _EDGE_BANDS,
    EDGE_HASHES as _EDGE_HASHES,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_lsh_pairs_md5,
    minhash_md5_oracle_sql,
    simhash_md5_oracle_sql,
    simhash_pairs,
    simhash_pairs_md5,
)
from kukur_spark.operators.plot import plot_buckets
from kukur_spark.operators.similarity import (
    as_double_sql,
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from kukur_spark.operators.text import language_id, fingerprint
from kukur_spark.oracle_sql import duck_cos
from kukur_spark.registry import ORACLES, QUERIES, register
from kukur_spark.schema import union_conform
from kukur_spark.timeutil import epoch_us as _epoch_us
from kukur_spark.workloads_llm import emb_pq_topk

# events table time range (driver synthetic data, TESTDATA.md)
EVENTS_START = datetime(2024, 1, 1, tzinfo=timezone.utc)
EVENTS_END = datetime(2024, 2, 1, tzinfo=timezone.utc)

EVENTS_START_US = _epoch_us(EVENTS_START)
EVENTS_END_US = _epoch_us(EVENTS_END)


def dsum(col) -> Column:
    """Exact decimal-bridged float sum in micro-units, as bigint.

    ``floor(sum(cast(x as decimal(30,10))) * 1e6)`` is exact integer
    arithmetic — the cast-to-double 1-ulp divergence between engines never
    appears. Column convention: name it ``*_e6``.

    A ``str`` argument (column name or SQL fragment) builds the whole
    tree as one parsed expression — one py4j round trip instead of ~40
    (~15 ms saved per use, measured round 10); the Column path builds
    the identical tree from Column objects.
    """
    if isinstance(col, str):
        return F.expr(
            f"CAST(FLOOR(SUM(CAST(({col}) AS DECIMAL(30,10))) * 1000000)"
            " AS BIGINT)"
        )
    return F.floor(F.sum(col.cast("decimal(30,10)")) * 1_000_000).cast("long")


def us(col) -> Column:
    """Epoch microseconds; casts TIMESTAMP_NTZ (parquet ms columns) first."""
    if isinstance(col, str):
        return F.expr(f"unix_micros(CAST(({col}) AS TIMESTAMP))")
    return F.unix_micros(col.cast("timestamp"))


# ---------------------------------------------------------------------------
# TPC-H-style relational queries (scan/filter/join/agg/sort/limit coverage)
# ---------------------------------------------------------------------------
def tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    l = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"{disc_price} * (1 + l_tax)"
    agg = l.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty_e6"),
        dsum("l_extendedprice").alias("sum_base_price_e6"),
        dsum(disc_price).alias("sum_disc_price_e6"),
        dsum(charge).alias("sum_charge_e6"),
        dsum("l_discount").alias("sum_disc_e6"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty_e6",
        "sum_base_price_e6",
        "sum_disc_price_e6",
        "sum_charge_e6",
        F.expr("sum_qty_e6 div count_order").alias("avg_qty_e6"),
        F.expr("sum_base_price_e6 div count_order").alias("avg_price_e6"),
        F.expr("sum_disc_e6 div count_order").alias("avg_disc_e6"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


TPCH_Q1_SQL = """
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
    CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sum_qty_e6,
    CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sum_base_price_e6,
    CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sum_disc_price_e6,
    CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sum_charge_e6,
    CAST(FLOOR(SUM(CAST(l_discount AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sum_disc_e6,
    COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty_e6, sum_base_price_e6,
  sum_disc_price_e6, sum_charge_e6,
  sum_qty_e6 // count_order AS avg_qty_e6,
  sum_base_price_e6 // count_order AS avg_price_e6,
  sum_disc_e6 // count_order AS avg_disc_e6,
  count_order
FROM agg
ORDER BY l_returnflag, l_linestatus
"""


def tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 open orders by revenue for one market segment."""
    customer = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    lineitem = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    joined = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    return (
        joined.groupBy("l_orderkey")
        .agg(
            dsum("l_extendedprice * (1 - l_discount)").alias(
                "revenue_e6"
            ),
            us(F.first("o_orderdate")).alias("orderdate_us"),
        )
        .orderBy(F.col("revenue_e6").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


TPCH_Q3_SQL = """
SELECT l_orderkey,
  CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS revenue_e6,
  epoch_us(ANY_VALUE(o_orderdate)) AS orderdate_us
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey
ORDER BY revenue_e6 DESC, l_orderkey ASC
LIMIT 10
"""


def tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue by nation for one region: 6-way join, dims broadcast."""
    region = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation")
    customer = load_table(spark, sf, "customer")
    supplier = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    lineitem = load_table(spark, sf, "lineitem")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(
            customer,
            (orders.o_custkey == customer.c_custkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            dsum("l_extendedprice * (1 - l_discount)").alias(
                "revenue_e6"
            )
        )
        .orderBy(F.col("revenue_e6").desc(), F.col("n_name").asc())
    )


TPCH_Q5_SQL = """
SELECT n_name,
  CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS revenue_e6
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1994-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY n_name
ORDER BY revenue_e6 DESC, n_name ASC
"""


def tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    l = load_table(spark, sf, "lineitem")
    filtered = l.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01"))
        & (F.col("l_shipdate") < F.lit("1995-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        dsum("l_extendedprice * l_discount").alias("revenue_e6"),
        F.count(F.lit(1)).alias("n_rows"),
    )


TPCH_Q6_SQL = """
SELECT
  CAST(FLOOR(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS revenue_e6,
  COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01'
  AND l_shipdate < TIMESTAMP '1995-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def tpch_q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """Trade volume between two nations by year (q7 shape)."""
    nation = load_table(spark, sf, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supplier = load_table(spark, sf, "supplier")
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    lineitem = load_table(spark, sf, "lineitem")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), supplier.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), customer.c_nationkey == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("timestamp")).cast("long").alias("l_year"),
        )
        .agg(
            dsum("l_extendedprice * (1 - l_discount)").alias(
                "volume_e6"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


TPCH_Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS BIGINT) AS l_year,
  CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS volume_e6
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def tpch_q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns (q10 shape)."""
    customer = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-10-01"))
    )
    lineitem = load_table(spark, sf, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    nation = load_table(spark, sf, "nation")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum("l_extendedprice * (1 - l_discount)").alias(
                "revenue_e6"
            )
        )
        .orderBy(F.col("revenue_e6").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


TPCH_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
  CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS revenue_e6
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-10-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_e6 DESC, c_custkey ASC
LIMIT 20
"""


def tpch_q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Conditional-aggregate revenue share of one part type (q14 shape)."""
    part = load_table(spark, sf, "part")
    lineitem = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    )
    joined = lineitem.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey
    )
    revenue = "l_extendedprice * (1 - l_discount)"
    economy = (
        f"CASE WHEN p_type = 'ECONOMY' THEN {revenue} ELSE CAST(0.0 AS DOUBLE) END"
    )
    agg = joined.agg(
        dsum(economy).alias("economy_revenue_e6"),
        dsum(revenue).alias("total_revenue_e6"),
    )
    # divide-before-scale: economy_e6 * 1e6 overflows int64 at sf>=0.1;
    # both engines compute the identical truncating expression, so the
    # result stays bit-exact
    return agg.select(
        "economy_revenue_e6",
        "total_revenue_e6",
        F.expr(
            "economy_revenue_e6 div (total_revenue_e6 div 1000000)"
        ).alias("share_e6"),
    )


TPCH_Q14_SQL = """
WITH agg AS (
  SELECT
    CAST(FLOOR(SUM(CAST(CASE WHEN p_type = 'ECONOMY'
      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS economy_revenue_e6,
    CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS total_revenue_e6
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1995-09-01'
    AND l_shipdate < TIMESTAMP '1995-10-01'
)
SELECT economy_revenue_e6, total_revenue_e6,
  economy_revenue_e6 // (total_revenue_e6 // 1000000) AS share_e6
FROM agg
"""


def tpch_q19_disjunctive(spark: SparkSession, sf: str) -> DataFrame:
    """Disjunctive multi-predicate join filter (q19 shape)."""
    part = load_table(spark, sf, "part")
    lineitem = load_table(spark, sf, "lineitem")
    joined = lineitem.join(
        F.broadcast(part), lineitem.l_partkey == part.p_partkey
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
            & (F.col("p_size") <= 5)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
            & (F.col("p_size") <= 10)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
            & (F.col("p_size") <= 15)
        )
    )
    return joined.filter(cond).agg(
        dsum("l_extendedprice * (1 - l_discount)").alias(
            "revenue_e6"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


TPCH_Q19_SQL = """
SELECT
  CAST(FLOOR(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS revenue_e6,
  COUNT(*) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size <= 5)
   OR (p_brand = 'Brand#13' AND l_quantity BETWEEN 10 AND 20 AND p_size <= 10)
   OR (p_brand = 'Brand#20' AND l_quantity BETWEEN 20 AND 30 AND p_size <= 15)
"""


def tpch_q17_small_quantity(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated-subquery shape (q17): lines below 20% of the part's
    average quantity. The per-part average is decimal-bridged so the
    filter threshold is bit-identical on both engines."""
    lineitem = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").filter(F.col("p_brand") == "Brand#1")
    # the per-part average only matters for parts that survive the brand
    # filter, so compute it as a window over the already-filtered join:
    # one lineitem scan and one shuffle (by l_partkey) instead of a
    # second scan + aggregate + join
    scoped = lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey)
    w = Window.partitionBy("l_partkey")
    avg_qty = F.sum(F.col("l_quantity").cast("decimal(30,10)")).over(w).cast(
        "double"
    ) / F.count(F.lit(1)).over(w)
    return (
        scoped.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            dsum("l_extendedprice").alias("total_price_e6"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


TPCH_Q17_SQL = """
WITH avg_per_part AS (
  SELECT l_partkey AS avg_partkey,
    CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT
  CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS total_price_e6,
  COUNT(*) AS n_rows
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_per_part ON l_partkey = avg_partkey
WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * avg_qty
"""


def events_rolling_7d(spark: SparkSession, sf: str) -> DataFrame:
    """Range-frame window: trailing-7-day event count/value per day+type."""
    events = load_table(spark, sf, "events")
    daily = events.groupBy(
        "event_type",
        F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("value_e6"))
    window = (
        Window.partitionBy("event_type")
        .orderBy("day_us")
        .rangeBetween(-6 * 86400 * 1_000_000, 0)
    )
    return daily.select(
        "event_type",
        "day_us",
        F.sum("n").over(window).alias("n_7d"),
        F.sum("value_e6").over(window).alias("value_7d_e6"),
    ).orderBy("event_type", "day_us")


EVENTS_ROLLING_SQL = """
WITH daily AS (
  SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
    COUNT(*) AS n,
    CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS value_e6
  FROM events GROUP BY event_type, day_us
)
SELECT event_type, day_us,
  CAST(SUM(n) OVER w AS BIGINT) AS n_7d,
  CAST(SUM(value_e6) OVER w AS BIGINT) AS value_7d_e6
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day_us
             RANGE BETWEEN 518400000000 PRECEDING AND CURRENT ROW)
ORDER BY event_type, day_us
"""


def tpch_q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """HAVING-filter shape (q18): customers with any order above a
    quantity threshold, top 20 by order total."""
    lineitem = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    customer = load_table(spark, sf, "customer")
    big_orders = (
        lineitem.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty_e6"))
        .filter(F.col("sum_qty_e6") > 250 * 1_000_000)
    )
    joined = (
        orders.join(big_orders, orders.o_orderkey == big_orders.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
    )
    return (
        joined.select(
            "c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty_e6"
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


TPCH_Q18_SQL = """
WITH big_orders AS (
  SELECT l_orderkey,
    CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS sum_qty_e6
  FROM lineitem GROUP BY l_orderkey
  HAVING sum_qty_e6 > 250 * 1000000
)
SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty_e6
FROM orders
JOIN big_orders ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
"""


def orders_by_quarter(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar-quarter grouping: order counts and totals per quarter."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.groupBy(
            us(F.date_trunc("quarter", F.col("o_orderdate").cast("timestamp"))).alias(
                "quarter_us"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_e6"),
        )
        .orderBy("quarter_us")
    )


ORDERS_BY_QUARTER_SQL = """
SELECT epoch_us(date_trunc('quarter', o_orderdate)) AS quarter_us,
  COUNT(*) AS n_orders,
  CAST(FLOOR(SUM(CAST(o_totalprice AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS total_e6
FROM orders GROUP BY quarter_us ORDER BY quarter_us
"""


def top_customer_per_nation(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k per group: highest-balance customer of every nation (W-ranking)."""
    customer = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    window = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    ranked = (
        customer.withColumn("rn", F.row_number().over(window))
        .filter(F.col("rn") <= 3)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return ranked.select(
        "n_name", F.col("rn").cast("long").alias("rank"), "c_custkey", "c_acctbal"
    ).orderBy("n_name", "rank")


TOP_CUSTOMER_SQL = """
SELECT n_name, CAST(rn AS BIGINT) AS rank, c_custkey, c_acctbal
FROM (
  SELECT c_custkey, c_nationkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
) JOIN nation ON c_nationkey = n_nationkey
WHERE rn <= 3
ORDER BY n_name, rank
"""


# ---------------------------------------------------------------------------
# time-series verbs on the events table (F2/F3/A1/A2/W2/M3/J-asof coverage)
# ---------------------------------------------------------------------------
def ts_range_filter(spark: SparkSession, sf: str) -> DataFrame:
    """F2 tag filter + F3 half-open range filter, canonical projection."""
    start = datetime(2024, 1, 10, tzinfo=timezone.utc)
    end = datetime(2024, 1, 20, tzinfo=timezone.utc)
    # range applied on the raw ns column inside load_table → parquet
    # row-group pruning (see kukur_spark.io.load_table)
    events = load_table(spark, sf, "events", ts_range=(start, end))
    return (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.unix_micros("ts").alias("ts_us"),
            F.col("user_id"),
            F.col("value"),
        )
    )


TS_RANGE_FILTER_SQL = """
SELECT epoch_us(ts) AS ts_us, user_id, value
FROM events
WHERE event_type = 'purchase'
  AND ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
"""


def ts_series_discovery(spark: SparkSession, sf: str) -> DataFrame:
    """A1: distinct tag combinations = the source's series list."""
    events = load_table(spark, sf, "events")
    return (
        events.select(F.col("event_type").alias("series_name"))
        .distinct()
        .orderBy("series_name")
    )


TS_SERIES_DISCOVERY_SQL = """
SELECT DISTINCT event_type AS series_name FROM events ORDER BY series_name
"""


def ts_latest_value(spark: SparkSession, sf: str) -> DataFrame:
    """A2: arg_max — metadata from the most recent point per series."""
    events = load_table(spark, sf, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.unix_micros(F.max("ts")).alias("last_ts_us"),
            F.max_by("value", "ts").alias("last_value"),
        )
        .orderBy("event_type")
    )


TS_LATEST_VALUE_SQL = """
SELECT event_type, epoch_us(MAX(ts)) AS last_ts_us,
       arg_max(value, ts) AS last_value
FROM events GROUP BY event_type ORDER BY event_type
"""


def ts_plot_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """W2/M4: native plot downsampling — 48 buckets over January per series."""
    events = load_table(spark, sf, "events").select("event_type", "ts", "value")
    stats = plot_buckets(
        events, EVENTS_START, EVENTS_END, 48, group_columns=["event_type"]
    )
    return stats.select(
        "event_type",
        "bucket",
        "min_value",
        "max_value",
        "first_value",
        "last_value",
        "n_points",
    ).orderBy("event_type", "bucket")


TS_PLOT_BUCKETS_SQL = f"""
SELECT event_type,
  LEAST(CAST(FLOOR((epoch_us(ts) - {EVENTS_START_US}) * 48.0
        / {EVENTS_END_US - EVENTS_START_US}) AS BIGINT), 47) AS bucket,
  MIN(value) AS min_value,
  MAX(value) AS max_value,
  (MIN({{'t': epoch_us(ts), 'v': value}})).v AS first_value,
  (MAX({{'t': epoch_us(ts), 'v': value}})).v AS last_value,
  COUNT(*) AS n_points
FROM events
GROUP BY event_type, bucket
ORDER BY event_type, bucket
"""


def ts_plot_downsample(spark: SparkSession, sf: str) -> DataFrame:
    """The reduced-series plot verb: envelope points, canonical schema."""
    from kukur_spark.operators.plot import plot_downsample

    events = load_table(spark, sf, "events").select("event_type", "ts", "value")
    reduced = plot_downsample(
        events, EVENTS_START, EVENTS_END, 24, group_columns=["event_type"]
    )
    return reduced.select(
        "event_type", us("ts").alias("ts_us"), F.col("value")
    ).orderBy("event_type", "ts_us")


TS_PLOT_DOWNSAMPLE_SQL = f"""
WITH stats AS (
  SELECT event_type,
    LEAST(CAST(FLOOR((epoch_us(ts) - {EVENTS_START_US}) * 24.0
          / {EVENTS_END_US - EVENTS_START_US}) AS BIGINT), 23) AS bucket,
    MIN(epoch_us(ts)) AS ts_first,
    (MIN({{'t': epoch_us(ts), 'v': value}})).v AS first_value,
    (MIN({{'v': value, 't': epoch_us(ts)}})).t AS ts_min, MIN(value) AS min_value,
    (MAX({{'v': value, 't': epoch_us(ts)}})).t AS ts_max, MAX(value) AS max_value,
    MAX(epoch_us(ts)) AS ts_last,
    (MAX({{'t': epoch_us(ts), 'v': value}})).v AS last_value
  FROM events GROUP BY event_type, bucket
),
points AS (
  SELECT event_type, ts_first AS ts_us, first_value AS value FROM stats
  UNION ALL SELECT event_type, ts_min, min_value FROM stats
  UNION ALL SELECT event_type, ts_max, max_value FROM stats
  UNION ALL SELECT event_type, ts_last, last_value FROM stats
)
SELECT DISTINCT event_type, ts_us, value FROM points
ORDER BY event_type, ts_us
"""


def _resample_query(how: str):
    def query(spark: SparkSession, sf: str) -> DataFrame:
        from kukur_spark.operators.resample import resample

        events = load_table(spark, sf, "events").select(
            "event_type", "ts", "value"
        )
        out = resample(
            events,
            EVENTS_START,
            EVENTS_END,
            interval_seconds=6 * 3600,
            how=how,
            group_columns=["event_type"],
        )
        return out.select(
            "event_type", us("ts").alias("ts_us"), F.col("value")
        ).orderBy("event_type", "ts_us")

    return query


def _resample_sql(how: str) -> str:
    step_us = 6 * 3600 * 1_000_000
    value_expr = (
        "round(prev_v, 6)"
        if how == "stepped"
        else (
            "round(CASE WHEN prev_t = ts_us THEN prev_v "
            "WHEN prev_t IS NOT NULL AND next_t IS NOT NULL THEN "
            "prev_v + (next_v - prev_v) * (CAST(ts_us AS DOUBLE) - prev_t)"
            " / (next_t - prev_t) ELSE NULL END, 6)"
        )
    )
    return f"""
WITH grid AS (
  SELECT e.event_type, r.range AS ts_us, 1 AS is_grid,
         CAST(NULL AS DOUBLE) AS dv, CAST(NULL AS BIGINT) AS dt
  FROM (SELECT DISTINCT event_type FROM events) e,
       range({EVENTS_START_US}, {EVENTS_END_US}, {step_us}) r
),
pts AS (
  SELECT event_type, epoch_us(ts) AS ts_us, 0 AS is_grid,
         value AS dv, epoch_us(ts) AS dt
  FROM events
),
u AS (SELECT * FROM grid UNION ALL SELECT * FROM pts),
b AS (
  SELECT event_type, ts_us, is_grid,
    LAST_VALUE(dv IGNORE NULLS) OVER before AS prev_v,
    LAST_VALUE(dt IGNORE NULLS) OVER before AS prev_t,
    FIRST_VALUE(dv IGNORE NULLS) OVER after AS next_v,
    FIRST_VALUE(dt IGNORE NULLS) OVER after AS next_t
  FROM u
  WINDOW
    before AS (PARTITION BY event_type ORDER BY ts_us, is_grid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    after AS (PARTITION BY event_type ORDER BY ts_us, is_grid
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_type, ts_us, {value_expr} AS value
FROM b WHERE is_grid = 1
ORDER BY event_type, ts_us
"""


def ts_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each error event matched to the user's latest purchase.

    The specialized (backward, exact-match) expansion of
    :func:`kukur_spark.operators.asof.asof_join` as one parameterized
    spark.sql statement — the operator call built the identical tree
    through ~25 DataFrame ops (~0.10 s driver latency per construction,
    measured round 11; plan equality guarded by plans/r11 +
    scripts/plan_diff.py)."""
    events = load_table(spark, sf, "events")
    return spark.sql(
        """
SELECT event_id, unix_micros(ts) AS ts_us, __m.value AS purchase_value
FROM (
  SELECT *,
         last(__r, true) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, __side ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS __m
  FROM (
    SELECT event_id, user_id, ts, 1 AS __side,
           CAST(NULL AS STRUCT<__ts: TIMESTAMP, value: DOUBLE>) AS __r
    FROM {events} WHERE event_type = 'error' AND ts IS NOT NULL
    UNION ALL
    SELECT NULL AS event_id, user_id, ts, 0 AS __side,
           struct(ts AS __ts, value AS value) AS __r
    FROM {events} WHERE event_type = 'purchase' AND ts IS NOT NULL
  )
)
WHERE __side = 1 AND __m IS NOT NULL
ORDER BY event_id
""",
        events=events,
    )


TS_ASOF_JOIN_SQL = """
SELECT a.event_id, epoch_us(a.ts) AS ts_us, b.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'error') a
ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
  ON a.user_id = b.user_id AND a.ts >= b.ts
ORDER BY a.event_id
"""


def distinct_users(spark: SparkSession, sf: str) -> DataFrame:
    """Exact distinct aggregation per series (COUNT DISTINCT expansion)."""
    events = load_table(spark, sf, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


DISTINCT_USERS_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


def ts_interval_union(spark: SparkSession, sf: str) -> DataFrame:
    """M3/U1: chunked reads united under schema promotion, then aggregated."""
    events = load_table(spark, sf, "events")
    mid = datetime(2024, 1, 15, tzinfo=timezone.utc)
    chunk1 = events.filter(F.col("ts") < F.lit(mid)).select(
        "event_type", "ts", "value"
    )
    chunk2 = events.filter(F.col("ts") >= F.lit(mid)).select(
        "event_type", "ts", "value"
    )
    union = union_conform([chunk1, chunk2])
    return (
        union.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value_e6"))
        .orderBy("event_type")
    )


TS_INTERVAL_UNION_SQL = """
SELECT event_type, COUNT(*) AS n,
  CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS total_value_e6
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_daily_window(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling daily window aggregation per series (streaming-equivalent)."""
    events = load_table(spark, sf, "events")
    return (
        events.groupBy(
            F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value_e6"))
        .orderBy("day_us", "event_type")
    )


EVENTS_DAILY_WINDOW_SQL = """
SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type,
  COUNT(*) AS n,
  CAST(FLOOR(SUM(CAST(value AS DECIMAL(30,10))) * 1000000) AS BIGINT) AS total_value_e6
FROM events GROUP BY day_us, event_type ORDER BY day_us, event_type
"""


def events_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Rollup hierarchy: (event_type, day) → event_type → grand total."""
    events = load_table(spark, sf, "events")
    return (
        events.rollup(
            "event_type",
            F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("event_type").asc_nulls_first(), F.col("day_us").asc_nulls_first()
        )
    )


EVENTS_ROLLUP_SQL = """
SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us, COUNT(*) AS n
FROM events
GROUP BY ROLLUP (event_type, day_us)
ORDER BY event_type ASC NULLS FIRST, day_us ASC NULLS FIRST
"""


def sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap splits a user's sessions."""
    events = load_table(spark, sf, "events")
    window = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(window))
    with_gap = events.withColumn(
        "new_session",
        F.when(gap > 30 * 60 * 1_000_000, 1).otherwise(0),
    )
    return (
        with_gap.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("new_session") + 1).cast("long").alias("n_sessions"),
        )
        .orderBy("user_id")
    )


SESSIONIZE_SQL = """
SELECT user_id, COUNT(*) AS n_events,
  CAST(SUM(new_session) + 1 AS BIGINT) AS n_sessions
FROM (
  SELECT user_id,
    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
              > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_session
  FROM events
)
GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# training-data pipeline operators on documents / embeddings
# ---------------------------------------------------------------------------
def dedup_exact_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return exact_dedup(docs).orderBy("fingerprint")


DEDUP_EXACT_SQL = """
SELECT md5(text) AS fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM documents GROUP BY fingerprint ORDER BY fingerprint
"""


def text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token statistics in exact scaled-integer micro-units."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("long")
    n_unique = F.size(F.array_distinct(toks)).cast("long")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_unique.alias("n_unique_tokens"),
        F.expr(
            "(cast(length(text) - (size(split(text, ' ')) - 1) as bigint)"
            " * 1000000) div size(split(text, ' '))"
        ).alias("avg_token_chars_e6"),
    ).orderBy("doc_id")


TEXT_TOKEN_STATS_SQL = """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique_tokens,
  (CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT) * 1000000)
    // len(string_split(text, ' ')) AS avg_token_chars_e6
FROM documents ORDER BY doc_id
"""


def text_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """score_e6 = min(100, n_tokens) × n_unique × 10000 div n_tokens."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("long")
    n_unique = F.size(F.array_distinct(toks)).cast("long")
    score = F.expr(
        "least(cast(100 as bigint), cast(size(split(text, ' ')) as bigint))"
        " * cast(size(array_distinct(split(text, ' '))) as bigint)"
        " * 10000 div cast(size(split(text, ' ')) as bigint)"
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_unique.alias("n_unique_tokens"),
        score.alias("quality_score_e6"),
    ).orderBy("doc_id")


TEXT_QUALITY_SCORE_SQL = """
SELECT doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique_tokens,
  (LEAST(CAST(100 AS BIGINT), CAST(len(string_split(text, ' ')) AS BIGINT))
   * CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 10000)
   // CAST(len(string_split(text, ' ')) AS BIGINT) AS quality_score_e6
FROM documents ORDER BY doc_id
"""


def text_langid(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return language_id(docs).orderBy("doc_id")


TEXT_LANGID_SQL = """
WITH counts AS (
  SELECT doc_id,
    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT) AS c_en,
    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' der ', ''))) / 5 AS BIGINT) AS c_de,
    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' le ', ''))) / 4 AS BIGINT) AS c_fr,
    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' el ', ''))) / 4 AS BIGINT) AS c_es,
    CAST(length(' ' || text || ' ') - length(replace(' ' || text || ' ', '的', '')) AS BIGINT) AS c_zh
  FROM documents
)
SELECT doc_id, c_en, c_de, c_fr, c_es, c_zh,
  CASE
    WHEN GREATEST(c_en, c_de, c_fr, c_es, c_zh) = 0 THEN 'und'
    WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en >= c_zh THEN 'en'
    WHEN c_de >= c_fr AND c_de >= c_es AND c_de >= c_zh THEN 'de'
    WHEN c_fr >= c_es AND c_fr >= c_zh THEN 'fr'
    WHEN c_es >= c_zh THEN 'es'
    ELSE 'zh'
  END AS pred_lang
FROM counts ORDER BY doc_id
"""


def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return fingerprint(docs).orderBy("doc_id")


TEXT_FINGERPRINT_SQL = """
SELECT doc_id, md5(text) AS content_fp,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS shape_fp
FROM documents ORDER BY doc_id
"""


def ngram_jaccard_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Scaled-integer Jaccard (no float) for oracle comparison."""
    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "source",
        F.col("doc_id").alias("id"),
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
        F.size(F.array_distinct(F.split(F.col("text"), " "))).alias("n"),
    ).repartition(spark.sparkContext.defaultParallelism, "source")
    pairs = (
        base.alias("a")
        .join(
            base.alias("b"),
            on=[
                F.col("a.source") == F.col("b.source"),
                F.col("a.id") < F.col("b.id"),
                # implied size-ratio gate, evaluated BEFORE the per-pair
                # intersect: jaccard_e6 >= 200000 forces
                # inter·1e6 >= 200000·union with inter <= min(|A|,|B|)
                # and union >= max(|A|,|B|), so a pair failing
                # min·1e6 >= 200000·max can never reach the threshold —
                # result set unchanged, but mismatched-length pairs skip
                # the expensive array_intersect entirely (round 10)
                F.expr(
                    "least(a.n, b.n) * 1000000L >= 200000 * "
                    "greatest(a.n, b.n)"
                ),
                # the threshold itself ALSO lives in the join condition —
                # written after the gate so the And chain short-circuits
                # cheap-to-expensive (a post-join .filter() gets pushed
                # into the join condition *ahead* of the explicit
                # conditions, defeating the gate; measured round 10).
                # Exact integer rearrangement so the intersect is
                # evaluated ONCE per pair: with |A∪B| = |A|+|B|−inter,
                #   inter·1e6 div (sz−inter) >= 200000
                #   ⟺ inter·1e6 >= 200000·(sz−inter)   (floor-div, >0)
                #   ⟺ inter·1200000 >= 200000·sz  ⟺  6·inter >= sz.
                F.expr(
                    "cast(size(array_intersect(a.toks, b.toks)) AS BIGINT)"
                    " * 6 >= a.n + b.n"
                ),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            # recomputed only for the few surviving pairs
            F.expr(
                "cast(size(array_intersect(a.toks, b.toks)) AS BIGINT)"
                " * 1000000 div (cast(a.n + b.n AS BIGINT) - "
                "size(array_intersect(a.toks, b.toks)))"
            ).alias("jaccard_e6"),
        )
    )
    return pairs.orderBy("id_a", "id_b")


NGRAM_JACCARD_SQL = """
WITH base AS (
  SELECT source, doc_id AS id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents
)
SELECT a.id AS id_a, b.id AS id_b,
  (CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) * 1000000)
    // CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS BIGINT) AS jaccard_e6
FROM base a JOIN base b ON a.source = b.source AND a.id < b.id
WHERE (CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) * 1000000)
    // CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS BIGINT) >= 200000
ORDER BY id_a, id_b
"""


def lsh_jaccard_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup edges: md5-LSH banding candidates, token-Jaccard verified.

    The production edge source for the dedup pipeline — candidate pairs
    come from MinHash banding (16 md5 hashes, 8 bands × 2 rows), so cost
    is corpus × collision-rate instead of the all-pairs quadratic, and
    duplicates across *different* sources are found (the all-pairs twin
    blocks by source to stay tractable).  Survivors are verified with the
    same integer-exact token Jaccard ≥ 0.2 as :func:`ngram_jaccard_exact`,
    which stays registered as the exact-recall baseline.

    Banding recall by 3-shingle similarity s: P = 1-(1-s²)⁸ — ≈0.28 at
    s=0.2, ≈0.90 at s=0.5, ≈1-3e-7 at s=0.8: borderline pairs may be
    missed, true near-dups essentially never.
    """
    docs = load_table(spark, sf, "documents")
    return _lsh_edges_from(docs)


def _lsh_edges_from(docs: DataFrame) -> DataFrame:
    """md5-LSH banded candidates + token-Jaccard verify over any docs
    frame (``doc_id, text, …``) — the df-level core of
    :func:`lsh_jaccard_edges`, reused by the curation-funnel
    composition on its filtered survivor set."""
    from kukur_spark.operators.dedup import (
        _band_candidates,
        _md5_banded,
        _md5_base,
        _memoized_bound,
    )
    from kukur_spark.io import persist_once

    base = persist_once(
        _md5_base(docs, "text", "doc_id", 3, _EDGE_HASHES)
    )
    banded = _md5_banded(base, _EDGE_BANDS, _EDGE_HASHES // _EDGE_BANDS)
    # stats shadow: the persisted base otherwise pollutes the skew-guard
    # row estimate once materialized (see _stats_shadow_banded), re-
    # engaging the detection jobs on every re-construction in a session;
    # the bound is cached per docs handle — see _memoized_bound
    cand = _band_candidates(
        banded,
        bands=_EDGE_BANDS,
        stats_bound=_memoized_bound(docs, "banded", "doc_id", _EDGE_BANDS),
    )
    toks = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
    )
    verified = cand.join(
        toks.select(
            F.col("id").alias("id_a"), F.col("toks").alias("toks_a")
        ),
        "id_a",
    ).join(
        toks.select(
            F.col("id").alias("id_b"), F.col("toks").alias("toks_b")
        ),
        "id_b",
    )
    return (
        verified.select(
            "id_a",
            "id_b",
            # arithmetic union (|A|+|B|−inter) over the distinct token
            # arrays — same rewrite as ngram_jaccard_exact, ~2× less
            # per-pair array work than materializing the union array
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("long")
            .alias("inter"),
            (F.size("toks_a") + F.size("toks_b")).cast("long").alias("sz"),
        )
        .select(
            "id_a",
            "id_b",
            F.expr("inter * 1000000 div (sz - inter)").alias("jaccard_e6"),
        )
        .filter(F.col("jaccard_e6") >= 200_000)
    )


LSH_JACCARD_EDGES_SQL_TEMPLATE = """WITH {ctes}
SELECT id_a, id_b, jaccard_e6 FROM pairs ORDER BY id_a, id_b
"""


def dedup_doc_groups(spark: SparkSession, sf: str) -> DataFrame:
    """``doc_id → canonical_id`` for every document, exact-dup collapsed.

    Byte-identical texts are collapsed to one representative (the
    family's minimum ``doc_id``) BEFORE banding; components run over
    representatives only and labels re-expand through the family map.
    Provably result-identical to banding the full corpus: identical
    texts always share every band bucket and verify at Jaccard 1, so
    each family is connected in the naive edge set, and the component
    label (minimum reachable id) of a family's representative equals
    the minimum doc_id of the expanded group.

    Why it matters: exact-dup families make banded CANDIDATE PAIRS grow
    quadratically in family size — a family of k identical docs alone
    yields k·(k−1)/2 verified edges. Real corpora hit this with
    boilerplate repeated thousands of times; the 100× replication probe
    hit it at family size 100 and OOM-ed the pointer-doubling loop on
    the pre-collapse form (`docs_leakage_safe_split`, 8 GiB heap). The
    collapse removes the quadratic term entirely: candidates are
    generated over distinct TEXTS, edges over distinct texts, and the
    only family-sized work left is one map-side hash + two keyed joins.
    """
    docs = load_table(spark, sf, "documents")
    return _collapsed_groups_from(docs)


def _collapsed_groups_from(docs: DataFrame) -> DataFrame:
    """df-level core of :func:`dedup_doc_groups` (testable on synthetic
    replica corpora)."""
    from kukur_spark.operators.cluster import dedup_groups

    hashed = docs.select("doc_id", F.md5(F.col("text")).alias("__th"))
    families = hashed.groupBy("__th").agg(F.min("doc_id").alias("rep_id"))
    mapping = hashed.join(families, "__th").select("doc_id", "rep_id")
    rep_docs = docs.join(
        families.select(F.col("rep_id").alias("doc_id")), "doc_id", "semi"
    )
    groups_r = dedup_groups(rep_docs, _lsh_edges_from(rep_docs))
    return mapping.join(
        groups_r.withColumnRenamed("doc_id", "rep_id"), "rep_id"
    ).select("doc_id", "canonical_id")


def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive closure of near-dup pairs → canonical doc per group.

    Edges come from :func:`lsh_jaccard_edges` (banded candidates, exact
    token-Jaccard verify — the sub-quadratic production path) over the
    exact-dup-collapsed corpus (:func:`dedup_doc_groups`); components
    by min-label propagation with pointer doubling; the oracle is a
    recursive CTE over the full-corpus md5-derived edge set — identical
    results, proven by the collapse argument in
    :func:`dedup_doc_groups` and pinned by
    ``tests/test_cluster.py::test_collapsed_groups_match_naive``.
    """
    return dedup_doc_groups(spark, sf).orderBy("doc_id")


def dedup_kept(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end dedup output: the documents a training pipeline keeps.

    A document survives iff it is the canonical (minimum-id) member of its
    near-dup connected component — the actual deliverable of the dedup
    stage, stacked on the same components as ``dedup_clusters``."""
    groups = dedup_doc_groups(spark, sf)
    return (
        groups.filter(F.col("doc_id") == F.col("canonical_id"))
        .select("doc_id")
        .orderBy("doc_id")
    )


DEDUP_KEPT_SQL = DEDUP_CLUSTERS_SQL.replace(
    "SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id\n"
    "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id\n"
    "ORDER BY d.doc_id",
    "SELECT d.doc_id\n"
    "FROM documents d LEFT JOIN comp c ON d.doc_id = c.id\n"
    "WHERE d.doc_id = COALESCE(c.component, d.doc_id)\n"
    "ORDER BY d.doc_id",
)


def corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus statistics: documents, tokens, vocabulary size,
    type-token ratio (lexical diversity) in exact ppm.

    Two-level aggregation instead of ``countDistinct``: a multi-distinct
    aggregate plans an Expand that doubles the exploded token stream on
    the shuffle; pre-aggregating per (source, term) gets map-side combine
    and carries one row per distinct term instead. n_docs needs no
    distinct at all (documents are one row per doc)."""
    docs = load_table(spark, sf, "documents")
    tokens = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    per_term = tokens.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = per_term.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_vocab"),
        F.sum("c").alias("n_tokens"),
    )
    n_docs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        n_docs.join(vocab, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_vocab",
            F.expr("n_vocab * 1000000L div n_tokens").alias(
                "type_token_ppm"
            ),
        )
        .orderBy("source")
    )


CORPUS_STATS_SQL = """
WITH tokens AS (
  SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
)
SELECT source,
  COUNT(DISTINCT doc_id) AS n_docs,
  COUNT(*) AS n_tokens,
  COUNT(DISTINCT term) AS n_vocab,
  COUNT(DISTINCT term) * 1000000 // COUNT(*) AS type_token_ppm
FROM tokens
GROUP BY source
ORDER BY source
"""


def text_tfidf_topk(spark: SparkSession, sf: str) -> DataFrame:
    from kukur_spark.operators.text import tfidf_topk

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    return tfidf_topk(docs, k=3).orderBy("doc_id", "rank")


TEXT_TFIDF_SQL = """
WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
docfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
    round(tf.tf * ln(CAST(n.n AS DOUBLE) / docfreq.df), 6) AS tfidf
  FROM tf JOIN docfreq USING (term), n
),
ranked AS (
  SELECT doc_id, term, tf, df, tfidf,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
"""


def emb_topk_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-5 for the first 10 vectors as queries."""
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(queries, emb, k=5).orderBy("query_id", "rank")


EMB_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    list_sum(list_transform(range(1, len(qv) + 1),
      i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(1, len(qv) + 1),
        i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform(range(1, len(cv) + 1),
        i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))) AS cos_sim
  FROM c, q WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


# IVF top-k is hash-free (seed centroids = lowest-id vectors; everything
# else is float arithmetic DuckDB reproduces bit-for-bit), so unlike the
# xxhash64 LSH variant it gets a full exact oracle.
EMB_IVF_SQL = f"""
WITH centroids AS (
  SELECT vec_id AS centroid_id, embedding AS centroid
  FROM embeddings ORDER BY vec_id ASC LIMIT 16
),
assign_scored AS (
  SELECT e.vec_id, c.centroid_id, e.embedding,
    {duck_cos('e.embedding', 'c.centroid')} AS sim
  FROM embeddings e, centroids c
),
assignments AS (
  SELECT vec_id, centroid_id, embedding FROM (
    SELECT vec_id, centroid_id, embedding,
      ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY sim DESC, centroid_id ASC) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
probe_scored AS (
  SELECT query_id, qv, centroid_id,
    {duck_cos('qv', 'centroid')} AS centroid_sim
  FROM q, centroids
),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT query_id, qv, centroid_id,
      ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY centroid_sim DESC, centroid_id ASC) AS rn
    FROM probe_scored
  ) WHERE rn <= 4
),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
    {duck_cos('p.qv', 'a.embedding')} AS cos_sim
  FROM probes p
  JOIN assignments a ON a.centroid_id = p.centroid_id
  WHERE p.query_id <> a.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def emb_topk_l2(spark: SparkSession, sf: str) -> DataFrame:
    """Exact top-5 neighbors by euclidean distance (the cosine twin's
    other metric); same broadcast-queries/rank plan as brute-force."""
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.expr(as_double_sql("embedding")).alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(as_double_sql("embedding")).alias("cv"),
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).withColumn("l2", dist)
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("l2", 6).alias("l2"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


EMB_TOPK_L2_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    sqrt(list_sum(list_transform(range(1, len(qv) + 1),
      i -> (CAST(qv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
           * (CAST(qv[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))))) AS l2
  FROM c, q WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, l2,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY l2 ASC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(l2, 6) AS l2, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def emb_centroid_per_label(spark: SparkSession, sf: str) -> DataFrame:
    """Class prototypes: the per-label mean of each embedding dimension.

    posexplode → two-key aggregate; the mean is integer-exact (e6-scaled
    decimal-bridged sum, bigint division — the shared
    ``operators.similarity.centroid_dims_e6`` construction). One row per
    (label, dim) so the oracle compare needs no array assembly."""
    from kukur_spark.operators.similarity import centroid_dims_e6

    emb = load_table(spark, sf, "embeddings")
    return (
        centroid_dims_e6(emb)
        .select(
            "label",
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.col("c_e6").alias("centroid_e6"),
        )
        .orderBy("label", "dim")
    )


def _emb_centroid_sql() -> str:
    from kukur_spark.operators.similarity import CENTROID_DIMS_SQL_CTE

    return f"""
WITH {CENTROID_DIMS_SQL_CTE}
SELECT label, dim, c_e6 AS centroid_e6
FROM cent_dims ORDER BY label, dim
"""


EMB_CENTROID_SQL = _emb_centroid_sql()


def orders_with_shipments_semi(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi join (EXISTS): orders with a line shipped after a date."""
    orders = load_table(spark, sf, "orders")
    lineitem = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    return (
        orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_semi"
        )
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")
    )


ORDERS_SEMI_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > TIMESTAMP '1998-01-01')
ORDER BY o_orderkey
"""


def orders_without_shipments_anti(spark: SparkSession, sf: str) -> DataFrame:
    """Left-anti join (NOT EXISTS), aggregated per priority."""
    orders = load_table(spark, sf, "orders")
    lineitem = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01")
    )
    return (
        orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey, "left_anti"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


ORDERS_ANTI_SQL = """
SELECT o_orderpriority, COUNT(*) AS n
FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > TIMESTAMP '1998-01-01')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def events_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """JSON path extraction from the props column, exact integer sums."""
    events = load_table(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
  COUNT(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_pivot_wide(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: one column of counts per event type, per day."""
    events = load_table(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.groupBy(
            F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("day_us")
        )
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .orderBy("day_us")
    )


EVENTS_PIVOT_SQL = """
SELECT epoch_us(date_trunc('day', ts)) AS day_us,
  COUNT(*) FILTER (event_type = 'click') AS click,
  COUNT(*) FILTER (event_type = 'error') AS error,
  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
  COUNT(*) FILTER (event_type = 'signup') AS signup,
  COUNT(*) FILTER (event_type = 'view') AS view
FROM events GROUP BY day_us ORDER BY day_us
"""


def customer_cube(spark: SparkSession, sf: str) -> DataFrame:
    """Cube over (mktsegment, nationkey): all grouping-set combinations."""
    customer = load_table(spark, sf, "customer")
    return (
        customer.cube("c_mktsegment", "c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("c_nationkey").asc_nulls_first(),
        )
    )


CUSTOMER_CUBE_SQL = """
SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
FROM customer
GROUP BY CUBE (c_mktsegment, c_nationkey)
ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST
"""


def emb_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ 0.99 over all pairs."""
    from kukur_spark.operators.similarity import as_double_sql, dot_sql, norm_sql

    emb = load_table(spark, sf, "embeddings")
    base = emb.selectExpr(
        "vec_id AS id", f"{as_double_sql('embedding')} AS v"
    ).withColumn("n", F.expr(norm_sql("v")))
    # the corpus arrives as one parquet file; without an explicit
    # repartition the < join runs as a single-task nested loop —
    # spreading the streamed side is what makes the O(n²) verify
    # baseline use every core (the LSH/IVF paths are the scale answer)
    streamed = base.repartition(spark.sparkContext.defaultParallelism)
    pairs = (
        streamed.alias("a")
        .join(F.broadcast(base.alias("b")), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr(f"{dot_sql('a.v', 'b.v')} / (a.n * b.n)").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.99)
    )
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    ).orderBy("id_a", "id_b")


EMB_NEARDUP_SQL = """
WITH base AS (
  SELECT vec_id AS id, embedding AS v,
    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS n
  FROM embeddings
)
SELECT a.id AS id_a, b.id AS id_b,
  round(list_sum(list_transform(range(1, len(a.v) + 1),
    i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))) / (a.n * b.n), 6) AS cos_sim
FROM base a JOIN base b ON a.id < b.id
WHERE list_sum(list_transform(range(1, len(a.v) + 1),
    i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE))) / (a.n * b.n) >= 0.99
ORDER BY id_a, id_b
"""


# --- weaker (rows-only) checks: hash-based ops DuckDB cannot replicate -----
def minhash_lsh_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return minhash_lsh_pairs(docs, jaccard_threshold=0.2).orderBy("id_a", "id_b")


def simhash_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # max_hamming must stay <= 3: the 4x16-bit banding guarantees candidate
    # recall only within that radius (pigeonhole)
    return simhash_pairs(docs, max_hamming=3).orderBy("id_a", "id_b")


def emb_lsh_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_topk(queries, emb, k=5).orderBy("query_id", "rank")


def minhash_lsh_md5_q(spark: SparkSession, sf: str) -> DataFrame:
    """Oracle-checkable MinHash+LSH near-dup pipeline (md5 hashes).

    The production path is ``minhash_lsh_pairs`` (xxhash64); this variant
    proves the *whole* LSH pipeline — shingling, signatures, banding,
    bucket join, exact verify — against DuckDB bit-for-bit."""
    docs = load_table(spark, sf, "documents")
    return minhash_lsh_pairs_md5(docs).orderBy("id_a", "id_b")


def _emb_lsh_sql(num_planes: int = 8, k: int = 5, dim: int = 64) -> str:
    """DuckDB oracle for ``emb_lsh_topk`` — embeds the same literal plane
    components (driver-side md5 PRNG, ``similarity.plane_components``) and
    the same sign-bit bucket assembly and cosine ranking."""
    from kukur_spark.operators.similarity import plane_components

    def plane_lit(p: int) -> str:
        return "[" + ", ".join(repr(c) for c in plane_components(p, dim)) + "]"

    bucket_bits = " + ".join(
        f"(CASE WHEN list_sum(list_transform(range(1, len(v) + 1), "
        f"i -> CAST(v[i] AS DOUBLE) * ({plane_lit(p)})[i])) > 0 "
        f"THEN {1 << p}::BIGINT ELSE 0::BIGINT END)"
        for p in range(num_planes)
    )
    return f"""
WITH sigs AS (
  SELECT vec_id, embedding AS v, {bucket_bits} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM sigs WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
    {duck_cos('q.qv', 'c.v')} AS cos_sim
  FROM sigs c JOIN q ON c.bucket = q.bucket
  WHERE q.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
"""


def simhash_md5_q(spark: SparkSession, sf: str) -> DataFrame:
    """Oracle-checkable SimHash near-dup pipeline (md5-derived bits)."""
    docs = load_table(spark, sf, "documents")
    return simhash_pairs_md5(docs).orderBy("id_a", "id_b")


def emb_ivf_topk_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(queries, emb, k=5).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
register("tpch_q1", tpch_q1, TPCH_Q1_SQL)
register("tpch_q3", tpch_q3, TPCH_Q3_SQL)
register("tpch_q5", tpch_q5, TPCH_Q5_SQL)
register("tpch_q6", tpch_q6, TPCH_Q6_SQL)
register("tpch_q7", tpch_q7_volume_shipping, TPCH_Q7_SQL)
register("tpch_q10", tpch_q10_returned_items, TPCH_Q10_SQL)
register("tpch_q14", tpch_q14_promo_revenue, TPCH_Q14_SQL)
register("tpch_q19", tpch_q19_disjunctive, TPCH_Q19_SQL)
register("tpch_q17", tpch_q17_small_quantity, TPCH_Q17_SQL)
register("tpch_q18", tpch_q18_large_orders, TPCH_Q18_SQL)
register("orders_by_quarter", orders_by_quarter, ORDERS_BY_QUARTER_SQL)
register("events_rolling_7d", events_rolling_7d, EVENTS_ROLLING_SQL)
register("top_customer_per_nation", top_customer_per_nation, TOP_CUSTOMER_SQL)
register("ts_range_filter", ts_range_filter, TS_RANGE_FILTER_SQL)
register("ts_series_discovery", ts_series_discovery, TS_SERIES_DISCOVERY_SQL)
register("ts_latest_value", ts_latest_value, TS_LATEST_VALUE_SQL)
register("ts_plot_buckets", ts_plot_buckets, TS_PLOT_BUCKETS_SQL)
register("ts_plot_downsample", ts_plot_downsample, TS_PLOT_DOWNSAMPLE_SQL)
register("ts_asof_join", ts_asof_join, TS_ASOF_JOIN_SQL)
register(
    "ts_resample_stepped", _resample_query("stepped"), _resample_sql("stepped")
)
register(
    "ts_resample_linear", _resample_query("linear"), _resample_sql("linear")
)
register("ts_interval_union", ts_interval_union, TS_INTERVAL_UNION_SQL)
register("distinct_users", distinct_users, DISTINCT_USERS_SQL)
register("events_daily_window", events_daily_window, EVENTS_DAILY_WINDOW_SQL)
register("events_rollup", events_rollup, EVENTS_ROLLUP_SQL)
register("sessionize", sessionize, SESSIONIZE_SQL)
register("orders_exists_semi", orders_with_shipments_semi, ORDERS_SEMI_SQL)
register("orders_missing_anti", orders_without_shipments_anti, ORDERS_ANTI_SQL)
register("events_json_extract", events_json_extract, EVENTS_JSON_SQL)
register("events_pivot_wide", events_pivot_wide, EVENTS_PIVOT_SQL)
register("customer_cube", customer_cube, CUSTOMER_CUBE_SQL)
register("emb_neardup_pairs", emb_neardup_pairs, EMB_NEARDUP_SQL)
register("dedup_exact", dedup_exact_q, DEDUP_EXACT_SQL)
register("text_token_stats", text_token_stats, TEXT_TOKEN_STATS_SQL)
register("text_quality_score", text_quality_score, TEXT_QUALITY_SCORE_SQL)
register("text_langid", text_langid, TEXT_LANGID_SQL)
register("text_fingerprint", text_fingerprint, TEXT_FINGERPRINT_SQL)
register("ngram_jaccard", ngram_jaccard_exact, NGRAM_JACCARD_SQL)
register("dedup_clusters", dedup_clusters, DEDUP_CLUSTERS_SQL)
register("dedup_kept", dedup_kept, DEDUP_KEPT_SQL)
register("corpus_stats", corpus_stats, CORPUS_STATS_SQL)
register("text_tfidf_topk", text_tfidf_topk, TEXT_TFIDF_SQL)
register("emb_topk_bruteforce", emb_topk_bruteforce, EMB_TOPK_SQL)
register("emb_topk_l2", emb_topk_l2, EMB_TOPK_L2_SQL)
register("emb_centroid_per_label", emb_centroid_per_label, EMB_CENTROID_SQL)
register("minhash_lsh_md5", minhash_lsh_md5_q, minhash_md5_oracle_sql())
register("simhash_md5", simhash_md5_q, simhash_md5_oracle_sql())
# xxhash64 fast paths: not expressible in DuckDB, so no oracle; each md5
# twin above runs the identical plan with one
register("minhash_lsh_pairs", minhash_lsh_q)
register("simhash_pairs", simhash_q)
register("emb_lsh_topk", emb_lsh_topk_q, _emb_lsh_sql())
register("emb_ivf_topk", emb_ivf_topk_q, EMB_IVF_SQL)


def _recall_against_exact(
    exact: DataFrame, ann: DataFrame, method: str
) -> DataFrame:
    counts = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    acounts = ann.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_ann")
    )
    hits = (
        exact.join(ann, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        counts.join(acounts, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            F.lit(method).alias("method"),
            "query_id",
            "n_exact",
            F.coalesce("n_ann", F.lit(0)).alias("n_ann"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.expr(
                "(coalesce(n_hit, 0) * 1000000L) div n_exact"
            ).alias("recall_ppm"),
        )
    )


def emb_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of every ANN path (LSH, IVF, PQ) against brute force.

    The evaluation harness an approximate index needs before it
    replaces the exact path at scale: all four sides are deterministic
    engine queries, each comparison is two grouped counts and a semi
    join on (query, neighbor) — broadcast-sized here, keyed by query at
    100 TB.  Recall is integer-exact ppm; one row per (method, query).
    """
    # the exact side feeds three semi joins and three count aggregates;
    # persist the 50-row result instead of re-running brute force 6x
    exact = persist_once(
        emb_topk_bruteforce(spark, sf).select("query_id", "neighbor_id")
    )
    parts = [
        _recall_against_exact(
            exact,
            emb_lsh_topk_q(spark, sf).select("query_id", "neighbor_id"),
            "lsh",
        ),
        _recall_against_exact(
            exact,
            emb_ivf_topk_q(spark, sf).select("query_id", "neighbor_id"),
            "ivf",
        ),
        _recall_against_exact(
            exact,
            emb_pq_topk(spark, sf).select("query_id", "neighbor_id"),
            "pq",
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("method", "query_id")


def _ann_recall_sql() -> str:
    methods = {
        "lsh": _emb_lsh_sql(),
        "ivf": EMB_IVF_SQL,
        "pq": ORACLES["emb_pq_topk"],
    }
    # MATERIALIZED: each expensive side evaluates once, not per join arm
    ctes = [f"exact AS MATERIALIZED ({EMB_TOPK_SQL})"]
    for method, sql in methods.items():
        ctes.append(f"ann_{method} AS MATERIALIZED ({sql})")
    blocks = []
    for method in methods:
        blocks.append(f"""
SELECT '{method}' AS method, c.query_id, n_exact,
  COALESCE(n_ann, 0) AS n_ann,
  COALESCE(n_hit, 0) AS n_hit,
  (COALESCE(n_hit, 0) * 1000000) // n_exact AS recall_ppm
FROM (SELECT query_id, COUNT(*) AS n_exact
      FROM exact GROUP BY 1) c
LEFT JOIN (SELECT query_id, COUNT(*) AS n_ann
           FROM ann_{method} GROUP BY 1) a USING (query_id)
LEFT JOIN (
  SELECT e.query_id, COUNT(*) AS n_hit
  FROM exact e JOIN ann_{method} x
    ON e.query_id = x.query_id AND e.neighbor_id = x.neighbor_id
  GROUP BY e.query_id
) h USING (query_id)""")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + " UNION ALL ".join(f"({b})" for b in blocks)
        + " ORDER BY method, query_id"
    )


EMB_ANN_RECALL_SQL = _ann_recall_sql()

register("emb_ann_recall", emb_ann_recall, EMB_ANN_RECALL_SQL)


def docs_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    """Language-ID confusion matrix + per-cell share of the truth row.

    Evaluation harness for ``text_langid`` against the labeled ``lang``
    column: one join of predictions to labels (both derived from the
    same scan — Catalyst collapses it), one (truth, pred) aggregate,
    shares in exact ppm against the broadcast truth-row totals.
    """
    docs = load_table(spark, sf, "documents")
    pred = language_id(docs.select("doc_id", "text")).select(
        "doc_id", "pred_lang"
    )
    truth = docs.select("doc_id", F.col("lang").alias("true_lang"))
    cells = (
        truth.join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = cells.groupBy("true_lang").agg(
        F.sum("n").alias("row_total")
    )
    return (
        cells.join(F.broadcast(totals), "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n",
            F.expr("(n * 1000000L) div row_total").alias("share_ppm"),
        )
        .orderBy("true_lang", "pred_lang")
    )


_LANGID_BODY = TEXT_LANGID_SQL.replace("ORDER BY doc_id", "")

DOCS_LANG_CONFUSION_SQL = f"""
WITH pred AS ({_LANGID_BODY}),
cells AS (
  SELECT d.lang AS true_lang, p.pred_lang, COUNT(*) AS n
  FROM documents d JOIN pred p USING (doc_id)
  GROUP BY d.lang, p.pred_lang
),
totals AS (
  SELECT true_lang, CAST(SUM(n) AS BIGINT) AS row_total
  FROM cells GROUP BY true_lang
)
SELECT c.true_lang, c.pred_lang, c.n,
  (c.n * 1000000) // t.row_total AS share_ppm
FROM cells c JOIN totals t USING (true_lang)
ORDER BY true_lang, pred_lang
"""

register("docs_lang_confusion", docs_lang_confusion, DOCS_LANG_CONFUSION_SQL)


def emb_knn_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Leave-one-out 1-NN label accuracy per class.

    The standard embedding-quality evaluation: every vector is
    classified by its nearest other vector's label under cosine.  The
    all-pairs search is the exact verify baseline (repartitioned so the
    nested-loop join uses every core — same shape as
    ``emb_neardup_pairs``); the ANN indexes are the scale path, and
    `emb_ann_recall` measures exactly how much of this accuracy they
    retain.  Accuracy is integer ppm.
    """
    from kukur_spark.operators.similarity import as_double_sql, dot_sql, norm_sql

    emb = load_table(spark, sf, "embeddings")
    base = emb.selectExpr(
        "vec_id AS id", "label AS lbl", f"{as_double_sql('embedding')} AS v"
    ).withColumn("n", F.expr(norm_sql("v")))
    streamed = base.repartition(spark.sparkContext.defaultParallelism)
    # cosine is symmetric (IEEE multiply commutes, positional fold order),
    # so score each unordered pair once (a.id < b.id — half the O(d)
    # folds of the a.id != b.id form) and mirror every scored row into
    # both query directions.  The explode references the single cos_sim
    # column: the fold is expensive and referenced twice, so
    # CollapseProject keeps it evaluated once per unordered pair.
    half = (
        streamed.alias("a")
        .join(F.broadcast(base.alias("b")), F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.lbl").alias("lbl_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.lbl").alias("lbl_b"),
            F.expr(f"{dot_sql('a.v', 'b.v')} / (a.n * b.n)").alias("cos_sim"),
        )
    )
    scored = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id"),
                    F.col("lbl_a").alias("true_label"),
                    F.col("lbl_b").alias("nn_label"),
                    F.col("id_b").alias("nn_id"),
                    F.col("cos_sim"),
                ),
                F.struct(
                    F.col("id_b").alias("id"),
                    F.col("lbl_b").alias("true_label"),
                    F.col("lbl_a").alias("nn_label"),
                    F.col("id_a").alias("nn_id"),
                    F.col("cos_sim"),
                ),
            )
        ).alias("p")
    ).select("p.id", "p.true_label", "p.nn_label", "p.nn_id", "p.cos_sim")
    nearest = (
        scored.groupBy("id", "true_label")
        .agg(
            F.max_by(
                F.struct("nn_label"),
                F.struct("cos_sim", (-F.col("nn_id")).alias("tie")),
            ).alias("nn"),
        )
        .select("id", "true_label", F.col("nn.nn_label").alias("nn_label"))
    )
    return (
        nearest.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    F.col("true_label") == F.col("nn_label"), 1
                ).otherwise(0)
            ).cast("long").alias("n_correct"),
        )
        .withColumn("acc_ppm", F.expr("(n_correct * 1000000L) div n"))
        .orderBy("label")
    )


EMB_KNN_ACC_SQL = """
WITH base AS (
  SELECT vec_id AS id, label AS lbl, embedding AS v,
    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
      AS n
  FROM embeddings
),
scored AS (
  SELECT a.id, a.lbl AS true_label, b.lbl AS nn_label, b.id AS nn_id,
    list_sum(list_transform(range(1, len(a.v) + 1),
      i -> CAST(a.v[i] AS DOUBLE) * CAST(b.v[i] AS DOUBLE)))
      / (a.n * b.n) AS cos_sim
  FROM base a JOIN base b ON a.id <> b.id
),
nearest AS (
  SELECT id, true_label, nn_label
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY id
                             ORDER BY cos_sim DESC, nn_id ASC) = 1
)
SELECT true_label AS label, COUNT(*) AS n,
  CAST(SUM(CASE WHEN true_label = nn_label THEN 1 ELSE 0 END) AS BIGINT)
    AS n_correct,
  (CAST(SUM(CASE WHEN true_label = nn_label THEN 1 ELSE 0 END) AS BIGINT)
    * 1000000) // COUNT(*) AS acc_ppm
FROM nearest
GROUP BY true_label
ORDER BY label
"""

register("emb_knn_accuracy", emb_knn_accuracy, EMB_KNN_ACC_SQL)
# the banded production edge query; its all-pairs exact twin
# (ngram_jaccard) stays registered as the recall baseline
register(
    "lsh_jaccard_edges",
    lsh_jaccard_edges,
    LSH_JACCARD_EDGES_SQL_TEMPLATE.format(ctes=_lsh_edges_sql_ctes()),
)


def docs_emb_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-based eval-set decontamination: flag training vectors
    whose cosine similarity to ANY held-out eval vector reaches 0.30
    (the corpus cross-sim p99 is ~0.29, max ~0.49 — the threshold
    separates near-duplicates of eval items from background similarity).

    Complements the lexical paths (``docs_decontaminate`` vocabulary,
    ``docs_decontaminate_13gram`` hashed n-grams): paraphrased eval
    leakage survives both but not an embedding match.  Scale shape: the
    eval set is LIMIT-bounded and broadcast, so the corpus never
    shuffles and the audit sees a bounded join side; at a real eval
    suite's size the same plan holds (thousands of rows still
    broadcast).  Sims quantize to e6 BEFORE thresholding so the flag is
    integer-exact against the oracle.
    """
    from kukur_spark.operators.similarity import as_double_sql, dot_sql, norm_sql

    emb = load_table(spark, sf, "embeddings")
    ev = (
        emb.orderBy("vec_id")
        .limit(32)
        .selectExpr("vec_id AS eval_id", f"{as_double_sql('embedding')} AS ev")
        .withColumn("evn", F.expr(norm_sql("ev")))
    )
    docs = (
        emb.filter(F.col("vec_id") >= 32)
        .selectExpr("vec_id", f"{as_double_sql('embedding')} AS dv")
        .withColumn("dn", F.expr(norm_sql("dv")))
    )
    scored = docs.join(F.broadcast(ev)).select(
        "vec_id",
        "eval_id",
        F.expr(f"{dot_sql('dv', 'ev')} / (dn * evn)").alias("sim"),
    )
    best = scored.groupBy("vec_id").agg(
        F.max(F.floor(F.col("sim") * F.lit(1000000.0))).alias("max_sim_e6"),
        F.max_by(
            F.col("eval_id"),
            F.struct(
                F.col("sim").alias("s"), (-F.col("eval_id")).alias("t")
            ),
        ).alias("nearest_eval_id"),
    )
    return best.select(
        "vec_id",
        "nearest_eval_id",
        F.col("max_sim_e6").cast("long").alias("max_sim_e6"),
        F.when(F.col("max_sim_e6") >= 300000, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("contaminated"),
    ).orderBy("vec_id")


EMB_DECONTAMINATE_SQL = f"""
WITH ev AS (
  SELECT vec_id AS eval_id, embedding AS ev
  FROM embeddings ORDER BY vec_id ASC LIMIT 32
),
scored AS (
  SELECT d.vec_id, e.eval_id,
    {duck_cos('d.embedding', 'e.ev')} AS sim
  FROM embeddings d, ev e
  WHERE d.vec_id >= 32
),
ranked AS (
  SELECT vec_id, eval_id, sim,
    row_number() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, eval_id ASC) AS rn
  FROM scored
)
SELECT vec_id, eval_id AS nearest_eval_id,
  CAST(floor(sim * 1000000) AS BIGINT) AS max_sim_e6,
  CAST(CASE WHEN floor(sim * 1000000) >= 300000 THEN 1 ELSE 0 END
       AS INTEGER) AS contaminated
FROM ranked WHERE rn = 1
ORDER BY vec_id
"""

register(
    "docs_emb_decontaminate", docs_emb_decontaminate, EMB_DECONTAMINATE_SQL
)


# ---------------------------------------------------------------------------
# driver-window rotation: the driver's CORRECTNESS gate records only the
# FIRST 50 registry entries.  Through round 5 the window rotated a handful
# of flagships per round, which left 160/226 oracled queries never
# driver-checked (VERDICT r5's structural complaint).  From round 6 the
# window is rebuilt wholesale each round: ~5 long-proven canaries (regression
# tripwires spanning the core families) + ~45 queries that have never earned
# a driver-green row, swept until every oracled query has been
# driver-checked.  Ever-checked names accumulate in the committed
# CORRECTNESS_r*.json files.  Every window name must be oracle-paired;
# tests/test_registry_window.py pins the invariants.  The window is
# applied once every query module above has registered.
# ---------------------------------------------------------------------------
_WINDOW_CANARIES = [
    # the five regression tripwires VERDICT r5 #3 named
    "tpch_q1",  # flagship scan→agg (also the entry() smoke query)
    "ts_range_filter",  # pushed tag + half-open time-range filter
    "dedup_exact",  # exact dedup family
    "minhash_lsh_md5",  # LSH banding pipeline (deterministic md5 twin)
    "multimodal_features",  # binary-column mapInPandas path
]


def _set_window(queries: Dict[str, Callable], window: List[str]) -> Dict:
    missing = [n for n in window if n not in queries]
    if missing:
        raise KeyError(f"window names not registered: {missing}")
    head = set(window)
    rest = sorted(n for n in queries if n not in head)
    return {name: queries[name] for name in list(window) + rest}


# ---------------------------------------------------------------------------
# Standing re-verification rotation (round 10+).  One-shot per-round
# sweeps cleared the first-time backlog in round 9 (every oracled
# query has a driver-green CORRECTNESS row).  From round 10 the window is
# COMPUTED, not pinned: the 5 canaries plus the 45 oracled names whose
# most recent driver-green round is OLDEST, read directly from the
# committed CORRECTNESS_r*.json ledgers at the repo root.  The cursor is
# therefore the ledger itself — when the driver lands CORRECTNESS_r10,
# the r11 import recomputes and the window advances with zero edits.
# Never-green names (e.g. a query registered this round) sort first, so
# new registrations are always driver-checked on registration.  Ties
# break by query name, so the window depends only on the set of
# registered names and the ledger files, never on import order.
# tests/test_registry_window.py pins the staleness-minimality invariant.
# ---------------------------------------------------------------------------


def _driver_green_rounds() -> Dict[str, int]:
    """Latest driver-green round per query from CORRECTNESS_r*.json.

    A row counts as green only when rows+schema matched with no error —
    the same bar the verdicts apply.  Unreadable or absent ledgers are
    skipped (a fresh clone rotates on query names alone).
    """
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    last: Dict[str, int] = {}
    for path in _glob.glob(_os.path.join(repo, "CORRECTNESS_r*.json")):
        match = _re.search(r"r(\d+)\.json$", path)
        if not match:
            continue
        rnd = int(match.group(1))
        try:
            with open(path) as handle:
                rows = _json.load(handle)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and not row.get("err")
            ):
                last[name] = max(last.get(name, 0), rnd)
    return last


def _rotation_window(
    queries: Dict[str, Callable],
    oracles: Dict[str, str],
    canaries: List[str],
    sweep_slots: int = 45,
) -> List[str]:
    """The 45 stale-most oracled names, by (last-green round, name),
    never-green first."""
    last = _driver_green_rounds()
    pool = [n for n in queries if n in oracles and n not in canaries]
    pool.sort(key=lambda n: (last.get(n, -1), n))
    return pool[:sweep_slots]


_WINDOW_SWEEP = _rotation_window(QUERIES, ORACLES, _WINDOW_CANARIES)

QUERIES = _set_window(QUERIES, _WINDOW_CANARIES + _WINDOW_SWEEP)
