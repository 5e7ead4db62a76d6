"""Extended TPC-H-shaped query surface (SURVEY.md §7.2 #6, round-2 widening).

The reference has no relational layer; ``operators/relational.py`` covers the
core operator categories. This module adds the remaining canonical TPC-H
*shapes* — adapted to the fixture star schema, which has no ``partsupp``
table and no ``l_shipmode``/``l_receiptdate``/``ps_supplycost`` columns —
so every classic optimizer exercise (correlated min subquery, disjunctive
predicate pushdown, decorrelated per-group average, scalar-max selection,
conditional-aggregate market share) has a checked twin here:

  Q2  -> cheapest supplier per part (correlated MIN -> window rank)
  Q6  -> conjunctive range filters fully pushed to the scan
  Q8  -> market share via conditional aggregation
  Q9  -> product profit by nation x year (LIKE filter on part name)
  Q10 -> returned-revenue top-k through the dimension chain
  Q14 -> promo revenue ratio (CASE inside sum)
  Q15 -> top supplier(s) by scalar-max subquery over an agg CTE
  Q16 -> distinct-supplier counts with an anti-joined exclusion list
  Q17 -> small-quantity revenue via decorrelated per-part average
  Q18 -> large-volume customers (grouped HAVING semi-join)
  Q19 -> OR-of-conjunctions disjunctive join predicate
  Q22 -> idle high-balance customers (scalar avg + outer-join count filter)

Round 5 completes the full 22-shape suite (the fixture has no
``l_commitdate``/``l_receiptdate``/``l_shipmode``/``partsupp``, so the
lateness/stock semantics are re-cut onto ``l_shipdate`` lag and shipped
quantities — the OPTIMIZER exercise each query exists for is preserved):

  Q4  -> order-priority counts over an EXISTS with a non-equi correlated
         predicate (late shipment = shipped >60 days after order date)
  Q11 -> important part values: group HAVING a scalar-subquery fraction
         of the grand total
  Q12 -> category x priority-class conditional counts (returnflag stands
         in for shipmode)
  Q20 -> dominant suppliers of a part family: nested agg -> per-group
         threshold -> semi-join chain
  Q21 -> suppliers who kept orders waiting: double EXISTS/NOT-EXISTS
         self-join, decorrelated to one window pass on the Spark side

Scale discipline (same contract as relational.py): dimensions broadcast,
facts shuffle at most once per agg, every ORDER BY+LIMIT carries a
deterministic tie-break, money sums round to 2dp / ratios to 6dp so both
engines hash identically, and integer sums in the oracles CAST to BIGINT
(DuckDB HUGEINT -> pandas float64 trap, CORRECTNESS_r01 post-mortem).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tf_idf_using_mapreduce_spark.sources.corpus import load_table

# Exact-grid revenue aggregation (the q9 round-7 cent-divergence fix),
# now shared engine-wide from functions/money.py — round 8 migrated every
# `round(sum(<1e-4/1e-6 grid product>), 2)` site onto it, since each one
# is the same .005-midpoint sum-order trap waiting for data to roll it.
from tf_idf_using_mapreduce_spark.functions.money import (
    DISC_REV_SUM_2DP_SQL as _DISC_REV_SUM_2DP_SQL,
    DISC_REV_UNITS_SPARK as _DISC_REV_UNITS_EXPR,
    REV_SUM_2DP_SQL as _REV_SUM_2DP_SQL,
    REV_UNITS_DUCK as _REV_UNITS_DUCK,
    REV_UNITS_SPARK as _REV_UNITS_EXPR,
    cents_sum_2dp as _cents_sum_2dp,
    cents_sum_2dp_sql as _cents_sum_2dp_sql,
    rev_sum_2dp as _rev_sum_2dp,
    sum_units_2dp as _sum_units_2dp,
)


# --------------------------------------------------------------------------- #
# Q2 shape: cheapest supplier per part (correlated MIN subquery)
# --------------------------------------------------------------------------- #

def q2_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_partkey, p_name, s_suppkey, unit_price): for each SMALL part under
    size 15, the supplier shipping it at the lowest unit price (classic Q2
    correlated-MIN shape). The correlated subquery decorrelates to a window
    rank over (price, suppkey) — one shuffle on partkey, no re-join of the
    aggregate back onto the fact."""
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") == "SMALL") & (F.col("p_size") < 15)
    )
    li = load_table(spark, sf_dir, "lineitem")
    priced = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            "p_partkey",
            "p_name",
            "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        )
    )
    w = Window.partitionBy("p_partkey").orderBy(F.asc("unit_price"), F.asc("l_suppkey"))
    return (
        priced.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "p_partkey",
            "p_name",
            F.col("l_suppkey").alias("s_suppkey"),
            F.round("unit_price", 2).alias("unit_price"),
        )
    )


Q2_ORACLE = """
SELECT p_partkey, p_name, l_suppkey AS s_suppkey, round(unit_price, 2) AS unit_price
FROM (
  SELECT p_partkey, p_name, l_suppkey,
         l_extendedprice / l_quantity AS unit_price,
         row_number() OVER (PARTITION BY p_partkey
                            ORDER BY l_extendedprice / l_quantity ASC, l_suppkey ASC) AS rk
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'SMALL' AND p_size < 15
) WHERE rk = 1
"""


# --------------------------------------------------------------------------- #
# Q6 shape: pure conjunctive-range filter aggregation (pushdown showcase)
# --------------------------------------------------------------------------- #

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row revenue-change forecast: every predicate is a range on a
    scanned column, so the whole WHERE clause pushes into the parquet reader
    (PushedFilters in the plan) — the canonical Q6 exercise."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_sum_units_2dp(_DISC_REV_UNITS_EXPR, 4).alias("revenue"))
    )


Q6_ORACLE = f"""
SELECT {_DISC_REV_SUM_2DP_SQL} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# --------------------------------------------------------------------------- #
# Q8 shape: market share by conditional aggregation
# --------------------------------------------------------------------------- #

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_year, mkt_share): NATION_2 suppliers' share of revenue on orders
    placed by ASIA-region customers, per order year. The nested
    all-vs-subset division becomes ONE pass with a CASE inside the sum —
    no second join or self-union."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    nation_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation_c), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation_s), F.col("s_nationkey") == F.col("s_nk"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        # exact integer unit sums for BOTH ratio legs (the money.py
        # discipline): one double division at the end, then the 6-dp round
        .agg(
            F.expr(
                "round(cast(sum(CASE WHEN supp_nation = 'NATION_2' THEN "
                f"{_REV_UNITS_EXPR} ELSE 0 END) as double)"
                f" / cast(sum({_REV_UNITS_EXPR}) as double), 6)"
            ).alias("mkt_share")
        )
    )


Q8_ORACLE = f"""
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         {_REV_UNITS_DUCK} AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
) GROUP BY o_year
"""


# --------------------------------------------------------------------------- #
# Q9 shape: product profit by supplier nation x year (LIKE on part name)
# --------------------------------------------------------------------------- #

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, o_year, profit): revenue from parts whose name contains
    'ring', by supplier nation and order year. (The fixture has no
    ps_supplycost, so profit = discounted revenue — the join/agg shape is
    Q9's, the formula is simplified.)"""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").contains("ring"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(_rev_sum_2dp().alias("profit"))
    )


Q9_ORACLE = f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       {_REV_SUM_2DP_SQL} AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%ring%'
GROUP BY n_name, year(o_orderdate)
"""


# --------------------------------------------------------------------------- #
# Q10 shape: returned-revenue top-k through the dimension chain
# --------------------------------------------------------------------------- #

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 customers by revenue lost to returns ('R' lines) on orders from
    1997H1 — join chain + agg + TakeOrderedAndProject (no global sort)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_rev_sum_2dp().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_ORACLE = f"""
SELECT c_custkey, c_name, n_name, {_REV_SUM_2DP_SQL} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --------------------------------------------------------------------------- #
# Q14 shape: promo revenue ratio (CASE inside sum)
# --------------------------------------------------------------------------- #

def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single row: percentage of 1997-03 shipped revenue from PROMO parts."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.expr(
                "round(100 * cast(sum(CASE WHEN p_type = 'PROMO' THEN "
                f"{_REV_UNITS_EXPR} ELSE 0 END) as double)"
                f" / cast(sum({_REV_UNITS_EXPR}) as double), 6)"
            ).alias("promo_revenue_pct")
        )
    )


Q14_ORACLE = f"""
SELECT round(100 * CAST(sum(CASE WHEN p_type = 'PROMO'
                            THEN {_REV_UNITS_DUCK} ELSE 0 END) AS DOUBLE)
             / CAST(sum({_REV_UNITS_DUCK}) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
"""


# --------------------------------------------------------------------------- #
# Q15 shape: top supplier(s) by scalar-max subquery over an aggregated CTE
# --------------------------------------------------------------------------- #

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_suppkey, s_name, total_revenue): supplier(s) whose 1997Q1 shipped
    revenue equals the maximum. The revenue CTE is aggregated (one row per
    supplier), so the max is a scalar subquery Catalyst broadcasts — the
    fact table is scanned ONCE."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy("l_suppkey")
        .agg(_rev_sum_2dp().alias("total_revenue"))
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(top), revenue.total_revenue == top.max_revenue)
        .join(F.broadcast(supp), revenue.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey, {_REV_SUM_2DP_SQL} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


# --------------------------------------------------------------------------- #
# Q16 shape: distinct-supplier counts with an anti-joined exclusion list
# --------------------------------------------------------------------------- #

def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(p_brand, p_size, supplier_cnt): how many distinct suppliers ship each
    non-PROMO (brand, size), excluding blacklisted suppliers (negative
    account balance stands in for Q16's complaints list). The exclusion is a
    broadcast ANTI join — NOT IN's null-swallowing trap avoided on both
    sides (oracle uses NOT EXISTS, ADVICE.md round 1)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") != "PROMO")
    bad_supp = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp),
            li.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


Q16_ORACLE = """
SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND NOT EXISTS (SELECT 1 FROM supplier s
                  WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 0)
GROUP BY p_brand, p_size
"""


# --------------------------------------------------------------------------- #
# Q17 shape: small-quantity revenue via decorrelated per-part average
# --------------------------------------------------------------------------- #

def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single row: average yearly revenue that would vanish if orders below
    20% of a part's mean quantity were dropped (Brand#1 only). The
    correlated per-part AVG decorrelates to a tiny aggregate (≤ one row per
    part) broadcast back onto the fact scan — the scalable form of Q17; at
    100 TB the agg side stays dimension-sized because part count, not
    lineitem count, bounds it."""
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    li = load_table(spark, sf_dir, "lineitem")
    branded = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_partkey", "l_quantity", "l_extendedprice"
    )
    avg_qty = branded.groupBy("p_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cutoff")
    )
    return (
        branded.join(F.broadcast(avg_qty), "p_partkey")
        .where(F.col("l_quantity") < F.col("qty_cutoff"))
        .agg(
            # round(Σprice/7, 2) in exact integer cents: C = Σ round(price·100)
            # is exact (2-dp grid), and half-up(C/7) = (2C+7) div 14 for
            # positive C — no float sum, no .005-midpoint sum-order hazard
            F.expr(
                "cast((2 * sum(cast(round(l_extendedprice * 100) as bigint))"
                " + 7) div 14 as double) / cast(100 as double)"
            ).alias("avg_yearly")
        )
    )


Q17_ORACLE = """
SELECT CAST((2 * sum(CAST(round(l_extendedprice * 100) AS BIGINT)) + 7) // 14
            AS DOUBLE) / CAST(100 AS DOUBLE) AS avg_yearly
FROM lineitem l JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


# --------------------------------------------------------------------------- #
# Q18 shape: large-volume customers (grouped HAVING semi-join)
# --------------------------------------------------------------------------- #

def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 (customer, order) pairs whose order exceeds 250 total quantity.
    The HAVING subquery is the same grouped aggregate the outer query needs,
    so it's computed once and joined — not recomputed as a semi-join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
SELECT c_custkey, c_name, o_orderkey, round(o_totalprice, 2) AS o_totalprice, total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
"""


# --------------------------------------------------------------------------- #
# Q19 shape: OR-of-conjunctions disjunctive join predicate
# --------------------------------------------------------------------------- #

def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single row: revenue matched by any of three (brand, size-range,
    quantity-range) conjunctions. The disjunction sits ABOVE a plain
    equi-join on partkey, so the join stays hash/broadcast (no nested-loop
    blowup) and each OR arm's column bounds still derive pushable ranges."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(1, 20)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(11, 20)
        & F.col("l_quantity").between(10, 30)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(21, 30)
        & F.col("l_quantity").between(20, 40)
    )
    return joined.where(arm1 | arm2 | arm3).agg(
        _rev_sum_2dp().alias("revenue")
    )


Q19_ORACLE = f"""
SELECT {_REV_SUM_2DP_SQL} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 30 AND l_quantity BETWEEN 20 AND 40)
"""


# --------------------------------------------------------------------------- #
# Q22 shape: idle high-balance customers (scalar avg + outer-join count)
# --------------------------------------------------------------------------- #

def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_name, numcust, totacctbal): by nation, customers whose balance
    beats the positive-balance average yet placed fewer than 7 orders (well below the ~10-order fixture mean).
    (Q22's no-orders-at-all filter is empty on this fixture — every customer
    orders, ~10 each — so the cutoff is <7; same scalar-subquery + outer-join-count
    shape.) count(*) per customer aggregates BEFORE the dimension join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    order_counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    rich = (
        cust.join(F.broadcast(avg_bal), cust.c_acctbal > F.col("avg_bal"))
        .join(order_counts, cust.c_custkey == order_counts.o_custkey, "left")
        .where(F.coalesce(F.col("n_orders"), F.lit(0)) < 7)
    )
    return (
        rich.join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _cents_sum_2dp("c_acctbal").alias("totacctbal"),
        )
    )


Q22_ORACLE = f"""
WITH counts AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
)
SELECT n_name, count(*) AS numcust, {_cents_sum_2dp_sql('c_acctbal')} AS totacctbal
FROM customer
LEFT JOIN counts ON c_custkey = o_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND coalesce(n_orders, 0) < 7
GROUP BY n_name
"""


# --------------------------------------------------------------------------- #
# Q4 shape: order-priority checking (EXISTS with a correlated non-equi term)
# --------------------------------------------------------------------------- #

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_orderpriority, order_count): 1997Q1 orders with at least one line
    shipped more than 60 days after the order date (the fixture has no
    l_commitdate/l_receiptdate, so late-shipment lag stands in for Q4's
    commit-vs-receipt test). The EXISTS is a LEFT SEMI join whose condition
    carries the correlated non-equi term, so each order is emitted at most
    once no matter how many lines are late — one shuffle on orderkey, the
    quarter filter pushed to the orders scan."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------- #
# Q11 shape: important part values (HAVING a scalar fraction of the total)
# --------------------------------------------------------------------------- #

def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_partkey, part_value): parts whose discounted revenue shipped by
    NATION_7 suppliers exceeds TWICE the mean per-part revenue for that
    nation (no partsupp table, so shipped revenue stands in for supplycost
    x availqty; the shape — group, then HAVING against a scalar subquery
    over the SAME filtered fact — is Q11's). The threshold is mean-relative
    rather than a fixed fraction of the total because a fixed fraction is
    scale-sensitive: TPC-H itself divides Q11's fraction by SF, and a
    fixed 0.001 emptied the result at sf0.1. The nation-filtered supplier
    list broadcasts into the fact scan; the scalar (total, count) is one
    extra reduction over the per-part aggregate (NOT a second fact scan)
    and broadcasts back as a single-row crossJoin."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    nat_supp = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem")
    # sum EXACT INTEGERS, not doubles: prices are exact cents and discounts
    # exact percents (verified on the fixture), so per-row revenue is exact
    # in 1e-4 units — price_cents x (100 - discount_pct). Double sums are
    # order-dependent and these 4dp-grid revenues land exactly on .005
    # rounding boundaries (one part at sf0.1 flipped 2dp between Spark's
    # and DuckDB's sum orders); double->DECIMAL casts are no fix because
    # Spark rounds the double's shortest decimal repr (HALF_UP) while
    # DuckDB rounds its exact binary value. Integer bigint sums are exact,
    # associative, and bit-identical everywhere.
    rev_e4 = (
        "cast(round(l_extendedprice * 100, 0) as bigint)"
        " * (100 - cast(round(l_discount * 100, 0) as bigint))"
    )
    per_part = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.expr(f"sum({rev_e4})").alias("value_e4"))
    )
    total = per_part.agg(
        F.sum("value_e4").alias("grand_total"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.join(
            F.broadcast(total),
            # integer cross-multiplication: no division, no float threshold.
            # Widened to DECIMAL(38,0) BEFORE multiplying: per-part value_e4
            # reaches ~1e12 at sf100 and the part count ~2e7, so the bigint
            # product (and 2x the grand total, ~2.4e19) exceeds int64 —
            # Spark would wrap/null while DuckDB's HUGEINT sum kept going,
            # breaking parity exactly at scale. 38-digit decimal (Spark) and
            # int128 (DuckDB oracle) are both exact for these magnitudes,
            # so the comparison stays bit-identical on both engines.
            F.col("value_e4").cast("decimal(38,0)") * F.col("n_parts")
            > F.lit(2) * F.col("grand_total").cast("decimal(38,0)"),
        )
        .select(
            "l_partkey",
            # 4dp = the value grid's own resolution, so this round has no
            # ties (2dp over a 4dp grid hits exact .xx5 midpoints, where
            # Spark's shortest-repr HALF_UP and DuckDB's binary rounding
            # disagree)
            F.expr("round(cast(value_e4 as double) / 10000.0, 4)").alias("part_value"),
        )
    )


Q11_ORACLE = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS BIGINT)
           AS value_e4
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                      JOIN nation ON s_nationkey = n_nationkey
                      WHERE n_name = 'NATION_7')
  GROUP BY l_partkey
)
SELECT l_partkey, round(CAST(value_e4 AS DOUBLE) / 10000.0, 4) AS part_value
FROM per_part
WHERE CAST(value_e4 AS HUGEINT) * (SELECT count(*) FROM per_part)
      > 2 * CAST((SELECT sum(value_e4) FROM per_part) AS HUGEINT)
"""


# --------------------------------------------------------------------------- #
# Q12 shape: category x priority-class conditional counts
# --------------------------------------------------------------------------- #

def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_returnflag, high_line_count, low_line_count): for lines shipped in
    1997, how many belong to critical-priority orders vs not, per return
    flag (the fixture has no l_shipmode; l_returnflag is the stand-in
    category). Q12's optimizer exercise is intact: the CASE collapses the
    order-priority dimension inside ONE aggregation pass over the
    fact-to-fact join, instead of two filtered scans."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
    )


Q12_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------- #
# Q20 shape: dominant suppliers of a part family (nested agg -> threshold)
# --------------------------------------------------------------------------- #

def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_suppkey, s_name, n_parts_dominated): suppliers who shipped more
    than 30% of 1997's total quantity of some part whose name contains 'a'
    (no partsupp/availqty, so quantity share stands in for Q20's
    excess-stock test; the nested-aggregate -> per-group threshold ->
    semi-join-chain shape is preserved). Per-(part,supplier) totals reuse
    the SAME shuffle for the per-part window total — one exchange on
    partkey, then the supplier dimension broadcasts."""
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").contains("a"))
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair_qty = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("pair_qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        pair_qty.withColumn("part_qty", F.sum("pair_qty").over(w))
        .where(F.col("pair_qty") > 0.3 * F.col("part_qty"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        dominant.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_parts_dominated"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "n_parts_dominated")
    )


Q20_ORACLE = """
WITH pair_qty AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS pair_qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%a%')
  GROUP BY l_partkey, l_suppkey
),
dominant AS (
  SELECT l_suppkey, l_partkey
  FROM (SELECT l_suppkey, l_partkey, pair_qty,
               sum(pair_qty) OVER (PARTITION BY l_partkey) AS part_qty
        FROM pair_qty)
  WHERE pair_qty > 0.3 * part_qty
)
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_parts_dominated
FROM dominant JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
"""


# --------------------------------------------------------------------------- #
# Q21 shape: suppliers who kept orders waiting (double EXISTS / NOT EXISTS)
# --------------------------------------------------------------------------- #

def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s_name, numwait): for finalized ('F') multi-supplier orders, count
    each supplier's lines that no OTHER supplier shipped after (the
    fixture's l_shipdate stands in for Q21's receipt/commit lag; the classic
    EXISTS other-supplier / NOT EXISTS later-other-supplier pair is the
    shape). The correlated pair decorrelates to ONE window pass over
    per-(order,supplier) maxima: a line waits iff its shipdate >= the max
    shipdate among OTHER suppliers' lines of the same order — computed from
    (m1, count-at-m1, m2) without a self-join, so the fact shuffles once on
    orderkey and never re-probes itself. Top 20 with the unique s_name as
    the deterministic tie-break."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.join(
        orders.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_semi"
    ).select("l_orderkey", "l_suppkey", "l_shipdate")

    pair = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("smax")
    )
    w = Window.partitionBy("l_orderkey")
    pair = (
        pair.withColumn("m1", F.max("smax").over(w))
        .withColumn("nsupp", F.count(F.lit(1)).over(w))
        .withColumn(
            "cnt_m1",
            F.sum(F.when(F.col("smax") == F.col("m1"), 1).otherwise(0)).over(w),
        )
        .withColumn(
            "m2",
            F.max(F.when(F.col("smax") < F.col("m1"), F.col("smax"))).over(w),
        )
        .where(F.col("nsupp") >= 2)
        .withColumn(
            "max_other",
            F.when(
                (F.col("smax") < F.col("m1")) | (F.col("cnt_m1") >= 2), F.col("m1")
            ).otherwise(F.col("m2")),
        )
        .select("l_orderkey", "l_suppkey", "max_other")
    )
    waiting = lines.join(pair, ["l_orderkey", "l_suppkey"]).where(
        F.col("l_shipdate") >= F.col("max_other")
    )
    supp = load_table(spark, sf_dir, "supplier")
    return (
        waiting.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


Q21_ORACLE = """
WITH flines AS (
  SELECT l_orderkey, l_suppkey, l_shipdate
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM flines l1 JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM flines l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM flines l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""
