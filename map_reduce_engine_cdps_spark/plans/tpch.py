"""TPC-H-shaped multi-join battery (SURVEY.md §2.5 T35-T38 extended).

The reference has no join operator at all — its task layer hand-rolls
join-shaped multicast lookups (reference tasks/plants_classifier.py:206-230).
This module exercises the join planning Spark gives us for free across the
classic TPC-H shapes: selective fact-dim joins, correlated EXISTS
(rewritten as a semi join), scalar correlated subqueries (rewritten as an
aggregate + equi-join), and multi-way join + agg + top-k.

Scale notes: every dimension here (customer per-key slice, nation,
per-part averages) is orders of magnitude smaller than lineitem, so the
plans Catalyst picks are broadcast hash joins on the fact table with a
single shuffle for the final aggregate — the shape that survives a 100×
scale-up. AQE converts shuffle joins to broadcast at runtime when a
filtered side turns out small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.functions import exact as EX
from map_reduce_engine_cdps_spark.sources.readers import load_table


# ---------------------------------------------------------------------------
# shipping_priority — Q3 shape: σ(customer) ⨝ σ(orders) ⨝ σ(lineitem),
# revenue per order, top 10. Catalyst pushes all three filters into the
# scans; the filtered customer slice broadcasts; TakeOrderedAndProject
# avoids a global sort.
# ---------------------------------------------------------------------------

CUTOFF = "1998-06-01"


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(CUTOFF).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(CUTOFF).cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        # exact 1e-4-dollar units (functions/exact.py): the 4-dp product
        # sum can land exactly on a half-cent rounding midpoint, and the
        # revenue ordering feeds a top-k cutoff
        .agg(EX.sum_disc_price().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
       {EX.SQL_SUM_DISC_PRICE.format(p='l_extendedprice', d='l_discount', dp=2)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{CUTOFF} 00:00:00'
  AND l_shipdate  > TIMESTAMP '{CUTOFF} 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# priority_order_counts — Q4 shape: correlated EXISTS over lineitem
# (orders with at least one item shipped >30 days after the order date),
# counted per priority. The DataFrame form is the semi join Catalyst
# would rewrite EXISTS into anyway: equi-join on the key plus the
# non-equi residual predicate, duplicate-free by construction.
# ---------------------------------------------------------------------------

def priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXISTS(any l_shipdate > o_orderdate + 30d) == per-order
    # max(l_shipdate) > o_orderdate + 30d, so lineitem pre-aggregates
    # to one row per orderkey before the join: map-side combine cuts
    # the shuffled fact bytes by the lines-per-order factor (~4x here,
    # more under skew). Measured 1.8x at sf1, identical output.
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    mx = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("max_ship"))
    late = orders.join(
        mx,
        (orders.o_orderkey == mx.l_orderkey)
        & (F.col("max_ship") > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


PRIORITY_ORDER_COUNTS_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 30 DAY
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# small_qty_revenue — Q17 shape: scalar correlated subquery (per-part
# average quantity) against the same fact table. Expressed as a partial
# aggregate joined back to lineitem: the per-part average table is tiny
# (O(|part|)), so it broadcasts; the fact table is scanned once per side
# but never shuffled on a non-key.
# ---------------------------------------------------------------------------

def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(F.broadcast(avg_qty), "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        # exact-cents numerator (functions/exact.py): the /7.0 quotient
        # can sit on a rounding midpoint, where a 1-ULP sum difference
        # flips the 2-dp digit. (The avg_qty filter boundary is safe:
        # l_quantity is integral, so its sums/averages are exact.)
        .agg(
            F.round(F.sum(EX.cents("l_extendedprice")) / 700.0, 2).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


SMALL_QTY_REVENUE_SQL = """
SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             / 700.0, 2) AS avg_yearly,
       count(*) AS n_small_lines
FROM lineitem l
JOIN (
  SELECT l_partkey, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
) a ON l.l_partkey = a.l_partkey
WHERE l.l_quantity < 0.5 * a.avg_qty
"""


# ---------------------------------------------------------------------------
# top_return_customers — Q10 shape: 4-way join (lineitem σ returnflag ⨝
# orders ⨝ customer ⨝ nation), revenue per customer, top 20. Dimension
# sides broadcast; one shuffle on c_custkey for the aggregate.
# ---------------------------------------------------------------------------

def top_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        # exact 1e-4-dollar units (functions/exact.py) — revenue also
        # drives the top-k cutoff
        .agg(EX.sum_disc_price().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


TOP_RETURN_CUSTOMERS_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {EX.SQL_SUM_DISC_PRICE.format(p='l_extendedprice', d='l_discount', dp=2)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# brand_supplier_counts — Q16 shape: count distinct suppliers per
# (brand, type) over the lineitem ⨝ part join. Distinct-aggregate over a
# join: Spark expands to a two-phase aggregate (partial distinct per
# partition then final), so the shuffle carries (brand, type, suppkey)
# triples, not raw lineitems.
# ---------------------------------------------------------------------------

def brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"))
        .limit(50)
    )


BRAND_SUPPLIER_COUNTS_SQL = """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand, p_type
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC
LIMIT 50
"""

# ---------------------------------------------------------------------------
# volume_shipping — Q7 shape: revenue flow between two trading nations
# by ship year. lineitem ⨝ supplier ⨝ nation(supp) ⨝ orders ⨝ customer ⨝
# nation(cust), keeping only the two (supp, cust) nation orderings.
# Scale: both nation joins broadcast (25 rows); the nation-pair filter
# lands on the joined stream before the aggregate, so the single
# shuffle carries only (supp_nation, cust_nation, year) groups.
# ---------------------------------------------------------------------------

NATION_A = "NATION_5"
NATION_B = "NATION_12"


def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            (
                (F.col("supp_nation") == NATION_A)
                & (F.col("cust_nation") == NATION_B)
            )
            | (
                (F.col("supp_nation") == NATION_B)
                & (F.col("cust_nation") == NATION_A)
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        # integer-cents sum (the product_type_profit pattern): the
        # double sum is order-dependent in the last ULP and a
        # derived-sf1 group landed on a half-cent boundary (round 9).
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    ).cast("long")
                )
                / 100.0,
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


VOLUME_SHIPPING_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       round(CAST(sum(CAST(round(volume * 100) AS BIGINT)) AS DOUBLE)
             / CAST(100.0 AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM (
  SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  WHERE (sn.n_name = '{NATION_A}' AND cn.n_name = '{NATION_B}')
     OR (sn.n_name = '{NATION_B}' AND cn.n_name = '{NATION_A}')
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# nation_market_share — Q8 shape: one nation's share of PROMO-part
# revenue inside one region, per order year. The share is a conditional
# aggregate over the joined stream (sum(case)/sum), not a self-join.
# Scale: part is the only selective side (filtered on p_type) and
# broadcasts; region/nation broadcast; one shuffle on the year groups.
# ---------------------------------------------------------------------------

SHARE_REGION = "ASIA"
SHARE_NATION = "NATION_8"


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == SHARE_REGION
    )
    cust_nation = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey")
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    units = EX.disc_units()
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_nation, orders.o_custkey == cust_nation.c_custkey, "left_semi")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        # exact 1e-4-dollar units in BOTH ratio legs (functions/
        # exact.py): numerator and denominator are exact longs, the
        # quotient is one deterministic double division
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == SHARE_NATION, units
                    ).otherwise(F.lit(0).cast("long"))
                ).cast("double")
                / F.sum(units).cast("double"),
                6,
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("o_year")
    )


# single authoritative cents encoding lives in functions/exact.py
_DISC_UNITS_SQL = EX.SQL_DISC_UNITS.format(p="l_extendedprice", d="l_discount")

NATION_MARKET_SHARE_SQL = f"""
SELECT year(o_orderdate) AS o_year,
       round(CAST(sum(CASE WHEN sn.n_name = '{SHARE_NATION}'
                      THEN {_DISC_UNITS_SQL}
                      ELSE 0 END) AS DOUBLE)
             / CAST(sum({_DISC_UNITS_SQL}) AS DOUBLE), 6) AS mkt_share,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = 'PROMO'
  AND o_custkey IN (
    SELECT c_custkey FROM customer
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    WHERE r_name = '{SHARE_REGION}'
  )
GROUP BY year(o_orderdate)
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# product_type_profit — Q9 shape adapted to this schema (no partsupp →
# supply cost proxied as 60% of p_retailprice per unit): profit by
# supplier nation and order year over STANDARD-type parts.
# Scale: part (filtered) and supplier/nation broadcast against the
# fact; single shuffle on (nation, year).
# ---------------------------------------------------------------------------

def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        # sum in integer cents: double summation is order-dependent in
        # the last ULP, and at sf0.1 one group landed exactly on a
        # half-cent rounding boundary — integer addition is exact and
        # associative, so any partial-aggregation order agrees.
        .agg(
            F.round(
                F.sum(F.round(profit * 100).cast("long")) / 100.0, 2
            ).alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


PRODUCT_TYPE_PROFIT_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
                 - 0.6 * p_retailprice * l_quantity) * 100) AS BIGINT))
             AS DOUBLE) / CAST(100.0 AS DOUBLE), 2) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_type = 'STANDARD'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# promo_revenue_share — Q14 shape: percentage of revenue from PROMO
# parts per ship month of 1996. The part join broadcasts; the month
# grouping is a conditional aggregate — no second scan, no self-join.
# ---------------------------------------------------------------------------

def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    units = EX.disc_units()
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        # exact 1e-4-dollar units in both ratio legs (functions/exact.py)
        .agg(
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", units).otherwise(
                        F.lit(0).cast("long")
                    )
                ).cast("double")
                / F.sum(units).cast("double"),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("ship_month")
    )


PROMO_REVENUE_SHARE_SQL = f"""
SELECT month(l_shipdate) AS ship_month,
       round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                              THEN {_DISC_UNITS_SQL}
                              ELSE 0 END) AS DOUBLE)
             / CAST(sum({_DISC_UNITS_SQL}) AS DOUBLE), 4) AS promo_pct,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY month(l_shipdate)
ORDER BY ship_month
"""


# ---------------------------------------------------------------------------
# large_volume_customers — Q18 shape: orders whose total quantity
# exceeds a threshold (GROUP BY + HAVING on the fact), joined back to
# customer and orders for the report. The having-filtered key set is
# tiny, so it broadcasts into the second join — the fact table is
# aggregated once and never re-shuffled.
# ---------------------------------------------------------------------------

QTY_THRESHOLD = 150


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > QTY_THRESHOLD)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


LARGE_VOLUME_CUSTOMERS_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       round(total_qty, 2) AS total_qty
FROM orders
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > {QTY_THRESHOLD}
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# ---------------------------------------------------------------------------
# disjunctive_part_revenue — Q19 shape: revenue under a 3-arm
# disjunction of (brand, size-range, quantity-range) conjunctions.
# The whole OR-of-ANDs is one residual predicate on a single broadcast
# join — Catalyst pushes the per-table conjuncts it can derive
# (p_size bounds, l_quantity bounds) into both scans.
# ---------------------------------------------------------------------------

def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#7")
        & F.col("p_size").between(5, 30)
        & F.col("l_quantity").between(10, 30)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(10, 50)
        & F.col("l_quantity").between(20, 40)
    )
    return j.filter(arm1 | arm2 | arm3).agg(
        # exact 1e-4-dollar units (functions/exact.py)
        EX.sum_disc_price().alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


DISJUNCTIVE_PART_REVENUE_SQL = f"""
SELECT round(CAST(sum({_DISC_UNITS_SQL}) AS BIGINT) / 10000.0, 2) AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#7'  AND p_size BETWEEN 5 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 10 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""


# ---------------------------------------------------------------------------
# waiting_suppliers — Q21 shape adapted (no receipt/commit dates →
# "late" = shipped >90 days after order date): suppliers who were the
# ONLY late supplier in a multi-supplier order. Q21's EXISTS/NOT EXISTS
# pair is folded into per-order scalars: groupBy(l_orderkey) counting
# (n_supp, n_late) over the distinct (orderkey, suppkey, is_late) pair
# frame, then ONE left_semi of the late pairs against qualifying orders
# (n_supp > 1 AND n_late == 1). Round 9 rework — replaces the two
# broadcast-nested-loop non-equi self-joins the semi/anti formulation
# planned to (4.5 → 3.5 s at sf1).
# Scale: the pair frame shrinks the fact first; the per-order aggregate
# key (l_orderkey) is a prefix of the pair frame's grouping key, so the
# scalar pass is map-side-partial on already co-located data.
# ---------------------------------------------------------------------------

def waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ).alias("is_late"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.col("is_late")).alias("is_late"))
    )
    # "Lonely late" without self-joins (round 9): the semi-join
    # (some OTHER supplier exists) and anti-join (no OTHER supplier is
    # late) over the pairs frame are equivalent to two per-order
    # scalars — a late supplier qualifies iff its order has >1
    # distinct supplier and exactly 1 late one. One groupBy replaces
    # two non-equi self-joins (which Catalyst planned as broadcast
    # nested loops over the pair frame), and the shuffle key
    # (l_orderkey) is a prefix of the pairs frame's grouping key, so
    # the aggregate is map-side-partial on co-located data.
    ord_stats = pairs.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("is_late").cast("int")).alias("n_late"),
    )
    lonely_late = (
        pairs.filter(F.col("is_late"))
        .join(
            ord_stats.filter(
                (F.col("n_supp") > 1) & (F.col("n_late") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
            "left_semi",
        )
        .select("l_orderkey", "l_suppkey")
    )
    return (
        lonely_late.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


WAITING_SUPPLIERS_SQL = """
WITH pairs AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN TRUE ELSE FALSE END) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey
), late AS (
  SELECT l_orderkey, l_suppkey FROM pairs WHERE is_late
)
SELECT s_name, count(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (
  SELECT 1 FROM pairs p
  WHERE p.l_orderkey = l1.l_orderkey AND p.l_suppkey <> l1.l_suppkey
)
AND NOT EXISTS (
  SELECT 1 FROM late l2
  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
)
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# idle_rich_customers — Q22 shape: customers with above-average
# positive balances and no orders in the dataset's final two years
# (every customer here has SOME order, so "no orders ever" is vacuous),
# reported per market segment. The scalar average comes from a 1-row
# aggregate cross-joined (broadcast) onto customer; "idle" is a
# left_anti join against the date-filtered orders projection.
# Scale: anti join shuffles customer and the filtered o_custkey
# projection on the key — both far smaller than the fact tables.
# ---------------------------------------------------------------------------

IDLE_CUTOFF = "2000-01-01"


def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(IDLE_CUTOFF).cast("timestamp")
    )
    # exact-cents average (functions/exact.py): avg_bal is a FILTER
    # boundary — a 1-ULP engine difference moves customers in/out
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(EX.cents("c_acctbal")) / (100.0 * F.count(F.lit(1)))).alias(
            "avg_bal"
        )
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            EX.sum_money("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


IDLE_RICH_CUSTOMERS_SQL = f"""
SELECT c_mktsegment, count(*) AS numcust,
       round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             / 100.0, 2) AS totacctbal
FROM customer
WHERE c_acctbal > (
  SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         / (100.0 * count(*))
  FROM customer WHERE c_acctbal > 0
)
AND NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey
  AND o_orderdate >= TIMESTAMP '{IDLE_CUTOFF} 00:00:00'
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# forecast_revenue — Q6 shape: pure filter + global agg over the fact
# table. The whole predicate (shipdate range, discount band, quantity
# cap) pushes into the parquet scan; no shuffle at all — a single
# partial/final agg. The shape that scales perfectly: at 100 TB this is
# a scan-rate-bound query with zero exchange.
# ---------------------------------------------------------------------------

FORECAST_YEAR_START = "1996-01-01"
FORECAST_YEAR_END = "1997-01-01"


def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(FORECAST_YEAR_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(FORECAST_YEAR_END).cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        # exact 1e-4-dollar units: p*d is on the same 4-dp grid as
        # p*(1-d), so its rounded sum has real midpoints (functions/exact.py)
        .agg(
            F.round(F.sum(EX.rebate_units()) / 10000.0, 2).alias("revenue")
        )
    )


FORECAST_REVENUE_SQL = f"""
SELECT {EX.SQL_SUM_REBATE.format(p='l_extendedprice', d='l_discount', dp=2)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{FORECAST_YEAR_START} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{FORECAST_YEAR_END} 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# top_revenue_supplier — Q15 shape: revenue per supplier over one
# quarter, then the supplier(s) achieving the max (the reference's
# latent global-sort/top-k, engine/master.py:117-118, generalized to a
# ties-preserving max). DataFrame form: aggregate once, broadcast the
# 1-row max back — two shuffles total, both on tiny post-agg data.
# ---------------------------------------------------------------------------

QUARTER_START = "1996-01-01"
QUARTER_END = "1996-04-01"


def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit(QUARTER_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(QUARTER_END).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        # exact 1e-4-dollar units (functions/exact.py) — total_revenue
        # also drives the ties-preserving max comparison
        .agg(EX.sum_disc_price().alias("total_revenue"))
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


TOP_REVENUE_SUPPLIER_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey,
         round(CAST(sum({_DISC_UNITS_SQL}) AS BIGINT) / 10000.0, 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{QUARTER_START} 00:00:00'
    AND l_shipdate <  TIMESTAMP '{QUARTER_END} 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue
JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

# ---------------------------------------------------------------------------
# local_supplier_volume — Q5 shape: revenue per nation where supplier and
# customer share the nation, region-filtered, one order-year. Region and
# nation broadcast everywhere; the only large-large join (orders ⨝
# lineitem) shuffles on orderkey once; the c_nationkey = s_nationkey
# equality is a join condition, not a post-filter, so Catalyst keeps it
# in the hash-join key set.
# ---------------------------------------------------------------------------

Q5_REGION = "ASIA"
Q5_YEAR_START = "1996-01-01"
Q5_YEAR_END = "1997-01-01"


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q5_REGION
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q5_YEAR_START).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q5_YEAR_END).cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(cust),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        # integer-cents sum: derived-sf1 hit a half-cent boundary (r9)
        .agg(
            F.round(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    ).cast("long")
                )
                / 100.0,
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"))
    )


LOCAL_SUPPLIER_VOLUME_SQL = f"""
SELECT n_name,
       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                 AS BIGINT)) AS DOUBLE) / CAST(100.0 AS DOUBLE), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = '{Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{Q5_YEAR_START} 00:00:00'
  AND o_orderdate < TIMESTAMP '{Q5_YEAR_END} 00:00:00'
GROUP BY n_name ORDER BY revenue DESC
"""


# ---------------------------------------------------------------------------
# linestatus_priority_counts — Q12 shape (adapted: the dataset has no
# l_shipmode column, so l_linestatus serves as the grouping attribute):
# per linestatus shipped in a year, conditional counts of high- vs
# low-priority orders. The conditional CASE aggregation happens inside
# the partial agg — one shuffle of O(groups), never a second pass.
# ---------------------------------------------------------------------------

Q12_YEAR_START = "1997-01-01"
Q12_YEAR_END = "1998-01-01"


def linestatus_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q12_YEAR_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q12_YEAR_END).cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


LINESTATUS_PRIORITY_COUNTS_SQL = f"""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate >= TIMESTAMP '{Q12_YEAR_START} 00:00:00'
  AND l_shipdate < TIMESTAMP '{Q12_YEAR_END} 00:00:00'
GROUP BY l_linestatus ORDER BY l_linestatus
"""


# ---------------------------------------------------------------------------
# customer_order_distribution — Q13 shape: LEFT join customer→orders,
# per-customer order count, then the distribution of those counts.
# Two aggregations, each one shuffle; the first keys on c_custkey (high
# cardinality, well-spread), the second on the tiny count domain —
# that second shuffle is O(distinct counts), trivial at any scale.
# ---------------------------------------------------------------------------


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


CUSTOMER_ORDER_DISTRIBUTION_SQL = """
WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM c_orders GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# min_cost_supplier — Q2 shape (adapted: the dataset has no partsupp
# table, so the part↔supplier cost relation is derived from observed
# lineitem unit prices): for SMALL-type parts in one region, the
# supplier(s) offering the minimum average unit price. The correlated
# "= (SELECT min(...))" becomes a window min over the per-(part, supp)
# aggregate — one shuffle on (partkey, suppkey), then a partkey-local
# window; supplier/nation/region broadcast.
# ---------------------------------------------------------------------------

Q2_REGION = "EUROPE"
Q2_TYPE = "SMALL"


def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q2_REGION
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q2_TYPE)
    li = load_table(spark, sf_dir, "lineitem")
    cost = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
        # per-row ratio quantized to integer micros before the sum:
        # double averaging is order-dependent in the last ULP, and at
        # sf0.1 one group sat exactly on the 4th-decimal rounding
        # boundary; integer sums agree under any aggregation order.
        # ... and the 4-decimal rounding happens WITHOUT a scale
        # multiply (round-to-integer of sum/(n*100), then /10000):
        # Spark rounds via the decimal string, DuckDB via x*10^4 —
        # on a knife-edge double the scaled value crosses the .5
        # differently. Round-to-integer has no scaling error, so
        # identical input doubles round identically in both engines.
        .agg(
            (
                F.round(
                    F.sum(
                        F.round(
                            F.col("l_extendedprice") / F.col("l_quantity") * 1000000
                        ).cast("long")
                    )
                    / (F.count(F.lit(1)) * 100.0)
                )
                / 10000.0
            ).alias("unit_cost")
        )
    )
    w = W.partitionBy("p_partkey")
    return (
        cost.withColumn("min_cost", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .select("p_partkey", "s_name", "s_acctbal", "n_name", "unit_cost")
        .orderBy(F.desc("s_acctbal"), "p_partkey", "s_name")
        .limit(100)
    )


MIN_COST_SUPPLIER_SQL = f"""
WITH cost AS (
  SELECT p_partkey, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name,
         round(CAST(sum(CAST(round(l_extendedprice / l_quantity * 1000000)
                    AS BIGINT)) AS DOUBLE)
               / (count(*) * CAST(100.0 AS DOUBLE)))
           / CAST(10000.0 AS DOUBLE) AS unit_cost
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = '{Q2_TYPE}'
  JOIN supplier s ON l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = '{Q2_REGION}'
  GROUP BY 1, 2, 3, 4, 5
)
SELECT p_partkey, s_name, s_acctbal, n_name, unit_cost
FROM cost
WHERE unit_cost = (SELECT min(unit_cost) FROM cost c2
                   WHERE c2.p_partkey = cost.p_partkey)
ORDER BY s_acctbal DESC, p_partkey, s_name
LIMIT 100
"""


# ---------------------------------------------------------------------------
# important_part_value — Q11 shape (adapted: shipped-value-by-part from
# lineitem stands in for partsupp stock value): parts whose total shipped
# value from suppliers of one region exceeds a multiple of the mean
# per-part value (mean-relative rather than Q11's fraction-of-total so
# the predicate stays selective-but-nonempty at every scale factor). The
# scalar subquery is a 1-row aggregate of the SAME pre-aggregated
# per-part relation, cross-joined (broadcast) back — exchange reuse runs
# the heavy fact scan exactly once, with nothing persisted across calls.
# ---------------------------------------------------------------------------

Q11_REGION = "AMERICA"
Q11_MEAN_MULT = 2.0


def important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q11_REGION
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    # integer-cents sum + cents-domain threshold: the double sum is
    # order-dependent in the last ULP and derived-sf1 groups landed on
    # half-cent boundaries (round 9); summing exact cents makes both
    # the reported value and the mean-multiple membership test
    # partial-order-free in both engines.
    per_part = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("raw_cents")
        )
    )
    total = per_part.agg(
        (F.avg("raw_cents") * F.lit(Q11_MEAN_MULT)).alias("threshold_cents")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("raw_cents") > F.col("threshold_cents"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("raw_cents") / 100.0, 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "partkey")
    )


IMPORTANT_PART_VALUE_SQL = f"""
WITH pv AS (
  SELECT l_partkey AS partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS BIGINT) AS raw_cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = '{Q11_REGION}'
  GROUP BY 1
)
SELECT partkey,
       round(CAST(raw_cents AS DOUBLE) / CAST(100.0 AS DOUBLE), 2) AS part_value
FROM pv
WHERE CAST(raw_cents AS DOUBLE)
      > (SELECT avg(CAST(raw_cents AS DOUBLE)) * {Q11_MEAN_MULT} FROM pv)
ORDER BY part_value DESC, partkey
"""


# ---------------------------------------------------------------------------
# dominant_part_suppliers — Q20 shape (adapted: "availqty > half of
# shipped qty" becomes "this supplier shipped > 30% of the part's total
# shipped quantity", derivable without partsupp): suppliers in one
# region dominating supply of PROMO-type parts in a year. Per-(part,
# supp) and per-part aggregates come off the SAME shuffled pass
# (window over the grouped result), then a broadcast semi join filters
# the supplier dimension.
# ---------------------------------------------------------------------------

Q20_REGION = "AFRICA"
Q20_TYPE = "PROMO"
Q20_SHARE = 0.30
Q20_YEAR_START = "1997-01-01"
Q20_YEAR_END = "1998-01-01"


def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q20_TYPE)
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q20_YEAR_START).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q20_YEAR_END).cast("timestamp"))
    )
    per_ps = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    w = W.partitionBy("l_partkey")
    dominant = (
        per_ps.withColumn("part_qty", F.sum("supp_qty").over(w))
        .filter(F.col("supp_qty") > F.lit(Q20_SHARE) * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q20_REGION
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        supp.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


DOMINANT_PART_SUPPLIERS_SQL = f"""
WITH per_ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_type = '{Q20_TYPE}'
  WHERE l_shipdate >= TIMESTAMP '{Q20_YEAR_START} 00:00:00'
    AND l_shipdate < TIMESTAMP '{Q20_YEAR_END} 00:00:00'
  GROUP BY 1, 2
), dominant AS (
  SELECT DISTINCT l_suppkey FROM (
    SELECT l_suppkey, supp_qty,
           sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
    FROM per_ps
  ) WHERE supp_qty > {Q20_SHARE} * part_qty
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = '{Q20_REGION}'
WHERE s_suppkey IN (SELECT l_suppkey FROM dominant)
ORDER BY s_suppkey
"""
