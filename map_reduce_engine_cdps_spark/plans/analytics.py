"""Advanced analytics battery: regression aggregates, distribution
moments, mergeable sketches, recursive CTEs, collations, and SQL
session variables.

The reference's aggregation surface stops at count/sum/avg/min/max
(reference tasks/accident_analysis.py:110-115); everything here is a
declared engine extension (SURVEY.md §2.4 "absent in reference"),
expressed through Spark SQL built-ins so Catalyst keeps partial
aggregation and whole-stage codegen. Float outputs are rounded
identically on both sides so the driver's value hash is stable.

Scale stance shared by every query in this file: each one is a single
hash-aggregate (or aggregate + broadcast of a handful of rows) whose
shuffle carries O(groups) rows, not O(input) — the shapes survive a
100× scale-up unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.functions import exact as EX
from map_reduce_engine_cdps_spark.plans.relational import SESSION_GAP_S, sessionized
from map_reduce_engine_cdps_spark.sources.readers import load_table, table_rows


# ---------------------------------------------------------------------------
# regr_price_qty — least-squares regression aggregates (regr_slope /
# regr_intercept / regr_r2 / regr_count) of extendedprice on quantity
# per returnflag. These are one-pass, map-side-combinable moment
# aggregates (sums of x, y, xy, x², y²) — the distributed-friendly way
# to fit millions of per-group trend lines without any ML library.
# ---------------------------------------------------------------------------

def regr_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 3).alias(
            "slope"
        ),
        F.round(
            F.expr("regr_intercept(l_extendedprice, l_quantity)"), 2
        ).alias("intercept"),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias(
            "r2"
        ),
        F.expr("regr_count(l_extendedprice, l_quantity)").alias("n"),
    )


REGR_PRICE_QTY_SQL = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 3)     AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# quantity_moments — 3rd/4th standardized central moments (skewness,
# excess kurtosis) per returnflag, computed from raw power sums
# E[x]..E[x⁴] with the identical closed form on both engines (Spark's
# skewness()/kurtosis() and DuckDB's use different bias corrections, so
# the oracle-matched columns are the explicit population formulas).
# Spark's built-ins are then self-validated against the explicit values
# to 1e-3, the same pattern approx_distinct_users uses for HLL.
# One pass, map-side partial aggregation of 4 power sums per group.
# ---------------------------------------------------------------------------

def quantity_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    agg = li.groupBy("l_returnflag").agg(
        F.avg(x).alias("a"),
        F.avg(x * x).alias("e2"),
        F.avg(x * x * x).alias("e3"),
        F.avg(x * x * x * x).alias("e4"),
        F.skewness(x).alias("builtin_skew"),
        F.kurtosis(x).alias("builtin_kurt"),
    )
    m2 = F.col("e2") - F.col("a") * F.col("a")
    m3 = (
        F.col("e3")
        - 3 * F.col("a") * F.col("e2")
        + 2 * F.col("a") * F.col("a") * F.col("a")
    )
    m4 = (
        F.col("e4")
        - 4 * F.col("a") * F.col("e3")
        + 6 * F.col("a") * F.col("a") * F.col("e2")
        - 3 * F.col("a") * F.col("a") * F.col("a") * F.col("a")
    )
    skew = m3 / F.pow(m2, F.lit(1.5))
    kurt = m4 / (m2 * m2) - 3
    return agg.select(
        "l_returnflag",
        F.round(F.col("a"), 4).alias("mean_qty"),
        F.round(m2, 4).alias("var_pop"),
        F.round(skew, 4).alias("skew_pop"),
        F.round(kurt, 4).alias("exkurt_pop"),
        (F.abs(F.col("builtin_skew") - skew) < 1e-3).alias("builtin_skew_ok"),
        (F.abs(F.col("builtin_kurt") - kurt) < 1e-3).alias("builtin_kurt_ok"),
    )


QUANTITY_MOMENTS_SQL = """
WITH s AS (
  SELECT l_returnflag,
         avg(l_quantity)                                     AS a,
         avg(l_quantity * l_quantity)                        AS e2,
         avg(l_quantity * l_quantity * l_quantity)           AS e3,
         avg(l_quantity * l_quantity * l_quantity * l_quantity) AS e4
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       round(a, 4)                                           AS mean_qty,
       round(e2 - a*a, 4)                                    AS var_pop,
       round((e3 - 3*a*e2 + 2*a*a*a) / pow(e2 - a*a, 1.5), 4) + 0.0 AS skew_pop,
       round((e4 - 4*a*e3 + 6*a*a*e2 - 3*a*a*a*a)
             / ((e2 - a*a) * (e2 - a*a)) - 3, 4) + 0.0       AS exkurt_pop,
       TRUE AS builtin_skew_ok,
       TRUE AS builtin_kurt_ok
FROM s
"""


# ---------------------------------------------------------------------------
# hll_sketch_users — Spark 4 Apache DataSketches HLL surface
# (hll_sketch_agg / hll_union_agg / hll_sketch_estimate): per
# event_type, build one HLL sketch per user_id-parity shard, merge the
# shard sketches with hll_union_agg, and estimate. Self-validated
# within 5% of the exact distinct count (oracle emits the exact count
# and literal TRUE). The shard→union round-trip is exactly the 100 TB
# pattern: sketches partial-aggregate map-side, merge associatively
# across any partitioning, and can be persisted and unioned across
# days without rescanning history — unlike exact distinct, whose
# shuffle carries every (key, user) pair.
# ---------------------------------------------------------------------------

def hll_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    shards = (
        ev.withColumn("shard", F.col("user_id") % 2)
        .groupBy("event_type", "shard")
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    )
    merged = shards.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("merged_sketch_within_5pct"),
    )


HLL_SKETCH_USERS_SQL = """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS merged_sketch_within_5pct
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# monthly_gapfill_revenue — recursive CTE (Spark 4 WITH RECURSIVE)
# generating the complete month calendar between the first and last
# order date, left-joined to monthly revenue so months with no orders
# surface as explicit zero rows (classic time-series gap-fill; the
# sequence()-based dense_event_timeline is the non-recursive sibling).
# The recursion is O(months) rows on the driver-side anchor — depth
# ~80 for 7 years of TPC-H — then one broadcast join against the
# aggregated (O(months)-row) revenue table; the orders scan aggregates
# map-side first, so the join never sees raw rows.
# ---------------------------------------------------------------------------

def monthly_gapfill_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    # Bound the recursion with two driver-side scalars (one tiny
    # min/max agg — a parallel scan reduced to one row). Inlining them
    # as literals keeps each recursion step a local date increment; a
    # correlated scalar subquery would re-execute per step (measured
    # 36 s → 2 s at sf0.01 for the ~80-step recursion).
    lo, hi = orders.agg(
        F.date_format(F.date_trunc("month", F.min("o_orderdate")), "yyyy-MM-dd"),
        F.date_format(F.date_trunc("month", F.max("o_orderdate")), "yyyy-MM-dd"),
    ).first()
    return spark.sql(
        f"""
        WITH RECURSIVE months(m) AS (
          SELECT DATE'{lo}'
          UNION ALL
          SELECT add_months(m, 1) FROM months WHERE m < DATE'{hi}'
        ),
        rev AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                 round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       AS DOUBLE) / CAST(100.0 AS DOUBLE), 2) AS revenue,
                 count(*) AS order_cnt
          FROM orders GROUP BY 1
        )
        SELECT date_format(months.m, 'yyyy-MM') AS month,
               coalesce(rev.revenue, 0.0)       AS revenue,
               coalesce(rev.order_cnt, 0)       AS order_cnt
        FROM months LEFT JOIN rev ON months.m = rev.m
        """
    )


MONTHLY_GAPFILL_REVENUE_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT CAST(date_trunc('month', (SELECT min(o_orderdate) FROM orders)) AS DATE)
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
  WHERE m < CAST(date_trunc('month', (SELECT max(o_orderdate) FROM orders)) AS DATE)
),
rev AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) / 100.0, 2) AS revenue,
         count(*) AS order_cnt
  FROM orders GROUP BY 1
)
SELECT strftime(months.m, '%Y-%m') AS month,
       coalesce(rev.revenue, 0.0)  AS revenue,
       coalesce(rev.order_cnt, 0)  AS order_cnt
FROM months LEFT JOIN rev ON months.m = rev.m
"""


# ---------------------------------------------------------------------------
# collated_lang_counts — Spark 4 string collation (UTF8_LCASE): the
# documents' lang codes are deterministically case-mangled (even
# doc_ids uppercased), then counted per source with case-insensitive
# *collated* equality and COUNT(DISTINCT ... COLLATE UTF8_LCASE) —
# collation-aware comparison in the engine, not lower() normalization
# in user code (the oracle proves them equivalent). Collations run
# inside codegen'd comparators, so this stays a plain hash-aggregate.
# ---------------------------------------------------------------------------

def collated_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    mangled = F.when(
        F.col("doc_id") % 2 == 0, F.upper(F.col("lang"))
    ).otherwise(F.col("lang"))
    d = docs.select("source", mangled.alias("lang_m"))
    d.createOrReplaceTempView("docs_mangled")
    return spark.sql(
        """
        SELECT source,
               count(CASE WHEN lang_m = 'en' COLLATE UTF8_LCASE
                          THEN 1 END)                          AS en_docs,
               count(DISTINCT lang_m COLLATE UTF8_LCASE)       AS distinct_langs_ci,
               count(DISTINCT lang_m)                          AS distinct_langs_cs
        FROM docs_mangled
        GROUP BY source
        """
    )


COLLATED_LANG_COUNTS_SQL = """
WITH d AS (
  SELECT source,
         CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS lang_m
  FROM documents
)
SELECT source,
       count(CASE WHEN lower(lang_m) = 'en' THEN 1 END) AS en_docs,
       count(DISTINCT lower(lang_m))                    AS distinct_langs_ci,
       count(DISTINCT lang_m)                           AS distinct_langs_cs
FROM d
GROUP BY source
"""


# ---------------------------------------------------------------------------
# sql_variable_pricey_parts — SQL session variables (Spark 4 DECLARE /
# SET VAR) + parameterized EXECUTE IMMEDIATE: the price threshold is
# computed once into a session variable, then bound into the main
# query with a `?` parameter marker. The variable holds one scalar on
# the driver — the 100 TB-safe way to thread a computed constant into
# a query without a join (Catalyst folds it into the pushed-down
# predicate, so the part scan prunes on it).
# ---------------------------------------------------------------------------

def sql_variable_pricey_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    spark.sql("DECLARE OR REPLACE VARIABLE price_thr DOUBLE DEFAULT 0.0")
    # exact-cents mean threshold (functions/exact.py rationale):
    # price_thr is a FILTER boundary, so both engines must derive the
    # identical double from the identical exact integer
    spark.sql(
        "SET VAR price_thr = (SELECT CAST(sum(CAST(round(p_retailprice"
        " * 100) AS BIGINT)) AS BIGINT) / (100.0 * count(*)) FROM part)"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT p_brand,
                  count(*)                        AS pricey_parts,
                  round(CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT))
                        AS DOUBLE) / (CAST(100.0 AS DOUBLE) * count(*)), 2)
                                                  AS avg_pricey_price
           FROM part WHERE p_retailprice > ?
           GROUP BY p_brand'
        USING price_thr
        """
    )


SQL_VARIABLE_PRICEY_PARTS_SQL = """
SELECT p_brand,
       count(*)                     AS pricey_parts,
       round(CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
             / (100.0 * count(*)), 2) AS avg_pricey_price
FROM part
WHERE p_retailprice > (SELECT CAST(sum(CAST(round(p_retailprice * 100)
                              AS BIGINT)) AS BIGINT) / (100.0 * count(*))
                       FROM part)
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# pipe_syntax_flag_counts — Spark 4 SQL PIPE syntax (`|>` operators, the
# SQL:2023-era linear query style): FROM … |> WHERE … |> AGGREGATE …
# |> ORDER BY compiles to the identical Catalyst plan as the nested
# formulation, so the surface is free at any scale; the oracle is the
# classic formulation, proving the two notations agree. Aggregates are
# chosen order-invariant (count + sum of integer-valued quantities) so
# the comparison is exact.
# ---------------------------------------------------------------------------


def pipe_syntax_flag_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE count(*) AS n_items,
                     sum(l_quantity) AS sum_qty,
                     round(min(l_extendedprice), 2) AS min_price
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_items > 0
        """
    )


PIPE_SYNTAX_FLAG_COUNTS_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       sum(l_quantity) AS sum_qty,
       round(min(l_extendedprice), 2) AS min_price
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
HAVING count(*) > 0
"""


# ---------------------------------------------------------------------------
# locf_event_values — last-observation-carried-forward: only purchase
# events carry a meaningful reading; every event row gets the latest
# purchase value at-or-before it for its user, via
# last_value(...) IGNORE NULLS over a ROWS running frame (classic
# sensor/time-series forward fill). The order key is (ts, event_id) so
# the fill is deterministic under timestamp ties. One shuffle by
# user_id, then a sorted in-partition scan — the running frame is
# streaming (no buffering), so partition memory is O(1) per row and
# the shape survives any scale-up where single users fit a partition.
# ---------------------------------------------------------------------------

def locf_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    reading = F.when(
        F.col("event_type") == "purchase", F.col("value")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.last(reading, ignorenulls=True).over(w), 4
        ).alias("filled_value"),
    )


LOCF_EVENT_VALUES_SQL = """
SELECT event_id, user_id,
       round(last_value(CASE WHEN event_type = 'purchase' THEN value END
                        IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             4) AS filled_value
FROM events
"""


# ---------------------------------------------------------------------------
# lateral_top_orders — correlated LATERAL subquery (SQL:2016 / Spark
# ANSI LATERAL): the top-2 orders by totalprice for every customer with
# orders, written as the per-row subquery a SQL user would state, with
# (totalprice DESC, orderkey) ordering so ties are deterministic.
# Catalyst decorrelates this into a window/aggregate — no per-customer
# re-execution — so the physical plan is the same rank-filter it would
# pick for row_number() <= 2; the LATERAL form is pure surface.
# ---------------------------------------------------------------------------

def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders o WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        """
    )


LATERAL_TOP_ORDERS_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c
JOIN LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) t ON TRUE
"""


# ---------------------------------------------------------------------------
# freq_items_check — heavy hitters: the exact event types above 15%
# relative frequency (oracle-matched), each asserting membership in the
# one-pass df.stat.freqItems sketch (Karp-Papadimitriou-Shenker). The
# sketch guarantees no false negatives at the given support, so the
# boolean is provably TRUE; at 100 TB the sketch is a single pass with
# O(1/support) state per partition vs the exact path's full shuffle.
# ---------------------------------------------------------------------------

def freq_items_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sketch_items = ev.stat.freqItems(["event_type"], 0.15).first()[0]
    total = table_rows(spark, sf_dir, "events")
    exact = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= 0.15 * total)
    )
    return exact.select(
        "event_type",
        "cnt",
        F.col("event_type").isin([str(x) for x in sketch_items]).alias(
            "in_sketch"
        ),
    )


FREQ_ITEMS_CHECK_SQL = """
SELECT event_type, count(*) AS cnt, TRUE AS in_sketch
FROM events
GROUP BY event_type
HAVING count(*) >= 0.15 * (SELECT count(*) FROM events)
"""


# ---------------------------------------------------------------------------
# order_status_map_roundtrip — map-typed column surface: per customer,
# build a status→revenue map with map_from_entries(collect_list(..)),
# prune small entries with map_filter (higher-order lambda), round with
# transform_values, then explode back to rows. Semantically identical
# to a HAVING-filtered group-by (the oracle), proving the map algebra
# is lossless. The map stays (customer-local) small — bounded by the
# status-domain cardinality — so collect_list here is safe at any
# scale, unlike collecting raw rows.
# ---------------------------------------------------------------------------

def order_status_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    # exact-cents group sum (functions/exact.py): rev feeds BOTH the
    # map_filter boundary (> 150000.00, a value a cent-grid sum CAN hit
    # exactly) and the rounded output
    per_status = od.groupBy("o_custkey", "o_orderstatus").agg(
        (F.sum(EX.cents("o_totalprice")) / 100.0).alias("rev")
    )
    mapped = per_status.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderstatus", "rev"))
        ).alias("m")
    )
    pruned = mapped.select(
        "o_custkey",
        F.transform_values(
            F.map_filter("m", lambda _k, v: v > 150000.0),
            lambda _k, v: F.round(v, 2),
        ).alias("m"),
    )
    return pruned.select(
        "o_custkey", F.explode("m").alias("status", "revenue")
    )


ORDER_STATUS_MAP_ROUNDTRIP_SQL = """
SELECT o_custkey, o_orderstatus AS status,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0, 2) AS revenue
FROM orders
GROUP BY o_custkey, o_orderstatus
HAVING CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
       / 100.0 > 150000.0
"""


# ---------------------------------------------------------------------------
# event_transition_matrix — first-order Markov transitions over each
# user's event sequence: lead() per user gives (from,to) bigrams; one
# agg yields counts and row-normalized probabilities. The sequence
# window shuffles on user_id once (bounded state per user); the bigram
# agg shuffles 25 keys (|event_type|^2) — trivially map-side-combined.
# Same journey-analytics family as user_funnel / cohort_retention.
# ---------------------------------------------------------------------------

def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                                    "event_type")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("to_type", F.lead("event_type").over(seq)).where(
        F.col("to_type").isNotNull()
    )
    counts = pairs.groupBy(
        F.col("event_type").alias("from_type"), "to_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(total), 6).alias("prob"),
    )


EVENT_TRANSITION_MATRIX_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
), counts AS (
  SELECT event_type AS from_type, to_type, count(*) AS n
  FROM seq WHERE to_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6)
         AS prob
FROM counts
"""


# ---------------------------------------------------------------------------
# cms_user_event_counts — Count-Min Sketch expressed relationally: depth-3
# × width-256 counters keyed by md5 prefixes, probe = min over depths,
# validated against exact per-user counts (estimate ≥ exact always; the
# query surfaces the overshoot). The counter build is a map-side-combined
# groupBy collapsing ANY corpus to ≤768 rows — the standard way to get
# heavy-hitter counts out of 100 TB with one tiny exchange; the probe
# side broadcasts those counters. Top-25 is a TakeOrdered, not a sort.
# ---------------------------------------------------------------------------

_CMS_DEPTH = 3
_CMS_HEXW = 2  # 2 hex chars → 256 buckets per depth row


def _cms_bucket(j: int, col: str):
    return F.substring(F.md5(F.concat(F.lit(f"{j}|"), F.col(col).cast("string"))),
                       1, _CMS_HEXW)


def cms_user_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    hits = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), _cms_bucket(j, "user_id").alias("bucket")
                    )
                    for j in range(_CMS_DEPTH)
                ]
            )
        ).alias("h")
    ).select("h.j", "h.bucket")
    counters = hits.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    probes = exact.select(
        "user_id",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), _cms_bucket(j, "user_id").alias("bucket")
                    )
                    for j in range(_CMS_DEPTH)
                ]
            )
        ).alias("h"),
    ).select("user_id", "exact", "h.j", "h.bucket")
    est = (
        probes.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("user_id", "exact")
        .agg(F.min("c").alias("estimate"))
    )
    return (
        est.withColumn("overshoot", F.col("estimate") - F.col("exact"))
        .orderBy(F.desc("estimate"), F.asc("user_id"))
        .limit(25)
    )


def _cms_sql() -> str:
    def bucket(j: int, col: str) -> str:
        return f"substr(md5(concat('{j}|', CAST({col} AS VARCHAR))), 1, {_CMS_HEXW})"

    hit_rows = " UNION ALL ".join(
        f"SELECT {j} AS j, {bucket(j, 'user_id')} AS bucket FROM events"
        for j in range(_CMS_DEPTH)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT user_id, exact, {j} AS j, {bucket(j, 'user_id')} AS bucket FROM exact"
        for j in range(_CMS_DEPTH)
    )
    return f"""
WITH hits AS ({hit_rows}),
counters AS (SELECT j, bucket, count(*) AS c FROM hits GROUP BY j, bucket),
exact AS (SELECT user_id, count(*) AS exact FROM events GROUP BY user_id),
probes AS ({probe_rows}),
est AS (
  SELECT user_id, exact, min(c) AS estimate
  FROM probes JOIN counters USING (j, bucket)
  GROUP BY user_id, exact
)
SELECT user_id, exact, estimate, estimate - exact AS overshoot
FROM est ORDER BY estimate DESC, user_id ASC LIMIT 25
"""


CMS_USER_EVENT_COUNTS_SQL = _cms_sql()


# ---------------------------------------------------------------------------
# mad_value_outliers — robust outlier detection per event type: median,
# median-absolute-deviation, and the count of |x - med| > 3·1.4826·MAD
# points (the robust z-score rule; 1.4826 scales MAD to σ under
# normality). Two grouped medians + two broadcast joins of the tiny
# per-type stats — the fact table never shuffles beyond the 5-key agg.
# At 100 TB the exact medians swap for approx_percentile sketches with
# identical plan shape (see approx_quantile_check).
# ---------------------------------------------------------------------------

_MAD_K = 3 * 1.4826


def mad_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.any_value("med").alias("med"),
        F.median("adev").alias("mad"),
        F.count(F.lit(1)).alias("n"),
    )
    outl = (
        dev.join(
            F.broadcast(mad.select("event_type", F.col("mad").alias("mad0"))),
            "event_type",
        )
        .where(F.col("adev") > F.lit(_MAD_K) * F.col("mad0"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return mad.join(outl, "event_type", "left").select(
        "event_type",
        "n",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        F.coalesce("n_outliers", F.lit(0)).alias("n_outliers"),
        F.round(
            F.coalesce("n_outliers", F.lit(0)) / F.col("n"), 6
        ).alias("outlier_rate"),
    )


MAD_VALUE_OUTLIERS_SQL = f"""
WITH med AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, any_value(med) AS med, median(adev) AS mad, count(*) AS n
  FROM dev GROUP BY 1
),
outl AS (
  SELECT d.event_type, count(*) AS n_outliers
  FROM dev d JOIN mad m USING (event_type)
  WHERE d.adev > {_MAD_K} * m.mad GROUP BY 1
)
SELECT event_type, n, round(med, 6) AS med, round(mad, 6) AS mad,
       coalesce(n_outliers, 0) AS n_outliers,
       round(coalesce(n_outliers, 0)::DOUBLE / n, 6) AS outlier_rate
FROM mad LEFT JOIN outl USING (event_type)
"""


# ---------------------------------------------------------------------------
# interpolated_event_values — linear interpolation on a regular 6-hour
# grid per user (the gap-fill LOCF can't do: values BETWEEN readings).
# Union the per-user spine with the events, then two running frames
# (prev non-null / next non-null) give the bracketing readings; the
# interpolant is prev + (next-prev)·Δt-fraction. One shuffle on
# user_id; spine size is O(users × span/6h), independent of event
# volume. Same-ts collisions order events before spine points, so a
# grid point on a reading returns the reading exactly on both engines.
# ---------------------------------------------------------------------------

def interpolated_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    span = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    spine = (
        span.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.date_trunc("hour", "t0"),
                    F.col("t1"),
                    F.expr("interval 6 hours"),
                )
            ).alias("ts"),
        )
        .withColumn("value", F.lit(None).cast("double"))
        .withColumn("is_spine", F.lit(1))
    )
    pts = ev.withColumn("is_spine", F.lit(0)).unionByName(spine)
    wp = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_spine")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wn = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_spine")
        .rowsBetween(0, W.unboundedFollowing)
    )
    ev_ts = F.when(F.col("value").isNotNull(), F.col("ts"))
    braced = (
        pts.withColumn("prev_v", F.last("value", ignorenulls=True).over(wp))
        .withColumn("prev_t", F.last(ev_ts, ignorenulls=True).over(wp))
        .withColumn("next_v", F.first("value", ignorenulls=True).over(wn))
        .withColumn("next_t", F.first(ev_ts, ignorenulls=True).over(wn))
        .where(
            (F.col("is_spine") == 1)
            & F.col("prev_t").isNotNull()
            & F.col("next_t").isNotNull()
        )
    )
    num = (F.unix_micros("ts") - F.unix_micros("prev_t")).cast("double")
    den = (F.unix_micros("next_t") - F.unix_micros("prev_t")).cast("double")
    interp = F.when(den == 0, F.col("prev_v")).otherwise(
        F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (num / den)
    )
    return braced.select(
        "user_id", "ts", F.round(interp, 4).alias("interp_value")
    )


INTERPOLATED_EVENT_VALUES_SQL = """
WITH span AS (SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1),
spine AS (
  SELECT user_id, t.g AS ts, CAST(NULL AS DOUBLE) AS value, 1 AS is_spine
  FROM span, unnest(generate_series(date_trunc('hour', t0), t1, INTERVAL 6 HOUR)) AS t(g)
),
pts AS (
  SELECT user_id, ts, value, 0 AS is_spine FROM events
  UNION ALL SELECT user_id, ts, value, is_spine FROM spine
),
win AS (
  SELECT user_id, ts, is_spine,
    last_value(value IGNORE NULLS) OVER w_prev AS prev_v,
    last_value(CASE WHEN value IS NOT NULL THEN ts END IGNORE NULLS)
      OVER w_prev AS prev_t,
    first_value(value IGNORE NULLS) OVER w_next AS next_v,
    first_value(CASE WHEN value IS NOT NULL THEN ts END IGNORE NULLS)
      OVER w_next AS next_t
  FROM pts
  WINDOW
    w_prev AS (PARTITION BY user_id ORDER BY ts, is_spine
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY user_id ORDER BY ts, is_spine
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, ts,
       round(CASE WHEN epoch_us(next_t) = epoch_us(prev_t) THEN prev_v
                  ELSE prev_v + (next_v - prev_v) *
                       (epoch_us(ts) - epoch_us(prev_t))::DOUBLE /
                       (epoch_us(next_t) - epoch_us(prev_t))::DOUBLE
             END, 4) AS interp_value
FROM win
WHERE is_spine = 1 AND prev_t IS NOT NULL AND next_t IS NOT NULL
"""


# ---------------------------------------------------------------------------
# rolling_median_value — exact median of `value` over each user's last
# 5 events (row frame). Windowed percentile is a per-partition sort +
# frame walk: one shuffle on user_id, no self-join, no collect. At
# 100 TB the same frame runs unchanged (user partitions are small);
# only a heavy-hitter user would warrant splitting, which AQE flags.
# Frame order (ts, event_id) is a verified unique key of events.
# ---------------------------------------------------------------------------


def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias("med5"),
    )


ROLLING_MEDIAN_VALUE_SQL = """
SELECT user_id, event_id,
       round(quantile_cont(value, 0.5) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS med5
FROM events
"""


# ---------------------------------------------------------------------------
# event_type_trigrams — per-user ordered event-type trigrams (Markov
# order-3 sequence mining; extends event_transition_matrix from
# bigrams). Two lead() windows share one (user_id) shuffle+sort, then a
# hash aggregate over O(|types|³)-bounded keys. No self-joins — the
# naive formulation is events⋈events⋈events on adjacent positions.
# ---------------------------------------------------------------------------


def event_type_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        "user_id",
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("trigram"),
        F.lead("event_type", 2).over(w).alias("_t3"),
    ).filter(F.col("_t3").isNotNull())
    return tri.groupBy("trigram").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
    )


EVENT_TYPE_TRIGRAMS_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users
FROM seq WHERE t3 IS NOT NULL
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# order_gap_stats — distribution of days between a customer's
# consecutive orders, rolled up per market segment: one lag() window on
# the orders shuffle (custkey), one join to customer for the segment
# (broadcast at test SF; shuffle-hash at 100 TB — both sides are keyed
# on custkey so bucketing co-locates it), one segment aggregate.
# Median of integer gaps interpolates at .5 — exact in both engines.
# ---------------------------------------------------------------------------


def order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.withColumn("prev_date", F.lag("o_orderdate").over(w))
        .filter(F.col("prev_date").isNotNull())
        .select(
            "o_custkey",
            F.datediff("o_orderdate", "prev_date").alias("gap_days"),
        )
    )
    return (
        gaps.join(cust, gaps.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(F.avg("gap_days"), 4).alias("avg_gap"),
            F.round(F.median("gap_days"), 4).alias("med_gap"),
            F.max("gap_days").alias("max_gap"),
        )
    )


ORDER_GAP_STATS_SQL = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   CAST(lag(o_orderdate) OVER w AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT c_mktsegment,
       count(*) AS n_gaps,
       round(avg(gap_days), 4) AS avg_gap,
       round(median(gap_days), 4) AS med_gap,
       max(gap_days) AS max_gap
FROM gaps JOIN customer ON o_custkey = c_custkey
WHERE gap_days IS NOT NULL
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# brand_nation_chi2 — Pearson chi-square test of independence between
# part brand and supplier nation over lineitem line counts. The
# contingency table is one hash-aggregate (O(brands × nations) cells);
# marginals and the statistic are computed from that table alone, never
# re-scanning the fact. Zero cells are handled via the identity
# Σ_all (o-e)²/e = Σ_observed [(o-e)²/e] + (n - Σ_observed e), used
# identically in both engines so the value hash is stable.
# ---------------------------------------------------------------------------


def brand_nation_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    obs = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("p_brand", "n_name")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    from pyspark.sql.window import Window as W

    total = obs.agg(F.sum("o").alias("n"))
    with_marg = (
        obs.select(
            "p_brand",
            "n_name",
            "o",
            F.sum("o").over(W.partitionBy("p_brand")).alias("rt"),
            F.sum("o").over(W.partitionBy("n_name")).alias("ct"),
        )
        .crossJoin(F.broadcast(total))
        .withColumn("e", F.col("rt") * F.col("ct") / F.col("n"))
    )
    return with_marg.agg(
        F.round(
            F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e"))
            + (F.max("n") - F.sum("e")),
            6,
        ).alias("chi2"),
        ((F.count_distinct("p_brand") - 1) * (F.count_distinct("n_name") - 1)).alias(
            "dof"
        ),
        F.max("n").alias("n"),
    )


BRAND_NATION_CHI2_SQL = """
WITH obs AS (
  SELECT p_brand, n_name, count(*) AS o
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
),
marg AS (
  SELECT p_brand, n_name, o,
         sum(o) OVER (PARTITION BY p_brand) AS rt,
         sum(o) OVER (PARTITION BY n_name) AS ct,
         sum(o) OVER () AS n
  FROM obs
),
cells AS (SELECT *, rt * ct / CAST(n AS DOUBLE) AS e FROM marg)
SELECT round(sum((o - e) * (o - e) / e) + (max(n) - sum(e)), 6) AS chi2,
       (count(DISTINCT p_brand) - 1) * (count(DISTINCT n_name) - 1) AS dof,
       CAST(max(n) AS BIGINT) AS n
FROM cells
"""


# ---------------------------------------------------------------------------
# lineitem_profile — declarative column profiling (null rate, distinct
# count, min/max as strings) for a mixed-type column set, in ONE scan:
# all per-column aggregates sit in a single hash-aggregate row, then
# unpivot to one row per column via stack(). The naive per-column
# UNION ALL formulation (the oracle) scans the table once per column.
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate")


def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One single-distinct aggregate per column, unioned. NOT one wide
    # agg with 5 count_distincts: multiple distinct aggregates compile
    # to an Expand that multiplies every input row by (n_distinct_cols
    # + 1) before the shuffle — measured 6.5s vs 1.5s at sf0.1. Each
    # branch's scan is pruned to its own column, so total bytes read
    # equal the one-scan formulation on a columnar store.
    li = load_table(spark, sf_dir, "lineitem")
    parts = [
        li.select(F.col(c)).agg(
            F.lit(c).alias("column"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(c).isNull().cast("long")).alias("n_nulls"),
            F.count_distinct(c).alias("n_distinct"),
            F.min(c).cast("string").alias("min_s"),
            F.max(c).cast("string").alias("max_s"),
        )
        for c in _PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


LINEITEM_PROFILE_SQL = " UNION ALL ".join(
    f"""
SELECT '{c}' AS column, count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_s,
       CAST(max({c}) AS VARCHAR) AS max_s
FROM lineitem"""
    for c in _PROFILE_COLS
)


# ---------------------------------------------------------------------------
# mv_revenue_maintenance — incremental materialized-view maintenance:
# the monthly revenue MV is kept as combinable partial aggregates
# (count + sum), so a new batch folds in by unioning its partials and
# re-aggregating — never re-scanning the base history. Verified by
# splitting orders at a cutoff date, maintaining base+delta, and
# oracle-checking against the one-shot full aggregate. At 100 TB this
# is the difference between touching one day's partition and replaying
# years of history.
# ---------------------------------------------------------------------------

_MV_CUTOFF = "1997-01-01"


def mv_revenue_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
        "o_totalprice",
        "o_orderdate",
    )

    # exact-cents partials (functions/exact.py): the two-level merge
    # (partial agg + re-agg) is exactly the partial-order surface the
    # cents convention removes
    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("month").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(EX.cents("o_totalprice")).alias("rev_cents"),
        )

    base = partials(orders.filter(F.col("o_orderdate") < _MV_CUTOFF))
    delta = partials(orders.filter(F.col("o_orderdate") >= _MV_CUTOFF))
    merged = (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("rev_cents").alias("rev_cents"),
        )
    )
    return merged.select(
        "month",
        "n_orders",
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
    )


MV_REVENUE_MAINTENANCE_SQL = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       count(*) AS n_orders,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0, 2) AS revenue
FROM orders
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# frequent_type_pairs — market-basket pair mining (the pairwise core of
# FP-growth/Apriori): part types that co-occur in the same order. The
# per-order item list is deduped FIRST (distinct (order, type)), so the
# self-join is quadratic only in basket size (~7 lines/order), never in
# table size, and both sides co-partition on orderkey — one shuffle.
# ---------------------------------------------------------------------------


def frequent_type_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    items = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_type")
        .distinct()
    )
    a = items.select(F.col("l_orderkey").alias("k"), F.col("p_type").alias("type_a"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("p_type").alias("type_b"))
    return (
        a.join(b, "k")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
    )


FREQUENT_TYPE_PAIRS_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS k, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT a.p_type AS type_a, b.p_type AS type_b, count(*) AS n_orders
FROM items a JOIN items b ON a.k = b.k AND a.p_type < b.p_type
GROUP BY 1, 2
HAVING count(*) >= 3
"""


# ---------------------------------------------------------------------------
# top_session_paths — clickstream path analysis: the ordered
# event-type journey of each 30-minute session, ranked by frequency.
# Session assembly is relational.sessionized, the gaps-and-islands
# program user_sessions runs (same single user_id shuffle, both windows
# share the sort); the path string is built from a sorted in-group
# collect — bounded by session length, never a cross-partition sort.
# ---------------------------------------------------------------------------


def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = sessionized(load_table(spark, sf_dir, "events"))
    paths = sess.groupBy("user_id", "session_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(25)
    )


TOP_SESSION_PATHS_SQL = f"""
WITH g AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(date_trunc('second', ts))
                 - epoch(date_trunc('second', lag(ts) OVER w)) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_id, ts, event_type,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_idx
  FROM g
), p AS (
  SELECT user_id, session_idx,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM s GROUP BY user_id, session_idx
)
SELECT path, count(*) AS n_sessions
FROM p GROUP BY path
ORDER BY n_sessions DESC, path ASC LIMIT 25
"""


# ---------------------------------------------------------------------------
# decile_value_calibration — per-event-type value deciles (ntile) with
# per-bucket mean/min/max: the monotone calibration-curve shape used to
# sanity-check score distributions. The ntile window partitions by
# event_type (parallel across types); ties are broken by the unique
# event_id so bucket assignment is deterministic and engine-independent.
# ---------------------------------------------------------------------------


def decile_value_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("mean_value"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


DECILE_VALUE_CALIBRATION_SQL = """
WITH d AS (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
  FROM events
)
SELECT event_type, decile, count(*) AS n,
       round(avg(value), 4) AS mean_value,
       round(min(value), 2) AS lo,
       round(max(value), 2) AS hi
FROM d GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# kmv_segment_jaccard — KMV (k-minimum-values / bottom-k) set sketches
# for pairwise audience overlap: per event_type keep the k smallest
# md5(user) hashes; the Jaccard estimate between two types is the
# fraction of the k smallest hashes of the UNION that belong to both
# sides. Deterministic (hash order, not sampling), mergeable
# (bottom-k of a union = bottom-k of concatenated sketches), and
# O(types × k) after the one distinct aggregate — the sketch family
# HLL can't provide (HLL gives cardinality, not intersection). Exact
# Jaccard is computed alongside; at 100 TB only the sketch path and
# the distinct agg survive, the exact self-join is the validation.
# ---------------------------------------------------------------------------

_KMV_K = 128


def kmv_segment_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()

    # exact pairwise Jaccard (validation side)
    sizes = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    exact = (
        inter.join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
        .withColumn(
            "exact_jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
    )

    # KMV sketches: bottom-k hashes per type
    hashed = du.select("event_type", F.md5(F.col("user_id").cast("string")).alias("h"))
    wk = W.partitionBy("event_type").orderBy("h")
    kmv = (
        hashed.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
    )
    ka = kmv.select(F.col("event_type").alias("type_a"), "h")
    kb = kmv.select(F.col("event_type").alias("type_b"), "h")
    both = (
        ka.crossJoin(kb.select("type_b").distinct())
        .filter(F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            kb.crossJoin(ka.select("type_a").distinct())
            .filter(F.col("type_a") < F.col("type_b"))
            .select("type_a", "type_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
        )
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wu = W.partitionBy("type_a", "type_b").orderBy("h")
    est = (
        both.withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("type_a", "type_b")
        .agg(
            F.round(
                F.sum((F.col("in_a") * F.col("in_b")).cast("long")) / F.count(F.lit(1)), 6
            ).alias("kmv_jaccard")
        )
    )
    return exact.join(est, ["type_a", "type_b"]).select(
        "type_a", "type_b", "n_a", "n_b", "exact_jaccard", "kmv_jaccard"
    )


KMV_SEGMENT_JACCARD_SQL = f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_inter
  FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
exact AS (
  SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b,
         round(n_inter / CAST(sa.n + sb.n - n_inter AS DOUBLE), 6) AS exact_jaccard
  FROM inter
  JOIN sizes sa ON sa.event_type = type_a
  JOIN sizes sb ON sb.event_type = type_b
),
hashed AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM du),
kmv AS (
  SELECT event_type, h FROM (
    SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {_KMV_K}
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM (SELECT DISTINCT event_type FROM kmv) a
  JOIN (SELECT DISTINCT event_type FROM kmv) b ON a.event_type < b.event_type
),
sides AS (
  SELECT type_a, type_b, h, max(in_a) AS in_a, max(in_b) AS in_b
  FROM (
    SELECT p.type_a, p.type_b, k.h, 1 AS in_a, 0 AS in_b
    FROM pairs p JOIN kmv k ON k.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, k.h, 0 AS in_a, 1 AS in_b
    FROM pairs p JOIN kmv k ON k.event_type = p.type_b
  ) GROUP BY 1, 2, 3
),
est AS (
  SELECT type_a, type_b,
         round(sum(in_a * in_b) / CAST(count(*) AS DOUBLE), 6) AS kmv_jaccard
  FROM (
    SELECT type_a, type_b, in_a, in_b,
           row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
    FROM sides
  ) WHERE rn <= {_KMV_K}
  GROUP BY 1, 2
)
SELECT type_a, type_b, n_a, n_b, exact_jaccard, kmv_jaccard
FROM exact JOIN est USING (type_a, type_b)
"""


# ---------------------------------------------------------------------------
# rfm_segments — RFM (recency / frequency / monetary) customer
# segmentation: one orders aggregate to per-customer metrics, three
# ntile(4) scores over the O(customers) metric table (each with the
# unique custkey tie-break so quartile assignment is deterministic),
# then a segment rollup. The fact table shuffles once, on custkey.
# At 100 TB (billions of customers) the three global ntile windows swap
# for broadcast approx_percentile cutoffs — the balance_deciles pattern,
# same output contract; exact ntile is kept here for oracle equality.
# ---------------------------------------------------------------------------


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("maxd"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            # exact-cents sum (functions/exact.py): monetary also keys
            # an ntile ordering, so tie/boundary values must be stable
            EX.sum_money("o_totalprice").alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff("maxd", "last_order"))
    )
    scored = per_cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(W.orderBy(F.asc("recency_days"), F.asc("o_custkey"))).alias("r"),
        F.ntile(4).over(W.orderBy(F.desc("frequency"), F.asc("o_custkey"))).alias("f"),
        F.ntile(4).over(W.orderBy(F.desc("monetary"), F.asc("o_custkey"))).alias("m"),
    )
    return (
        scored.groupBy(
            F.concat_ws("-", "r", "f", "m").alias("segment")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("recency_days"), 4).alias("avg_recency"),
            F.round(F.avg("frequency"), 4).alias("avg_frequency"),
            F.round(F.avg("monetary"), 4).alias("avg_monetary"),
        )
    )


RFM_SEGMENTS_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         date_diff('day', CAST(max(o_orderdate) AS DATE),
                   CAST((SELECT max(o_orderdate) FROM orders) AS DATE)) AS recency_days,
         count(*) AS frequency,
         round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               / 100.0, 2) AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey, recency_days, frequency, monetary,
         ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m
  FROM per_cust
)
SELECT r || '-' || f || '-' || m AS segment,
       count(*) AS n_customers,
       round(avg(recency_days), 4) AS avg_recency,
       round(avg(frequency), 4) AS avg_frequency,
       round(avg(monetary), 4) AS avg_monetary
FROM scored GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Time-series analytics over the DAILY REVENUE series. Shared scale
# stance: the orders fact aggregates once to O(days) rows (~2.4k for 7
# TPC-H years); every window below runs over that bounded series, so
# the "single partition" window plans are O(days) by construction and
# the fact never re-shuffles. At 100 TB only the first aggregate grows.
# ---------------------------------------------------------------------------


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Integer-cents daily totals (round 9): the plain double sum is
    # partial-order-dependent in the last ULP, and the derived-sf1
    # battery caught three consumers (rolling_zscore_anomalies,
    # revenue_changepoint, volume-class rounding) flipping a rounded
    # digit on a boundary. r_cents is exact and associative; r is the
    # single-IEEE-op projection every existing consumer keeps using —
    # identical doubles in both engines by construction.
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "r_cents"
            )
        )
        .select("day", "r_cents", (F.col("r_cents") / 100.0).alias("r"))
    )


_DAILY_SQL = """
  SELECT day, r_cents, CAST(r_cents AS DOUBLE) / CAST(100.0 AS DOUBLE) AS r
  FROM (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS r_cents
    FROM orders GROUP BY 1
  )
"""


# revenue_changepoint — single changepoint detection via the CUSUM-style
# scaled mean-shift statistic: argmax_k |mean(1..k) - mean(k+1..n)| ·
# sqrt(k(n-k)/n), prefix sums over the ordered day series.


def revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = _daily_revenue(spark, sf_dir)
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    # prefix sums in exact cents (round 9): double prefix sums differ
    # between engines in the last ULP (running accumulation vs segment
    # tree) and flipped the 4-dp statistic at derived sf1.
    tot = d.agg(
        F.sum("r_cents").alias("grand_c"), F.count(F.lit(1)).alias("n")
    )
    pre = (
        d.select(
            "day",
            F.sum("r_cents").over(w).alias("pre_c"),
            F.row_number().over(W.orderBy("day")).alias("k"),
        )
        .crossJoin(F.broadcast(tot))
        .filter((F.col("k") >= 7) & (F.col("k") <= F.col("n") - 7))
    )
    mean_l = (F.col("pre_c") / 100.0) / F.col("k")
    mean_r = ((F.col("grand_c") - F.col("pre_c")) / 100.0) / (
        F.col("n") - F.col("k")
    )
    stat = F.abs(mean_l - mean_r) * F.sqrt(
        F.col("k") * (F.col("n") - F.col("k")) / F.col("n")
    )
    return (
        pre.select(
            F.date_format("day", "yyyy-MM-dd").alias("split_day"),
            F.round(stat, 4).alias("shift_stat"),
            F.round(mean_l, 2).alias("mean_before"),
            F.round(mean_r, 2).alias("mean_after"),
        )
        .orderBy(F.desc("shift_stat"), F.asc("split_day"))
        .limit(1)
    )


REVENUE_CHANGEPOINT_SQL = f"""
WITH d AS ({_DAILY_SQL}),
tot AS (SELECT CAST(sum(r_cents) AS BIGINT) AS grand_c, count(*) AS n FROM d),
pre AS (
  SELECT day,
         CAST(sum(r_cents) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                      PRECEDING AND CURRENT ROW) AS BIGINT) AS pre_c,
         row_number() OVER (ORDER BY day) AS k
  FROM d
)
SELECT strftime(day, '%Y-%m-%d') AS split_day,
       round(abs((CAST(pre_c AS DOUBLE) / CAST(100.0 AS DOUBLE)) / k
               - (CAST(grand_c - pre_c AS DOUBLE) / CAST(100.0 AS DOUBLE))
                 / (n - k))
             * sqrt(k * (n - k) / CAST(n AS DOUBLE)), 4) AS shift_stat,
       round((CAST(pre_c AS DOUBLE) / CAST(100.0 AS DOUBLE)) / k, 2)
         AS mean_before,
       round((CAST(grand_c - pre_c AS DOUBLE) / CAST(100.0 AS DOUBLE))
             / (n - k), 2) AS mean_after
FROM pre, tot
WHERE k >= 7 AND k <= n - 7
ORDER BY shift_stat DESC, split_day ASC LIMIT 1
"""


# revenue_acf — autocorrelation function of daily revenue at lags 1..7:
# seven lag() columns share one ordered pass over the O(days) series,
# then one corr() aggregate per lag.


def revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = _daily_revenue(spark, sf_dir)
    w = W.orderBy("day")
    lagged = d.select(
        "r", *[F.lag("r", k).over(w).alias(f"lag{k}") for k in range(1, 8)]
    )
    aggs = []
    for k in range(1, 8):
        aggs.append(F.round(F.corr("r", f"lag{k}"), 4).alias(f"acf{k}"))
        aggs.append(F.count(f"lag{k}").alias(f"n{k}"))
    wide = lagged.agg(*aggs)
    stack = ", ".join(f"{k}, acf{k}, n{k}" for k in range(1, 8))
    return wide.selectExpr(f"stack(7, {stack}) AS (lag, acf, n_pairs)")


REVENUE_ACF_SQL = f"""
WITH d AS ({_DAILY_SQL}),
l AS (
  SELECT r,
         {", ".join(f"lag(r, {k}) OVER (ORDER BY day) AS lag{k}" for k in range(1, 8))}
  FROM d
)
{" UNION ALL ".join(
    f"SELECT {k} AS lag, round(corr(r, lag{k}), 4) AS acf, count(lag{k}) AS n_pairs FROM l"
    for k in range(1, 8)
)}
"""


# dow_seasonality — day-of-week revenue profile: per-weekday average of
# the daily series and its index against the overall mean (engine-
# neutral weekday via the 'Mon'/'Tue' abbreviation, not the numeric
# convention — Spark counts Sunday=1, DuckDB Sunday=0).


def dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_revenue(spark, sf_dir)
    overall = d.agg(F.avg("r").alias("overall"))
    return (
        d.groupBy(F.date_format("day", "E").alias("dow"))
        .agg(F.count(F.lit(1)).alias("n_days"), F.avg("r").alias("dow_avg"))
        .crossJoin(F.broadcast(overall))
        .select(
            "dow",
            "n_days",
            F.round("dow_avg", 2).alias("avg_revenue"),
            F.round(F.col("dow_avg") / F.col("overall"), 6).alias("seasonal_index"),
        )
    )


DOW_SEASONALITY_SQL = f"""
WITH d AS ({_DAILY_SQL}),
o AS (SELECT avg(r) AS overall FROM d)
SELECT strftime(day, '%a') AS dow,
       count(*) AS n_days,
       round(avg(r), 2) AS avg_revenue,
       round(avg(r) / (SELECT overall FROM o), 6) AS seasonal_index
FROM d GROUP BY 1
"""


# ---------------------------------------------------------------------------
# revenue_ewma — exponentially weighted moving average of daily
# revenue: an order-dependent recursive smoother (s_d = α·r_d +
# (1-α)·s_{d-1}) that plain SQL aggregates can't express — computed as
# a sequential FOLD over the ordered O(days) series, collected into one
# bounded array (the same driver-bounded-state argument as PageRank's
# edge list). Spark's higher-order aggregate() and DuckDB's
# list_reduce() both fold left-to-right with the first element as the
# initial accumulator, so the doubles agree bit-for-bit.
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.1


def revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_revenue(spark, sf_dir)
    series = d.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "r"))), lambda x: x.r
        ).alias("arr")
    )
    a = _EWMA_ALPHA
    ewma = F.expr(
        f"aggregate(slice(arr, 2, size(arr) - 1), element_at(arr, 1), "
        f"(acc, x) -> acc * {1 - a} + x * {a})"
    )
    return series.select(
        F.size("arr").alias("n_days"),
        F.round(ewma, 4).alias("ewma"),
        F.round(F.element_at("arr", -1), 2).alias("last_day_revenue"),
        F.round(F.element_at("arr", -1) / ewma, 6).alias("last_vs_smooth"),
    )


REVENUE_EWMA_SQL = f"""
WITH d AS ({_DAILY_SQL}),
s AS (SELECT list(r ORDER BY day) AS arr FROM d),
e AS (
  SELECT len(arr) AS n_days,
         list_reduce(arr, (acc, x) -> acc * {1 - _EWMA_ALPHA} + x * {_EWMA_ALPHA})
           AS ewma,
         arr[-1] AS last_r
  FROM s
)
SELECT n_days, round(ewma, 4) AS ewma,
       round(last_r, 2) AS last_day_revenue,
       round(last_r / ewma, 6) AS last_vs_smooth
FROM e
"""


# ---------------------------------------------------------------------------
# revenue_holt — Holt linear-trend smoothing (two-state recursion:
# level + trend) over the daily series, as a struct-accumulator fold —
# the multi-state generalization of revenue_ewma's scalar fold. The
# level-update subexpression is spelled out identically in the trend
# update on BOTH engines (no intermediate binding exists in either
# lambda language), so the recursions produce bit-identical doubles.
# ---------------------------------------------------------------------------

_HOLT_A = 0.2  # level smoothing
_HOLT_B = 0.1  # trend smoothing


def revenue_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_revenue(spark, sf_dir)
    series = d.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "r"))), lambda x: x.r
        ).alias("arr")
    )
    a, b = _HOLT_A, _HOLT_B
    lvl = f"({a} * x.l + {1 - a} * (acc.l + acc.b))"
    fold = F.expr(
        "aggregate("
        "  slice(transform(arr, v -> named_struct('l', v, 'b', cast(0.0 as double))), 2, size(arr) - 1),"
        "  named_struct('l', element_at(arr, 1), 'b', cast(0.0 as double)),"
        f" (acc, x) -> named_struct("
        f"   'l', {lvl},"
        f"   'b', {b} * ({lvl} - acc.l) + {1 - b} * acc.b))"
    )
    out = series.select(F.size("arr").alias("n_days"), fold.alias("st"))
    return out.select(
        "n_days",
        F.round(F.col("st.l"), 4).alias("level"),
        F.round(F.col("st.b"), 4).alias("trend"),
        F.round(F.col("st.l") + F.col("st.b"), 4).alias("forecast_next"),
    )


def _holt_sql() -> str:
    # NOT a list_reduce fold: DuckDB (1.0) evaluates result-struct
    # fields sequentially against a mutated accumulator (the trend
    # expression would see the already-updated level), so the oracle
    # uses a recursive CTE over the day index — standard semantics,
    # identical arithmetic to the Spark lambda.
    a, b = _HOLT_A, _HOLT_B
    lvl = f"({a} * arr[i + 1] + {1 - a} * (l + b))"
    return f"""
WITH RECURSIVE d AS ({_DAILY_SQL}),
s AS (SELECT list(r ORDER BY day) AS arr FROM d),
h(i, l, b) AS (
  SELECT 1, arr[1], 0.0::DOUBLE FROM s
  UNION ALL
  SELECT i + 1,
         {lvl},
         {b} * ({lvl} - l) + {1 - b} * b
  FROM h, s WHERE i < len(arr)
)
SELECT (SELECT len(arr) FROM s) AS n_days,
       round(l, 4) AS level, round(b, 4) AS trend,
       round(l + b, 4) AS forecast_next
FROM h WHERE i = (SELECT len(arr) FROM s)
"""


REVENUE_HOLT_SQL = _holt_sql()


# ---------------------------------------------------------------------------
# bitmap_distinct_users — Spark 4 bitmap aggregate family
# (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
# bitmap_or_agg / bitmap_count): EXACT distinct counting through
# mergeable bitmap shards — the roaring-bitmap-index pattern. Like the
# HLL sketches (hll_sketch_users) the per-shard bitmaps merge
# associatively across any partitioning and can be persisted and OR-ed
# across days without rescanning history, but the count stays exact;
# the cost is bitmap size scaling with the id range per bucket. The
# shard split proves the merge path; the oracle's COUNT(DISTINCT) must
# match exactly.
# ---------------------------------------------------------------------------


def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_bm_events")
    return spark.sql(
        """
        SELECT event_type, sum(bitmap_count(bm)) AS n_users
        FROM (
          SELECT event_type, bucket, bitmap_or_agg(bm) AS bm
          FROM (
            SELECT event_type,
                   bitmap_bucket_number(user_id) AS bucket,
                   bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
            FROM _bm_events
            GROUP BY event_type, bitmap_bucket_number(user_id), user_id % 2
          )
          GROUP BY event_type, bucket
        )
        GROUP BY event_type
        """
    )


BITMAP_DISTINCT_USERS_SQL = """
SELECT event_type, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Nonparametric two-sample tests comparing the `value` distribution of
# click vs purchase events. Both reduce to rank/CDF bookkeeping over
# the pooled sample — windows over the pooled values, one shuffle.
# At 100 TB the exact ranks swap for binned ECDFs (value_histogram's
# grid) with the same statistics over O(bins) rows.
# ---------------------------------------------------------------------------

_TEST_A, _TEST_B = "click", "purchase"


def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov D = max |ECDF_a - ECDF_b| over the pooled
    ordered values; running per-group counts give both ECDFs in one
    ordered pass. Evaluated at each pooled value (post-step points),
    which is exactly where the sup is attained."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_TEST_A, _TEST_B)
    )
    n = ev.groupBy().pivot("event_type", [_TEST_A, _TEST_B]).count()
    w = W.orderBy("value", "event_type", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    pooled = ev.select(
        "value",
        "event_type",
        "event_id",
        F.sum((F.col("event_type") == _TEST_A).cast("long")).over(w).alias("ca"),
        F.sum((F.col("event_type") == _TEST_B).cast("long")).over(w).alias("cb"),
    )
    # evaluate AFTER consuming all ties of a value: keep the last row
    # per value (max counts at that value)
    per_value = pooled.groupBy("value").agg(
        F.max("ca").alias("ca"), F.max("cb").alias("cb")
    )
    return (
        per_value.crossJoin(F.broadcast(n))
        .select(
            F.abs(
                F.col("ca") / F.col(_TEST_A) - F.col("cb") / F.col(_TEST_B)
            ).alias("d"),
        )
        .agg(F.round(F.max("d"), 6).alias("ks_d"))
        .crossJoin(F.broadcast(n.select(F.col(_TEST_A).alias("n_a"), F.col(_TEST_B).alias("n_b"))))
    )


KS_TWO_SAMPLE_SQL = f"""
WITH ev AS (
  SELECT value, event_type, event_id FROM events
  WHERE event_type IN ('{_TEST_A}', '{_TEST_B}')
),
n AS (
  SELECT sum(CASE WHEN event_type = '{_TEST_A}' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN event_type = '{_TEST_B}' THEN 1 ELSE 0 END) AS n_b
  FROM ev
),
pooled AS (
  SELECT value,
         sum(CASE WHEN event_type = '{_TEST_A}' THEN 1 ELSE 0 END)
           OVER (ORDER BY value, event_type, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         sum(CASE WHEN event_type = '{_TEST_B}' THEN 1 ELSE 0 END)
           OVER (ORDER BY value, event_type, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
  FROM ev
),
per_value AS (SELECT value, max(ca) AS ca, max(cb) AS cb FROM pooled GROUP BY value)
SELECT round(max(abs(ca / CAST(n_a AS DOUBLE) - cb / CAST(n_b AS DOUBLE))), 6) AS ks_d,
       CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b
FROM per_value, n
"""


def mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U via average ranks (exact tie handling): the
    midrank of a tied block is first_rank + (block - 1)/2, computed
    from rank() + per-value counts — no dense self-joins."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_TEST_A, _TEST_B)
    )
    ranked = ev.select(
        "event_type",
        "value",
        F.rank().over(W.orderBy("value")).alias("rnk"),
        F.count(F.lit(1)).over(W.partitionBy("value")).alias("ties"),
    ).withColumn("midrank", F.col("rnk") + (F.col("ties") - 1) / 2.0)
    stats = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("midrank").alias("rank_sum")
    )
    a = stats.filter(F.col("event_type") == _TEST_A).select(
        F.col("n").alias("n_a"), F.col("rank_sum").alias("r_a")
    )
    b = stats.filter(F.col("event_type") == _TEST_B).select(
        F.col("n").alias("n_b")
    )
    return (
        a.crossJoin(F.broadcast(b))
        .select(
            "n_a",
            "n_b",
            F.round(
                F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / 2.0, 2
            ).alias("u_a"),
        )
        .withColumn(
            "auc", F.round(F.col("u_a") / (F.col("n_a") * F.col("n_b")), 6)
        )
    )


MANNWHITNEY_U_SQL = f"""
WITH ev AS (
  SELECT value, event_type FROM events
  WHERE event_type IN ('{_TEST_A}', '{_TEST_B}')
),
ranked AS (
  SELECT event_type,
         rank() OVER (ORDER BY value)
           + (count(*) OVER (PARTITION BY value) - 1) / 2.0 AS midrank
  FROM ev
),
stats AS (
  SELECT event_type, count(*) AS n, sum(midrank) AS rank_sum
  FROM ranked GROUP BY event_type
)
SELECT a.n AS n_a, b.n AS n_b,
       round(a.rank_sum - a.n * (a.n + 1) / 2.0, 2) AS u_a,
       round((a.rank_sum - a.n * (a.n + 1) / 2.0) / (a.n * CAST(b.n AS DOUBLE)), 6) AS auc
FROM stats a, stats b
WHERE a.event_type = '{_TEST_A}' AND b.event_type = '{_TEST_B}'
"""


# ---------------------------------------------------------------------------
# benford_first_digit — Benford's-law conformance of order totals (the
# classic fraud/data-quality screen): observed first-significant-digit
# distribution vs log10(1 + 1/d), with the chi-square distance. One
# hash aggregate over 9 digit groups; expected shares are literals.
# ---------------------------------------------------------------------------


def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(F.abs(F.col("o_totalprice")).cast("string"), 1, 1).cast("int")
    obs = (
        orders.filter(F.col("o_totalprice") > 0)
        .groupBy(digit.alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = obs.agg(F.sum("n").alias("tot"))
    expected = F.log10(1 + 1 / F.col("d"))
    return (
        obs.crossJoin(F.broadcast(total))
        .select(
            "d",
            "n",
            F.round(F.col("n") / F.col("tot"), 6).alias("observed_share"),
            F.round(expected, 6).alias("benford_share"),
            F.round(
                (F.col("n") / F.col("tot") - expected) ** 2 / expected, 8
            ).alias("chi2_term"),
        )
    )


BENFORD_FIRST_DIGIT_SQL = """
WITH obs AS (
  SELECT CAST(substr(CAST(abs(o_totalprice) AS VARCHAR), 1, 1) AS INT) AS d,
         count(*) AS n
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1
),
t AS (SELECT sum(n) AS tot FROM obs)
SELECT d, n,
       round(n / CAST(tot AS DOUBLE), 6) AS observed_share,
       round(log10(1 + 1.0 / d), 6) AS benford_share,
       round(pow(n / CAST(tot AS DOUBLE) - log10(1 + 1.0 / d), 2)
             / log10(1 + 1.0 / d), 8) AS chi2_term
FROM obs, t
"""


# ---------------------------------------------------------------------------
# price_qty_heatmap — 2-D binned density (price × quantity co-
# occurrence): fixed arithmetic bucketing on both axes, one hash
# aggregate over O(bins²) cells — the scatter-density reduction every
# BI layer runs against a fact table. Fixed literal bounds keep the
# binning deterministic and engine-independent (no data-dependent
# min/max pass).
# ---------------------------------------------------------------------------


def price_qty_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice", "l_quantity")
    px = F.least(F.floor(F.col("l_extendedprice") / 10000.0).cast("int"), F.lit(10))
    qx = F.least(F.floor(F.col("l_quantity") / 5.0).cast("int"), F.lit(9))
    return (
        li.groupBy(px.alias("price_bin"), qx.alias("qty_bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact-cents avg (functions/exact.py)
            F.round(
                F.sum(EX.cents("l_extendedprice"))
                / (100.0 * F.count(F.lit(1))),
                2,
            ).alias("avg_price"),
        )
    )


PRICE_QTY_HEATMAP_SQL = """
SELECT least(CAST(floor(l_extendedprice / 10000.0) AS INT), 10) AS price_bin,
       least(CAST(floor(l_quantity / 5.0) AS INT), 9) AS qty_bin,
       count(*) AS n,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             / (100.0 * count(*)), 2) AS avg_price
FROM lineitem
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# revenue_gini — Gini concentration of supplier revenue (the 80/20
# inequality measure for marketplace health): G = 2·Σᵢ i·xᵢ / (n·Σx)
# − (n+1)/n over ascending-ranked per-supplier revenue. The fact
# aggregates once to O(suppliers); rank and sums are windows/aggs over
# that bounded table. Also reports the share of suppliers covering 80%
# of revenue (the literal Pareto cut).
# ---------------------------------------------------------------------------


def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    # exact 1e-4-dollar integer revenue (functions/exact.py): x keys
    # the Gini rank ordering AND the Pareto cumulative cutoff, and the
    # units cancel inside every reported ratio
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", EX.disc_units().alias("rev")
    )
    per_supp = li.groupBy("l_suppkey").agg(F.sum("rev").alias("x"))
    ranked = per_supp.select(
        "x",
        F.row_number().over(W.orderBy("x", "l_suppkey")).alias("i"),
    )
    totals = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        # i*x reaches ~1e16/row on big corpora — accumulate exactly in
        # decimal(38,0) (the rolling_zscore s2 pattern), one cast out
        F.sum(
            (F.col("i").cast("decimal(18,0)") * F.col("x")).cast(
                "decimal(38,0)"
            )
        ).alias("six"),
    )
    gini = 2 * F.col("six").cast("double") / (
        F.col("n") * F.col("sx").cast("double")
    ) - (F.col("n") + 1) / F.col("n")
    # Pareto cut: smallest top-supplier share covering >= 80% of revenue
    desc_rank = per_supp.select(
        "x", F.row_number().over(W.orderBy(F.desc("x"), "l_suppkey")).alias("j")
    )
    cum = desc_rank.select(
        "j",
        F.sum("x").over(W.orderBy("j").rowsBetween(W.unboundedPreceding, 0)).alias("cx"),
    )
    cut = (
        cum.crossJoin(F.broadcast(totals.select("sx", "n")))
        # integer form of cx >= 0.8*sx — no float boundary at all
        .filter(F.lit(5) * F.col("cx") >= F.lit(4) * F.col("sx"))
        .agg((F.min("j")).alias("k"), F.max("n").alias("n2"))
        .select(F.round(F.col("k") / F.col("n2"), 6).alias("pareto_80_supplier_share"))
    )
    return (
        totals.select("n", F.round(gini, 6).alias("gini"))
        .crossJoin(F.broadcast(cut))
    )


REVENUE_GINI_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
         AS BIGINT) AS x
  FROM lineitem GROUP BY l_suppkey
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, l_suppkey) AS i FROM per_supp
),
t AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
             sum(CAST(i AS HUGEINT) * x) AS six
      FROM ranked),
dr AS (
  SELECT x, row_number() OVER (ORDER BY x DESC, l_suppkey) AS j FROM per_supp
),
cum AS (
  SELECT j, sum(x) OVER (ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cx
  FROM dr
),
cut AS (
  SELECT round(min(j) / CAST((SELECT n FROM t) AS DOUBLE), 6)
           AS pareto_80_supplier_share
  FROM cum WHERE 5 * cx >= 4 * (SELECT sx FROM t)
)
SELECT n, round(2 * CAST(six AS DOUBLE) / (n * CAST(sx AS DOUBLE))
                - (n + 1.0) / n, 6) AS gini,
       pareto_80_supplier_share
FROM t, cut
"""


# ---------------------------------------------------------------------------
# customer_survival_km — Kaplan-Meier survival over inter-order
# durations (the churn-analysis workhorse): observed gaps between
# consecutive orders are events; the tail gap from each customer's last
# order to the dataset end is a CENSORED observation (still at risk,
# no event). S(t) = Π_{t'≤t} (1 − d/n) computed as exp(Σ ln(·)) —
# cumulative products distribute as log-sums. All windows run over the
# O(distinct durations) life table, the fact table shuffles once on
# custkey. Output drops the degenerate final point where every
# remaining subject dies (ln 0), identically in both engines.
# ---------------------------------------------------------------------------


def customer_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    anchor = orders.agg(F.max("o_orderdate").alias("maxd"))
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.withColumn("prev", F.lag("o_orderdate").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.datediff("o_orderdate", "prev").alias("t"), F.lit(1).alias("event"))
    )
    tails = (
        orders.groupBy("o_custkey")
        .agg(F.max("o_orderdate").alias("last"))
        .crossJoin(F.broadcast(anchor))
        .select(F.datediff("maxd", "last").alias("t"), F.lit(0).alias("event"))
    )
    durs = gaps.unionByName(tails)
    total = durs.count()  # driver scalar over the bounded life table size
    life = durs.groupBy("t").agg(
        F.sum("event").alias("d"), F.count(F.lit(1)).alias("m")
    )
    wt = W.orderBy("t")
    life = life.withColumn(
        "n_risk",
        F.lit(total)
        - F.coalesce(
            F.sum("m").over(wt.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ),
    ).filter(F.col("d") > 0)
    surv = life.withColumn(
        "log_term",
        F.log(1 - F.col("d") / F.col("n_risk")),
    ).filter(F.col("d") < F.col("n_risk"))
    return surv.select(
        "t",
        "n_risk",
        F.col("d").alias("n_events"),
        F.round(
            F.exp(F.sum("log_term").over(wt.rowsBetween(W.unboundedPreceding, 0))), 6
        ).alias("survival"),
    )


CUSTOMER_SURVIVAL_KM_SQL = """
WITH gaps AS (
  SELECT date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE),
                   CAST(o_orderdate AS DATE)) AS t,
         1 AS event
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
tails AS (
  SELECT date_diff('day', CAST(max(o_orderdate) AS DATE),
                   CAST((SELECT max(o_orderdate) FROM orders) AS DATE)) AS t,
         0 AS event
  FROM orders GROUP BY o_custkey
),
durs AS (
  SELECT t, event FROM gaps WHERE t IS NOT NULL
  UNION ALL SELECT t, event FROM tails
),
life AS (
  SELECT t, sum(event) AS d, count(*) AS m FROM durs GROUP BY t
),
risk AS (
  SELECT t, d, m,
         (SELECT count(*) FROM durs)
           - COALESCE(sum(m) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM life
),
surv AS (
  SELECT t, n_risk, d,
         ln(1 - d / CAST(n_risk AS DOUBLE)) AS log_term
  FROM risk WHERE d > 0 AND d < n_risk
)
SELECT t, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_events,
       round(exp(sum(log_term) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS survival
FROM surv
"""


# ---------------------------------------------------------------------------
# type_pair_lift — association rules over the basket pairs: support,
# directional confidence, and lift for part-type pairs co-occurring in
# orders. The pair/item supports are the frequent_type_pairs machinery
# (dedup before pairing, basket-key co-partition); rules derive from
# the O(pairs) aggregate with broadcast item supports — the classic
# Apriori post-processing stage.
# ---------------------------------------------------------------------------


def type_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    items = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_type")
        .distinct()
    )
    n_orders = items.select("l_orderkey").distinct().count()
    item_supp = items.groupBy("p_type").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.select(F.col("l_orderkey").alias("k"), F.col("p_type").alias("type_a"))
    b = items.select(F.col("l_orderkey").alias("k"), F.col("p_type").alias("type_b"))
    pair_supp = (
        a.join(b, "k")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= 3)
    )
    sa = item_supp.select(F.col("p_type").alias("type_a"), F.col("n_item").alias("n_a"))
    sb = item_supp.select(F.col("p_type").alias("type_b"), F.col("n_item").alias("n_b"))
    return (
        pair_supp.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_pair",
            F.round(F.col("n_pair") / F.col("n_a"), 6).alias("conf_a_to_b"),
            F.round(F.col("n_pair") / F.col("n_b"), 6).alias("conf_b_to_a"),
            F.round(
                F.col("n_pair") * F.lit(n_orders) / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
    )


TYPE_PAIR_LIFT_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS k, p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
n AS (SELECT count(DISTINCT k) AS n_orders FROM items),
item_supp AS (SELECT p_type, count(*) AS n_item FROM items GROUP BY 1),
pair_supp AS (
  SELECT a.p_type AS type_a, b.p_type AS type_b, count(*) AS n_pair
  FROM items a JOIN items b ON a.k = b.k AND a.p_type < b.p_type
  GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT type_a, type_b, n_pair,
       round(n_pair / CAST(sa.n_item AS DOUBLE), 6) AS conf_a_to_b,
       round(n_pair / CAST(sb.n_item AS DOUBLE), 6) AS conf_b_to_a,
       round(n_pair * (SELECT n_orders FROM n)
             / CAST(sa.n_item * sb.n_item AS DOUBLE), 6) AS lift
FROM pair_supp
JOIN item_supp sa ON sa.p_type = type_a
JOIN item_supp sb ON sb.p_type = type_b
"""


# ---------------------------------------------------------------------------
# linear_attribution — multi-touch attribution: every click within the
# hour before a purchase shares the conversion credit equally (1/n per
# click), rolled up by click hour-of-day. Built on the bucketed range
# join (click_purchase_within_1h's shape, restricted to clicks BEFORE
# the purchase); per-purchase fan-in counts come from one grouped pass
# over the O(pairs) join output.
# ---------------------------------------------------------------------------


def linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.unix_micros("ts").alias("click_us"),
        F.hour("ts").alias("click_hour"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.unix_micros("ts").alias("purchase_us"),
    )
    hour_us = 3600 * 1000 * 1000
    c = clicks.withColumn(
        "bucket", F.explode(F.array(F.col("click_us") / hour_us, F.col("click_us") / hour_us + 1))
    ).withColumn("bucket", F.floor("bucket"))
    p = purchases.withColumn("bucket", F.floor(F.col("purchase_us") / hour_us))
    pairs = c.join(p, ["user_id", "bucket"]).filter(
        (F.col("click_us") < F.col("purchase_us"))
        & (F.col("purchase_us") - F.col("click_us") <= hour_us)
    ).select("click_id", "click_hour", "purchase_id").distinct()
    from pyspark.sql.window import Window as W

    credited = pairs.withColumn(
        "credit", 1.0 / F.count(F.lit(1)).over(W.partitionBy("purchase_id"))
    )
    return credited.groupBy("click_hour").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(F.sum("credit"), 4).alias("attributed_conversions"),
    )


LINEAR_ATTRIBUTION_SQL = """
WITH clicks AS (
  SELECT event_id AS click_id, user_id,
         epoch_us(ts) AS click_us, extract(hour FROM ts) AS click_hour
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT DISTINCT click_id, click_hour, purchase_id
  FROM clicks c JOIN purchases p USING (user_id)
  WHERE c.click_us < p.purchase_us
    AND p.purchase_us - c.click_us <= 3600000000::BIGINT
),
credited AS (
  SELECT click_hour,
         1.0 / count(*) OVER (PARTITION BY purchase_id) AS credit
  FROM pairs
)
SELECT click_hour, count(*) AS n_touches,
       round(sum(credit), 4) AS attributed_conversions
FROM credited GROUP BY click_hour
"""


# ---------------------------------------------------------------------------
# ltv_by_order_index — customer-age value curve: average cumulative
# spend at a customer's k-th order, across customers (the LTV curve
# marketing models fit against). One custkey window gives both the
# order index and the running spend; the curve aggregate runs over
# O(customers × max_k) rows with k capped at 10.
# ---------------------------------------------------------------------------


def ltv_by_order_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # exact-cents running sums and averages (functions/exact.py): cum
    # stays an exact long; avg is one deterministic division; median
    # over exact values never sits off-grid
    seq = orders.select(
        F.row_number().over(w).alias("k"),
        F.sum(EX.cents("o_totalprice"))
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("cum_cents"),
    ).filter(F.col("k") <= 10)
    return seq.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum("cum_cents") / (100.0 * F.count(F.lit(1))), 2
        ).alias("avg_cum_spend"),
        # median over the exact longs (interpolated midpoints are
        # k+0.5 cents — exactly representable), ONE division after
        F.round(F.median("cum_cents") / 100.0, 2).alias("med_cum_spend"),
    )


LTV_BY_ORDER_INDEX_SQL = """
WITH seq AS (
  SELECT row_number() OVER w AS k,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
              PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS cum_cents
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT k, count(*) AS n_customers,
       round(CAST(sum(cum_cents) AS BIGINT) / (100.0 * count(*)), 2)
         AS avg_cum_spend,
       round(median(cum_cents) / 100.0, 2) AS med_cum_spend
FROM seq WHERE k <= 10 GROUP BY k
"""


# ---------------------------------------------------------------------------
# weighted_median_price — exact WEIGHTED quantiles via the cumulative-
# weight rule: per group, order by value and take the first value whose
# running weight reaches the target fraction of total weight. Built-in
# percentile() only handles unweighted data; this is the formulation
# every weighted-sampling/pricing pipeline needs.
#
# Scale shape: weight is AGGREGATED per (group, value) BEFORE the
# cumulative window, so the window sorts O(distinct values) bins per
# group instead of every fact row — a 3-key window over the raw fact
# would funnel the whole table through 3 sort partitions (the
# full-registry slope sweep measured that formulation at 3.6x for 10x
# data). Result-identical: within one value the row-level running sum
# crosses the threshold iff the bin-level one does (rows of equal value
# are contiguous in the ordering), and quantities are integer-valued so
# the regrouped double sums are exact. The DuckDB oracle deliberately
# keeps the ROW-level formulation — the gate proves the two agree.
# ---------------------------------------------------------------------------


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    bins = li.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum("l_quantity").alias("bw")
    )
    w = W.partitionBy("l_returnflag").orderBy("l_extendedprice")
    cum = bins.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("bw").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cw"),
        F.sum("bw").over(W.partitionBy("l_returnflag")).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") >= 0.5 * F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("weighted_median_price"),
            F.max("tw").alias("total_weight"),
        )
    )


WEIGHTED_MEDIAN_PRICE_SQL = """
WITH cum AS (
  SELECT l_returnflag, l_extendedprice,
         sum(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice, l_orderkey, l_linenumber
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
  FROM lineitem
)
SELECT l_returnflag,
       round(min(l_extendedprice), 2) AS weighted_median_price,
       max(tw) AS total_weight
FROM cum WHERE cw >= 0.5 * tw
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# active_user_metrics — DAU / trailing-7-day WAU / stickiness per day,
# the canonical growth dashboard. WAU avoids per-day re-scans by
# exploding each (day, user) activity into the ≤7 trailing windows it
# contributes to (the sliding_distinct_users pattern at day grain),
# then deduping (window_day, user). Early days have partial windows —
# identically in both engines.
# ---------------------------------------------------------------------------


def active_user_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    bounds = du.agg(F.max("day").alias("maxd"))
    contrib = du.select(
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("wday"),
        "user_id",
    )
    wau = (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(F.col("wday") <= F.col("maxd"))
        .select("wday", "user_id")
        .distinct()
        .groupBy(F.col("wday").alias("day"))
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


ACTIVE_USER_METRICS_SQL = """
WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
bounds AS (SELECT max(day) AS maxd FROM du),
contrib AS (
  SELECT day + k.k * INTERVAL 1 DAY AS wday, user_id
  FROM du, range(7) k(k)
),
wau AS (
  SELECT CAST(wday AS DATE) AS day, count(DISTINCT user_id) AS wau
  FROM contrib, bounds
  WHERE wday <= maxd
  GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau,
       round(dau / CAST(wau AS DOUBLE), 6) AS stickiness
FROM dau JOIN wau USING (day)
"""

# ---------------------------------------------------------------------------
# seasonal_decompose_revenue — classical additive decomposition of the
# monthly revenue series: trend via a centered 13-month moving average
# (full-window months only), seasonal via mean-centered month-of-year
# averages of the detrended series, residual as the remainder
# (the batch STL-lite; dow_seasonality is the day-grain sibling).
# Scale shape: orders aggregate map-side to an O(months) series before
# any window runs, so the single-partition ORDER BY month window is
# over ~80 rows regardless of corpus size — same driver-bounded-state
# argument as revenue_ewma/_holt; everything downstream is joins
# between O(months)-row frames.
# ---------------------------------------------------------------------------

def seasonal_decompose_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders")
    # stage-1 exact-cents aggregate (functions/exact.py): the corpus-
    # sized sum is the real knife-edge surface; the downstream window/
    # moy math runs over the O(months) series, where double error is
    # bounded by ~sqrt(13)·ulp — far below the 2-dp rounding grid
    m = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg((F.sum(EX.cents("o_totalprice")) / 100.0).alias("r"))
    w13 = W.orderBy("month").rowsBetween(-6, 6)
    t = (
        m.withColumn("n_win", F.count(F.lit(1)).over(w13))
        .withColumn("trend", F.avg("r").over(w13))
        .filter(F.col("n_win") == 13)
        .withColumn("detrended", F.col("r") - F.col("trend"))
        .withColumn("moy", F.substring("month", 6, 2))
    )
    seas_raw = t.groupBy("moy").agg(F.avg("detrended").alias("s_raw"))
    s_mean = seas_raw.agg(F.avg("s_raw").alias("s_mean"))
    seas = seas_raw.crossJoin(F.broadcast(s_mean)).select(
        "moy", (F.col("s_raw") - F.col("s_mean")).alias("seasonal")
    )
    return t.join(F.broadcast(seas), "moy").select(
        "month",
        F.round("r", 2).alias("revenue"),
        F.round("trend", 2).alias("trend"),
        F.round("seasonal", 2).alias("seasonal"),
        F.round(F.col("detrended") - F.col("seasonal"), 2).alias("residual"),
    )


SEASONAL_DECOMPOSE_REVENUE_SQL = """
WITH m AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           / CAST(100.0 AS DOUBLE) AS r
  FROM orders GROUP BY 1
), t AS (
  SELECT month, r,
         count(*) OVER w AS n_win,
         avg(r) OVER w AS trend
  FROM m
  WINDOW w AS (ORDER BY month ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
), d AS (
  SELECT month, r, trend, r - trend AS detrended,
         substr(month, 6, 2) AS moy
  FROM t WHERE n_win = 13
), seas_raw AS (
  SELECT moy, avg(detrended) AS s_raw FROM d GROUP BY moy
), seas AS (
  SELECT moy, s_raw - (SELECT avg(s_raw) FROM seas_raw) AS seasonal
  FROM seas_raw
)
SELECT d.month, round(d.r, 2) AS revenue, round(d.trend, 2) AS trend,
       round(seas.seasonal, 2) AS seasonal,
       round(d.detrended - seas.seasonal, 2) AS residual
FROM d JOIN seas USING (moy)
"""


# rolling_zscore_anomalies — trailing-window anomaly detection on the
# daily revenue series: z-score of each day against the mean/std of the
# preceding ROLL_ZS_WINDOW days (the day itself excluded, so anomalies
# don't mask themselves), flagging |z| > ROLL_ZS_THRESH. Variance comes
# from windowed integer-count + sum + sum-of-squares with the SAME
# explicit formula in both engines (stddev_samp implementations differ
# by accumulation scheme; the explicit form doesn't). One ordered pass
# over the O(days) series — the corpus-sized work is the daily groupBy.

ROLL_ZS_WINDOW = 28
ROLL_ZS_MIN_N = 14
ROLL_ZS_THRESH = 2.5


def rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = _daily_revenue(spark, sf_dir)
    w = W.orderBy("day").rowsBetween(-ROLL_ZS_WINDOW, -1)
    # Both window sums in exact integer arithmetic (rounds 9-10): the
    # double sums are accumulation-order-dependent across engines and
    # flipped rounded digits at derived sf1 (s1's trail_mean cent in
    # r9; s2 feeds the 4-dp z through the s2/n - mu^2 cancellation —
    # same knife-edge class, flagged by ADVICE r9). r_cents^2 is up to
    # ~1e20 at derived sf1, past int64, so s2 accumulates in
    # decimal(38,0) (DuckDB: HUGEINT) — exact and associative — with
    # ONE deterministic round-to-nearest cast to double at the end.
    cents2 = (
        F.col("r_cents").cast("decimal(19,0)") * F.col("r_cents")
    ).cast("decimal(38,0)")
    s = d.select(
        "day",
        "r",
        F.count("r").over(w).alias("n"),
        (F.sum("r_cents").over(w) / 100.0).alias("s1"),
        (F.sum(cents2).over(w).cast("double") / 10000.0).alias("s2"),
    ).filter(F.col("n") >= ROLL_ZS_MIN_N)
    mu = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    z = F.when(var > 0, (F.col("r") - mu) / F.sqrt(var))
    return (
        s.withColumn("z", z)
        .filter(F.abs("z") > ROLL_ZS_THRESH)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("r", 2).alias("revenue"),
            F.round(mu, 2).alias("trail_mean"),
            F.round("z", 4).alias("zscore"),
        )
    )


ROLLING_ZSCORE_ANOMALIES_SQL = f"""
WITH d AS ({_DAILY_SQL}),
s AS (
  SELECT day, r,
         count(r) OVER w AS n,
         CAST(sum(r_cents) OVER w AS DOUBLE) / CAST(100.0 AS DOUBLE) AS s1,
         CAST(sum(CAST(r_cents AS HUGEINT) * r_cents) OVER w AS DOUBLE)
           / CAST(10000.0 AS DOUBLE) AS s2
  FROM d
  WINDOW w AS (ORDER BY day
               ROWS BETWEEN {ROLL_ZS_WINDOW} PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT day, r, n, s1 / n AS mu,
         CASE WHEN (s2 - s1 * s1 / n) / (n - 1) > 0
              THEN (r - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))
         END AS z
  FROM s WHERE n >= {ROLL_ZS_MIN_N}
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       round(r, 2) AS revenue,
       round(mu, 2) AS trail_mean,
       round(z, 4) AS zscore
FROM z WHERE abs(z) > {ROLL_ZS_THRESH}
"""


# ---------------------------------------------------------------------------
# listagg_status_profile — Spark 4.0's ANSI listagg aggregate (string
# concatenation with WITHIN GROUP ordering and DISTINCT): the ordered,
# deduplicated status roster per order priority. Deterministic because
# the WITHIN GROUP order fully orders the distinct values. The oracle
# is DuckDB string_agg over a pre-deduplicated subquery — proving the
# new builtin against the portable formulation. Like any collect-to-
# string aggregate it is only safe where the per-group distinct domain
# is bounded (3 statuses here); unbounded-domain roll-ups belong in
# collect_list-free designs.
# ---------------------------------------------------------------------------


def listagg_status_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, ',')
                 WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
        """
    )


LISTAGG_STATUS_PROFILE_SQL = """
WITH d AS (
  SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
), s AS (
  SELECT o_orderpriority,
         string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
  FROM d GROUP BY o_orderpriority
), n AS (
  SELECT o_orderpriority, count(*) AS n_orders FROM orders GROUP BY 1
)
SELECT s.o_orderpriority, statuses, n_orders
FROM s JOIN n ON s.o_orderpriority = n.o_orderpriority
"""


# ---------------------------------------------------------------------------
# try_arith_audit — Spark 4 `try_` error-safe expression family
# (try_divide, try_element_at): errors become NULLs instead of task
# failures, the right posture for dirty data at scale (one malformed
# row cannot kill a 1000-executor stage). The audit counts NULLified
# rows per returnflag and reports order-free extremes of the surviving
# values. Oracle: explicit CASE guards — proving try_ semantics equal
# the guarded classic formulation.
# ---------------------------------------------------------------------------


def try_arith_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ratio = F.try_divide(F.col("l_extendedprice"), F.col("l_quantity") - 25)
    # data-dependent index: l_linenumber in 1..7 against a 3-part date
    # split — try_element_at NULLs the out-of-range rows
    part = F.try_element_at(
        F.split(F.col("l_shipdate").cast("string"), "-"),
        F.col("l_linenumber").cast("int"),
    )
    return (
        li.select("l_returnflag", ratio.alias("ratio"), part.alias("w3"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("ratio").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_div_null"),
            F.round(F.min("ratio"), 4).alias("min_ratio"),
            F.round(F.max("ratio"), 4).alias("max_ratio"),
            F.sum(F.when(F.col("w3").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_bad_idx"),
        )
    )


TRY_ARITH_AUDIT_SQL = """
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN l_quantity = 25 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_div_null,
       round(min(CASE WHEN l_quantity <> 25
                      THEN l_extendedprice / (l_quantity - 25) END), 4)
         AS min_ratio,
       round(max(CASE WHEN l_quantity <> 25
                      THEN l_extendedprice / (l_quantity - 25) END), 4)
         AS max_ratio,
       CAST(sum(CASE WHEN l_linenumber > 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bad_idx
FROM lineitem
GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# holt_winters_revenue — additive Holt-Winters (level + trend + weekly
# seasonality, m=7) over the daily revenue series, completing the ETS
# family next to revenue_ewma (SES) and revenue_holt (trend).
# Initialization: level = mean of the first week, trend = 0, seasonal
# s_j = y_j − level; the fold consumes days 8..n. Like revenue_holt the
# recursion is a single-row Spark `aggregate` HOF over the collected
# O(days) array (driver never loops; one job), with the day counter
# threaded through the accumulator so the seasonal slot (i mod 7)
# advances inside the fold. Oracle: recursive CTE carrying the seasonal
# state as a LIST column (a list_reduce fold is unsafe — DuckDB 1.0
# evaluates result-struct fields against a mutated accumulator, see
# revenue_holt). Smoothing constants are exactly-representable decimal
# literals so both engines parse identical doubles.
# ---------------------------------------------------------------------------

_HW_A, _HW_B, _HW_G = 0.3, 0.1, 0.2


def holt_winters_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _daily_revenue(spark, sf_dir)
    series = d.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "r"))), lambda x: x.r
        ).alias("arr")
    )
    a, b, g = _HW_A, _HW_B, _HW_G
    l0 = "((" + " + ".join(f"element_at(arr, {j})" for j in range(1, 8)) + ") / 7.0)"
    lvl = (
        f"({a} * (x - element_at(acc.s, cast(acc.i % 7 as int) + 1))"
        f" + {1 - a} * (acc.l + acc.b))"
    )
    fold = F.expr(
        "aggregate("
        "  slice(arr, 8, size(arr) - 7),"
        f" named_struct('i', 7, 'l', {l0}, 'b', cast(0.0 as double),"
        f"   's', transform(slice(arr, 1, 7), v -> v - {l0})),"
        f" (acc, x) -> named_struct("
        f"   'i', acc.i + 1,"
        f"   'l', {lvl},"
        f"   'b', {b} * ({lvl} - acc.l) + {1 - b} * acc.b,"
        f"   's', transform(acc.s, (v, j) -> CASE"
        f"          WHEN j = cast(acc.i % 7 as int)"
        f"          THEN {g} * (x - {lvl}) + {1 - g} * v ELSE v END)))"
    )
    out = series.select(F.size("arr").alias("n_days"), fold.alias("st"))
    nxt = F.element_at("st.s", (F.col("n_days") % 7 + 1).cast("int"))
    return out.select(
        "n_days",
        F.round(F.col("st.l"), 4).alias("level"),
        F.round(F.col("st.b"), 4).alias("trend"),
        F.round(F.col("st.l") + F.col("st.b") + nxt, 4).alias("forecast_next"),
        *[
            F.round(F.element_at("st.s", j + 1), 4).alias(f"s{j}")
            for j in range(7)
        ],
    )


def _holt_winters_sql() -> str:
    a, b, g = _HW_A, _HW_B, _HW_G
    l0 = "((" + " + ".join(f"arr[{j}]" for j in range(1, 8)) + ") / 7.0)"
    lvl = f"({a} * (arr[i + 1] - s[(i % 7) + 1]) + {1 - a} * (l + b))"
    s_cols = ", ".join(f"round(s[{j + 1}], 4) AS s{j}" for j in range(7))
    return f"""
WITH RECURSIVE d AS ({_DAILY_SQL}),
arrs AS (SELECT list(r ORDER BY day) AS arr FROM d),
hw(i, l, b, s) AS (
  SELECT 7, {l0}, 0.0::DOUBLE,
         list_transform(range(1, 8), j -> arr[j] - {l0})
  FROM arrs
  UNION ALL
  SELECT i + 1,
         {lvl},
         {b} * ({lvl} - l) + {1 - b} * b,
         list_transform(range(1, 8), j -> CASE
           WHEN j = (i % 7) + 1
           THEN {g} * (arr[i + 1] - {lvl}) + {1 - g} * s[j] ELSE s[j] END)
  FROM hw, arrs WHERE i < len(arr)
)
SELECT (SELECT len(arr) FROM arrs) AS n_days,
       round(l, 4) AS level, round(b, 4) AS trend,
       round(l + b + s[((SELECT len(arr) FROM arrs) % 7) + 1], 4)
         AS forecast_next,
       {s_cols}
FROM hw WHERE i = (SELECT len(arr) FROM arrs)
"""


HOLT_WINTERS_REVENUE_SQL = _holt_winters_sql()


# ---------------------------------------------------------------------------
# segment_nation_mi — mutual information (and normalized MI) between
# two categorical columns, the information-theoretic companion to
# brand_nation_chi2: how much does knowing a customer's market segment
# tell you about their nation? Per-cell terms are computed from exact
# integer counts (c·N / (cx·cy) inside the log), so only the final
# O(|X|·|Y|)-cell summation is floating point — the same exposure the
# certified chi2 query carries. Three hash aggregates (cells + two
# margins), margins broadcast back onto the bounded cell table.
# ---------------------------------------------------------------------------


def segment_nation_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey"
    )
    n = table_rows(spark, sf_dir, "customer")
    cells = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    mx = cust.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("cx"))
    my = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("cy"))
    j = cells.join(F.broadcast(mx), "c_mktsegment").join(
        F.broadcast(my), "c_nationkey"
    )
    nn = float(n)
    mi_term = (F.col("c") / nn) * F.log(
        F.col("c") * nn / (F.col("cx") * F.col("cy"))
    )
    hx = mx.agg(
        (-F.sum((F.col("cx") / nn) * F.log(F.col("cx") / nn))).alias("h")
    ).collect()[0]["h"]
    hy = my.agg(
        (-F.sum((F.col("cy") / nn) * F.log(F.col("cy") / nn))).alias("h")
    ).collect()[0]["h"]
    return j.agg(
        F.lit(n).alias("n_rows"),
        F.round(F.sum(mi_term), 4).alias("mi_nats"),
        F.round(F.lit(hx), 4).alias("h_segment"),
        F.round(F.lit(hy), 4).alias("h_nation"),
        F.round(F.sum(mi_term) / F.lit((hx * hy) ** 0.5), 4).alias("nmi"),
    )


SEGMENT_NATION_MI_SQL = """
WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS nn,
                  count(*) AS n_rows FROM customer),
cells AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS c
  FROM customer GROUP BY 1, 2
),
mx AS (SELECT c_mktsegment, count(*) AS cx FROM customer GROUP BY 1),
my AS (SELECT c_nationkey, count(*) AS cy FROM customer GROUP BY 1),
hx AS (SELECT -sum((cx / nn) * ln(cx / nn)) AS h FROM mx, n),
hy AS (SELECT -sum((cy / nn) * ln(cy / nn)) AS h FROM my, n),
mi AS (
  SELECT sum((c / nn) * ln(c * nn / (cx * CAST(cy AS DOUBLE)))) AS mi_nats
  FROM cells
  JOIN mx USING (c_mktsegment)
  JOIN my USING (c_nationkey)
  CROSS JOIN n
)
SELECT n.n_rows AS n_rows,
       round(mi_nats, 4) AS mi_nats,
       round(hx.h, 4) AS h_segment,
       round(hy.h, 4) AS h_nation,
       round(mi_nats / sqrt(hx.h * hy.h), 4) AS nmi
FROM mi, hx, hy, n
"""


# ---------------------------------------------------------------------------
# theil_sen_trend — robust trend estimation on daily revenue: the
# Theil-Sen estimator (median of all pairwise slopes) shrugs off the
# outlier days that bend least-squares (regr_price_qty's method). The
# O(days²) pair space is generated DISTRIBUTED (self-join on day index,
# i < j — ~2.9 M slope rows for 7 years of days, trivially partitioned)
# and the median is the exact lower-middle element by row_number, not
# an interpolated percentile (interpolation arithmetic differs across
# engines; picking a concrete element is engine-proof). Days are dense
# integers from prefix row_number so slopes divide by exact integer
# gaps. Corpus-sized work stays in the daily groupBy; the pair join is
# bounded by days², independent of row count.
# ---------------------------------------------------------------------------


def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = _daily_revenue(spark, sf_dir).select(
        F.row_number().over(W.orderBy("day")).alias("i"), "r"
    )
    a, b = d.alias("a"), d.alias("b")
    slopes = a.join(b, F.col("b.i") > F.col("a.i")).select(
        (
            (F.col("b.r") - F.col("a.r"))
            / (F.col("b.i") - F.col("a.i")).cast("double")
        ).alias("s")
    )
    w = W.orderBy("s")
    ranked = slopes.select(
        "s", F.row_number().over(w).alias("rn")
    )
    n = slopes.count()
    mid = (n + 1) // 2
    return ranked.filter(F.col("rn") == mid).select(
        F.lit(n).alias("n_pairs"),
        F.round("s", 6).alias("slope_per_day"),
    )


THEIL_SEN_TREND_SQL = """
WITH d AS (
  SELECT row_number() OVER (ORDER BY day) AS i, r
  FROM (SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 / CAST(100.0 AS DOUBLE) AS r
        FROM orders GROUP BY 1)
), slopes AS (
  SELECT (b.r - a.r) / CAST(b.i - a.i AS DOUBLE) AS s
  FROM d a JOIN d b ON b.i > a.i
), ranked AS (
  SELECT s, row_number() OVER (ORDER BY s) AS rn,
         count(*) OVER () AS n
  FROM slopes
)
SELECT CAST(n AS BIGINT) AS n_pairs, round(s, 6) AS slope_per_day
FROM ranked WHERE rn = (n + 1) // 2
"""


# ---------------------------------------------------------------------------
# ab_proportion_ztest — the experimentation primitive: deterministic
# hash split of users into arms (user_id parity — in production a
# salted hash), per-arm conversion = fraction of users with >= 1
# purchase event, and the pooled two-proportion z statistic. Every
# input to the formula is an exact integer count aggregated
# map-side-combined; the z arithmetic runs once on the driver-sized
# 2-row arm table, identically in both engines.
# ---------------------------------------------------------------------------


def ab_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # conversion = >=1 HIGH-VALUE purchase (>100): plain "any purchase"
    # saturates at 100% on this data, zeroing the pooled variance
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 100), 1
            ).otherwise(0)
        ).alias("converted")
    )
    arms = users.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    a = arms.filter(F.col("arm") == 0).alias("a")
    b = arms.filter(F.col("arm") == 1).alias("b")
    j = a.crossJoin(b)
    p1 = F.col("a.n_conv") / F.col("a.n_users")
    p2 = F.col("b.n_conv") / F.col("b.n_users")
    pp = (F.col("a.n_conv") + F.col("b.n_conv")) / (
        F.col("a.n_users") + F.col("b.n_users")
    )
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("a.n_users") + 1.0 / F.col("b.n_users"))
    )
    return j.select(
        F.col("a.n_users").alias("n_a"),
        F.col("b.n_users").alias("n_b"),
        F.round(p1, 4).alias("conv_a"),
        F.round(p2, 4).alias("conv_b"),
        F.round(z, 4).alias("zstat"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


AB_PROPORTION_ZTEST_SQL = """
WITH users AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 100
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), arms AS (
  SELECT user_id % 2 AS arm, count(*) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_conv
  FROM users GROUP BY 1
)
SELECT a.n_users AS n_a, b.n_users AS n_b,
       round(a.n_conv / CAST(a.n_users AS DOUBLE), 4) AS conv_a,
       round(b.n_conv / CAST(b.n_users AS DOUBLE), 4) AS conv_b,
       round((a.n_conv / CAST(a.n_users AS DOUBLE)
              - b.n_conv / CAST(b.n_users AS DOUBLE))
             / sqrt(((a.n_conv + b.n_conv)
                     / CAST(a.n_users + b.n_users AS DOUBLE))
                    * (1 - (a.n_conv + b.n_conv)
                           / CAST(a.n_users + b.n_users AS DOUBLE))
                    * (CAST(1.0 AS DOUBLE) / a.n_users
                       + CAST(1.0 AS DOUBLE) / b.n_users)), 4) AS zstat,
       abs((a.n_conv / CAST(a.n_users AS DOUBLE)
            - b.n_conv / CAST(b.n_users AS DOUBLE))
           / sqrt(((a.n_conv + b.n_conv)
                   / CAST(a.n_users + b.n_users AS DOUBLE))
                  * (1 - (a.n_conv + b.n_conv)
                         / CAST(a.n_users + b.n_users AS DOUBLE))
                  * (CAST(1.0 AS DOUBLE) / a.n_users
                     + CAST(1.0 AS DOUBLE) / b.n_users))) > 1.96
         AS significant_95
FROM (SELECT * FROM arms WHERE arm = 0) a
CROSS JOIN (SELECT * FROM arms WHERE arm = 1) b
"""


# ---------------------------------------------------------------------------
# psi_value_shift — population stability index, the industry-standard
# covariate-shift alarm for feature pipelines: bin the event-value
# distribution in the first half of the time range vs the second
# (split at the integer midpoint day — no percentile knife-edges) and
# report PSI = Σ (p−q)·ln(p/q) over fixed bin edges with add-one
# smoothing (deterministic, zero-proof). All bin counts are exact
# integers; the PSI summation runs over a FIXED 6-bin table, so the
# float exposure is six terms regardless of corpus size.
# ---------------------------------------------------------------------------

_PSI_EDGES = [10.0, 25.0, 50.0, 100.0, 200.0]  # 6 bins


def psi_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "value"
    )
    rng = ev.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    ).collect()[0]
    mid_expr = F.date_add(
        F.lit(rng["lo"]), (F.datediff(F.lit(rng["hi"]), F.lit(rng["lo"])) / 2).cast("int")
    )
    binc = F.when(F.col("value") < _PSI_EDGES[0], 0)
    for i, e in enumerate(_PSI_EDGES[1:], start=1):
        binc = binc.when(F.col("value") < e, i)
    binc = binc.otherwise(len(_PSI_EDGES))
    half = F.when(F.col("day") < mid_expr, "first").otherwise("second")
    counts = ev.groupBy(half.alias("half"), binc.alias("bin")).agg(
        F.count(F.lit(1)).alias("c")
    )
    p = counts.filter(F.col("half") == "first").select(
        "bin", F.col("c").alias("cp")
    )
    q = counts.filter(F.col("half") == "second").select(
        "bin", F.col("c").alias("cq")
    )
    bins = spark.range(len(_PSI_EDGES) + 1).select(F.col("id").alias("bin"))
    j = (
        bins.join(p, "bin", "left")
        .join(q, "bin", "left")
        .select(
            "bin",
            F.coalesce("cp", F.lit(0)).alias("cp"),
            F.coalesce("cq", F.lit(0)).alias("cq"),
        )
    )
    tot = j.agg(
        F.sum("cp").alias("np"), F.sum("cq").alias("nq"), F.count(F.lit(1)).alias("k")
    ).collect()[0]
    pn = (F.col("cp") + 1) / float(tot["np"] + tot["k"])
    qn = (F.col("cq") + 1) / float(tot["nq"] + tot["k"])
    return j.agg(
        F.lit(int(tot["np"])).alias("n_first"),
        F.lit(int(tot["nq"])).alias("n_second"),
        F.round(F.sum((pn - qn) * F.log(pn / qn)), 6).alias("psi"),
    )


def _psi_sql() -> str:
    k = len(_PSI_EDGES) + 1
    case = "CASE " + " ".join(
        f"WHEN value < {e} THEN {i}" for i, e in enumerate(_PSI_EDGES)
    ) + f" ELSE {len(_PSI_EDGES)} END"
    return f"""
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day, value FROM events
), rng AS (
  SELECT min(day) AS lo, max(day) AS hi FROM rng_src
), counts AS (
  SELECT CASE WHEN day < lo + CAST(CAST(date_diff('day', lo, hi) AS INTEGER)
                              // 2 AS INTEGER) THEN 'first'
              ELSE 'second' END AS half,
         {case} AS bin, count(*) AS c
  FROM ev, rng GROUP BY 1, 2
), bins AS (
  SELECT unnest(range(0, {k})) AS bin
), j AS (
  SELECT bins.bin,
         coalesce(p.c, 0) AS cp, coalesce(q.c, 0) AS cq
  FROM bins
  LEFT JOIN (SELECT bin, c FROM counts WHERE half = 'first') p USING (bin)
  LEFT JOIN (SELECT bin, c FROM counts WHERE half = 'second') q USING (bin)
), tot AS (
  SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cq) AS BIGINT) AS nq
  FROM j
)
SELECT np AS n_first, nq AS n_second,
       round(sum(((cp + 1) / CAST(np + {k} AS DOUBLE)
                  - (cq + 1) / CAST(nq + {k} AS DOUBLE))
                 * ln(((cp + 1) / CAST(np + {k} AS DOUBLE))
                      / ((cq + 1) / CAST(nq + {k} AS DOUBLE)))), 6) AS psi
FROM j, tot GROUP BY np, nq
"""


PSI_VALUE_SHIFT_SQL = _psi_sql().replace("rng_src", "ev")


# ---------------------------------------------------------------------------
# neyman_allocation — optimal stratified-sampling design (Neyman 1934):
# allocate a fixed sample budget across sources proportional to
# N_h·S_h (stratum size × stratum std of doc length), the allocation
# minimizing the variance of the corpus-mean estimate. This is the
# principled version of the flat per-source caps most data pipelines
# use. Stratum stds come from exact integer sum/sum-of-squares (the
# engines' own stddev accumulators differ); the only cross-row float
# work is the final O(#sources) share normalization.
# ---------------------------------------------------------------------------

NEYMAN_BUDGET = 10_000


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
    )
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_docs"))
        / (F.col("n_docs") - 1)
    )
    s = s.withColumn("ns", F.col("n_docs") * sd)
    tot = s.agg(F.sum("ns")).collect()[0][0]
    return s.select(
        "source",
        "n_docs",
        F.round(sd, 4).alias("s_chars"),
        F.round(F.col("ns") / F.lit(float(tot)), 6).alias("alloc_share"),
        F.round(F.col("ns") / F.lit(float(tot)) * NEYMAN_BUDGET)
        .cast("long")
        .alias("alloc_n"),
    )


NEYMAN_ALLOCATION_SQL = f"""
WITH s AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS s1,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY source
), e AS (
  SELECT source, n_docs,
         sqrt((s2 - s1 * CAST(s1 AS DOUBLE) / n_docs) / (n_docs - 1)) AS sd
  FROM s
), t AS (
  SELECT sum(n_docs * sd) AS tot FROM e
)
SELECT source, n_docs,
       round(sd, 4) AS s_chars,
       round(n_docs * sd / tot, 6) AS alloc_share,
       CAST(round(n_docs * sd / tot * {NEYMAN_BUDGET}) AS BIGINT) AS alloc_n
FROM e, t
"""


# ---------------------------------------------------------------------------
# key_skew_profile — join-key skew diagnostic: frequency profile of
# l_partkey in lineitem (the key the part-join shuffles on), reporting
# max single-key share and the share held by the top 1% of keys. THE
# number to read before choosing salting vs AQE skew-join at 100 TB —
# salted_type_stats demonstrates the mitigation, this measures whether
# it's needed. One hash aggregate to key grain (map-side combined),
# then all work is O(#keys); shares are integer-count ratios. The
# global rank is a single-partition sort of the KEY-grain table — fine
# up to ~100 M keys; past that swap the rank for a count threshold
# c >= approx_quantile(c, 0.99) (no global sort, same top-1% semantics
# up to ties).
# ---------------------------------------------------------------------------


def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    freq = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    w = W.orderBy(F.desc("c"), F.asc("l_partkey"))
    ranked = freq.select(
        "c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nk"),
    )
    return ranked.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias(
            "max_key_share"
        ),
        F.round(
            F.sum(
                F.when(
                    F.col("rn") <= F.ceil(F.col("nk") / 100.0), F.col("c")
                ).otherwise(0)
            )
            / F.sum("c").cast("double"),
            6,
        ).alias("top1pct_share"),
    )


KEY_SKEW_PROFILE_SQL = """
WITH freq AS (
  SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, l_partkey ASC) AS rn,
         count(*) OVER () AS nk
  FROM freq
)
SELECT CAST(sum(c) AS BIGINT) AS n_rows,
       count(*) AS n_keys,
       round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS max_key_share,
       round(sum(CASE WHEN rn <= ceil(nk / 100.0) THEN c ELSE 0 END)
             / CAST(sum(c) AS DOUBLE), 6) AS top1pct_share
FROM ranked
"""


# ---------------------------------------------------------------------------
# skew_remediation_eval — the remediation twin of key_skew_profile
# (round-12, VERDICT r11 item 3): key_skew_profile measures WHETHER the
# key histogram needs intervention; this measures HOW MUCH each salting
# level buys before you pay for it. The events-by-type shuffle (5 hot
# groups onto 32 reducers — the shape salted_above_type_mean mitigates,
# `operators/skew.py`) is replayed under n_salt in {1, 4, 16}:
# salt = md5-bucket(event_id) % n_salt, reducer = md5-bucket(type|salt)
# % 32 (md5 arithmetic so Spark and the DuckDB oracle assign reducers
# identically — Spark's Murmur3 partitioner hash is not portable; the
# *balance curve* is hash-agnostic). Reported per level: sub-keys
# materialized (= the salted join's right-side replication cost,
# operators/skew.py salted_join explodes the right n_salt x), reducers
# actually used, the max single-reducer row count, and the
# straggler_factor = max_reducer_rows / (total / 32) — the reduce-stage
# wall-clock multiplier vs perfect balance. n_salt=1 is the unsalted
# baseline; the curve's knee is the knob answer, exactly like
# ivf_nprobe_sweep_eval's nprobe curve.
#
# Scale: the first aggregate collapses to (n_salt, type, salt) grain
# map-side — everything downstream is O(sub-keys), never O(rows); the
# sweep costs one scan + explode(3), no windows, no global sort. At
# 100 TB you point the same rollup at the real join/agg key column;
# AQE's skew-split handles sort-merge joins at runtime, this curve is
# for the paths AQE can't split (non-decomposable agg state, replicated
# build sides) where salting must be chosen — and paid for — up front.
# ---------------------------------------------------------------------------

_SKEW_N_RED = 32
_SKEW_SALTS = (1, 4, 16)


def skew_remediation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    salt_h = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    lanes = ev.select(
        "event_type",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("n_salt"),
                        (salt_h % n).alias("salt"),
                    )
                    for n in _SKEW_SALTS
                ]
            )
        ).alias("s"),
    ).select(
        F.col("s.n_salt").alias("n_salt"),
        "event_type",
        F.col("s.salt").alias("salt"),
    )
    sub = lanes.groupBy("n_salt", "event_type", "salt").agg(
        F.count(F.lit(1)).alias("n")
    )
    red_h = F.conv(
        F.substring(F.md5(F.concat_ws("|", "event_type", "salt")), 1, 15),
        16,
        10,
    ).cast("long")
    per_red = (
        sub.withColumn("reducer", red_h % _SKEW_N_RED)
        .groupBy("n_salt", "reducer")
        .agg(
            F.sum("n").alias("rows_r"),
            F.count(F.lit(1)).alias("subkeys_r"),
        )
    )
    return (
        per_red.groupBy("n_salt")
        .agg(
            F.sum("subkeys_r").cast("long").alias("subkeys"),
            F.count(F.lit(1)).alias("reducers_used"),
            F.max("rows_r").cast("long").alias("max_reducer_rows"),
            F.sum("rows_r").cast("long").alias("total_rows"),
            F.round(
                F.max("rows_r") * _SKEW_N_RED / F.sum("rows_r").cast("double"),
                4,
            ).alias("straggler_factor"),
        )
        .orderBy("n_salt")
    )


SKEW_REMEDIATION_EVAL_SQL = f"""
WITH lanes AS (
  SELECT n_salt, event_type,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
              AS BIGINT) % n_salt AS salt
  FROM events, (SELECT unnest([1, 4, 16]) AS n_salt)
), sub AS (
  SELECT n_salt, event_type, salt, count(*) AS n
  FROM lanes GROUP BY 1, 2, 3
), red AS (
  SELECT n_salt,
         CAST(('0x' || substr(md5(event_type || '|' || salt), 1, 15))
              AS BIGINT) % {_SKEW_N_RED} AS reducer,
         sum(n) AS rows_r, count(*) AS subkeys_r
  FROM sub GROUP BY 1, 2
)
SELECT n_salt,
       CAST(sum(subkeys_r) AS BIGINT) AS subkeys,
       count(*) AS reducers_used,
       CAST(max(rows_r) AS BIGINT) AS max_reducer_rows,
       CAST(sum(rows_r) AS BIGINT) AS total_rows,
       round(max(rows_r) * {_SKEW_N_RED} / CAST(sum(rows_r) AS DOUBLE), 4)
         AS straggler_factor
FROM red GROUP BY n_salt ORDER BY n_salt
"""


# ---------------------------------------------------------------------------
# conformal_revenue_interval — split conformal prediction (Vovk; the
# distribution-free interval wrapper production forecasters deploy):
# one-step forecasts = trailing 7-day mean, absolute residuals split
# 60/40 into calibration/test by time, the interval half-width is the
# EXACT order statistic at rank ceil(0.9·(n_cal+1)) of the calibration
# residuals (integer-arithmetic rank — no interpolated quantile), and
# the reported number is the empirical test coverage, which conformal
# theory guarantees ≈ 90% regardless of the revenue distribution. All
# selection logic is integer; the only floats are the residuals both
# engines derive with the same window formula.
# ---------------------------------------------------------------------------

_CONF_ALPHA_NUM = 9     # 1 - alpha = 9/10


def conformal_revenue_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = _daily_revenue(spark, sf_dir)
    w = W.orderBy("day")
    wf = w.rowsBetween(-7, -1)
    s = d.select(
        "day",
        "r",
        F.row_number().over(w).alias("rn"),
        F.count("r").over(wf).alias("nw"),
        F.sum("r").over(wf).alias("sw"),
    ).filter(F.col("nw") == 7)
    resid = s.select(
        "day", F.abs(F.col("r") - F.col("sw") / 7).alias("ar")
    ).withColumn("rr", F.row_number().over(W.orderBy("day")))
    n_resid = resid.count()
    n_cal = 3 * n_resid // 5
    cal = resid.filter(F.col("rr") <= n_cal)
    k = min(n_cal, (_CONF_ALPHA_NUM * (n_cal + 1) + 9) // 10)
    q = (
        cal.select("ar", F.row_number().over(W.orderBy("ar", "day")).alias("qr"))
        .filter(F.col("qr") == k)
        .collect()[0]["ar"]
    )
    test = resid.filter(F.col("rr") > n_cal)
    return test.agg(
        F.lit(n_cal).alias("n_cal"),
        F.count(F.lit(1)).alias("n_test"),
        F.round(F.lit(q), 2).alias("q_hat"),
        F.round(
            F.sum(F.when(F.col("ar") <= q, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("coverage"),
    )


CONFORMAL_REVENUE_INTERVAL_SQL = f"""
WITH d AS ({_DAILY_SQL}),
s AS (
  SELECT day, r,
         row_number() OVER (ORDER BY day) AS rn,
         count(r) OVER w AS nw,
         sum(r) OVER w AS sw
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
), resid AS (
  SELECT day, abs(r - sw / 7) AS ar,
         row_number() OVER (ORDER BY day) AS rr
  FROM s WHERE nw = 7
), nn AS (
  SELECT count(*) AS n_resid, 3 * count(*) // 5 AS n_cal FROM resid
), q AS (
  SELECT ar AS q_hat
  FROM (
    SELECT ar, row_number() OVER (ORDER BY ar, day) AS qr
    FROM resid, nn WHERE rr <= n_cal
  ), nn
  WHERE qr = least(n_cal, ({_CONF_ALPHA_NUM} * (n_cal + 1) + 9) // 10)
)
SELECT nn.n_cal AS n_cal,
       CAST(count(*) AS BIGINT) AS n_test,
       round(q.q_hat, 2) AS q_hat,
       round(sum(CASE WHEN ar <= q.q_hat THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS coverage
FROM resid, nn, q
WHERE rr > nn.n_cal
GROUP BY nn.n_cal, q.q_hat
"""


# ---------------------------------------------------------------------------
# copurchase_part_pairs — market-basket pair mining on a HIGH-
# CARDINALITY key (parts, not the 5-value event-type toy of
# frequent_type_pairs), with the A-priori support prune doing the
# scale work: only parts appearing in >= MIN_PART_SUPPORT orders can
# appear in a frequent pair, so singleton-frequent parts are filtered
# BEFORE the within-order pair join (the downward-closure property).
# At 100 TB this prune is the difference between a pair join over a
# curated frequent-item stream and an O(basket²)·orders blowup on the
# raw stream. Output: top pairs by lift among pairs with support >=
# MIN_PAIR_SUPPORT; lift from exact integer counts, one division.
# ---------------------------------------------------------------------------

MIN_PART_SUPPORT = 3
MIN_PAIR_SUPPORT = 2


def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    # Single-action rework (round 8 continuation): the first version
    # recomputed the 2-column distinct of lineitem THREE times
    # (n_orders driver count, freq agg, pruned join) — three 6M-row
    # shuffles at sf1, 8.2 s. Now n_orders rides along as a broadcast
    # 1-row frame instead of a collect, so ONE action sees all three
    # consumers of the identical distinct subplan and Spark's
    # ReuseExchange dedupes them (checkpointing instead was measured
    # SLOWER — materializing 6M rows costs more than the reuse saves).
    # The global top-15 window now runs AFTER a
    # TakeOrderedAndProject(15) on the identical total-order key, so
    # the one-partition sort sees 15 rows, never the pair set.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = li.select(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= MIN_PART_SUPPORT)
    )
    pruned = li.join(freq, "l_partkey").select("l_orderkey", "l_partkey", "sup")
    # Basket-local pair expansion (the _recall_truth_pairs shape from
    # plans/dedup.py): collect each order's pruned parts once, expand
    # ordered pairs inside the basket array — no sort-merge self-join,
    # and only pa < pb pairs are ever emitted (the join formulation
    # streamed both orientations and filtered half away). sort_array on
    # struct(pk, sup) orders by part key, so slice-based expansion
    # yields exactly the pa < pb set.
    baskets = (
        pruned.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("l_partkey").alias("pk"), "sup"))
            ).alias("members")
        )
        .filter(F.size("members") >= 2)
    )
    pair_expr = F.expr(
        """
        flatten(transform(members, (m, i) ->
          transform(slice(members, i + 2, size(members)), n ->
            struct(m.pk AS pa, n.pk AS pb, m.sup AS sa, n.sup AS sb))))
        """
    )
    pairs = (
        baskets.select(F.explode(pair_expr).alias("p"))
        .groupBy(
            F.col("p.pa").alias("pa"),
            F.col("p.pb").alias("pb"),
            F.col("p.sa").alias("sa"),
            F.col("p.sb").alias("sb"),
        )
        .agg(F.count(F.lit(1)).alias("pair_sup"))
        .filter(F.col("pair_sup") >= MIN_PAIR_SUPPORT)
    )
    lift = (
        F.col("pair_sup").cast("double")
        * F.col("n_orders")
        / (F.col("sa") * F.col("sb"))
    )
    order_cols = [
        F.desc("lift"), F.desc("pair_sup"), F.asc("pa"), F.asc("pb")
    ]
    top = (
        pairs.crossJoin(F.broadcast(n))
        .withColumn("lift", F.round(lift, 4))
        .orderBy(*order_cols)
        .limit(15)
    )
    return (
        top.withColumn("rn", F.row_number().over(W.orderBy(*order_cols)))
        .select("pa", "pb", "pair_sup", "lift", "rn")
    )


COPURCHASE_PART_PAIRS_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
  SELECT count(DISTINCT l_orderkey) AS n_orders FROM li
), freq AS (
  SELECT l_partkey, count(*) AS sup FROM li GROUP BY 1
  HAVING count(*) >= {MIN_PART_SUPPORT}
), pruned AS (
  SELECT li.l_orderkey, li.l_partkey, freq.sup
  FROM li JOIN freq USING (l_partkey)
), pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb,
         a.sup AS sa, b.sup AS sb, count(*) AS pair_sup
  FROM pruned a JOIN pruned b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2, 3, 4
  HAVING count(*) >= {MIN_PAIR_SUPPORT}
), scored AS (
  SELECT pa, pb, CAST(pair_sup AS BIGINT) AS pair_sup,
         round(CAST(pair_sup AS DOUBLE) * n_orders / (sa * sb), 4) AS lift,
         row_number() OVER (ORDER BY CAST(pair_sup AS DOUBLE) * n_orders
                              / (sa * sb) DESC,
                            pair_sup DESC, pa ASC, pb ASC) AS rn
  FROM pairs, n
)
SELECT pa, pb, pair_sup, lift, rn FROM scored WHERE rn <= 15
"""


# ---------------------------------------------------------------------------
# decayed_user_value — exponential time-decay aggregation (the
# feature-store staple behind "recent activity" features): each
# purchase contributes value·e^{−λ·age_days} toward its user's score,
# anchored at the corpus max date. Decay weights are QUANTIZED to
# integer micros per row before the multiply-sum, so the per-user
# aggregate is exact integer arithmetic — engine libm differences in
# exp() can only matter if a weight lands within half a micro of a
# boundary (~1e-10 per row), not on every partial-sum reordering.
# Top-20 users by decayed value.
# ---------------------------------------------------------------------------

_DECAY_LAMBDA = 0.05


def decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", F.to_date("ts").alias("day")
    ).filter(F.col("event_type") == "purchase")
    ref = ev.agg(F.max("day")).collect()[0][0]
    age = F.datediff(F.lit(ref), F.col("day"))
    w_micros = F.round(
        F.exp(-F.lit(_DECAY_LAMBDA) * age) * 1_000_000
    ).cast("long")
    cents = F.round(F.col("value") * 100).cast("long")
    scored = ev.select("user_id", (cents * w_micros).alias("contrib"))
    agg = scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("contrib").alias("c"),
    )
    wr = W.orderBy(F.desc("c"), F.asc("user_id"))
    return (
        agg.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 20)
        .select(
            "user_id",
            "n_purchases",
            F.round(F.col("c") / 1e8, 4).alias("decayed_value"),
            "rn",
        )
    )


DECAYED_USER_VALUE_SQL = f"""
WITH ev AS (
  SELECT user_id, value, CAST(ts AS DATE) AS day
  FROM events WHERE event_type = 'purchase'
), ref AS (SELECT max(day) AS r FROM ev),
scored AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT)
         * CAST(round(exp(-{_DECAY_LAMBDA} * date_diff('day', day, r))
                      * 1000000) AS BIGINT) AS contrib
  FROM ev, ref
), agg AS (
  SELECT user_id, count(*) AS n_purchases,
         CAST(sum(contrib) AS BIGINT) AS c
  FROM scored GROUP BY user_id
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY c DESC, user_id ASC) AS rn FROM agg
)
SELECT user_id, n_purchases, round(c / 1e8, 4) AS decayed_value, rn
FROM ranked WHERE rn <= 20
"""


# ---------------------------------------------------------------------------
# markov_next_event_accuracy — evaluated sequence prediction: fit the
# order-1 Markov next-event predictor (argmax of transition counts,
# ties to lexicographically smallest type — fully deterministic) on
# transitions landing in the FIRST half of the time range, score
# accuracy on the second half. The evaluation loop event_type_trigrams
# and event_transition_matrix lack: a fitted model plus an honest
# held-out number. Transitions derive from one per-user lag window;
# everything after is integer counts on a (types × types)-bounded
# table.
# ---------------------------------------------------------------------------


def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.lag("event_type").over(w).alias("prev"),
        F.col("event_type").alias("cur"),
        F.to_date("ts").alias("day"),
    ).filter(F.col("prev").isNotNull())
    rng = tr.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).collect()[0]
    mid = F.date_add(
        F.lit(rng["lo"]),
        (F.datediff(F.lit(rng["hi"]), F.lit(rng["lo"])) / 2).cast("int"),
    )
    train = tr.filter(F.col("day") < mid)
    test = tr.filter(F.col("day") >= mid)
    counts = train.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("n"))
    pred = counts.groupBy("prev").agg(
        F.expr("min_by(cur, struct(-n, cur))").alias("pred")
    )
    scored = test.join(F.broadcast(pred), "prev", "left")
    return scored.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(F.when(F.col("cur") == F.col("pred"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.round(
            F.sum(F.when(F.col("cur") == F.col("pred"), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("accuracy"),
    )


MARKOV_NEXT_EVENT_ACCURACY_SQL = """
WITH tr AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev,
         event_type AS cur,
         CAST(ts AS DATE) AS day
  FROM events
), t2 AS (SELECT * FROM tr WHERE prev IS NOT NULL),
rng AS (
  SELECT min(day) AS lo, max(day) AS hi FROM t2
), split AS (
  SELECT t2.*,
         day < lo + CAST(CAST(date_diff('day', lo, hi) AS INTEGER) // 2
                         AS INTEGER) AS is_train
  FROM t2, rng
), counts AS (
  SELECT prev, cur, count(*) AS n FROM split WHERE is_train GROUP BY 1, 2
), pred AS (
  SELECT prev, cur AS pred FROM (
    SELECT prev, cur,
           row_number() OVER (PARTITION BY prev
                              ORDER BY n DESC, cur ASC) AS rn
    FROM counts
  ) WHERE rn = 1
)
SELECT CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN cur = pred THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       round(sum(CASE WHEN cur = pred THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS accuracy
FROM split LEFT JOIN pred USING (prev)
WHERE NOT is_train
"""


# ---------------------------------------------------------------------------
# twap_user_value — time-weighted average value per user (the
# finance/metering aggregate plain AVG gets wrong when observations
# are irregular): each event's value holds until the user's next event
# (LOCF step function), TWAP = Σ value_i·dur_i / Σ dur_i. Durations
# are integer SECONDS from unix-epoch truncation (Spark unix_micros
# div 1e6 == DuckDB epoch_us // 1e6 — exact integers, no float
# timestamp arithmetic) and values integer cents, so the per-user
# accumulation is exact integer math; one division at the end. Top 20
# users by TWAP.
# ---------------------------------------------------------------------------


def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.unix_micros("ts") / 1_000_000).cast("long").alias("sec"),
    )
    w = W.partitionBy("user_id").orderBy("sec", "event_id")
    seg = ev.select(
        "user_id",
        "cents",
        (F.lead("sec").over(w) - F.col("sec")).alias("dur"),
    ).filter(F.col("dur").isNotNull() & (F.col("dur") > 0))
    agg = seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("cents") * F.col("dur")).alias("wsum"),
        F.sum("dur").alias("tdur"),
    )
    wr = W.orderBy(
        F.desc(F.col("wsum") / F.col("tdur")), F.asc("user_id")
    )
    return (
        agg.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 20)
        .select(
            "user_id",
            "n_segments",
            F.round(F.col("wsum") / F.col("tdur") / 100.0, 4).alias("twap"),
            "rn",
        )
    )


TWAP_USER_VALUE_SQL = """
WITH ev AS (
  SELECT user_id, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) // 1000000 AS sec
  FROM events
), seg AS (
  SELECT user_id, cents,
         lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
           - sec AS dur
  FROM ev
), s2 AS (SELECT * FROM seg WHERE dur IS NOT NULL AND dur > 0),
agg AS (
  SELECT user_id, count(*) AS n_segments,
         CAST(sum(cents * dur) AS BIGINT) AS wsum,
         CAST(sum(dur) AS BIGINT) AS tdur
  FROM s2 GROUP BY user_id
), ranked AS (
  SELECT *, row_number() OVER (
    ORDER BY CAST(wsum AS DOUBLE) / tdur DESC, user_id ASC) AS rn
  FROM agg
)
SELECT user_id, n_segments,
       round(CAST(wsum AS DOUBLE) / tdur / 100.0, 4) AS twap, rn
FROM ranked WHERE rn <= 20
"""


# ---------------------------------------------------------------------------
# sax_revenue_symbols — Symbolic Aggregate approXimation (Lin/Keogh)
# of the daily revenue series: z-normalize (explicit integer-count
# sum/sumsq formula — no engine stddev), Piecewise Aggregate
# Approximation into _SAX_SEGMENTS equal-count segments, map each
# segment mean to a 4-letter alphabet at the standard Gaussian
# breakpoints (−0.6745, 0, 0.6745 — exact literals). SAX is the
# front-end of classic time-series motif/anomaly mining; the symbol
# string is what a downstream suffix-index consumes. Segment
# assignment is integer rank arithmetic; per-segment means divide
# per-segment sums once.
# ---------------------------------------------------------------------------

_SAX_SEGMENTS = 16
_SAX_BREAKS = (-0.6745, 0.0, 0.6745)


def sax_revenue_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = _daily_revenue(spark, sf_dir)
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("s1"),
        F.sum(F.col("r") * F.col("r")).alias("s2"),
    ).collect()[0]
    import math

    n, s1, s2 = stats["n"], float(stats["s1"]), float(stats["s2"])
    mu = s1 / n
    # math.sqrt is the correctly-rounded IEEE sqrt (identical to the
    # oracle's sqrt); ** 0.5 routes through pow and can differ 1 ulp
    sd = math.sqrt((s2 - s1 * s1 / n) / (n - 1))
    w = W.orderBy("day")
    seg = d.select(
        "r",
        F.expr(f"(row_number() OVER (ORDER BY day) - 1) * {_SAX_SEGMENTS}")
        .alias("_num"),
    ).select("r", (F.col("_num") / n).cast("long").alias("segment"))
    per = seg.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("r").alias("sr"),
    )
    zmean = (F.col("sr") / F.col("n_days") - mu) / sd
    b1, b2, b3 = _SAX_BREAKS
    sym = (
        F.when(zmean < b1, "a")
        .when(zmean < b2, "b")
        .when(zmean < b3, "c")
        .otherwise("d")
    )
    return per.select(
        "segment",
        "n_days",
        F.round(zmean, 4).alias("z_mean"),
        sym.alias("symbol"),
    )


SAX_REVENUE_SYMBOLS_SQL = f"""
WITH d AS ({_DAILY_SQL}),
stats AS (
  SELECT count(*) AS n, sum(r) AS s1, sum(r * r) AS s2 FROM d
), seg AS (
  SELECT r,
         ((row_number() OVER (ORDER BY day) - 1) * {_SAX_SEGMENTS}) // n
           AS segment
  FROM d, stats
), per AS (
  SELECT segment, count(*) AS n_days, sum(r) AS sr FROM seg GROUP BY segment
), z AS (
  SELECT segment, n_days,
         (sr / n_days - s1 / n)
           / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS zm
  FROM per, stats
)
SELECT CAST(segment AS BIGINT) AS segment,
       n_days,
       round(zm, 4) AS z_mean,
       CASE WHEN zm < {_SAX_BREAKS[0]} THEN 'a'
            WHEN zm < {_SAX_BREAKS[1]} THEN 'b'
            WHEN zm < {_SAX_BREAKS[2]} THEN 'c'
            ELSE 'd' END AS symbol
FROM z
"""


# ---------------------------------------------------------------------------
# cusum_control_chart — one-sided CUSUM control chart with reset
# (Page 1954), the SEQUENTIAL drift detector next to the retrospective
# revenue_changepoint: S_t = max(0, S_{t-1} + (x_t − μ₀) − k·σ₀),
# alarm when S_t > h·σ₀, reset to 0 after alarm. Reference/allowance
# from the FIRST 90 days (explicit integer-count formula). Like
# revenue_holt, the recursion is a single-row Spark aggregate fold
# with (S, alarm count) threaded through the accumulator; oracle is a
# recursive CTE. Reports days monitored, alarms fired, max excursion.
# ---------------------------------------------------------------------------

_CUSUM_BURN = 90
_CUSUM_K = 0.5     # allowance, in sigma units
_CUSUM_H = 4.0     # decision interval, in sigma units


def cusum_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    d = _daily_revenue(spark, sf_dir)
    series = d.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "r"))), lambda x: x.r
        ).alias("arr")
    )
    burn = series.select(
        F.aggregate(
            F.slice("arr", 1, _CUSUM_BURN), F.lit(0.0), lambda a, x: a + x
        ).alias("s1"),
        F.aggregate(
            F.slice("arr", 1, _CUSUM_BURN), F.lit(0.0), lambda a, x: a + x * x
        ).alias("s2"),
    ).collect()[0]
    mu = burn["s1"] / _CUSUM_BURN
    sd = math.sqrt(
        (burn["s2"] - burn["s1"] * burn["s1"] / _CUSUM_BURN)
        / (_CUSUM_BURN - 1)
    )
    k = _CUSUM_K * sd
    h = _CUSUM_H * sd
    fold = F.expr(
        f"""aggregate(
      slice(arr, {_CUSUM_BURN + 1}, size(arr) - {_CUSUM_BURN}),
      named_struct('s', cast(0.0 as double), 'alarms', 0,
                   'mx', cast(0.0 as double)),
      (acc, x) -> named_struct(
        's', CASE WHEN greatest(cast(0.0 as double),
                                acc.s + (x - {mu!r}) - {k!r}) > {h!r}
                  THEN cast(0.0 as double)
                  ELSE greatest(cast(0.0 as double),
                                acc.s + (x - {mu!r}) - {k!r}) END,
        'alarms', acc.alarms + CASE WHEN greatest(cast(0.0 as double),
                                acc.s + (x - {mu!r}) - {k!r}) > {h!r}
                  THEN 1 ELSE 0 END,
        'mx', greatest(acc.mx, greatest(cast(0.0 as double),
                                acc.s + (x - {mu!r}) - {k!r}))))"""
    )
    out = series.select(
        (F.size("arr") - _CUSUM_BURN).alias("n_monitored"),
        fold.alias("st"),
    )
    return out.select(
        "n_monitored",
        F.col("st.alarms").cast("long").alias("n_alarms"),
        F.round(F.col("st.mx") / sd, 4).alias("max_excursion_sigma"),
    )


def _cusum_sql() -> str:
    b = _CUSUM_BURN
    return f"""
WITH RECURSIVE d AS ({_DAILY_SQL}),
arrs AS (SELECT list(r ORDER BY day) AS arr FROM d),
burn AS (
  SELECT {" + ".join(f"arr[{j}]" for j in range(1, b + 1))} AS s1,
         {" + ".join(f"arr[{j}] * arr[{j}]" for j in range(1, b + 1))} AS s2
  FROM arrs
), params AS (
  SELECT s1 / {b} AS mu,
         sqrt((s2 - s1 * s1 / {b}) / ({b} - 1)) AS sd
  FROM burn
), cs(i, s, alarms, mx) AS (
  SELECT {b}, 0.0::DOUBLE, 0, 0.0::DOUBLE FROM arrs
  UNION ALL
  SELECT i + 1,
         CASE WHEN greatest(0.0::DOUBLE,
                s + (arr[i + 1] - mu) - {_CUSUM_K} * sd)
              > {_CUSUM_H} * sd THEN 0.0::DOUBLE
              ELSE greatest(0.0::DOUBLE,
                s + (arr[i + 1] - mu) - {_CUSUM_K} * sd) END,
         alarms + CASE WHEN greatest(0.0::DOUBLE,
                s + (arr[i + 1] - mu) - {_CUSUM_K} * sd)
              > {_CUSUM_H} * sd THEN 1 ELSE 0 END,
         greatest(mx, greatest(0.0::DOUBLE,
                s + (arr[i + 1] - mu) - {_CUSUM_K} * sd))
  FROM cs, arrs, params WHERE i < len(arr)
)
SELECT (SELECT len(arr) FROM arrs) - {b} AS n_monitored,
       CAST(alarms AS BIGINT) AS n_alarms,
       round(mx / (SELECT sd FROM params), 4) AS max_excursion_sigma
FROM cs WHERE i = (SELECT len(arr) FROM arrs)
"""


CUSUM_CONTROL_CHART_SQL = _cusum_sql


# ---------------------------------------------------------------------------
# revenue_topshare_curve — the decision-friendly companion to
# revenue_gini: what share of total revenue do the top 1 / 5 / 10 / 25
# percent of customers hold? Rank arithmetic is integer (ceil via
# (n·p + 99) // 100), revenue is integer cents, shares divide once per
# row. Reads as the concentration curve a capacity planner uses to
# size hot-key handling.
# ---------------------------------------------------------------------------

_TOPSHARE_PCTS = (1, 5, 10, 25)


def revenue_topshare_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    per = orders.groupBy("o_custkey").agg(F.sum("cents").alias("c"))
    w = W.orderBy(F.desc("c"), F.asc("o_custkey"))
    ranked = per.select(
        "c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
        F.sum("c").over(W.partitionBy()).alias("tot"),
    )
    rows = []
    for p in _TOPSHARE_PCTS:
        k = F.expr(f"(n * {p} + 99) div 100")
        rows.append(
            ranked.filter(F.col("rn") <= k).agg(
                F.lit(p).alias("top_pct"),
                F.count(F.lit(1)).alias("n_customers"),
                F.round(
                    F.sum("c") / F.first("tot").cast("double"), 4
                ).alias("revenue_share"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


REVENUE_TOPSHARE_CURVE_SQL = """
WITH per AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, o_custkey ASC) AS rn,
         count(*) OVER () AS n, sum(c) OVER () AS tot
  FROM per
)
""" + "\nUNION ALL\n".join(
    f"""SELECT {p} AS top_pct,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(c) AS BIGINT) / CAST(max(tot) AS DOUBLE), 4)
         AS revenue_share
FROM ranked WHERE rn <= (n * {p} + 99) // 100"""
    for p in _TOPSHARE_PCTS
)


# ---------------------------------------------------------------------------
# bootstrap_revenue_ci — Poisson-bootstrap confidence interval for the
# mean order price. The classic resampling scheme that distributes
# (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
# Google TR 2012): instead of drawing n rows with replacement (which
# needs global coordination), each row enters resample b with an
# independent Poisson(1) weight — here derived deterministically from
# md5(orderkey:b) so both engines build bit-identical resamples. One
# scan fans each row out B times (a constant-factor map, no extra
# shuffle beyond the B-group aggregate); every per-resample mean is a
# ratio of exact integer sums, so the percentile CI is reproducible.
# The reference has no uncertainty surface at all (aggregation stops at
# avg, reference tasks/accident_analysis.py:110-115) — this is the
# engine extension that turns its point estimates into intervals.
# ---------------------------------------------------------------------------

_BOOT_B = 64  # resamples; CI indexes below are 2.5%/97.5% of this
# Poisson(1) inverse-CDF thresholds on a uniform from 6 md5 hex chars
_POIS_CDF = [
    (0.3678794412, 0),
    (0.7357588823, 1),
    (0.9196986029, 2),
    (0.9810118431, 3),
    (0.9963401532, 4),
    (0.9994058152, 5),
]


def bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    fan = orders.select(
        "o_orderkey",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("o_orderkey"), F.col("b"))), 1, 6
            ),
            16,
            10,
        ).cast("long")
        / 16777216.0
    )
    w_expr = F.lit(6)
    for thr, k in reversed(_POIS_CDF):
        w_expr = F.when(u < thr, k).otherwise(w_expr)
    means = (
        fan.withColumn("w", w_expr)
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("wc"),
            F.sum("w").alias("ws"),
        )
        .select((F.col("wc") / (100.0 * F.col("ws"))).alias("m"))
    )
    ranked = means.select(
        "m", F.row_number().over(W.orderBy("m")).alias("rn")
    )
    point = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("cents") / (100.0 * F.count(F.lit(1)))).alias("mean_price"),
    )
    lo = int(_BOOT_B * 0.025)  # 1 -> 2nd smallest (1-indexed rn == lo+1)
    hi = int(_BOOT_B * 0.975)  # 62 -> 63rd (rn == hi+1)
    bounds = ranked.agg(
        F.max(F.when(F.col("rn") == lo + 1, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == hi + 1, F.col("m"))).alias("ci_hi"),
    )
    return point.crossJoin(F.broadcast(bounds)).select(
        "n_orders",
        F.lit(_BOOT_B).alias("b_resamples"),
        F.round("mean_price", 4).alias("mean_price"),
        F.round("ci_lo", 4).alias("ci_lo"),
        F.round("ci_hi", 4).alias("ci_hi"),
    )


def _boot_w_sql() -> str:
    branches = " ".join(
        f"WHEN u < {thr} THEN {k}" for thr, k in _POIS_CDF
    )
    return f"CASE {branches} ELSE 6 END"


BOOTSTRAP_REVENUE_CI_SQL = f"""
WITH o AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), fan AS (
  SELECT o_orderkey, cents, b,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':'
                                  || CAST(b AS VARCHAR)), 1, 6)) AS BIGINT)
           / 16777216.0 AS u
  FROM o CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b)
), means AS (
  SELECT CAST(sum(w * cents) AS BIGINT)
           / (100.0 * CAST(sum(w) AS BIGINT)) AS m
  FROM (SELECT b, cents, {{W}} AS w FROM fan)
  GROUP BY b
), ranked AS (
  SELECT m, row_number() OVER (ORDER BY m) AS rn FROM means
), point AS (
  SELECT count(*) AS n_orders,
         CAST(sum(cents) AS BIGINT) / (100.0 * count(*)) AS mean_price
  FROM o
)
SELECT n_orders, {_BOOT_B} AS b_resamples,
       round(mean_price, 4) AS mean_price,
       round(max(CASE WHEN rn = {int(_BOOT_B * 0.025) + 1} THEN m END), 4) AS ci_lo,
       round(max(CASE WHEN rn = {int(_BOOT_B * 0.975) + 1} THEN m END), 4) AS ci_hi
FROM ranked CROSS JOIN point
GROUP BY n_orders, mean_price
""".replace("{W}", _boot_w_sql())


# ---------------------------------------------------------------------------
# rolling_revenue_qty_corr — 7-day rolling Pearson correlation between
# the daily revenue and daily shipped-quantity series. The windowed
# co-moment pattern: all five sufficient statistics (Σx, Σy, Σxy, Σx²,
# Σy²) are exact-integer window sums over the O(days) aggregate, so the
# correlation is a closed-form scalar both engines evaluate identically
# — no engine corr() whose accumulation order could differ in the last
# ULP. Shape: one shuffle to the day grain, then a 7-row frame over a
# calendar-bounded series; unchanged at 100×.
# ---------------------------------------------------------------------------

_ROLL_CORR_W = 7


def rolling_revenue_qty_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    # x from exact cents (round 9): round(double-sum) flipped by one on
    # a .5 boundary at derived sf1; round(cents/100.0) is deterministic
    # because the input double is identical in both engines.
    d = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.round(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0
        )
        .cast("long")
        .alias("x"),
        F.sum("l_quantity").cast("long").alias("y"),
    )
    w = W.orderBy("day").rowsBetween(-(_ROLL_CORR_W - 1), 0)
    n = F.lit(float(_ROLL_CORR_W))
    sx = F.sum("x").over(w).cast("double")
    sy = F.sum("y").over(w).cast("double")
    sxy = F.sum(F.col("x") * F.col("y")).over(w).cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).over(w).cast("double")
    syy = F.sum(F.col("y") * F.col("y")).over(w).cast("double")
    cnt = F.count(F.lit(1)).over(W.orderBy("day").rowsBetween(-(_ROLL_CORR_W - 1), 0))
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    r = F.when(den > 0.0, (n * sxy - sx * sy) / den)
    return (
        d.select(
            "day",
            F.col("x").alias("rev_d"),
            F.col("y").alias("qty_d"),
            F.round(r, 6).alias("roll_corr_7d"),
            cnt.alias("frame_n"),
        )
        .filter(F.col("frame_n") == _ROLL_CORR_W)
        .drop("frame_n")
    )


ROLLING_REVENUE_QTY_CORR_SQL = f"""
WITH d AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
         CAST(round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS DOUBLE) / CAST(100.0 AS DOUBLE)) AS BIGINT) AS x,
         CAST(sum(l_quantity) AS BIGINT) AS y
  FROM lineitem GROUP BY 1
), s AS (
  SELECT day, x, y,
         CAST(sum(x) OVER w AS DOUBLE) AS sx,
         CAST(sum(y) OVER w AS DOUBLE) AS sy,
         CAST(sum(x * y) OVER w AS DOUBLE) AS sxy,
         CAST(sum(x * x) OVER w AS DOUBLE) AS sxx,
         CAST(sum(y * y) OVER w AS DOUBLE) AS syy,
         count(*) OVER w AS cnt
  FROM d
  WINDOW w AS (ORDER BY day ROWS BETWEEN {_ROLL_CORR_W - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT day, x AS rev_d, y AS qty_d,
       round(CASE WHEN sqrt(({_ROLL_CORR_W}.0 * sxx - sx * sx)
                          * ({_ROLL_CORR_W}.0 * syy - sy * sy)) > 0.0
             THEN ({_ROLL_CORR_W}.0 * sxy - sx * sy)
                / sqrt(({_ROLL_CORR_W}.0 * sxx - sx * sx)
                     * ({_ROLL_CORR_W}.0 * syy - sy * sy)) END, 6)
         AS roll_corr_7d
FROM s WHERE cnt = {_ROLL_CORR_W}
"""


# ---------------------------------------------------------------------------
# hurst_exponent_revenue — rescaled-range (R/S) estimate of the Hurst
# exponent of the daily-revenue series (Hurst 1951; Mandelbrot & Wallis
# 1969): for block sizes m ∈ {16,32,64,128}, split the day-indexed
# series into complete blocks, compute R/S = (max cumdev − min cumdev)
# / population-std per block, average per m, and fit log2(R/S) against
# log2(m) by least squares — slope is H (≈0.5 for a memoryless series).
# Determinism: the series is quantized to integer thousands of dollars;
# block means/stds derive from exact integer sums; per-m averages are
# micro-quantized before averaging so no cross-engine double-sum order
# can differ. Shape: the series is O(calendar days) regardless of SF —
# the block fan-out is 4× that, constant at any scale.
# ---------------------------------------------------------------------------

_HURST_BLOCKS = [16, 32, 64, 128]


def hurst_exponent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = _daily_revenue(spark, sf_dir).select(
        F.row_number().over(W.orderBy("day")).alias("i"),
        F.round(F.col("r") / 1000.0).cast("long").alias("v"),
    )
    fan = d.select(
        "i",
        "v",
        F.explode(F.array(*[F.lit(m) for m in _HURST_BLOCKS])).alias("m"),
    ).withColumn("blk", ((F.col("i") - 1) / F.col("m")).cast("long"))
    wb = W.partitionBy("m", "blk")
    wcum = wb.orderBy("i").rowsBetween(W.unboundedPreceding, 0)
    g = (
        fan.withColumn("bn", F.count(F.lit(1)).over(wb))
        .filter(F.col("bn") == F.col("m"))
        .withColumn("mu", F.sum("v").over(wb) / F.col("m").cast("double"))
        .withColumn("j", F.row_number().over(wb.orderBy("i")))
        .withColumn(
            "z",
            F.sum("v").over(wcum).cast("double") - F.col("j") * F.col("mu"),
        )
    )
    blocks = g.groupBy("m", "blk").agg(
        (F.max("z") - F.min("z")).alias("rng"),
        F.sqrt(
            F.sum(F.col("v") * F.col("v")).cast("double") / F.max("m")
            - F.max("mu") * F.max("mu")
        ).alias("sd"),
    )
    per_m = (
        blocks.filter(F.col("sd") > 0.0)
        .select(
            "m",
            F.round(F.col("rng") / F.col("sd") * 1e6).cast("long").alias("rs_u"),
        )
        .groupBy("m")
        .agg(
            (F.sum("rs_u") / (F.count(F.lit(1)) * 1e6)).alias("avg_rs"),
            F.count(F.lit(1)).alias("n_blocks"),
        )
    )
    pts = per_m.select(
        "m",
        "avg_rs",
        (F.log2("m")).alias("lx"),
        (F.log2("avg_rs")).alias("ly"),
    )
    fit = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        *[
            F.round(F.max(F.when(F.col("m") == m, F.col("avg_rs"))), 4).alias(
                f"rs_{m}"
            )
            for m in _HURST_BLOCKS
        ],
    )
    return fit.select(
        F.round(
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")),
            4,
        ).alias("hurst_h"),
        *[F.col(f"rs_{m}") for m in _HURST_BLOCKS],
    )


HURST_EXPONENT_REVENUE_SQL = f"""
WITH d AS (
  SELECT row_number() OVER (ORDER BY day) AS i,
         CAST(round(r / 1000.0) AS BIGINT) AS v
  FROM ({_DAILY_SQL})
), fan AS (
  SELECT i, v, m, (i - 1) // m AS blk
  FROM d CROSS JOIN (SELECT unnest({_HURST_BLOCKS}) AS m)
), g AS (
  SELECT m, blk, i, v,
         count(*) OVER wb AS bn,
         CAST(sum(v) OVER wb AS BIGINT) / CAST(m AS DOUBLE) AS mu,
         row_number() OVER (PARTITION BY m, blk ORDER BY i) AS j,
         CAST(sum(v) OVER (PARTITION BY m, blk ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM fan
  WINDOW wb AS (PARTITION BY m, blk)
), blocks AS (
  SELECT m, blk,
         max(cum - j * mu) - min(cum - j * mu) AS rng,
         sqrt(CAST(sum(v * v) AS BIGINT) / CAST(max(m) AS DOUBLE)
              - max(mu) * max(mu)) AS sd
  FROM g WHERE bn = m
  GROUP BY m, blk
), per_m AS (
  SELECT m,
         CAST(sum(CAST(round(rng / sd * 1e6) AS BIGINT)) AS BIGINT)
           / (count(*) * 1e6) AS avg_rs
  FROM blocks WHERE sd > 0.0
  GROUP BY m
), pts AS (
  SELECT m, avg_rs, log2(m) AS lx, log2(avg_rs) AS ly FROM per_m
)
SELECT round((count(*) * sum(lx * ly) - sum(lx) * sum(ly))
           / (count(*) * sum(lx * lx) - sum(lx) * sum(lx)), 4) AS hurst_h,
       {", ".join(f"round(max(CASE WHEN m = {m} THEN avg_rs END), 4) AS rs_{m}" for m in _HURST_BLOCKS)}
FROM pts
"""
