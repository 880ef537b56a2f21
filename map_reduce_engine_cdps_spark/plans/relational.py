"""Relational query battery (SURVEY.md §2.3-§2.6).

Every query here is a pure DataFrame program (Catalyst-optimizable,
whole-stage codegen, pushdown-friendly) paired with an ANSI-SQL DuckDB
oracle. Float outputs are rounded identically on both sides so the
driver's order-insensitive value hash is stable across engines.

Scale notes per query are inline: what shuffles, what broadcasts, and
why the plan survives a 100× scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.functions import exact as EX
from map_reduce_engine_cdps_spark.functions import expressions as X
from map_reduce_engine_cdps_spark.sources.readers import load_table, table_rows
from map_reduce_engine_cdps_spark.streaming.windows import windowed_aggregate


# ---------------------------------------------------------------------------
# pricing_summary — multi-agg by key (T26/T27/T28; reference
# tasks/accident_analysis.py:110-117 computes count/sum/avg/min/max per key).
# Scale: single hash-aggregate with map-side partial aggregation; shuffle
# carries one row per (flag,status) per map task — O(groups), not O(rows).
# ---------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Exact integer accumulation for the money sums (round-10 census of
    # the r9 knife-edge class): double sums are partial-order-dependent
    # in the last ULP, so a rounded cent digit can flip run-to-run /
    # engine-to-engine when a group sum lands on a half-cent boundary.
    # price cents ≤ 1.1e7/row, ×(100−disc) ≤ 1.1e9/row → a long holds
    # >1e9 rows per group before overflow. l_quantity is INTEGRAL
    # (1..50), so its double sum is already exact — every partial is an
    # integer < 2^53 — and stays as-is.
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    d100 = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(cents) / 100.0, 2).alias("sum_base_price"),
            F.round(F.sum(cents * (100 - d100)) / 10000.0, 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.sum(d100) / (100.0 * F.count(F.lit(1))), 4).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                            AS sum_qty,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             AS BIGINT) / 100.0, 2)                         AS sum_base_price,
       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
             AS BIGINT) / 10000.0, 2)                       AS sum_disc_price,
       round(avg(l_quantity), 4)                            AS avg_qty,
       round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
             / (100.0 * count(*)), 4)                       AS avg_disc,
       count(*)                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# danger_topk — the flagship: Spark-native restatement of the reference's
# accident analytics (tasks/accident_analysis.py:25-130 + the latent master
# sort engine/master.py:117-118): CASE bucketing (T14/T15), composite key
# (T18), multi-agg (T27), derived danger score (T28), formula string (T23),
# global top-k (T39/E9).
# Scale: one shuffle on the composite key (partial agg first), then a
# top-k which Spark executes as TakeOrderedAndProject — no global sort.
# ---------------------------------------------------------------------------

def danger_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tod = F.when(F.hour("ts") < 12, "AM").otherwise("PM")
    vtier = (
        F.when(F.col("value") >= 150, "high")
        .when(F.col("value") >= 50, "mid")
        .otherwise("low")
    )
    keyed = ev.withColumn("grp_key", X.composite_key(F.col("event_type"), vtier, tod))
    agg = keyed.groupBy("grp_key").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("value"), 2).alias("avg_impact"),
        F.round(F.min("value"), 2).alias("min_impact"),
        F.round(F.max("value"), 2).alias("max_impact"),
    )
    log_factor = F.round(F.log(F.col("cnt") + 1), 2)
    scored = agg.withColumn("log_factor", log_factor).withColumn(
        "danger_score", F.round(F.col("avg_impact") * F.col("log_factor"), 2)
    )
    scored = scored.withColumn(
        "formula",
        X.formula_string(F.col("avg_impact"), F.col("log_factor"), F.col("danger_score")),
    )
    return scored.orderBy(F.desc("danger_score"), F.asc("grp_key")).limit(20)


DANGER_TOPK_SQL = """
WITH keyed AS (
  SELECT concat_ws('_', event_type,
                   CASE WHEN value >= 150 THEN 'high'
                        WHEN value >= 50 THEN 'mid'
                        ELSE 'low' END,
                   CASE WHEN hour(ts) < 12 THEN 'AM' ELSE 'PM' END) AS grp_key,
         value
  FROM events
), agg AS (
  SELECT grp_key,
         count(*)            AS cnt,
         round(avg(value),2) AS avg_impact,
         round(min(value),2) AS min_impact,
         round(max(value),2) AS max_impact
  FROM keyed GROUP BY grp_key
), scored AS (
  SELECT *, round(ln(cnt + 1), 2) AS log_factor FROM agg
)
SELECT grp_key, cnt, avg_impact, min_impact, max_impact, log_factor,
       round(avg_impact * log_factor, 2) AS danger_score,
       avg_impact::VARCHAR || ' * ' || log_factor::VARCHAR || ' = '
         || round(avg_impact * log_factor, 2)::VARCHAR AS formula
FROM scored
ORDER BY danger_score DESC, grp_key ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# revenue_by_nation — the join chain (T35-T38 territory): fact table joined
# to three dims. Scale: nation/region/customer are small → Catalyst picks
# broadcast hash joins (no shuffle of lineitem); only the final groupBy
# shuffles, on a 25-value key, after partial aggregation.
# ---------------------------------------------------------------------------

def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            # exact 1e-4-dollar integer accumulation (round-10 census —
            # see functions/exact.py for the knife-edge rationale)
            EX.sum_disc_price().alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


REVENUE_BY_NATION_SQL = f"""
SELECT r_name, n_name,
       {EX.SQL_SUM_DISC_PRICE.format(p='l_extendedprice', d='l_discount', dp=2)} AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# customers_with_orders / customers_without_orders — semi/anti join (T37 and
# the free extras of SURVEY.md §7 step 3; reference semi-join filter is
# scripts/plants_dataset.ipynb cell 3). Scale: semi/anti joins shuffle only
# distinct keys of the probe side; with a small dim they broadcast.
# ---------------------------------------------------------------------------

def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


CUSTOMERS_WITH_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Anti-join against *large* orders (threshold chosen so the result is
    # non-empty on the synthetic data, where every customer has some
    # order — a vacuous 0-row match would weaken the oracle gate).
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 300000.0)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)
"""


# ---------------------------------------------------------------------------
# distinct_segments — distinct + sort (T29/T40; reference
# tasks/plants_classifier.py:50-54 sorted-distinct species ids).
# ---------------------------------------------------------------------------

def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select("c_mktsegment").distinct().orderBy("c_mktsegment")


DISTINCT_SEGMENTS_SQL = "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"


# ---------------------------------------------------------------------------
# event_type_counts — filtered value_counts (T30; reference
# scripts/plants_dataset.ipynb get_species_counts).
# ---------------------------------------------------------------------------

def event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value") > 100.0)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
    )


EVENT_TYPE_COUNTS_SQL = """
SELECT event_type, count(*) AS n
FROM events WHERE value > 100.0
GROUP BY event_type ORDER BY n DESC, event_type ASC
"""


# ---------------------------------------------------------------------------
# dedup_on_agg — order-sensitive drop_duplicates (T31; reference
# scripts/plants_dataset.ipynb cell 2 keeps the first species per distinct
# count). Spark-native: row_number over an explicit deterministic window —
# never rely on incidental row order at scale.
# ---------------------------------------------------------------------------

def dedup_on_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_cust"))
    w = W.partitionBy("n_cust").orderBy(F.asc("c_nationkey"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_nationkey", "n_cust")
    )


DEDUP_ON_AGG_SQL = """
WITH counts AS (
  SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey
), ranked AS (
  SELECT c_nationkey, n_cust,
         row_number() OVER (PARTITION BY n_cust ORDER BY c_nationkey ASC) AS rn
  FROM counts
)
SELECT c_nationkey, n_cust FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# segments_per_nation — collect-set per key rendered as a sorted CSV string
# (T32/E7; reference engine/worker.py:146-152 groups values into lists
# before reduce). String form keeps the oracle hash representation-stable.
# ---------------------------------------------------------------------------

def segments_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("c_mktsegment"))).alias("segments"),
        F.count(F.lit(1)).alias("n_cust"),
    )


SEGMENTS_PER_NATION_SQL = """
SELECT c_nationkey,
       string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
       count(*) AS n_cust
FROM customer GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# mode_per_user_bucket — majority vote / mode per group (T33; reference
# scripts/plants_classifier_tester.py:51-56). Deterministic tie-break:
# higher count first, then lexicographic event_type.
# ---------------------------------------------------------------------------

def mode_per_user_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucketed = ev.withColumn("user_bucket", (F.col("user_id") % 10).cast("bigint"))
    counts = bucketed.groupBy("user_bucket", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("user_bucket").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_bucket", F.col("event_type").alias("mode_event_type"), "n")
    )


MODE_PER_USER_BUCKET_SQL = """
WITH counts AS (
  SELECT (user_id % 10)::BIGINT AS user_bucket, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_bucket
                               ORDER BY n DESC, event_type ASC) AS rn
  FROM counts
)
SELECT user_bucket, event_type AS mode_event_type, n FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# returnflag_accuracy — scalar accuracy-style aggregate (T34; reference
# scripts/plants_classifier_tester.py:58 accuracy_score ==
# avg(pred==label)).
# ---------------------------------------------------------------------------

def returnflag_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.avg((F.col("l_returnflag") == "N").cast("double")), 4).alias("frac_n"),
        F.count(F.lit(1)).alias("n_rows"),
    )


RETURNFLAG_ACCURACY_SQL = """
SELECT l_linestatus,
       round(avg(CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END), 4) AS frac_n,
       count(*) AS n_rows
FROM lineitem GROUP BY l_linestatus
"""


# ---------------------------------------------------------------------------
# label_pairs — unordered self cross-join pairs (T35; reference
# tasks/plants_classifier.py:57-63 builds all C(n,2) species pairs).
# Scale: the distinct-label set is tiny → broadcast nested-loop on a
# deliberately small input; never cross-join the fact table itself.
# ---------------------------------------------------------------------------

def label_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("label").distinct()
    a = labels.alias("a")
    b = labels.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.label") < F.col("b.label"))
        .select(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
            F.concat_ws("_", F.col("a.label"), F.col("b.label")).alias("pair_key"),
        )
    )


LABEL_PAIRS_SQL = """
WITH l AS (SELECT DISTINCT label FROM embeddings)
SELECT a.label AS label_a, b.label AS label_b,
       a.label::VARCHAR || '_' || b.label::VARCHAR AS pair_key
FROM l a, l b WHERE a.label < b.label
"""


# ---------------------------------------------------------------------------
# union_slices — union of two filtered slices (T38/E8; reference result
# gather engine/master.py:112-115 is a list concat).
# ---------------------------------------------------------------------------

def union_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 400000).select("o_orderkey", "o_orderstatus")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderstatus"
    )
    return hi.unionByName(urgent).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )


UNION_SLICES_SQL = """
WITH u AS (
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 400000
  UNION ALL
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT o_orderstatus, count(*) AS n FROM u GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# top_orders — global sort + limit (T39/E9; reference latent master-side
# sort engine/master.py:117-118). Scale: TakeOrderedAndProject — per-
# partition heaps then a k-merge on the driver; no global sort.
# ---------------------------------------------------------------------------

def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("total"))
        .limit(10)
    )


TOP_ORDERS_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# systematic_sample — stratified systematic sampling (T41; reference
# scripts/plants_dataset.ipynb cells 5,7 keeps every 3rd item).
# ---------------------------------------------------------------------------

def systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") % 3) == 1)
        .select("doc_id", "lang")
    )


SYSTEMATIC_SAMPLE_SQL = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn % 3 = 1
"""


# ---------------------------------------------------------------------------
# train_test_split — per-class seeded 80/10/10 split (T43; reference
# scripts/plants_dataset.ipynb train_test_split). Deterministic via
# row_number against per-class counts instead of RNG so the assignment is
# reproducible on any cluster size.
# ---------------------------------------------------------------------------

def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    w = W.partitionBy("label").orderBy("vec_id")
    wcnt = W.partitionBy("label")
    ranked = emb.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(wcnt)
    )
    split = (
        F.when(F.col("rn") <= F.ceil(F.col("cnt") * 0.8), "train")
        .when(F.col("rn") <= F.ceil(F.col("cnt") * 0.9), "val")
        .otherwise("test")
    )
    return ranked.select("vec_id", "label", split.alias("split"))


TRAIN_TEST_SPLIT_SQL = """
WITH ranked AS (
  SELECT vec_id, label,
         row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn,
         count(*) OVER (PARTITION BY label) AS cnt
  FROM embeddings
)
SELECT vec_id, label,
       CASE WHEN rn <= ceil(cnt * 0.8) THEN 'train'
            WHEN rn <= ceil(cnt * 0.9) THEN 'val'
            ELSE 'test' END AS split
FROM ranked
"""


# ---------------------------------------------------------------------------
# rollup_counts / cube_counts — grouping sets (SURVEY.md §2.4 "absent in
# reference, free from Spark SQL"). Scale: Expand + single shuffle.
# ---------------------------------------------------------------------------

def rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


ROLLUP_COUNTS_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity),2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tod = F.when(F.hour("ts") < 12, "AM").otherwise("PM")
    return (
        ev.withColumn("tod", tod)
        .cube("event_type", "tod")
        # exact-cents sum: the grand-total cell aggregates the WHOLE
        # corpus — the widest knife-edge surface (functions/exact.py)
        .agg(F.count(F.lit(1)).alias("n"), EX.sum_money("value").alias("sum_value"))
    )


CUBE_COUNTS_SQL = f"""
WITH t AS (
  SELECT event_type, CASE WHEN hour(ts) < 12 THEN 'AM' ELSE 'PM' END AS tod, value
  FROM events
)
SELECT event_type, tod, count(*) AS n,
       {EX.SQL_SUM_MONEY.format(c='value', dp=2)} AS sum_value
FROM t GROUP BY CUBE (event_type, tod)
"""


# ---------------------------------------------------------------------------
# running_order_totals — window functions: rank + running aggregate per
# partition (SURVEY.md §2.6 T41-T43 use windows; also the free extras).
# ---------------------------------------------------------------------------

def running_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.filter(F.col("o_custkey") < 30)
        .withColumn("order_seq", F.row_number().over(w))
        .withColumn(
            "running_total",
            # exact-cents running sum (functions/exact.py): windowed
            # double sums differ by accumulation scheme (incremental vs
            # segment tree) across engines
            F.round(
                F.sum(EX.cents("o_totalprice")).over(
                    w.rowsBetween(W.unboundedPreceding, 0)
                )
                / 100.0,
                2,
            ),
        )
        .select("o_custkey", "o_orderkey", "order_seq", "running_total")
    )


RUNNING_ORDER_TOTALS_SQL = """
SELECT o_custkey, o_orderkey,
       row_number() OVER w AS order_seq,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             / 100.0, 2) AS running_total
FROM orders WHERE o_custkey < 30
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------------------
# quantity_percentiles — exact percentiles (SURVEY.md §2.4 free extras).
# Spark `percentile` and DuckDB `quantile_cont` both do linear
# interpolation over the sorted values.
# ---------------------------------------------------------------------------

def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("price_p99"),
    )


QUANTITY_PERCENTILES_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 4)       AS p50,
       round(quantile_cont(l_quantity, 0.9), 4)       AS p90,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS price_p99
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# count_distinct_parts — exact distinct aggregation (T29 at agg level).
# ---------------------------------------------------------------------------

def count_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


COUNT_DISTINCT_PARTS_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# status_pivot — pivot expressed as conditional aggregation so the oracle
# is plain ANSI SQL (Spark's pivot() produces the same plan shape).
# ---------------------------------------------------------------------------

def status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnsRenamed({"F": "qty_f", "O": "qty_o"})
    )


STATUS_PIVOT_SQL = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_f,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_o
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# user_session_duration — timestamp parse/diff semantics (T19/T20; reference
# tasks/accident_analysis.py:78-87): duration between first and last event
# per user in fractional hours, second-truncated like the reference's
# strptime-on-first-19-chars.
# ---------------------------------------------------------------------------

def user_session_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "n_events",
            F.round(
                (F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts")) / 3600.0, 4
            ).alias("span_hours"),
        )
    )


USER_SESSION_DURATION_SQL = """
SELECT user_id, count(*) AS n_events,
       round((epoch(date_trunc('second', max(ts)))
            - epoch(date_trunc('second', min(ts)))) / 3600.0, 4) AS span_hours
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# json_props_extract — JSON field extraction + CASE bucketing over the
# events.props JSON column (T14-T16 semantics on semi-structured input).
# ---------------------------------------------------------------------------

def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    bucket = (
        F.when(k >= 75, "high").when(k >= 25, "mid").otherwise("low")
    )
    return (
        ev.withColumn("k", k)
        .withColumn("k_bucket", bucket)
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("k"), 4).alias("avg_k"))
    )


JSON_PROPS_EXTRACT_SQL = """
WITH t AS (
  SELECT json_extract(props, '$.k')::BIGINT AS k FROM events
)
SELECT CASE WHEN k >= 75 THEN 'high' WHEN k >= 25 THEN 'mid' ELSE 'low' END AS k_bucket,
       count(*) AS n, round(avg(k), 4) AS avg_k
FROM t GROUP BY 1
"""


# ---------------------------------------------------------------------------
# tumbling_window_counts — 5-minute tumbling windows over events, expressed
# in batch (windowed_aggregate also runs the Structured Streaming twin,
# streaming/windows.py:streaming_window_counts). Window start rendered as a
# string so the hash is timezone-representation-proof.
# ---------------------------------------------------------------------------

def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_aggregate(
        load_table(spark, sf_dir, "events"),
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
        "5 minutes",
    )


TUMBLING_WINDOW_COUNTS_SQL = """
SELECT strftime(to_timestamp(floor(epoch(ts) / 300) * 300)::TIMESTAMP,
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# user_sessions — sessionization (30-min inactivity gap): the classic
# stateful streaming operator (applyInPandasWithState territory) expressed
# as a batch window program: lag → gap flag → running sum = session id.
# Scale: two window passes over the same (user_id, ts) partitioning —
# Spark reuses the sort; shuffle is one exchange on user_id.
# ---------------------------------------------------------------------------

SESSION_GAP_S = 1800


def sessionized(ev: DataFrame) -> DataFrame:
    """``ev`` plus ``session_idx``: per user, in (ts, event_id) order, the
    running count of gaps longer than SESSION_GAP_S (whole seconds); the
    first event opens session 1."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    return ev.withColumn("new_sess", new_sess).withColumn(
        "session_idx",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        sessionized(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))) / 60.0, 2
            ).alias("span_minutes"),
        )
    )


USER_SESSIONS_SQL = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(date_trunc('second', ts))
                 - epoch(date_trunc('second', lag(ts) OVER w)) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS session_idx
  FROM g
)
SELECT user_id, session_idx, count(*) AS n_events,
       round((epoch(date_trunc('second', max(ts)))
            - epoch(date_trunc('second', min(ts)))) / 60.0, 2) AS span_minutes
FROM s GROUP BY user_id, session_idx
"""


# ---------------------------------------------------------------------------
# window_ranks — ranking-function family over a deterministic ordering
# (rank / dense_rank / ntile / lag; SURVEY.md §2.6 free extras).
# ---------------------------------------------------------------------------

def window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.filter(F.col("o_custkey") < 20)
        .select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
            F.round(
                F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(w), 2
            ).alias("gap_to_prev"),
        )
    )


WINDOW_RANKS_SQL = """
SELECT o_custkey, o_orderkey,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4) OVER w AS quartile,
       round(o_totalprice - coalesce(lag(o_totalprice, 1) OVER w, 0.0), 2) AS gap_to_prev
FROM orders WHERE o_custkey < 20
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


# ---------------------------------------------------------------------------
# segment_set_ops — INTERSECT / EXCEPT (SURVEY.md §2.5: absent in the
# reference, declared engine features). Which market segments appear in
# BOTH the top-balance and bottom-balance customer halves, and which only
# in the top half.
# ---------------------------------------------------------------------------

def segment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    hi = cust.filter(F.col("c_acctbal") >= 0).select("c_mktsegment")
    lo = cust.filter(F.col("c_acctbal") < 0).select("c_mktsegment")
    both = hi.intersect(lo).withColumn("membership", F.lit("both"))
    only_hi = hi.distinct().subtract(lo.distinct()).withColumn(
        "membership", F.lit("only_nonneg")
    )
    return both.unionByName(only_hi)


SEGMENT_SET_OPS_SQL = """
SELECT c_mktsegment, 'both' AS membership FROM (
  SELECT c_mktsegment FROM customer WHERE c_acctbal >= 0
  INTERSECT
  SELECT c_mktsegment FROM customer WHERE c_acctbal < 0
)
UNION ALL
SELECT c_mktsegment, 'only_nonneg' AS membership FROM (
  SELECT DISTINCT c_mktsegment FROM customer WHERE c_acctbal >= 0
  EXCEPT
  SELECT DISTINCT c_mktsegment FROM customer WHERE c_acctbal < 0
)
"""


# ---------------------------------------------------------------------------
# click_asof_purchase — AS-OF JOIN: each click event matched to the same
# user's most recent purchase at-or-before it. Spark lacks a native as-of
# join; the scalable formulation is union + window (one shuffle on the key,
# a running last_value — never the inequality-join O(n·m) blow-up, and no
# per-key driver loop). Ordering ties: at equal ts the purchase sorts
# before the click (is_probe flag), matching the inclusive p.ts <= c.ts
# semantics of the DuckDB ASOF JOIN oracle.
# Scale: one exchange on user_id + one sort — the same plan shape at 100 TB;
# skewed users are bounded by per-user event counts, not corpus size.
# ---------------------------------------------------------------------------

def click_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "event_id",
        "ts",
        F.lit(1).alias("is_probe"),
        F.lit(None).cast("timestamp").alias("p_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.lit(None).cast("long").alias("event_id"),
        "ts",
        F.lit(0).alias("is_probe"),
        F.col("ts").alias("p_ts"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "purchase_ts", F.last("p_ts", ignorenulls=True).over(w)
    )
    return (
        merged.filter((F.col("is_probe") == 1) & F.col("purchase_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("click_us"),
            F.unix_micros("purchase_ts").alias("purchase_us"),
            F.round(
                (F.unix_micros("ts") - F.unix_micros("purchase_ts")) / 1e6, 2
            ).alias("gap_s"),
        )
    )


CLICK_ASOF_PURCHASE_SQL = """
SELECT c.event_id, c.user_id,
       epoch_us(c.ts) AS click_us,
       epoch_us(p.ts) AS purchase_us,
       round((epoch_us(c.ts) - epoch_us(p.ts)) / 1e6, 2) AS gap_s
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND p.ts <= c.ts
"""


# ---------------------------------------------------------------------------
# salted_type_stats — two-phase (salted) aggregation over events by
# event_type: 5 distinct keys over the whole corpus is the worst-case
# skew shape (every row is a hot key). The salted form
# (operators/skew.py:salted_agg) bounds any single reducer's group at
# 1/n_salt of a hot key. Results are identical to the plain groupBy —
# the oracle is the plain SQL — which is the point: salting is a
# physical rewrite, not a semantic one.
# ---------------------------------------------------------------------------

def salted_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_cdps_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    merged = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n": F.count(F.lit(1)),
            "total_value": F.sum("value"),
            "min_value": F.min("value"),
            "max_value": F.max("value"),
        },
    )
    return merged.select(
        "event_type",
        "n",
        F.round("total_value", 2).alias("total_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
        F.round(F.col("total_value") / F.col("n"), 4).alias("avg_value"),
    )


SALTED_TYPE_STATS_SQL = """
SELECT event_type, count(*) AS n,
       round(sum(value), 2) AS total_value,
       round(min(value), 2) AS min_value,
       round(max(value), 2) AS max_value,
       round(sum(value) / count(*), 4) AS avg_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# salted_above_type_mean — salted join demo: per-type mean (5-row dim,
# above-broadcast-threshold stand-in) joined back to the full events
# table on the maximally-skewed event_type key via
# operators/skew.py:salted_join, counting events above their type's
# mean. Oracle is the plain join — same results, different physical
# plan (hot key spread across n_salt reducers).
# ---------------------------------------------------------------------------

def salted_above_type_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from map_reduce_engine_cdps_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    # exact-cents mean (functions/exact.py): type_mean is a FILTER
    # boundary over corpus-sized groups, and avg_above a rounded
    # quotient — both of the r9 knife-edge class
    dim = ev.groupBy("event_type").agg(
        (F.sum(EX.cents("value")) / (100.0 * F.count(F.lit(1)))).alias(
            "type_mean"
        )
    )
    joined = salted_join(ev.select("event_type", "value"), dim, on="event_type")
    return (
        joined.filter(F.col("value") > F.col("type_mean"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.round(
                F.sum(EX.cents("value")) / (100.0 * F.count(F.lit(1))), 4
            ).alias("avg_above"),
        )
    )


SALTED_ABOVE_TYPE_MEAN_SQL = """
WITH dim AS (
  SELECT event_type,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           / (100.0 * count(*)) AS type_mean
  FROM events GROUP BY event_type
)
SELECT e.event_type, count(*) AS n_above,
       round(CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             / (100.0 * count(*)), 4) AS avg_above
FROM events e JOIN dim d USING (event_type)
WHERE e.value > d.type_mean
GROUP BY e.event_type
"""


# ---------------------------------------------------------------------------
# click_purchase_within_1h — bucketed RANGE JOIN: per user, every
# (click, purchase) pair at most 1 h apart. The naive formulation is an
# inequality join — O(n·m) per user and un-shuffleable. The scale
# formulation buckets both sides into 1 h epochs and equi-joins on
# (user_id, bucket) with the probe side exploded to its 3 candidate
# buckets (b-1, b, b+1), then applies the exact |gap| <= 1h filter.
# Each qualifying pair is found exactly once (the build side keeps a
# single bucket). At 100 TB the join is a plain shuffled equi-join whose
# key cardinality grows with time-span × users — no blow-up.
# ---------------------------------------------------------------------------

RANGE_WINDOW_S = 3600


def click_purchase_within_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            us.alias("click_us"),
            F.expr(f"unix_micros(ts) div {RANGE_WINDOW_S * 1_000_000}").alias("b"),
        )
        .withColumn("bucket", F.explode(F.expr("array(b - 1, b, b + 1)")))
        .drop("b")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        us.alias("purchase_us"),
        F.expr(f"unix_micros(ts) div {RANGE_WINDOW_S * 1_000_000}").alias("bucket"),
    )
    pairs = clicks.join(purchases, ["user_id", "bucket"]).filter(
        F.abs(F.col("click_us") - F.col("purchase_us"))
        <= RANGE_WINDOW_S * 1_000_000
    )
    return pairs.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.round((F.col("purchase_us") - F.col("click_us")) / 1e6, 2).alias("gap_s"),
    )


CLICK_PURCHASE_WITHIN_1H_SQL = f"""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
       round((epoch_us(p.ts) - epoch_us(c.ts)) / 1e6, 2) AS gap_s
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= {RANGE_WINDOW_S * 1_000_000}::BIGINT
"""


# ---------------------------------------------------------------------------
# sliding_window_counts — sliding event-time windows (10 min window,
# 5 min slide): each event lands in exactly window/slide = 2 windows.
# Spark's F.window handles the window assignment natively; the DuckDB
# oracle re-derives the two window starts arithmetically.
# ---------------------------------------------------------------------------

def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_aggregate(
        load_table(spark, sf_dir, "events"),
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
        "10 minutes",
        "5 minutes",
    )


SLIDING_WINDOW_COUNTS_SQL = """
WITH assigned AS (
  SELECT strftime(to_timestamp((floor(epoch(ts) / 300) - k.k) * 300)::TIMESTAMP,
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, value
  FROM events, unnest(range(0, 2)) AS k(k)
)
SELECT window_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM assigned GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# sampled_docs_per_source — deterministic per-class sampling (T42's
# per-class subsample, reference scripts/plants_dataset.ipynb cell 11,
# re-expressed scale-safe): instead of RNG (engine-dependent), the keep
# decision is a pure arithmetic hash of the row id — reproducible across
# engines and runs, trivially pushed into the scan, and exactly
# rate-per-class controllable. Head classes (src0/src1) keep 60%, the
# tail keeps 20%.
# ---------------------------------------------------------------------------

def sampled_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("source").isin("src0", "src1"), 60).otherwise(20)
    kept = docs.filter(F.pmod(F.col("doc_id") * 48271, F.lit(100)) < rate)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


SAMPLED_DOCS_PER_SOURCE_SQL = """
SELECT source, count(*) AS n_kept, round(avg(n_chars), 4) AS avg_chars
FROM documents
WHERE (doc_id * 48271) % 100 <
      (CASE WHEN source IN ('src0', 'src1') THEN 60 ELSE 20 END)
GROUP BY source
"""


# ---------------------------------------------------------------------------
# approx_distinct_users — approx_count_distinct (HLL++) per event_type,
# self-validated: the query emits the exact distinct count (oracle-
# hash-matched) plus a boolean asserting the HLL estimate landed within
# 5% of it (default rsd 0.05). The oracle emits literal TRUE, so a
# drifting sketch fails the gate. At 100 TB approx is the only viable
# distinct-count: partial-aggregated sketches merge map-side; exact
# distinct shuffles every (key, user) pair.
# ---------------------------------------------------------------------------

def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # rsd=0.01: the default 0.05 is a standard deviation, not a bound —
    # at sf0.1 the estimate drifted past the 5% assertion. A 1% rsd
    # sketch keeps the 5%-window claim ~5 sigma safe at every SF.
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_within_5pct"),
    )


APPROX_DISTINCT_USERS_SQL = """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS approx_within_5pct
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# approx_quantile_check — approx_percentile (t-digest-style sketch) per
# returnflag, self-validated against the exact interpolated percentile
# the same way approx_distinct_users validates HLL: the oracle-matched
# columns are the exact values; booleans assert the sketch landed within
# 2% relative error. At 100 TB exact percentiles need a full sort per
# group; the sketch partial-aggregates map-side and merges.
# ---------------------------------------------------------------------------

def approx_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 2).alias("exact_p50"),
        F.round(F.expr("percentile(l_quantity, 0.95)"), 2).alias("exact_p95"),
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("ap50"),
        F.expr("approx_percentile(l_quantity, 0.95, 10000)").alias("ap95"),
    )
    ok = lambda a, e: F.abs(F.col(a) - F.col(e)) <= 0.02 * F.abs(F.col(e))  # noqa: E731
    return agg.select(
        "l_returnflag",
        "exact_p50",
        "exact_p95",
        ok("ap50", "exact_p50").alias("p50_within_2pct"),
        ok("ap95", "exact_p95").alias("p95_within_2pct"),
    )


APPROX_QUANTILE_CHECK_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 2)  AS exact_p50,
       round(quantile_cont(l_quantity, 0.95), 2) AS exact_p95,
       TRUE AS p50_within_2pct,
       TRUE AS p95_within_2pct
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# grouping_sets_counts — GROUPING SETS via the spark.sql() surface (the
# engine's second query API next to the DataFrame builders; same
# Catalyst plan either way). Single expand + hash-agg: the expand
# multiplies rows by the number of sets before partial aggregation, so
# shuffle volume is O(groups × sets) — fine at any corpus size.
# ---------------------------------------------------------------------------

def grouping_sets_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               grouping(l_returnflag) AS g_flag,
               grouping(l_linestatus) AS g_status
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag),
                                (l_linestatus),
                                (l_returnflag, l_linestatus),
                                ())
        """
    )


GROUPING_SETS_COUNTS_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       grouping(l_returnflag) AS g_flag,
       grouping(l_linestatus) AS g_status
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag),
                        (l_linestatus),
                        (l_returnflag, l_linestatus),
                        ())
"""


# ---------------------------------------------------------------------------
# rolling_1h_user_value — time-RANGE window frame (vs the row-based
# frames elsewhere): per event, the sum of the same user's values over
# the trailing hour. One shuffle on user_id; frame evaluation is a
# per-partition sliding aggregate over epoch seconds. The per-user
# event-history shape behind rate limiting / fraud features.
# ---------------------------------------------------------------------------

def rolling_1h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Order on the FRACTIONAL epoch (cast to double = micros/1e6, the
    # identical float both engines produce): unix_timestamp() truncates
    # to whole seconds while DuckDB's epoch() keeps microseconds, so a
    # pair straddling the 3600 s boundary by <1 s diverged at sf0.1.
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").cast("double"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("trailing_1h_value"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_events"),
    )


ROLLING_1H_USER_VALUE_SQL = """
SELECT event_id, user_id,
       round(sum(value) OVER w, 2) AS trailing_1h_value,
       count(*) OVER w AS trailing_1h_events
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# balance_deciles — decile bucketing done the way that survives scale:
# NOT ntile() (a global window = total sort on one reducer), but
# (1) one aggregate computing the 9 interpolated decile cutoffs,
# (2) broadcast of that 1-row cutoff array, (3) per-row bucket
# assignment by counting cutoffs below the value, (4) ordinary hash-agg
# per decile. Same math, no global ordering anywhere.
# ---------------------------------------------------------------------------

def balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    qs = ", ".join(str(q / 10.0) for q in range(1, 10))
    cuts = cust.agg(F.expr(f"percentile(c_acctbal, array({qs}))").alias("cuts"))
    decile = F.lit(1) + F.size(
        F.filter("cuts", lambda c: c < F.col("c_acctbal"))
    )
    return (
        cust.crossJoin(F.broadcast(cuts))
        .select(decile.alias("decile"), "c_acctbal")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # exact-cents avg (functions/exact.py)
            F.round(
                F.sum(EX.cents("c_acctbal")) / (100.0 * F.count(F.lit(1))), 2
            ).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


BALANCE_DECILES_SQL = """
WITH cuts AS (
  SELECT quantile_cont(c_acctbal,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
  FROM customer
)
SELECT 1 + len(list_filter(cuts.cuts, x -> x < c_acctbal)) AS decile,
       count(*) AS n_customers,
       round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             / (100.0 * count(*)), 2) AS avg_bal,
       round(min(c_acctbal), 2) AS min_bal,
       round(max(c_acctbal), 2) AS max_bal
FROM customer, cuts
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# value_histogram — fixed-width histogram over events.value (bin =
# floor(value/width)*width). One hash-agg, O(bins) shuffle: the
# distributed histogram shape (NOT a driver-side collect+numpy).
# ---------------------------------------------------------------------------

HIST_BIN_WIDTH = 25.0


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bin_lo = F.floor(F.col("value") / HIST_BIN_WIDTH) * HIST_BIN_WIDTH
    return (
        ev.select(bin_lo.alias("bin_lo"))
        .groupBy("bin_lo")
        .agg(F.count(F.lit(1)).alias("n"))
    )


VALUE_HISTOGRAM_SQL = f"""
SELECT floor(value / {HIST_BIN_WIDTH}) * {HIST_BIN_WIDTH} AS bin_lo,
       count(*) AS n
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# quantity_price_corr — Pearson correlation + sample covariance per
# returnflag (co-moment aggregates; partial-merged map-side like any
# algebraic agg). Rounded to 3 dp on both sides: the co-moment merge
# order differs between engines, so agreement is to FP-noise level,
# well inside 3 dp.
# ---------------------------------------------------------------------------

def quantity_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # "+ 0.0" collapses IEEE negative zero (round can yield -0.0 on one
    # engine and 0.0 on the other for near-zero correlations).
    return li.groupBy("l_returnflag").agg(
        (F.round(F.corr("l_quantity", "l_extendedprice"), 3) + F.lit(0.0)).alias(
            "qty_price_corr"
        ),
        (F.round(F.covar_samp("l_quantity", "l_extendedprice"), 1) + F.lit(0.0)).alias(
            "qty_price_covar"
        ),
        F.count(F.lit(1)).alias("n"),
    )


QUANTITY_PRICE_CORR_SQL = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 3) + 0.0 AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 1) + 0.0 AS qty_price_covar,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# geo_mean_price — geometric mean via exp(avg(ln x)) per brand (the
# log-space trick that keeps the aggregate algebraic/partial-mergeable;
# a naive product would overflow and not distribute).
# ---------------------------------------------------------------------------

def geo_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        # geo mean stays log-space double: exp/ln have no integer
        # restatement; its ULP wobble is documented in SCALE.md census
        F.round(F.exp(F.avg(F.log("p_retailprice"))), 2).alias("geo_mean_price"),
        F.round(
            F.sum(EX.cents("p_retailprice")) / (100.0 * F.count(F.lit(1))), 2
        ).alias("arith_mean_price"),
        F.count(F.lit(1)).alias("n_parts"),
    )


GEO_MEAN_PRICE_SQL = """
SELECT p_brand,
       round(exp(avg(ln(p_retailprice))), 2) AS geo_mean_price,
       round(CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
             / (100.0 * count(*)), 2) AS arith_mean_price,
       count(*) AS n_parts
FROM part GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# latest_event_per_user — argmax per group (each user's most recent
# event) via row_number over (ts DESC, event_id DESC): deterministic
# under ts ties, one shuffle on user_id. The "current state per key"
# query; at scale identical shape, and Spark's WindowGroupLimit pushes
# the rank-1 filter down so partitions keep only the top row.
# ---------------------------------------------------------------------------

def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 2).alias("value"))
    )


LATEST_EVENT_PER_USER_SQL = """
WITH ranked AS (
  SELECT user_id, event_id, event_type, round(value, 2) AS value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, event_id, event_type, value FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# user_funnel — click→purchase funnel per user: conditional aggregates
# (count/min/max FILTERed by event type) in ONE pass over events — no
# per-step self-joins, which is what makes funnels tractable at 100 TB.
# Output restricted to ints/bools (timestamps only compared, never
# emitted) so the oracle hash is trivially stable.
# ---------------------------------------------------------------------------

def user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    is_click = F.col("event_type") == "click"
    is_purchase = F.col("event_type") == "purchase"
    agg = ev.groupBy("user_id").agg(
        F.count(F.when(is_click, 1)).alias("n_clicks"),
        F.count(F.when(is_purchase, 1)).alias("n_purchases"),
        F.min(F.when(is_click, F.col("ts"))).alias("first_click"),
        F.max(F.when(is_purchase, F.col("ts"))).alias("last_purchase"),
    )
    converted = (
        F.col("first_click").isNotNull()
        & F.col("last_purchase").isNotNull()
        & (F.col("last_purchase") > F.col("first_click"))
    )
    return agg.select(
        "user_id", "n_clicks", "n_purchases", converted.alias("converted")
    )


USER_FUNNEL_SQL = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS n_clicks,
       count(*) FILTER (event_type = 'purchase') AS n_purchases,
       (min(ts) FILTER (event_type = 'click') IS NOT NULL
        AND max(ts) FILTER (event_type = 'purchase') IS NOT NULL
        AND max(ts) FILTER (event_type = 'purchase')
            > min(ts) FILTER (event_type = 'click')) AS converted
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# cohort_retention — daily signup-cohort retention: cohort = each
# user's first active day; count users active at each day offset.
# Two aggregates + one join where the per-user cohort table is the
# small side (O(users) rows → broadcast); activity is deduped to
# (user, day) BEFORE the join so the join input is bounded by
# users × active-days, not raw events.
# ---------------------------------------------------------------------------

def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_date"))
    acts = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        acts.join(F.broadcast(firsts), "user_id")
        .select(
            F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort_date").alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


COHORT_RETENTION_SQL = """
WITH firsts AS (
  SELECT user_id, min(ts::DATE) AS cohort_date FROM events GROUP BY user_id
), acts AS (
  SELECT DISTINCT user_id, ts::DATE AS d FROM events
)
SELECT strftime(cohort_date, '%Y-%m-%d') AS cohort_day,
       date_diff('day', cohort_date, d) AS day_offset,
       count(*) AS n_users
FROM acts JOIN firsts USING (user_id)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# status_unpivot — melt the pivoted wide table back to long form via
# stack() (Spark's unpivot). Pivot/unpivot round-trip: the oracle is the
# direct long-form aggregate, so the melt must be lossless.
# ---------------------------------------------------------------------------

def status_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = status_pivot(spark, sf_dir)
    return wide.select(
        "l_returnflag",
        F.expr("stack(2, 'F', qty_f, 'O', qty_o) AS (l_linestatus, sum_qty)"),
    ).filter(F.col("sum_qty").isNotNull())


STATUS_UNPIVOT_SQL = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_linestatus IN ('F', 'O')
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# click_asof_cogroup — the SAME as-of join via the cogrouped-map API:
# clicks and purchases co-partitioned on user_id, pandas merge_asof per
# co-group over Arrow. Oracle-checked against the identical DuckDB ASOF
# JOIN as click_asof_purchase, proving the union+window formulation and
# the cogroup formulation agree. The cogroup path is the template for
# as-of logic the window trick can't express (nearest-by-value,
# tolerance bands, multi-column priorities — pandas has them natively).
# Scale: one co-partitioning shuffle on user_id; per-group pandas frames
# are bounded by per-user event counts.
# ---------------------------------------------------------------------------

def click_asof_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    # The two cogroup sides MUST come from separate scans: when both
    # derive from one parent DataFrame, Catalyst deduplicates the
    # right side's (user_id, ts) onto the left's attribute ids, and
    # column pruning (e.g. under .count()) then drops the right ts
    # entirely — the UDF silently received a ts-less purchases frame
    # and produced 0 rows while .collect() produced 18 k.
    ev_l = load_table(spark, sf_dir, "events")
    ev_r = load_table(spark, sf_dir, "events")
    clicks = ev_l.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev_r.filter(F.col("event_type") == "purchase").select("user_id", "ts")

    def merge(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if left.empty:
            return pd.DataFrame(
                columns=["event_id", "user_id", "click_us", "purchase_us", "gap_s"]
            )
        left = left.sort_values("ts", kind="mergesort")
        # an empty co-group side arrives as a zero-column frame; and the
        # right key must be renamed or merge_asof folds it into `ts`
        if right.empty or "ts" not in right.columns:
            m = left.assign(p_ts=pd.NaT)
        else:
            r = right.rename(columns={"ts": "p_ts"}).sort_values(
                "p_ts", kind="mergesort"
            )
            m = pd.merge_asof(
                left, r, left_on="ts", right_on="p_ts", by="user_id",
                direction="backward",
            )
        m = m.dropna(subset=["p_ts"])
        # normalize to ns first — Arrow may hand us datetime64[us] or [ns]
        click_us = m["ts"].astype("datetime64[ns]").astype("int64") // 1000
        purchase_us = m["p_ts"].astype("datetime64[ns]").astype("int64") // 1000
        gap = (click_us - purchase_us).astype("float64") / 1e6
        # half-up rounding (pandas .round is half-even; JVM/DuckDB round
        # half-up on the stored double — gaps are nonnegative here)
        gap_s = np.floor(gap * 100.0 + 0.5) / 100.0
        return pd.DataFrame(
            {
                "event_id": m["event_id"],
                "user_id": m["user_id"],
                "click_us": click_us,
                "purchase_us": purchase_us,
                "gap_s": gap_s,
            }
        )

    out_schema = (
        "event_id long, user_id long, click_us long, purchase_us long, gap_s double"
    )
    # Cogroup on a BOUNDED bucket key, not per-user: grouped-map cost
    # is per-GROUP (~2.5-10 ms of Arrow flush + Python sync each), so a
    # per-user cogroup pays that machinery once per user — 150 k Python
    # round-trips at the sf10 probe point, 48.6 s wall. Bucketing users
    # into 4x-parallelism hash buckets keeps every row of a user in one
    # group (bucket = f(user_id)) while merge_asof's by="user_id" does
    # the per-user as-of matching VECTORIZED inside each bucket: same
    # output, 128 Python round-trips instead of |users| — sf10 measured
    # 48.6 s -> 1.4 s (35x). At 100 TB the bucket count scales with the
    # cluster, not the user count, and per-bucket frames stay
    # memory-bounded (users/buckets x rows/user). The explicit
    # repartition N also stays exempt from AQE byte-based coalescing,
    # which would otherwise collapse a byte-small cogroup onto one core.
    par = spark.sparkContext.defaultParallelism
    n_buckets = 4 * par
    bucket = F.pmod(F.hash("user_id"), F.lit(n_buckets)).alias("bucket")
    clicks_b = clicks.select("*", bucket)
    purchases_b = purchases.select("*", bucket)
    return (
        clicks_b.repartition(par, "bucket")
        .groupBy("bucket")
        .cogroup(purchases_b.repartition(par, "bucket").groupBy("bucket"))
        .applyInPandas(
            lambda left, right: merge(
                left.drop(columns=["bucket"]), right.drop(columns=["bucket"], errors="ignore")
            ),
            schema=out_schema,
        )
    )


# ---------------------------------------------------------------------------
# customer_upsert — SCD-1 merge (upsert) expressed in pure DataFrame ops:
# a batch of dimension updates (stand-in: customers with c_custkey % 7
# == 0, account balance re-stated) merged into the base dimension —
# updated rows take the new values, unmatched base rows pass through,
# net-new keys insert. Spark has no MERGE INTO on raw parquet, so the
# canonical formulation is full-outer join + coalesce, which is exactly
# what table formats compile MERGE to. Scale: one shuffle of each side
# on the join key (or broadcast when the update batch is small — the
# common case for dimension maintenance; AQE decides).
# ---------------------------------------------------------------------------

def customer_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # all money math in integer cents: double rounding of x*1.1 lands on
    # binary-float boundaries differently per engine, and double sums
    # drift with partition order — integers do neither
    cust = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = cust.select(
        "c_custkey", "c_name", cents.alias("bal_cents"), "c_mktsegment"
    )
    updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("u_key"),
        F.col("c_name").alias("u_name"),
        (F.round(cents.cast("double") * 1.1).cast("long") + 10000).alias("u_cents"),
        F.lit("RESTATED").alias("u_seg"),
    )
    merged = base.join(
        updates, base.c_custkey == updates.u_key, "full_outer"
    ).select(
        F.coalesce("c_custkey", "u_key").alias("c_custkey"),
        F.coalesce("u_name", "c_name").alias("c_name"),
        F.coalesce("u_cents", "bal_cents").alias("bal_cents"),
        F.coalesce("u_seg", "c_mktsegment").alias("c_mktsegment"),
        F.when(F.col("u_key").isNotNull(), F.lit("updated"))
        .otherwise(F.lit("unchanged"))
        .alias("merge_action"),
    )
    return merged.groupBy("merge_action", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bal_cents").alias("total_bal_cents"),
    )


CUSTOMER_UPSERT_SQL = """
WITH base AS (
  SELECT c_custkey, c_name,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
         c_mktsegment
  FROM customer
), updates AS (
  SELECT c_custkey AS u_key, c_name AS u_name,
         CAST(round(bal_cents * 1.1) AS BIGINT) + 10000 AS u_cents,
         'RESTATED' AS u_seg
  FROM base WHERE c_custkey % 7 = 0
), merged AS (
  SELECT coalesce(b.c_custkey, u.u_key) AS c_custkey,
         coalesce(u.u_name, b.c_name) AS c_name,
         coalesce(u.u_cents, b.bal_cents) AS bal_cents,
         coalesce(u.u_seg, b.c_mktsegment) AS c_mktsegment,
         CASE WHEN u.u_key IS NOT NULL THEN 'updated'
              ELSE 'unchanged' END AS merge_action
  FROM base b FULL OUTER JOIN updates u ON b.c_custkey = u.u_key
)
SELECT merge_action, c_mktsegment, count(*) AS n,
       CAST(sum(bal_cents) AS BIGINT) AS total_bal_cents
FROM merged GROUP BY merge_action, c_mktsegment
"""


# ---------------------------------------------------------------------------
# dense_event_timeline — time-series gap filling: per event_type, build
# the dense 15-minute bucket spine from its min to max bucket with
# sequence()+explode, then left-join the actual counts and zero-fill.
# No driver-side loop generates the spine: it's O(types) sequence calls
# whose total size is bounded by the time span, not the event volume,
# and the counts side is already aggregated before the join — so the
# join is spine ⨝ O(groups), never spine ⨝ raw events. Buckets stay
# epoch-second longs end-to-end (no tz/format ambiguity on the wire).
# ---------------------------------------------------------------------------

def dense_event_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.floor(F.unix_timestamp("ts") / 900) * 900).alias("bucket")
    counts = ev.select("event_type", bucket).groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    spine = (
        counts.groupBy("event_type")
        .agg(F.min("bucket").alias("b0"), F.max("bucket").alias("b1"))
        .select(
            "event_type",
            F.explode(F.sequence("b0", "b1", F.lit(900))).alias("bucket"),
        )
    )
    return (
        spine.join(counts, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("n", F.lit(0)).alias("n"),
            (F.coalesce("n", F.lit(0)) == 0).alias("is_gap"),
        )
    )


DENSE_EVENT_TIMELINE_SQL = """
WITH counts AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS bucket,
         count(*) AS n
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT event_type,
         unnest(generate_series(min(bucket), max(bucket), 900)) AS bucket
  FROM counts GROUP BY event_type
)
SELECT s.event_type, s.bucket, coalesce(c.n, 0) AS n,
       coalesce(c.n, 0) = 0 AS is_gap
FROM spine s LEFT JOIN counts c
  ON s.event_type = c.event_type AND s.bucket = c.bucket
"""


# ---------------------------------------------------------------------------
# data_quality_audit — declarative constraint audit over the warehouse
# (the Deequ/dbt-test shape): PK uniqueness, FK integrity, domain and
# null checks, each returning a violation count, unioned into one small
# report. Every check is a single scan-aggregate or key anti-join —
# nothing materializes more than (check_name, count) per check, so the
# audit costs one pass over each audited column at any scale.
# ---------------------------------------------------------------------------

def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def named(name: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(name).alias("check_name"),
                         F.col("n_violations").cast("long").alias("n_violations"))

    pk_dup = named(
        "customer_pk_unique",
        cust.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n_violations")),
    )
    fk_orders = named(
        "orders_custkey_fk",
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations")),
    )
    fk_lineitem = named(
        "lineitem_orderkey_fk",
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations")),
    )
    domain_discount = named(
        "lineitem_discount_domain",
        li.filter(~F.col("l_discount").between(0.0, 1.0))
        .agg(F.count(F.lit(1)).alias("n_violations")),
    )
    null_user = named(
        "events_user_not_null",
        ev.filter(F.col("user_id").isNull())
        .agg(F.count(F.lit(1)).alias("n_violations")),
    )
    qty_positive = named(
        "lineitem_quantity_positive",
        li.filter(F.col("l_quantity") <= 0)
        .agg(F.count(F.lit(1)).alias("n_violations")),
    )
    report = pk_dup
    for part in (fk_orders, fk_lineitem, domain_discount, null_user, qty_positive):
        report = report.unionByName(part)
    return report


DATA_QUALITY_AUDIT_SQL = """
SELECT 'customer_pk_unique' AS check_name,
       (SELECT count(*) FROM (
          SELECT c_custkey FROM customer GROUP BY c_custkey HAVING count(*) > 1
        )) AS n_violations
UNION ALL
SELECT 'orders_custkey_fk',
       (SELECT count(*) FROM orders
        WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
UNION ALL
SELECT 'lineitem_orderkey_fk',
       (SELECT count(*) FROM lineitem
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
UNION ALL
SELECT 'lineitem_discount_domain',
       (SELECT count(*) FROM lineitem WHERE l_discount NOT BETWEEN 0.0 AND 1.0)
UNION ALL
SELECT 'events_user_not_null',
       (SELECT count(*) FROM events WHERE user_id IS NULL)
UNION ALL
SELECT 'lineitem_quantity_positive',
       (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
"""


# ---------------------------------------------------------------------------
# order_status_runs — SCD-2-style interval building (gaps-and-islands):
# per customer, collapse consecutive same-status orders into validity
# runs with the row_number-difference trick — two window passes on the
# same (c_custkey ordered by date) layout, so Spark plans ONE shuffle
# and evaluates both windows over it. The output is one row per run
# (valid_from/valid_to/n_orders), i.e. the effective-dated history a
# dimension table would store — built without any self-join.
# ---------------------------------------------------------------------------

def order_status_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w_all = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_status = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderdate", "o_orderkey"
    )
    runs = orders.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        (F.row_number().over(w_all) - F.row_number().over(w_status)).alias("grp"),
    )
    return (
        runs.groupBy("o_custkey", "o_orderstatus", "grp")
        .agg(
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("valid_from"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("valid_to"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .drop("grp")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum("n_orders").alias("n_orders"),
            F.max("n_orders").alias("longest_run"),
            F.min("valid_from").alias("first_from"),
            F.max("valid_to").alias("last_to"),
        )
    )


ORDER_STATUS_RUNS_SQL = """
WITH runs AS (
  SELECT o_custkey, o_orderstatus,
         strftime(min(o_orderdate), '%Y-%m-%d') AS valid_from,
         strftime(max(o_orderdate), '%Y-%m-%d') AS valid_to,
         count(*) AS n_orders
  FROM (
    SELECT o_custkey, o_orderstatus, o_orderdate,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey)
         - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                              ORDER BY o_orderdate, o_orderkey) AS grp
    FROM orders
  ) t
  GROUP BY o_custkey, o_orderstatus, grp
)
SELECT o_orderstatus, count(*) AS n_runs, CAST(sum(n_orders) AS BIGINT) AS n_orders,
       max(n_orders) AS longest_run, min(valid_from) AS first_from,
       max(valid_to) AS last_to
FROM runs GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# event_interarrival_stats — lag()-based inter-arrival analysis: per
# user ordered by event time, the gap to the previous event, aggregated
# per event_type. One shuffle on user_id for the window, then a
# reshuffle of the O(users × types) lag projection for the aggregate —
# the projection drops the payload before the second exchange.
# Ties on ts are broken by event_id so the lag is deterministic.
# ---------------------------------------------------------------------------

def event_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
        .alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg(F.col("gap_us") / 1e6), 2).alias("avg_gap_s"),
        F.max((F.col("gap_us") / 1e6).cast("double")).alias("max_gap_s"),
        F.min((F.col("gap_us") / 1e6).cast("double")).alias("min_gap_s"),
    )


EVENT_INTERARRIVAL_STATS_SQL = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS gap_us
  FROM events
)
SELECT event_type, count(*) AS n_gaps,
       round(avg(gap_us / 1e6), 2) AS avg_gap_s,
       max(gap_us / 1e6) AS max_gap_s,
       min(gap_us / 1e6) AS min_gap_s
FROM gaps WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# monthly_revenue_yoy — period-over-period reporting: monthly revenue
# with a 12-month lag and YoY percentage. The aggregate reduces the fact
# table to O(months) rows FIRST; the unpartitioned lag window then runs
# over those ~80 rows — a deliberate single-partition window on
# post-aggregate data (the anti-pattern warning applies to windows over
# raw facts, not over a dimension-sized result).
# ---------------------------------------------------------------------------

def monthly_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        # exact-cents monthly sum (functions/exact.py); the lag/YoY
        # math downstream operates on these already-deterministic
        # doubles, so it inherits exactness
        EX.sum_money("o_totalprice").alias("revenue"),
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue", 12).over(w)
    return monthly.select(
        "month",
        "n_orders",
        "revenue",
        F.round((F.col("revenue") - prev) / prev * 100, 2).alias("yoy_pct"),
    ).orderBy("month")


MONTHLY_REVENUE_YOY_SQL = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
         count(*) AS n_orders,
         round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               / 100.0, 2) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, n_orders, revenue,
       round((revenue - lag(revenue, 12) OVER (ORDER BY month))
             / lag(revenue, 12) OVER (ORDER BY month) * 100, 2) AS yoy_pct
FROM monthly ORDER BY month
"""


# ---------------------------------------------------------------------------
# priority_price_position — distribution-position window functions
# (percent_rank / cume_dist / first_value), completing the rank family:
# each order's price position within its priority class, plus the gap to
# the class's most expensive order. One shuffle on the partition key;
# the total order (price desc, orderkey asc) makes every value
# deterministic across engines.
# ---------------------------------------------------------------------------

def priority_price_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.filter(F.col("o_custkey") < 10)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.round(
                F.first_value("o_totalprice").over(w) - F.col("o_totalprice"),
                2,
            ).alias("gap_to_top"),
        )
        .orderBy("o_orderpriority", "o_orderkey")
    )


PRIORITY_PRICE_POSITION_SQL = """
SELECT o_orderpriority, o_orderkey,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       round(first_value(o_totalprice) OVER w - o_totalprice, 2)
         AS gap_to_top
FROM orders
WHERE o_custkey < 10
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC)
ORDER BY o_orderpriority, o_orderkey
"""


# ---------------------------------------------------------------------------
# session_window_counts — NATIVE session windows (F.session_window):
# the declarative twin of user_sessions' manual gaps-and-islands. The
# oracle reproduces Spark's exact boundary rule (a session closes when
# the gap is >= the 30 min duration, measured in microseconds) with
# islands SQL — two formulations, one answer. Native session windows
# matter at scale because they run as a single groupBy with
# merge-on-overlap session state, not a two-window island scan.
# ---------------------------------------------------------------------------

SESSION_GAP_US = 1800 * 1_000_000


def session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


SESSION_WINDOW_COUNTS_SQL = f"""
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
)
SELECT user_id, min(ts) AS session_start,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, session_idx
ORDER BY user_id, session_start
"""


# ---------------------------------------------------------------------------
# multi_resolution_rollup — the hypertable/continuous-aggregate shape:
# minute, hour and day rollups of events in ONE grouped pass via
# GROUPING SETS over pre-computed time buckets. Catalyst expands the
# sets off a single shuffle of the (already minute-truncated) input —
# at 100 TB this replaces three separate scans with one, and the
# coarser resolutions aggregate O(minutes) rows, not raw events.
# Bucket keys are rendered as strings so the hash is tz-proof.
# ---------------------------------------------------------------------------

def multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucketed = ev.select(
        F.date_format(F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm").alias(
            "minute_b"
        ),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hour_b"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_b"),
        "value",
    )
    bucketed.createOrReplaceTempView("_mrr_bucketed")
    return spark.sql(
        """
        SELECT CASE WHEN minute_b IS NOT NULL THEN 'minute'
                    WHEN hour_b IS NOT NULL THEN 'hour'
                    ELSE 'day' END AS resolution,
               coalesce(minute_b, hour_b, day_b) AS bucket,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM _mrr_bucketed
        GROUP BY GROUPING SETS ((minute_b), (hour_b), (day_b))
        """
    )


MULTI_RESOLUTION_ROLLUP_SQL = """
WITH b AS (
  SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute_b,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour_b,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day_b,
         value
  FROM events
)
SELECT CASE WHEN minute_b IS NOT NULL THEN 'minute'
            WHEN hour_b IS NOT NULL THEN 'hour'
            ELSE 'day' END AS resolution,
       coalesce(minute_b, hour_b, day_b) AS bucket,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value
FROM b
GROUP BY GROUPING SETS ((minute_b), (hour_b), (day_b))
"""


# ---------------------------------------------------------------------------
# pareto_orders — 2-D skyline: orders not dominated on (earlier date,
# higher price). The naive formulation is an O(n²) dominance self-join;
# this is the linear-after-sort restatement, built as a two-level scan
# so no window ever collapses the fact table to one partition (a bare
# `Window.orderBy` would — Spark warns and serializes):
#   1. bucket days into coarse ranges; the strict-prev running max runs
#      per-bucket (partitionBy bucket → parallel);
#   2. per-bucket maxes (one row per bucket) get a prefix max over
#      earlier buckets — a tiny global window — broadcast-joined back;
#   3. max_prev = greatest(within-bucket prev, earlier-bucket prefix).
# Same-day dominance is a day-partitioned max. Zero self-joins; the
# only global window touches |buckets| rows — survives 100 TB where
# the anti-join skyline explodes quadratically.
# ---------------------------------------------------------------------------

_PARETO_BUCKET_DAYS = 256


def pareto_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.to_date("o_orderdate").alias("o_day"),
            "o_totalprice",
        )
        .withColumn(
            "day_n", F.datediff("o_day", F.lit("1970-01-01").cast("date"))
        )
        .withColumn("bucket", F.floor(F.col("day_n") / _PARETO_BUCKET_DAYS))
    )
    prev_in = (
        W.partitionBy("bucket")
        .orderBy("day_n")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    same = W.partitionBy("day_n")
    bmax = orders.groupBy("bucket").agg(F.max("o_totalprice").alias("bmax"))
    prefix = bmax.withColumn(
        "prev_bucket_max",
        F.max("bmax").over(W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)),
    ).select("bucket", "prev_bucket_max")
    flagged = (
        orders.withColumn("max_prev_in", F.max("o_totalprice").over(prev_in))
        .withColumn("max_same", F.max("o_totalprice").over(same))
        .join(F.broadcast(prefix), "bucket")
        .withColumn("max_prev", F.greatest("max_prev_in", "prev_bucket_max"))
    )
    return flagged.where(
        (F.col("max_prev").isNull() | (F.col("o_totalprice") > F.col("max_prev")))
        & (F.col("o_totalprice") >= F.col("max_same"))
    ).select("o_orderkey", "o_day", F.round("o_totalprice", 2).alias("price"))


PARETO_ORDERS_SQL = """
WITH days AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_day, o_totalprice,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_n
  FROM orders
), flagged AS (
  SELECT o_orderkey, o_day, o_totalprice,
         max(o_totalprice) OVER (ORDER BY day_n
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev,
         max(o_totalprice) OVER (PARTITION BY day_n) AS max_same
  FROM days
)
SELECT o_orderkey, o_day, round(o_totalprice, 2) AS price
FROM flagged
WHERE (max_prev IS NULL OR o_totalprice > max_prev)
  AND o_totalprice >= max_same
"""


# ---------------------------------------------------------------------------
# sliding_distinct_users — windowed COUNT DISTINCT: distinct users per
# 10-minute sliding window (5-min slide). The window assignment
# explodes each event into its ≤2 covering windows BEFORE the dedup,
# then (window, type, user) dedups and counts — exactly the shape a
# streaming distinct-aggregation state store maintains. Distinct
# shuffle carries (window, type, user) triples; at 100 TB the exact
# distinct swaps for approx_count_distinct or an HLL sketch per window
# (hll_sketch_users pattern) with the same assignment stage.
# ---------------------------------------------------------------------------


def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_aggregate(
        load_table(spark, sf_dir, "events"),
        [F.count_distinct("user_id").alias("n_users")],
        "10 minutes",
        "5 minutes",
    )


SLIDING_DISTINCT_USERS_SQL = """
WITH assigned AS (
  SELECT strftime(to_timestamp((floor(epoch(ts) / 300) - k.k) * 300)::TIMESTAMP,
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, user_id
  FROM events, unnest(range(0, 2)) AS k(k)
)
SELECT window_start, event_type, count(DISTINCT user_id) AS n_users
FROM assigned GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# windowed_p95_value — tail-latency-style windowed percentiles: exact
# p50/p95 of `value` per 5-minute tumbling window and type. The
# percentile aggregate is per-group (windows partition the data), so
# parallelism is O(windows × types); at 100 TB swap to
# approx_percentile sketches, which partial-aggregate map-side with the
# identical query shape (approx_quantile_check pins the error bound).
# ---------------------------------------------------------------------------


def windowed_p95_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_aggregate(
        load_table(spark, sf_dir, "events"),
        [
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        ],
        "5 minutes",
    )


WINDOWED_P95_VALUE_SQL = """
SELECT strftime(to_timestamp(floor(epoch(ts) / 300) * 300)::TIMESTAMP,
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# table_diff — snapshot reconciliation (CDC-style data diff): given two
# versions of the customer dimension, classify every key as
# added / removed / changed / unchanged with one full-outer join on the
# key, and aggregate per class. The second snapshot is synthesized
# in-query with deterministic arithmetic rules so the oracle constructs
# the identical pair. At 100 TB both snapshots co-partition on the key
# (bucketed tables make the join exchange-free — see
# bucketed_join_stats); the diff never materializes unchanged rows
# beyond the join itself.
# ---------------------------------------------------------------------------


def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    v1 = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    v2 = (
        v1.filter(F.col("c_custkey") % 97 != 0)  # deletes
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 10 == 3, F.round(F.col("c_acctbal") + 100.0, 2)
            ).otherwise(F.col("c_acctbal")),
        )  # updates
        .unionByName(
            v1.filter(F.col("c_custkey") % 200 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                "c_nationkey",
                "c_acctbal",
            )
        )  # inserts
    )
    a = v1.select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal_a")
    )
    b = v2.select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal_b")
    )
    classified = (
        a.join(b, "k", "full")
        .select(
            "k",
            F.when(F.col("bal_a").isNull(), "added")
            .when(F.col("bal_b").isNull(), "removed")
            .when(F.col("bal_a") != F.col("bal_b"), "changed")
            .otherwise("unchanged")
            .alias("change"),
            F.abs(F.coalesce("bal_b", F.lit(0.0)) - F.coalesce("bal_a", F.lit(0.0))).alias(
                "delta"
            ),
        )
    )
    return classified.groupBy("change").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.round(F.sum("delta"), 2).alias("total_abs_delta"),
    )


TABLE_DIFF_SQL = """
WITH v1 AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer),
v2 AS (
  SELECT c_custkey, c_nationkey,
         CASE WHEN c_custkey % 10 = 3 THEN round(c_acctbal + 100.0, 2)
              ELSE c_acctbal END AS c_acctbal
  FROM v1 WHERE c_custkey % 97 != 0
  UNION ALL
  SELECT c_custkey + 1000000, c_nationkey, c_acctbal
  FROM v1 WHERE c_custkey % 200 = 0
),
classified AS (
  SELECT COALESCE(a.c_custkey, b.c_custkey) AS k,
         CASE WHEN a.c_custkey IS NULL THEN 'added'
              WHEN b.c_custkey IS NULL THEN 'removed'
              WHEN a.c_acctbal != b.c_acctbal THEN 'changed'
              ELSE 'unchanged' END AS change,
         abs(COALESCE(b.c_acctbal, 0) - COALESCE(a.c_acctbal, 0)) AS delta
  FROM v1 a FULL JOIN v2 b ON a.c_custkey = b.c_custkey
)
SELECT change, count(*) AS n_keys, round(sum(delta), 2) AS total_abs_delta
FROM classified GROUP BY change
"""


# ---------------------------------------------------------------------------
# status_as_of — point-in-time (time-travel) lookup over the SCD-2
# history that order_status_runs builds: effective intervals are
# [run_start, next_run_start) via lead(), and the as-of date picks each
# customer's active run. Same single custkey shuffle as the run build
# (all three windows share the sort); the as-of filter reduces to
# O(customers) rows before the final count.
# ---------------------------------------------------------------------------

_AS_OF = "1996-06-15"


def status_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w_all = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_status = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderdate", "o_orderkey"
    )
    runs = (
        orders.select(
            "o_custkey",
            "o_orderstatus",
            "o_orderdate",
            (F.row_number().over(w_all) - F.row_number().over(w_status)).alias("grp"),
        )
        .groupBy("o_custkey", "o_orderstatus", "grp")
        .agg(F.min("o_orderdate").alias("run_start"))
    )
    w_runs = Window.partitionBy("o_custkey").orderBy("run_start", "o_orderstatus")
    eff = runs.withColumn("next_start", F.lead("run_start").over(w_runs))
    active = eff.filter(
        (F.col("run_start") <= _AS_OF)
        & (F.col("next_start").isNull() | (F.col("next_start") > _AS_OF))
    )
    return active.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_customers_at_date")
    )


STATUS_AS_OF_SQL = f"""
WITH runs AS (
  SELECT o_custkey, o_orderstatus, min(o_orderdate) AS run_start
  FROM (
    SELECT o_custkey, o_orderstatus, o_orderdate,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey)
         - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                              ORDER BY o_orderdate, o_orderkey) AS grp
    FROM orders
  ) t
  GROUP BY o_custkey, o_orderstatus, grp
),
eff AS (
  SELECT o_custkey, o_orderstatus, run_start,
         lead(run_start) OVER (PARTITION BY o_custkey ORDER BY run_start, o_orderstatus)
           AS next_start
  FROM runs
)
SELECT o_orderstatus, count(*) AS n_customers_at_date
FROM eff
WHERE run_start <= TIMESTAMP '{_AS_OF} 00:00:00'
  AND (next_start IS NULL OR next_start > TIMESTAMP '{_AS_OF} 00:00:00')
GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# status_pivot_multi — pivot with MULTIPLE aggregates per pivot value:
# Spark names the generated columns "{value}_{alias}", aliased here to
# the oracle's CASE-expression names. Same single hash-aggregate as the
# single-agg pivot (pivot compiles to conditional aggregation — no
# extra pass per aggregate or per value).
# ---------------------------------------------------------------------------


def status_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact-cents sum (functions/exact.py)
            F.round(F.sum(EX.cents("l_extendedprice")) / 100.0, 2).alias("rev"),
        )
        .withColumnsRenamed(
            {"F_n": "n_f", "F_rev": "rev_f", "O_n": "n_o", "O_rev": "rev_o"}
        )
    )


STATUS_PIVOT_MULTI_SQL = """
SELECT l_returnflag,
       count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
       round(CAST(sum(CASE WHEN l_linestatus = 'F'
                 THEN CAST(round(l_extendedprice * 100) AS BIGINT) END)
             AS BIGINT) / 100.0, 2) AS rev_f,
       count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o,
       round(CAST(sum(CASE WHEN l_linestatus = 'O'
                 THEN CAST(round(l_extendedprice * 100) AS BIGINT) END)
             AS BIGINT) / 100.0, 2) AS rev_o
FROM lineitem GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# customer_scd2_history — slowly-changing-dimension TYPE 2: instead of
# overwriting (customer_upsert is the SCD-1 twin), every change becomes
# a versioned row with a validity interval. Change events are the
# customer's order dates (each order "restates" the row); the history
# is built with one lead() window per customer — version number,
# effective/end dates (end = next effective, NULL while current), and
# the is_current flag. This is the warehouse-standard dimension-history
# build: one shuffle on the business key, intervals from lead(), no
# self-join — the formulation that survives a billion-row dimension.
# ---------------------------------------------------------------------------

def customer_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    changes = (
        orders.groupBy("o_custkey", "o_orderdate")
        .agg(F.round(F.sum(F.round(F.col("o_totalprice") * 100)).cast("long") / 100.0, 2).alias("restated_value"))
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate")
    hist = changes.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderdate").alias("eff_date"),
        "restated_value",
        F.row_number().over(w).alias("version"),
        F.lead("o_orderdate").over(w).alias("end_date"),
    ).withColumn("is_current", F.col("end_date").isNull())
    return (
        hist.join(F.broadcast(cust.select("c_custkey", "c_mktsegment").distinct()), "c_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_versions"),
            F.count_distinct("c_custkey").alias("n_customers"),
            F.sum(F.col("is_current").cast("long")).alias("n_current"),
            F.max("version").alias("max_depth"),
        )
    )


CUSTOMER_SCD2_HISTORY_SQL = """
WITH changes AS (
  SELECT o_custkey, o_orderdate,
         round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)
           AS restated_value
  FROM orders GROUP BY o_custkey, o_orderdate
), hist AS (
  SELECT o_custkey AS c_custkey, o_orderdate AS eff_date, restated_value,
         row_number() OVER w AS version,
         lead(o_orderdate) OVER w AS end_date
  FROM changes
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
)
SELECT c_mktsegment,
       count(*) AS n_versions,
       count(DISTINCT h.c_custkey) AS n_customers,
       CAST(sum(CASE WHEN end_date IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
       max(version) AS max_depth
FROM hist h JOIN customer c ON h.c_custkey = c.c_custkey
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# kfold_assignments — deterministic hash-based k-fold cross-validation
# assignment (the reproducible sibling of train_test_split's
# per-class ranked split): fold(key) = (key · 2654435761) mod 2³² mod K
# — Knuth's multiplicative hash, identical arithmetic in any engine,
# no RNG state to ship. Emits per-fold composition stats (the check a
# pipeline runs before trusting a split: near-equal sizes, disjoint
# customers spread, comparable value mass). Scale shape: a pure
# narrow projection (the hash is row-local) followed by one map-side-
# combined aggregate on K≤folds keys — no window, no sort; at 100 TB
# the fold column costs nothing and the aggregate output is K rows.
# The multiplier keeps key·2654435761 < 2⁶³ for keys < 3.5e9; TPC-H
# orderkeys at sf100k stay far below that.
# ---------------------------------------------------------------------------

KFOLDS = 5
_KNUTH_MULT = 2654435761


def kfold_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    fold = (F.col("o_orderkey") * F.lit(_KNUTH_MULT)) % F.lit(2**32) % F.lit(KFOLDS)
    return (
        orders.withColumn("fold", fold.cast("bigint"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            # exact-cents sum/avg (functions/exact.py)
            EX.sum_money("o_totalprice").alias("sum_price"),
            F.round(
                F.sum(EX.cents("o_totalprice")) / (100.0 * F.count(F.lit(1))), 4
            ).alias("avg_price"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
    )


KFOLD_ASSIGNMENTS_SQL = f"""
SELECT (o_orderkey * {_KNUTH_MULT}) % 4294967296 % {KFOLDS} AS fold,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       {EX.SQL_SUM_MONEY.format(c='o_totalprice', dp=2)} AS sum_price,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             / (100.0 * count(*)), 4) AS avg_price,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# reservoir_sample_per_source — EXACT-size per-stratum sampling at
# scale: keep the K documents with the smallest multiplicative-hash
# priority within each source (deterministic A-Res: fixed hash
# priorities replace the RNG, so the "reservoir" result is
# reproducible and engine-independent — the fixed-K complement of
# sampled_docs_per_source's fixed-RATE Bernoulli filter). Scale
# shape: one shuffle on source; row_number streams through each
# sorted partition, so per-stratum state is O(1) and output is
# K × n_sources rows no matter the corpus size. Skewed strata cost a
# sort, not memory; with millions of strata this is the textbook
# "top-K per key" window, AQE-splittable.
# ---------------------------------------------------------------------------

RESERVOIR_K = 25


def reservoir_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pri = (F.col("doc_id") * F.lit(_KNUTH_MULT)) % F.lit(2**32)
    w = W.partitionBy("source").orderBy(F.col("priority"), F.col("doc_id"))
    return (
        docs.select("source", "doc_id", "n_chars", pri.alias("priority"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= RESERVOIR_K)
        .select("source", "doc_id", "rank", "n_chars")
    )


RESERVOIR_SAMPLE_PER_SOURCE_SQL = f"""
SELECT source, doc_id, rank, n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY (doc_id * {_KNUTH_MULT}) % 4294967296, doc_id
         ) AS rank
  FROM documents
) WHERE rank <= {RESERVOIR_K}
"""


# ---------------------------------------------------------------------------
# bloom_fpr_eval — measured Bloom-filter pre-join pruning: build a
# 2^16-bit filter over the DISTINCT order custkeys (k=3 md5-derived
# positions per key — engine-reproducible, unlike Spark's internal
# bloom), probe every customer, and score the filter against the exact
# semi-join truth: true/false positives, measured FPR, and the
# (1−e^{−kn/m})^k theoretical rate beside it. This is the measurement
# behind Spark's own runtime bloom pruning (AQE injects the same shape
# into large joins): at 100 TB the filter build is one distinct-key
# aggregate and the probe is a broadcast-bitset map — here both sides
# are expressed relationally so the FPR claim is oracle-checkable.
# Probe passes = all k positions present: a grouped min over the key's
# positions, never a bitset UDF.
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 16
_BLOOM_K = 3


def _bloom_positions(col, prefix: int):
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{prefix}|"), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long") % _BLOOM_BITS


def bloom_fpr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One pass over the customer keys and the distinct order keys, each
    # expanded to its k positions. A position is set when an order key
    # has it; a customer passes when every one of its positions is set
    # (self-collisions included) and is a true member when it is an
    # order key too. Each set position is counted on its first row.
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.lit(0).alias("is_ord")
    )
    ok = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"), F.lit(1).alias("is_ord")
    ).distinct()
    by_pos = W.partitionBy("pos")
    positions = F.array(*[_bloom_positions(F.col("key"), j) for j in range(_BLOOM_K)])
    marked = (
        cust.unionByName(ok)
        .select("key", "is_ord", F.explode(positions).alias("pos"))
        .withColumn("set", F.max("is_ord").over(by_pos))
        .withColumn("first", F.row_number().over(by_pos.orderBy("key", "is_ord")) == 1)
    )
    per_key = marked.groupBy("key").agg(
        (F.min("is_ord") == 0).alias("is_cust"),
        (F.max("is_ord") == 1).alias("is_true"),
        (F.min("set") == 1).alias("passed"),
        F.count(F.when(F.col("first") & (F.col("set") == 1), 1)).alias("new_bits"),
    )

    def n_cust(cond):
        return F.sum(F.when(F.col("is_cust"), F.when(cond, 1).otherwise(0))).cast("long")

    counts = per_key.agg(
        F.count(F.when(F.col("is_cust"), 1)).alias("n_probe_keys"),
        n_cust(F.col("is_true")).alias("n_true_members"),
        n_cust(F.col("passed")).alias("n_passed"),
        n_cust(F.col("passed") & ~F.col("is_true")).alias("n_false_pos"),
        F.coalesce(F.sum("new_bits"), F.lit(0)).alias("n_bits_set"),
    )
    theory = F.pow(
        F.lit(1.0)
        - F.exp(
            F.lit(-float(_BLOOM_K))
            * F.col("n_true_members")
            / F.lit(float(_BLOOM_BITS))
        ),
        F.lit(float(_BLOOM_K)),
    )
    return counts.select(
        "n_probe_keys",
        "n_true_members",
        "n_passed",
        "n_false_pos",
        "n_bits_set",
        F.round(
            F.col("n_false_pos")
            / F.greatest(
                F.col("n_probe_keys") - F.col("n_true_members"), F.lit(1)
            ).cast("double"),
            6,
        ).alias("measured_fpr"),
        F.round(theory, 6).alias("theoretical_fpr"),
    )


BLOOM_FPR_EVAL_SQL = f"""
WITH ok AS (SELECT DISTINCT o_custkey FROM orders),
bits AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(CAST(j.p AS VARCHAR) || '|' ||
           CAST(o_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % {_BLOOM_BITS} AS pos
  FROM ok CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS p) j
), probe AS (
  SELECT c_custkey, CAST(('0x' || substr(md5(CAST(j.p AS VARCHAR) || '|' ||
           CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % {_BLOOM_BITS} AS pos
  FROM customer CROSS JOIN (SELECT unnest(range(0, {_BLOOM_K})) AS p) j
), own AS (
  SELECT c_custkey, count(DISTINCT pos) AS k_own FROM probe GROUP BY 1
), hits AS (
  SELECT c_custkey, count(DISTINCT probe.pos) AS k_hit
  FROM probe JOIN bits ON probe.pos = bits.pos
  GROUP BY 1
), passed AS (
  SELECT own.c_custkey
  FROM own LEFT JOIN hits ON own.c_custkey = hits.c_custkey
  WHERE coalesce(k_hit, 0) = k_own
), truth AS (
  SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM ok)
), m AS (
  SELECT (SELECT count(*) FROM customer) AS n_probe_keys,
         (SELECT count(*) FROM truth) AS n_true_members,
         (SELECT count(*) FROM passed) AS n_passed,
         (SELECT count(*) FROM passed
          WHERE c_custkey NOT IN (SELECT c_custkey FROM truth)) AS n_false_pos,
         (SELECT count(*) FROM bits) AS n_bits_set
)
SELECT n_probe_keys, n_true_members, n_passed, n_false_pos, n_bits_set,
       round(n_false_pos / CAST(greatest(n_probe_keys - n_true_members, 1)
                                AS DOUBLE), 6) AS measured_fpr,
       round(pow(1.0 - exp(-CAST({_BLOOM_K} AS DOUBLE) * n_true_members
                           / {_BLOOM_BITS}), {_BLOOM_K}), 6) AS theoretical_fpr
FROM m
"""


# ---------------------------------------------------------------------------
# zorder_layout_stats — measured Z-order (Morton curve) layout benefit,
# the locality argument behind Delta/Iceberg OPTIMIZE ZORDER BY: bucket
# orders into a 256x256 (custkey-bucket, date-bucket) grid, lay the
# rows out either linearly (by date bucket) or by interleaved-bit
# Z-value, split either layout into 256 equal row-count file chunks,
# and count how many chunks a custkey-range filter touches under each.
# Fewer touched chunks = more files pruned at scan time. Everything is
# integer arithmetic (bit interleave via div/mod — shared SQL builder
# in sources/writers.py), so the oracle agrees exactly.
#
# Scale: two rank windows over the fact table (the layout simulation;
# a real OPTIMIZE would sort-write instead) + one filtered distinct
# count per layout. The measurement query a table owner runs on a
# SAMPLE before paying for the full rewrite.
# ---------------------------------------------------------------------------

_Z_BITS = 8
_Z_CHUNKS = 256


def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    from map_reduce_engine_cdps_spark.sources.writers import z_interleave_sql

    orders = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("cb"),
        (F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 256).alias(
            "db"
        ),
        "o_orderkey",
    )
    z = F.expr(z_interleave_sql("cb", "db", _Z_BITS, intdiv="div"))
    d = orders.withColumn("z", z)
    n = table_rows(spark, sf_dir, "orders")
    chunk_rows = max(n // _Z_CHUNKS, 1)
    wl = W.orderBy("db", "o_orderkey")
    wz = W.orderBy("z", "o_orderkey")
    laid = d.select(
        "cb",
        ((F.row_number().over(wl) - 1) / chunk_rows)
        .cast("long")
        .alias("chunk_linear"),
        ((F.row_number().over(wz) - 1) / chunk_rows)
        .cast("long")
        .alias("chunk_z"),
    )
    hit = laid.filter((F.col("cb") >= 8) & (F.col("cb") <= 15))
    return hit.agg(
        F.count(F.lit(1)).alias("n_match_rows"),
        F.countDistinct("chunk_linear").alias("chunks_touched_linear"),
        F.countDistinct("chunk_z").alias("chunks_touched_zorder"),
        F.round(
            F.countDistinct("chunk_z")
            / F.countDistinct("chunk_linear").cast("double"),
            4,
        ).alias("zorder_chunk_ratio"),
    )


def _zorder_sql() -> str:
    from map_reduce_engine_cdps_spark.sources.writers import z_interleave_sql

    zi = z_interleave_sql("cb", "db", _Z_BITS)
    return f"""
WITH o AS (
  SELECT o_custkey % 256 AS cb,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 256
           AS db,
         o_orderkey
  FROM orders
), z AS (
  SELECT cb, db, o_orderkey, {zi} AS zv FROM o
), nn AS (
  SELECT greatest(count(*) // {_Z_CHUNKS}, 1) AS chunk_rows FROM z
), laid AS (
  SELECT cb,
         (row_number() OVER (ORDER BY db, o_orderkey) - 1)
           // chunk_rows AS chunk_linear,
         (row_number() OVER (ORDER BY zv, o_orderkey) - 1)
           // chunk_rows AS chunk_z
  FROM z, nn
)
SELECT CAST(count(*) AS BIGINT) AS n_match_rows,
       count(DISTINCT chunk_linear) AS chunks_touched_linear,
       count(DISTINCT chunk_z) AS chunks_touched_zorder,
       round(count(DISTINCT chunk_z)
             / CAST(count(DISTINCT chunk_linear) AS DOUBLE), 4)
         AS zorder_chunk_ratio
FROM laid WHERE cb BETWEEN 8 AND 15
"""


ZORDER_LAYOUT_STATS_SQL = _zorder_sql


# ---------------------------------------------------------------------------
# minmax_file_skipping_eval — zone-map (per-file min/max) skipping, the
# mechanism behind parquet row-group pruning and Iceberg/Delta manifest
# min-max filtering, measured across three write-layout policies for a
# shipdate range predicate: `time_sorted` (one file per shipdate month —
# what a time-partitioned writer produces; tight zone maps),
# `key_clustered` (files by order key — zone maps span the full date
# range), and `scattered` (md5-hash file assignment — the worst case a
# shuffle-then-write produces). Complements zorder_layout_stats (2-D
# Morton locality for chunk-touch counts) on the single-axis zone-map
# side: `scan_fraction` is the fraction of rows a min/max-pruning scan
# still reads under each policy, i.e. the measured answer to "is the
# sort-before-write worth it?".
#
# Scale: two distributed hash aggregations ((layout, file) then layout),
# no windows, no global sort — the simulation assigns file ids with
# per-row arithmetic (month, modulo, md5 bucket: engine-identical), so
# the plan is a single scan + explode(3) + groupBy. At 100 TB you run
# this on the real file-footer stats instead; the decision query is the
# same two-level rollup.
# ---------------------------------------------------------------------------

_SKIP_N_FILES = 64
_SKIP_LO = "1998-06-01"
_SKIP_HI = "1998-09-01"


def minmax_file_skipping_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    scat_key = F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber"))
    laid = li.select(
        "l_shipdate",
        F.explode(
            F.array(
                F.struct(
                    F.lit("key_clustered").alias("layout"),
                    (F.col("l_orderkey") % _SKIP_N_FILES)
                    .cast("long")
                    .alias("file_id"),
                ),
                F.struct(
                    F.lit("scattered").alias("layout"),
                    (
                        F.conv(F.substring(F.md5(scat_key), 1, 15), 16, 10)
                        .cast("long")
                        % _SKIP_N_FILES
                    ).alias("file_id"),
                ),
                F.struct(
                    F.lit("time_sorted").alias("layout"),
                    (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
                    .cast("long")
                    .alias("file_id"),
                ),
            )
        ).alias("f"),
    ).select("l_shipdate", F.col("f.layout").alias("layout"), F.col("f.file_id").alias("file_id"))
    lo = F.lit(_SKIP_LO).cast("timestamp")
    hi = F.lit(_SKIP_HI).cast("timestamp")
    in_pred = (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    files = laid.groupBy("layout", "file_id").agg(
        F.min("l_shipdate").alias("mn"),
        F.max("l_shipdate").alias("mx"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(in_pred, 1).otherwise(0)).alias("n_match"),
    )
    kept = ~((F.col("mx") < lo) | (F.col("mn") >= hi))
    kept_rows = F.sum(F.when(kept, F.col("n")).otherwise(0))
    return (
        files.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum(F.when(kept, 1).otherwise(0))
            .cast("long")
            .alias("files_kept"),
            kept_rows.cast("long").alias("rows_in_kept_files"),
            F.sum("n_match").cast("long").alias("match_rows"),
            F.round(kept_rows / F.sum("n").cast("double"), 4).alias(
                "scan_fraction"
            ),
        )
        .orderBy("layout")
    )


MINMAX_FILE_SKIPPING_EVAL_SQL = f"""
WITH base AS (
  SELECT l_shipdate,
         l_orderkey % {_SKIP_N_FILES} AS f_key,
         CAST(('0x' || substr(md5(l_orderkey || '|' || l_linenumber), 1, 15))
              AS BIGINT) % {_SKIP_N_FILES} AS f_scat,
         CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS f_time
  FROM lineitem
), laid AS (
  SELECT 'key_clustered' AS layout, f_key AS file_id, l_shipdate FROM base
  UNION ALL SELECT 'scattered', f_scat, l_shipdate FROM base
  UNION ALL SELECT 'time_sorted', f_time, l_shipdate FROM base
), files AS (
  SELECT layout, file_id,
         min(l_shipdate) AS mn, max(l_shipdate) AS mx, count(*) AS n,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '{_SKIP_LO}'
                   AND l_shipdate < TIMESTAMP '{_SKIP_HI}'
                  THEN 1 ELSE 0 END) AS n_match
  FROM laid GROUP BY layout, file_id
)
SELECT layout,
       count(*) AS files_total,
       CAST(sum(CASE WHEN NOT (mx < TIMESTAMP '{_SKIP_LO}'
                            OR mn >= TIMESTAMP '{_SKIP_HI}')
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_kept,
       CAST(sum(CASE WHEN NOT (mx < TIMESTAMP '{_SKIP_LO}'
                            OR mn >= TIMESTAMP '{_SKIP_HI}')
                     THEN n ELSE 0 END) AS BIGINT) AS rows_in_kept_files,
       CAST(sum(n_match) AS BIGINT) AS match_rows,
       round(sum(CASE WHEN NOT (mx < TIMESTAMP '{_SKIP_LO}'
                             OR mn >= TIMESTAMP '{_SKIP_HI}')
                      THEN n ELSE 0 END)
             / CAST(sum(n) AS DOUBLE), 4) AS scan_fraction
FROM files GROUP BY layout ORDER BY layout
"""


# ---------------------------------------------------------------------------
# compaction_plan_eval — the small-files compaction planner (round-12,
# VERDICT r11 item 3): minmax_file_skipping_eval answers "is
# sort-before-write worth it?"; this answers "how many files does the
# nightly compactor merge, and into what?". The simulated file
# population is the one a 16-task writer produces on a month-
# partitioned orders sink — file = (order month, md5-bucket(orderkey) %
# 16), bytes = rows x 128 (uniform row-size estimate; at scale the real
# footer sizes slot in) — i.e. the classic small-files pathology: every
# writer task touches every month. The plan is Spark's own file-
# coalescing rule: within each month partition, files concatenated in
# file_id order and cut at the 4 KiB target via a cumulative-size
# window, bin = floor(bytes_before / target). Reported per month:
# files before, how many were under target (the small-files count the
# compactor exists for), planned files after, the largest planned bin,
# and total bytes — the whole compaction job sizing in one table.
#
# Scale: one scan, one map-side-combinable hash aggregate to (month,
# file) grain, then ALL downstream work is O(files), never O(rows); the
# packing window partitions by month (<= 16 rows per partition — the
# per-partition file list a real manifest scan yields), so there is no
# global window and no global sort; output grain is O(months). At
# 100 TB you feed the same plan the Iceberg/Delta manifest file list
# instead of simulating it — the window + two rollups are unchanged.
# All columns are exact integers (bytes, counts): no float anywhere.
# ---------------------------------------------------------------------------

_COMPACT_N_WRITERS = 16
_COMPACT_ROW_BYTES = 128
_COMPACT_TARGET_BYTES = 4096


def compaction_plan_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    writer = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % _COMPACT_N_WRITERS
    )
    files = (
        o.select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("month"),
            writer.alias("file_id"),
        )
        .groupBy("month", "file_id")
        .agg((F.count(F.lit(1)) * _COMPACT_ROW_BYTES).alias("bytes"))
    )
    w = (
        W.partitionBy("month")
        .orderBy("file_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = files.select(
        "month",
        "bytes",
        F.floor(
            F.coalesce(F.sum("bytes").over(w), F.lit(0))
            / _COMPACT_TARGET_BYTES
        ).alias("bin"),
    )
    per_bin = packed.groupBy("month", "bin").agg(
        F.sum("bytes").alias("bin_bytes"),
        F.count(F.lit(1)).alias("nf"),
        F.sum(
            F.when(F.col("bytes") < _COMPACT_TARGET_BYTES, 1).otherwise(0)
        ).alias("nsmall"),
    )
    return (
        per_bin.groupBy("month")
        .agg(
            F.sum("nf").cast("long").alias("files_before"),
            F.sum("nsmall").cast("long").alias("small_files_before"),
            F.count(F.lit(1)).alias("files_after"),
            F.max("bin_bytes").cast("long").alias("max_bin_bytes"),
            F.sum("bin_bytes").cast("long").alias("bytes_total"),
        )
        .orderBy("month")
    )


COMPACTION_PLAN_EVAL_SQL = f"""
WITH files AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
           AS month,
         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
              AS BIGINT) % {_COMPACT_N_WRITERS} AS file_id,
         count(*) * {_COMPACT_ROW_BYTES} AS bytes
  FROM orders GROUP BY 1, 2
), packed AS (
  SELECT month, bytes,
         CAST(floor(coalesce(sum(bytes) OVER (
             PARTITION BY month ORDER BY file_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / {_COMPACT_TARGET_BYTES}) AS BIGINT) AS bin
  FROM files
), per_bin AS (
  SELECT month, bin, sum(bytes) AS bin_bytes, count(*) AS nf,
         sum(CASE WHEN bytes < {_COMPACT_TARGET_BYTES} THEN 1 ELSE 0 END)
           AS nsmall
  FROM packed GROUP BY 1, 2
)
SELECT month,
       CAST(sum(nf) AS BIGINT) AS files_before,
       CAST(sum(nsmall) AS BIGINT) AS small_files_before,
       count(*) AS files_after,
       CAST(max(bin_bytes) AS BIGINT) AS max_bin_bytes,
       CAST(sum(bin_bytes) AS BIGINT) AS bytes_total
FROM per_bin GROUP BY month ORDER BY month
"""


# ---------------------------------------------------------------------------
# aqp_sample_accuracy — approximate query processing, honestly scored:
# a deterministic 1/8 hash sample of lineitem (first md5 nibble of the
# order key < '2' — engine-reproducible, and ORDER-level so line items
# of one order stay together, the correct cluster-sampling unit)
# answers the per-returnflag count and revenue-sum questions at 8x
# scale-up, and the query reports the relative error against the exact
# answers it would replace. The decision artifact for "can the daily
# dashboard run on the sample?" — at 100 TB the sample is what you
# materialize. Counts and cent-sums are exact integers; one division
# per error column.
# ---------------------------------------------------------------------------


def aqp_sample_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    in_sample = (
        F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 1) < "2"
    )
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum("cents").alias("sum_exact"),
        F.sum(F.when(in_sample, 1).otherwise(0)).cast("long").alias("n_samp"),
        F.sum(F.when(in_sample, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("sum_samp"),
    )
    return agg.select(
        "l_returnflag",
        "n_exact",
        (F.col("n_samp") * 8).alias("n_est"),
        F.round(
            F.abs(F.col("n_samp") * 8 - F.col("n_exact"))
            / F.col("n_exact").cast("double"),
            4,
        ).alias("count_rel_err"),
        F.round(
            F.abs(F.col("sum_samp") * 8 - F.col("sum_exact"))
            / F.col("sum_exact").cast("double"),
            4,
        ).alias("sum_rel_err"),
    )


AQP_SAMPLE_ACCURACY_SQL = """
WITH li AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 1) < '2' AS in_samp
  FROM lineitem
), agg AS (
  SELECT l_returnflag,
         count(*) AS n_exact,
         CAST(sum(cents) AS BIGINT) AS sum_exact,
         CAST(sum(CASE WHEN in_samp THEN 1 ELSE 0 END) AS BIGINT) AS n_samp,
         CAST(sum(CASE WHEN in_samp THEN cents ELSE 0 END) AS BIGINT)
           AS sum_samp
  FROM li GROUP BY l_returnflag
)
SELECT l_returnflag, n_exact,
       CAST(n_samp * 8 AS BIGINT) AS n_est,
       round(abs(n_samp * 8 - n_exact) / CAST(n_exact AS DOUBLE), 4)
         AS count_rel_err,
       round(abs(sum_samp * 8 - sum_exact) / CAST(sum_exact AS DOUBLE), 4)
         AS sum_rel_err
FROM agg
"""


# ---------------------------------------------------------------------------
# max_concurrent_sessions — peak session concurrency via the sweep-line
# pattern, distributed: every session contributes a +1 delta at its
# start and a -1 at its end; concurrency is the running sum over the
# time-ordered delta stream. A naive running sum is a single-partition
# window over ALL deltas — the classic scale trap — so this uses the
# two-level distributed prefix sum: per-day partial sums roll up to
# O(days) day-start offsets (one bounded window over the calendar),
# and the within-day running sums are partitioned by day. Starts sort
# before ends at the same instant (inclusive overlap), so max(run) is
# invariant to tie order among equal keys. The reference engine has no
# interval operator at all; this is the standard infra/capacity query
# (peak concurrent users) expressed shuffle-minimally.
# ---------------------------------------------------------------------------

def _session_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_idx, start_ts, end_ts) of the user_sessions
    sessions."""
    sess = sessionized(load_table(spark, sf_dir, "events"))
    return sess.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts")
    )


def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Each session is read once, as its two deltas; both levels below
    # read the deltas, and share the sessions' aggregate exchange.
    deltas = _session_intervals(spark, sf_dir).select(
        "user_id",
        "session_idx",
        F.inline(
            F.array(
                F.struct(F.col("start_ts").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("end_ts").alias("t"), F.lit(-1).alias("d")),
            )
        ),
    )
    deltas = deltas.withColumn("day", F.to_date("t"))
    # level 1: per-day totals -> day-start offsets (O(days) window); the
    # session count rides along as the total of the starts
    day_offsets = (
        deltas.groupBy("day")
        .agg(
            F.sum("d").alias("day_sum"),
            F.count(F.when(F.col("d") == 1, 1)).alias("day_starts"),
        )
        .select(
            "day",
            F.coalesce(
                F.sum("day_sum").over(
                    W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("offset"),
            F.sum("day_starts").over(W.partitionBy()).alias("n_sessions"),
        )
    )
    # level 2: within-day running sum, starts before ends at equal t
    wday = W.partitionBy("day").orderBy(
        "t", F.desc("d"), "user_id", "session_idx"
    )
    runs = (
        deltas.join(F.broadcast(day_offsets), "day")
        .withColumn(
            "run",
            F.col("offset")
            + F.sum("d").over(wday.rowsBetween(W.unboundedPreceding, 0)),
        )
    )
    # the highest run, and the earliest instant it is reached
    peak = runs.agg(
        F.max(F.struct("run", (-F.unix_micros("t")).alias("neg_t"))).alias("p"),
        F.max("n_sessions").alias("n_sessions"),
    )
    return peak.select(
        F.coalesce("n_sessions", F.lit(0)).alias("n_sessions"),
        F.col("p.run").alias("max_concurrent"),
        F.unix_timestamp(F.timestamp_micros(-F.col("p.neg_t"))).alias("peak_epoch"),
    )


MAX_CONCURRENT_SESSIONS_SQL = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(date_trunc('second', ts))
                 - epoch(date_trunc('second', lag(ts) OVER w)) > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_idx
  FROM g
), iv AS (
  SELECT user_id, session_idx, min(ts) AS start_ts, max(ts) AS end_ts
  FROM s GROUP BY user_id, session_idx
), deltas AS (
  SELECT start_ts AS t, 1 AS d, user_id, session_idx FROM iv
  UNION ALL
  SELECT end_ts AS t, -1 AS d, user_id, session_idx FROM iv
), runs AS (
  SELECT t, CAST(sum(d) OVER (ORDER BY t, d DESC, user_id, session_idx
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run
  FROM deltas
), mc AS (SELECT max(run) AS mc FROM runs)
SELECT (SELECT count(*) FROM iv) AS n_sessions,
       max(mc) AS max_concurrent,
       CAST(epoch(date_trunc('second', min(t))) AS BIGINT) AS peak_epoch
FROM runs, mc WHERE run = mc
"""


# ---------------------------------------------------------------------------
# frequent_event_subsequences — gap-tolerant sequential-pattern support
# (the SPAM/PrefixSpan counting problem, Agrawal & Srikant ICDE'95):
# for every ordered type triple (a,b,c), in how many users' event
# streams does a→b→c occur as a SUBSEQUENCE (any gaps)? Unlike
# event_type_trigrams (contiguous windows), containment here uses the
# order-statistics identity: a→b→c exists iff some b-occurrence falls
# strictly between the user's first a and last c. Occurrences are
# ordered by timestamp with STRICT inequalities, so ties at the same
# instant don't chain (a defined semantic both engines share). That
# turns an
# exponential subsequence scan into events ⋈ per-user-type min/max —
# a join whose fan-out is a constant |types|² per event row, linear at
# any scale; the distinct collapses to O(users · |types|³).
# ---------------------------------------------------------------------------

def frequent_event_subsequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    mm = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    a = mm.select("user_id", F.col("event_type").alias("a"), F.col("mn").alias("a_mn"))
    c = mm.select("user_id", F.col("event_type").alias("c"), F.col("mx").alias("c_mx"))
    b = ev.select("user_id", F.col("event_type").alias("b"), "ts")
    trip = (
        b.join(a, "user_id")
        .filter(F.col("ts") > F.col("a_mn"))
        .join(c, "user_id")
        .filter(F.col("ts") < F.col("c_mx"))
        .select("user_id", "a", "b", "c")
        .distinct()
    )
    return trip.groupBy("a", "b", "c").agg(
        F.count(F.lit(1)).alias("support")
    )


FREQUENT_EVENT_SUBSEQUENCES_SQL = """
WITH mm AS (
  SELECT user_id, event_type, min(ts) AS mn, max(ts) AS mx
  FROM events GROUP BY user_id, event_type
), trip AS (
  SELECT DISTINCT b.user_id, a.event_type AS a, b.event_type AS b,
         c.event_type AS c
  FROM events b
  JOIN mm a ON a.user_id = b.user_id AND b.ts > a.mn
  JOIN mm c ON c.user_id = b.user_id AND b.ts < c.mx
)
SELECT a, b, c, count(*) AS support
FROM trip GROUP BY a, b, c
"""
