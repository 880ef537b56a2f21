"""Skew operators (operators/skew.py): the salted physical rewrites
must be semantically identical to their plain counterparts on a
synthetic heavy-tailed key distribution (one key holds ~90% of rows —
the shape the reference's fixed-worker routing creates, reference
tasks/accident_analysis.py:90-104)."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.operators.skew import salted_agg, salted_join
from tools import plan_inspect as P


def _skewed_df(spark):
    # 900 rows of key 'hot', 100 spread over 10 cold keys
    rows = [("hot", float(i % 37)) for i in range(900)] + [
        (f"cold{i % 10}", float(i)) for i in range(100)
    ]
    return spark.createDataFrame(rows, "k string, v double").repartition(8)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_join_matches_plain_join(spark):
    left = _skewed_df(spark)
    right = spark.createDataFrame(
        [("hot", 1.0)] + [(f"cold{i}", float(i)) for i in range(10)],
        "k string, w double",
    )
    plain = left.join(right, "k").select("k", "v", "w")
    salted = salted_join(left, right, on="k").select("k", "v", "w")
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salted_join_right_rows_not_duplicated(spark):
    left = _skewed_df(spark)
    right = spark.createDataFrame([("hot", 1.0)], "k string, w double")
    out = salted_join(left, right, on="k", n_salt=16)
    assert out.count() == 900  # one output row per matching left row


def test_salted_agg_matches_plain_agg(spark):
    df = _skewed_df(spark)
    plain = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    salted = salted_agg(
        df,
        keys=["k"],
        aggs={
            "n": F.count(F.lit(1)),
            "s": F.sum("v"),
            "lo": F.min("v"),
            "hi": F.max("v"),
        },
        n_salt=16,
    )
    assert _sorted_rows(salted.select("k", "n", "s", "lo", "hi")) == _sorted_rows(
        plain.select("k", "n", "s", "lo", "hi")
    )


def test_salted_agg_spreads_hot_key(spark):
    """The partial phase must actually split the hot key: with n_salt=8
    the intermediate groupBy(k, salt) for 'hot' has >1 partial group."""
    df = _skewed_df(spark)
    salted = df.withColumn(
        "_salt",
        F.pmod(
            F.hash(
                F.spark_partition_id() * F.lit(2654435761)
                + F.monotonically_increasing_id()
            ),
            F.lit(8),
        ),
    )
    n_partials = (
        salted.filter(F.col("k") == "hot").select("_salt").distinct().count()
    )
    assert n_partials > 1


def test_aqe_skew_join_split_engages(spark):
    """SCALE.md's standing claim is that AQE skew-join bounds hot-key
    damage without manual salting. Lock it: a sort-merge join whose
    left side is one giant key must come out of AQE with the skewed
    partition split (the SortMergeJoin node is marked skew=true).
    Thresholds are lowered to make a ~MB-scale hot key count as skewed;
    the mechanism is identical at TB scale."""
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    with P.conf(spark, tuned):
        left = spark.range(0, 200_000).select(
            (F.col("id") % 1000 * (F.col("id") % 1000 > 900).cast("bigint"))
            .alias("k")  # >90% of rows land on k=0
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("tag")
        )
        # collect() (not count()) so j's OWN adaptive plan executes and
        # finalizes — count() compiles a separate query execution
        j = left.join(right, "k").select("k")
        assert len(j.collect()) == 200_000
        plan = P.physical(j)
    assert "skew=true" in plan, plan[:2000]
