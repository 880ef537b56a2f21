"""Structured Streaming wing (SURVEY.md §2.8/§7 step 8 — the reference
is strictly batch; this is the declared extension).

One transform, two execution modes: ``windowed_aggregate`` (event-time
window, plus a watermark when its input is a stream) serves both the
four batch oracle-checked window queries (plans/relational.py:tumbling_window_counts
and three more) and four ``readStream`` pipelines here. Every stream here
runs file source → ``_drain`` (memory sink, availableNow trigger). Tests
assert each streaming twin equals its batch query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_engine_cdps_spark.sources.readers import events_ts, load_table

DRAIN_TIMEOUT_S = 120


def windowed_aggregate(events: DataFrame, aggs: list[Column], window: str,
                       slide: str | None = None, key: str = "event_type") -> DataFrame:
    """``aggs`` per (event-time window, ``key``), tumbling or sliding by
    ``slide``. A stream gets a 10-minute late-data watermark. The window
    start is rendered as a string (the DuckDB oracles strftime the same
    format), so the hash is timezone-representation-proof."""
    if events.isStreaming:
        events = events.withWatermark("ts", "10 minutes")
    out = events.groupBy(F.window("ts", window, slide).alias("win"), F.col(key)).agg(*aggs)
    return out.select(
        F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        *out.columns[1:],
    )


def _drain(out: DataFrame, name: str, mode: str) -> DataFrame:
    """Run the stream ``out`` to completion (availableNow) into the
    memory sink ``name`` and return the sink's contents. Raises if the
    stream has not finished within DRAIN_TIMEOUT_S; the query is stopped
    either way."""
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            raise RuntimeError(f"stream {name} unfinished after {DRAIN_TIMEOUT_S} s")
    finally:
        q.stop()
    return out.sparkSession.table(name)


def stream_events_from_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over ``sf_dir``'s single-file events table (the
    glob filter keeps the other tables out), schema pinned from the batch
    read, ts normalized by the batch path's ``events_ts``."""
    batch = load_table(spark, sf_dir, "events")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = events_ts(
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    assert stream.schema == batch.schema
    return stream


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful exact-dedup: ``dropDuplicates`` over the
    (user_id, event_type) key — the streaming twin of batch DISTINCT,
    backed by the state store. Emits exactly the distinct key set, so it
    oracle-checks against plain ``SELECT DISTINCT``. At scale the state
    store is partitioned by the dedup key (one shuffle), and a real
    deployment bounds state with ``dropDuplicatesWithinWatermark``; the
    finite availableNow run here needs no eviction.
    """
    stream = stream_events_from_parquet(spark, sf_dir)
    out = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return _drain(out, "streaming_dedup_out", "append")


STREAMING_DEDUP_EVENTS_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def streaming_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the static
    customer dimension (broadcast — re-resolved per micro-batch, never
    shuffled against the stream), then windowed counts per market
    segment. The canonical streaming-ETL enrichment shape; at scale the
    static side refreshes via Delta/parquet re-read while the stream
    only ever shuffles on the aggregate keys.
    Oracle: the identical join + bucketed agg in batch SQL.
    """
    cust = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    out = windowed_aggregate(
        stream_events_from_parquet(spark, sf_dir).join(F.broadcast(cust), "user_id"),
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
        "15 minutes",
        key="c_mktsegment",
    )
    return _drain(out, "streaming_segment_counts_out", "complete")


STREAMING_SEGMENT_COUNTS_SQL = """
SELECT strftime(to_timestamp(floor(epoch(ts) / 900) * 900)::TIMESTAMP,
                '%Y-%m-%d %H:%M:%S') AS window_start,
       c_mktsegment, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the real Structured Streaming path (file source →
    watermark → tumbling window → memory sink, availableNow trigger).
    Oracle-checked against the SAME DuckDB SQL as the batch twin
    (plans/relational.py:TUMBLING_WINDOW_COUNTS_SQL) — the streaming and
    batch plans must agree exactly."""
    out = windowed_aggregate(
        stream_events_from_parquet(spark, sf_dir),
        [F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")],
        "5 minutes",
    )
    return _drain(out, "streaming_window_counts_out", "complete")


def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks: clicks joined to the
    purchases of the same user within ±1 h of event time — the streaming
    twin of the batch bucketed range join
    (plans/relational.py:click_purchase_within_1h), oracle-checked
    against the SAME DuckDB SQL, so the two execution models must agree
    pair-for-pair.

    Scale shape: both sides are keyed on user_id (one shuffle each into
    the join state store); the symmetric time-range predicate plus the
    watermark bound state retention to ~2 h of events per side. Without
    the time condition a stream-stream join would accumulate unbounded
    state — the range predicate is what makes it a streaming-legal join.
    """
    clicks = (
        stream_events_from_parquet(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        stream_events_from_parquet(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            p_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts + INTERVAL 1 HOUR
            """
        ),
        "inner",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.round(
            (F.unix_micros("p_ts") - F.unix_micros("c_ts")) / 1e6, 2
        ).alias("gap_s"),
    )
    return _drain(joined, "streaming_cp_join_out", "append")


def streaming_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed COUNT DISTINCT: watermark → sliding windows →
    exact distinct users per (window, type). Streaming aggregations
    reject COUNT(DISTINCT ...) directly; the canonical exact
    formulation keeps the per-window user set as aggregation state
    (collect_set) and emits its size — which is also the honest cost
    model: state is O(windows × types × users-in-window), exactly why
    the batch twin documents the HLL-sketch swap at 100 TB. Oracle:
    the SAME DuckDB SQL as the batch twin
    (plans/relational.py:SLIDING_DISTINCT_USERS_SQL), so both
    execution models must agree window-for-window."""
    out = windowed_aggregate(
        stream_events_from_parquet(spark, sf_dir),
        [F.size(F.collect_set("user_id")).alias("n_users")],
        "10 minutes",
        "5 minutes",
    )
    return _drain(out, "streaming_sliding_distinct_out", "complete")


def streaming_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k: per tumbling hour, the 3 most frequent event
    types. The aggregation runs as a REAL stream (watermark + windowed
    count, complete mode into a memory sink); the rank is applied on
    the sink read — ranking over a streaming aggregate isn't allowed in
    one query, and sink-side ranking is the standard production shape
    (the dashboard query over the continuously-maintained agg table).
    Oracle-checked against the equivalent batch SQL.

    Scale: streaming state is O(open windows × event types); the rank
    runs over the compact agg output, never the event stream.
    """
    from pyspark.sql import Window as W

    agg = windowed_aggregate(
        stream_events_from_parquet(spark, sf_dir), [F.count(F.lit(1)).alias("n")], "1 hour"
    )
    sink = _drain(agg, "trending_topk_agg", "complete")
    w = W.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        sink.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("window_start", "event_type", "n", "rank")
    )


STREAMING_TRENDING_TOPK_SQL = """
WITH agg AS (
  SELECT strftime(to_timestamp(floor(epoch(ts) / 3600) * 3600)::TIMESTAMP,
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n DESC, event_type ASC) AS rank
  FROM agg
)
SELECT window_start, event_type, n, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""
