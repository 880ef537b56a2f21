"""Custom stateful streaming operator: per-user sessionization via
``applyInPandasWithState`` (the API the reference has no analogue for —
its engine is strictly batch with one barrier, reference
engine/worker.py:131-134; this is the declared streaming extension).

The operator keeps (n_sessions, last_seen_us, n_events) per user in the
state store and increments the session count whenever a gap exceeds
30 minutes. It is oracle-checked: the stream's final per-user counts
must equal the batch lag-window sessionization (the same SQL DuckDB
runs), so streaming ≡ batch ≡ oracle.

Scale: state is O(distinct users) × 24 bytes, partitioned by the
grouping key across executors' state stores; each microbatch touches
only the users present in it. The 100 TB caveat is event-time order —
this operator assumes per-user batches arrive time-ordered (true for
the file-replay here; a production deployment adds a watermark and
sorts within the microbatch, which the implementation does per-group).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from map_reduce_engine_cdps_spark.streaming.windows import (
    _drain,
    stream_events_from_parquet,
)

SESSION_GAP_US = 30 * 60 * 1_000_000

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_sessions", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _sessionize(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n_sessions, last_us, n_events = (
        state.get if state.exists else (0, None, 0)
    )
    # One group can arrive as several Arrow chunks — event-time order
    # must be established across ALL of them, not per chunk. Per-user
    # groups are bounded (events per user, not corpus size), so the
    # concat is safe.
    chunks = [pdf["ts"].astype("int64") for pdf in pdfs]
    if chunks:
        us = pd.concat(chunks).sort_values() // 1000
        for t in us:
            if last_us is None or t - last_us > SESSION_GAP_US:
                n_sessions += 1
            last_us = int(t)
            n_events += 1
    state.update((n_sessions, last_us, n_events))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_sessions": [n_sessions],
            "n_events": [n_events],
        }
    )


def stateful_user_sessions(stream: DataFrame) -> DataFrame:
    """events stream → per-user running (n_sessions, n_events)."""
    return (
        stream.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry. Counts are per-user monotone, so the latest state
    emission per user is its max — collapsing multi-microbatch replays
    to the same final answer the batch SQL computes."""
    sink = _drain(
        stateful_user_sessions(stream_events_from_parquet(spark, sf_dir)),
        "stateful_sessions_out",
        "update",
    )
    return sink.groupBy("user_id").agg(
        F.max("n_sessions").alias("n_sessions"),
        F.max("n_events").alias("n_events"),
    )


STREAMING_USER_SESSIONS_SQL = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM o GROUP BY user_id
"""
