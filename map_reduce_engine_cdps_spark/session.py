"""SparkSession factory.

Scale-minded defaults: AQE on (runtime re-plan, skew-join splitting,
partition coalescing), Arrow on (vectorized pandas-UDF transfer),
UTC session timezone (deterministic timestamp semantics vs the DuckDB
oracle). Shuffle partitions default to the local core count rather than
200 — on a real cluster this would be sized to ~2-3× total cores /
target ~128 MB shuffle blocks; AQE coalesces down from there.

PySpark's DataFrame debugging (`spark.python.sql.dataFrameDebugging.enabled`)
is off: with it on, every `Column` method and `F.*` call walks the Python
stack, makes py4j round trips and tries to import IPython, and its first
call loads IPython into the driver. Without it, building the 27 headline
queries at sf0.1 took 15% less time on 4 cores, and the driver's Python
process holds about 20 MB less.

The default driver heap is the lower of 16g and half the host's memory,
so a local session on a small host cannot grow past what the host has.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_MB = 16 * 1024


def _driver_mem(mem_total_kb: int | None) -> str:
    """Default `spark.driver.memory`: the lower of 16g and half of
    MemTotal (kB, as in /proc/meminfo); 16g when MemTotal is unknown."""
    if not mem_total_kb:
        return f"{_MAX_DRIVER_MB}m"
    return f"{min(_MAX_DRIVER_MB, mem_total_kb // 2048)}m"


def _mem_total_kb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:  # no /proc (not Linux)
        pass
    return None


def _session_conf(
    shuffle_partitions: int,
    driver_mem: str,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The session's Spark conf; `extra_conf` overrides any default."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": driver_mem,
        "spark.ui.enabled": "false",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # bucketed saveAsTable targets (keep scratch tables out of the repo)
        "spark.sql.warehouse.dir": "/tmp/spark_graft_warehouse",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        **(extra_conf or {}),
    }


def get_spark(
    app_name: str = "map_reduce_engine_cdps_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Local mode is for tests/bench only; every default below is chosen
    to also be correct on a 1000-executor cluster (AQE does the
    runtime sizing; nothing here pins plans to local assumptions).

    `SPARK_GRAFT_DRIVER_MEM` overrides the default driver heap.

    DataFrame debugging is off, so a Spark error's "== DataFrame =="
    context no longer names the Python call site that built the failing
    expression. To get it back, pass
    `extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}`.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_mem(_mem_total_kb())

    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in _session_conf(shuffle_partitions, driver_mem, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
