"""Session factory defaults (`session.py`)."""

from __future__ import annotations

import os
import sys

import pyspark.errors.utils as errors_utils

from map_reduce_engine_cdps_spark.plans.registry import get_query
from map_reduce_engine_cdps_spark.session import _driver_mem, _mem_total_kb, _session_conf

DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def test_building_a_query_captures_no_python_call_site(spark, sf_dir, monkeypatch):
    assert spark.conf.get(DEBUGGING) == "false"
    calls = []
    capture = errors_utils._capture_call_site
    monkeypatch.setattr(errors_utils, "_capture_call_site",
                        lambda depth: calls.append(depth) or capture(depth))
    get_query("text_quality")(spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert calls == []
    # the first captured call site imports IPython into the driver
    assert "IPython" not in sys.modules


def test_extra_conf_overrides_the_defaults():
    assert _session_conf(8, "1g")[DEBUGGING] == "false"
    conf = _session_conf(8, "1g", {DEBUGGING: "true", "spark.driver.memory": "2g"})
    assert conf[DEBUGGING] == "true"
    assert conf["spark.driver.memory"] == "2g"
    assert conf["spark.sql.shuffle.partitions"] == "8"


def test_default_driver_heap_is_half_the_host_up_to_16g():
    assert _driver_mem(16_479_424) == "8046m"  # a 16 GB host
    assert _driver_mem(8 * 1024 * 1024) == "4096m"
    assert _driver_mem(32 * 1024 * 1024) == "16384m"
    assert _driver_mem(None) == "16384m"  # MemTotal unreadable


def test_session_driver_heap_is_the_env_override_or_the_host_default(spark):
    expected = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_mem(_mem_total_kb())
    assert spark.conf.get("spark.driver.memory") == expected
