"""Read per-job executor metrics out of a Spark event log.

The log must be written uncompressed and non-rolling
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``)
so that it is one JSON object per line. Jobs are attributed to the job
group that was set when they were submitted; the benchmark sets one
group per (query, pass, phase).
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from dataclasses import dataclass, field

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
# Physical nodes that hand rows to Python workers (Arrow/pandas UDFs,
# grouped maps, Python UDTFs).
_PY_NODE = re.compile(r"Python|Pandas|InArrow")
# Python-worker SQL metrics, by the display name Spark gives them.
PY_METRICS = {
    "time to run Python workers": "run_ms",
    "time to start Python workers": "start_ms",
    "data sent to Python workers": "sent_bytes",
    "data returned from Python workers": "returned_bytes",
}


@dataclass
class GroupStats:
    """Totals over every job submitted under one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    input_bytes: float = 0.0
    python: dict[str, float] = field(default_factory=dict)


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    if _PY_NODE.search(node.get("nodeName", "")):
        for m in node.get("metrics", []):
            key = PY_METRICS.get(m.get("name"))
            if key is not None:
                out[m["accumulatorId"]] = key
    for child in node.get("children", []):
        _plan_metrics(child, out)


def parse(path: str) -> dict[str, GroupStats]:
    """Job-group id -> totals, for every group that submitted a job."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    py_accum: dict[int, str] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                groups[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group is not None:
                    groups[group].stages += 1
            elif kind in (_SQL_START, _SQL_AQE):
                _plan_metrics(ev.get("sparkPlanInfo", {}), py_accum)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                g = groups[group]
                g.tasks += 1
                tm = ev.get("Task Metrics") or {}
                g.executor_run_ms += tm.get("Executor Run Time", 0)
                g.executor_cpu_ns += tm.get("Executor CPU Time", 0)
                g.gc_ms += tm.get("JVM GC Time", 0)
                g.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                g.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    key = py_accum.get(acc.get("ID"))
                    if key is not None:
                        g.python[key] = g.python.get(key, 0.0) + float(
                            acc.get("Update") or 0
                        )
    return dict(groups)
