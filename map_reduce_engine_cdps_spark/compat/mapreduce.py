"""Compatibility shim for the reference's 4-hook MapReduce programming
model (reference README.md:38-62; engine/worker.py:70-187), on Spark RDDs.

A user of the reference writes ``init_func`` / ``map_func`` /
``shuffle_func`` / ``reduce_func`` and submits them as source text over
HTTP (reference engine/master.py:41-74). Here the same four hooks are
ordinary Python callables — Spark's closure serialization replaces the
reference's exec-a-source-string surface (deliberately NOT reproduced;
it is arbitrary code execution by design, SURVEY.md §3.2).

Semantics reproduced exactly (property-tested against an in-process
simulation, tests/test_compat_mapreduce.py):

- **Multicast partitioner** (reference engine/worker.py:93-99): the
  user's ``shuffle_func(key) -> list[int]`` may route one key to
  SEVERAL partitions, each target taken ``% num_partitions``. Spark's
  Partitioner is one-target-per-key, so multicast is done by key
  replication (flatMap to (target, (k, v)) pairs) before
  ``partitionBy`` — SURVEY.md §1.4.
- **Partition-id-visible reduce** (reference engine/worker.py:154-158):
  ``reduce_func(grouped_items, worker_id)`` receives the partition
  index via ``mapPartitionsWithIndex``.
- **Default reduce = identity materialize** (reference
  engine/worker.py:157-158): emits ``(k, values)`` pairs.
- **Grouping preserves within-partition arrival order** (reference
  engine/worker.py:145-152 builds a dict of lists in scan order).

NOT reproduced (documented divergences): the JSON tuple→list decay of
the reference's HTTP shuffle (SURVEY.md §1.2 — values round-trip
unchanged here), and the one-task-at-a-time global mutable state
(reference engine/worker.py:60-65).
"""

from __future__ import annotations

import zlib
from collections.abc import Callable, Iterable
from typing import Any

from pyspark import RDD, SparkContext
from pyspark.sql import DataFrame, SparkSession

Pair = tuple[Any, Any]
MapFunc = Callable[[list[Any], int], list[Pair]]
ShuffleFunc = Callable[[Any], list[int]]
ReduceFunc = Callable[[Iterable[tuple[Any, list[Any]]], int], list[Any]]
InitFunc = Callable[[int], Any]


def _arity(fn: Callable) -> int:
    import inspect

    try:
        return len(inspect.signature(fn).parameters)
    except (TypeError, ValueError):
        return 2


def default_shuffle(key: Any) -> list[int]:
    """Deterministic single-target partitioner: crc32 of the key's
    string form. (Python's builtin ``hash`` is per-process salted for
    strings, so it would break reproducibility across executors.)
    """
    return [zlib.crc32(str(key).encode("utf-8"))]


def simulate_locally(
    pairs: list[Pair],
    num_partitions: int,
    shuffle_func: ShuffleFunc | None = None,
    reduce_func: ReduceFunc | None = None,
) -> dict[int, list[Any]]:
    """Single-process executable spec of the reference's shuffle→group→
    reduce pipeline (engine/worker.py:93-158), used as the property-test
    oracle: bucket each pair into every ``target % n`` partition, group
    by key in arrival order, then reduce with the partition id.
    """
    sf = shuffle_func or default_shuffle
    buckets: dict[int, list[Pair]] = {i: [] for i in range(num_partitions)}
    for k, v in pairs:
        # One append per listed target, duplicates included — the
        # reference does not dedup targets (engine/worker.py:95-99).
        for t in sf(k):
            buckets[t % num_partitions].append((k, v))
    out: dict[int, list[Any]] = {}
    for pid, bucket in buckets.items():
        grouped: dict[Any, list[Any]] = {}
        for k, v in bucket:
            grouped.setdefault(k, []).append(v)
        if reduce_func is not None:
            out[pid] = list(reduce_func(list(grouped.items()), pid))
        else:
            out[pid] = [(k, vs) for k, vs in grouped.items()]
    return out


def run_task(
    spark: SparkSession,
    input_data: RDD | DataFrame | list[Any],
    map_func: MapFunc,
    shuffle_func: ShuffleFunc | None = None,
    reduce_func: ReduceFunc | None = None,
    init_func: InitFunc | None = None,
    num_partitions: int | None = None,
) -> RDD:
    """Run a reference-style 4-hook task; returns the RDD of reduce
    outputs (the union of all partitions' results ≅ the master's
    ``GET /results/{task_id}`` gather, reference engine/master.py:107-124).

    ``input_data`` replaces the reference's per-worker ``DATA_DIR``: an
    RDD / DataFrame / local list whose elements are handed to
    ``map_func(items, worker_id)`` per partition. ``init_func`` runs
    once on the driver (its return value is broadcast and passed as an
    optional third argument to ``map_func``/``reduce_func`` if they
    accept it) — the Spark-native restatement of the reference's
    per-worker INIT stage computing identical global state everywhere
    (reference engine/worker.py:78-80; tasks/plants_classifier.py:183-187).
    """
    sc: SparkContext = spark.sparkContext
    if isinstance(input_data, DataFrame):
        rdd = input_data.rdd
    elif isinstance(input_data, RDD):
        rdd = input_data
    else:
        rdd = sc.parallelize(input_data, num_partitions or sc.defaultParallelism)
    n = num_partitions or rdd.getNumPartitions()
    rdd = rdd.repartition(n) if rdd.getNumPartitions() != n else rdd

    state = init_func(0) if init_func is not None else None
    state_bc = sc.broadcast(state)
    sf = shuffle_func or default_shuffle
    # Arity inspected up front (a runtime try/except TypeError would
    # mask TypeErrors raised inside the user hook).
    map_takes_state = _arity(map_func) >= 3
    reduce_takes_state = reduce_func is not None and _arity(reduce_func) >= 3

    def _map(pid: int, items: Iterable[Any]) -> Iterable[Pair]:
        batch = list(items)
        if map_takes_state:
            return map_func(batch, pid, state_bc.value)  # type: ignore[call-arg]
        return map_func(batch, pid)

    mapped = rdd.mapPartitionsWithIndex(_map, preservesPartitioning=False)

    # Multicast shuffle: replicate each pair once per listed target —
    # duplicate targets intentionally duplicate the pair, matching the
    # reference's bucket loop exactly (engine/worker.py:95-99).
    def _replicate(kv: Pair) -> Iterable[tuple[int, Pair]]:
        k, v = kv
        for t in sf(k):
            yield (t % n, (k, v))

    partitioned = (
        mapped.flatMap(_replicate)
        .partitionBy(n, partitionFunc=lambda target: target)
        .map(lambda tkv: tkv[1], preservesPartitioning=True)
    )

    def _group_reduce(pid: int, items: Iterable[Pair]) -> Iterable[Any]:
        grouped: dict[Any, list[Any]] = {}
        for k, v in items:
            grouped.setdefault(k, []).append(v)
        if reduce_func is None:
            return iter([(k, vs) for k, vs in grouped.items()])
        if reduce_takes_state:
            return iter(reduce_func(list(grouped.items()), pid, state_bc.value))  # type: ignore[call-arg]
        return iter(reduce_func(list(grouped.items()), pid))

    return partitioned.mapPartitionsWithIndex(_group_reduce)
