"""Materialized state kept between jobs: session memos and fixpoint loops.

Every front one query builds and others reuse goes through :func:`memo`;
every iterative loop (connected components, k-core, k-truss,
label propagation, BFS) goes through :func:`fixpoint`. What they no
longer need is freed at once (:func:`releasing`) instead of on GC:
``Dataset.unpersist`` is a no-op on a ``localCheckpoint``, whose blocks
belong to the RDD under the checkpoint's ``LogicalRDD``.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation, SparkSession

# (app id, build, sf_dir, args, plan confs) -> (input stamp, checkpoint, its RDD id)
_MEMOS: dict = {}

# confs a memo's physical shape depends on: a memo built with adaptive
# execution off keeps every shuffle partition of its plan
_PLAN_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def _checkpoint_rdd(df: DataFrame):
    plan = df._jdf.queryExecution().analyzed()
    return plan.rdd() if plan.nodeName() == "LogicalRDD" else None


def _release(df: DataFrame) -> None:
    rdd = _checkpoint_rdd(df)
    if rdd is not None:
        rdd.unpersist(False)
    else:
        df.unpersist()


@contextmanager
def releasing(*dfs: DataFrame) -> Iterator[None]:
    """Free the persisted or checkpointed ``dfs`` however the block exits."""
    try:
        yield
    finally:
        for df in dfs:
            _release(df)


def _stamp(sf_dir: str, tables: tuple[str, ...]) -> tuple:
    """(path, size, mtime_ns) of every local file behind ``tables``."""
    out = []
    for t in tables:
        root = os.path.join(sf_dir, f"{t}.parquet")
        walked = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs]
        for p in sorted(walked) or [root]:
            if os.path.exists(p):
                st = os.stat(p)
                out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(out)


def memo(
    build: Callable[..., DataFrame], tables: tuple[str, ...]
) -> Callable[..., DataFrame]:
    """``build(spark, sf_dir, *args)`` as a memo: checkpointed once per
    Spark application, value of the ``_PLAN_CONFS``, ``sf_dir`` and
    ``args``, and shared by every later call.

    A hit rebuilds when the files of ``tables`` under ``sf_dir`` changed
    size or mtime, or when the checkpoint's blocks were dropped (its RDD
    is no longer registered as persistent). A replaced checkpoint is
    left to the ContextCleaner, so DataFrames derived from it stay
    readable.
    """

    def cached(spark: SparkSession, sf_dir: str, *args: Hashable) -> DataFrame:
        confs = tuple(spark.conf.get(k) for k in _PLAN_CONFS)
        key = (spark.sparkContext.applicationId, build, sf_dir, args, confs)
        stamp = _stamp(sf_dir, tables)
        hit = _MEMOS.get(key)
        if (
            hit is not None
            and hit[0] == stamp
            and spark.sparkContext._jsc.sc().getPersistentRDDs().contains(hit[2])
        ):
            return hit[1]
        df = build(spark, sf_dir, *args)
        if _checkpoint_rdd(df) is None:
            df = _checkpoint(df)
        _MEMOS[key] = (stamp, df, _checkpoint_rdd(df).id())
        return df

    return cached


def _checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``. The checkpoint's RDD is
    registered as persistent before its job runs; when the job fails,
    every RDD the call left registered is unpersisted before the error
    propagates."""
    jsc = df.sparkSession.sparkContext._jsc
    first = jsc.sc().newRddId()  # RDD ids only grow
    try:
        return df.localCheckpoint(eager=True)
    except BaseException:
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id > first:
                rdd.unpersist(False)
        raise


def fixpoint(
    state0: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    signature: tuple[Column, ...],
    max_rounds: int,
) -> tuple[DataFrame, bool]:
    """``state = step(state)`` until the aggregates ``signature`` read
    the same on two consecutive states, or ``max_rounds`` rounds ran;
    returns ``(state, converged)``. An empty ``signature`` runs exactly
    ``max_rounds`` rounds.

    Every round is one job: the step's output, with ``signature``
    attached as an ``Observation``, is localCheckpointed eagerly, and
    the checkpoint's own job delivers the observed values. The previous
    state is released once its successor exists. With a signature,
    ``state0`` is checkpointed the same way first. The loop owns
    ``state0`` and, on an exception, every state it holds; the caller
    owns the returned state.
    """

    def _observed(df: DataFrame) -> tuple[DataFrame, dict | None]:
        if not signature:
            return _checkpoint(df), None
        obs = Observation()
        return _checkpoint(df.observe(obs, *signature)), obs.get

    state, nxt = state0, None
    try:
        prev = None
        if signature:
            nxt, prev = _observed(state)
            _release(state)
            state, nxt = nxt, None
        for _ in range(max_rounds):
            nxt, sig = _observed(step(state))
            _release(state)
            state, nxt = nxt, None
            if signature and sig == prev:
                return state, True
            prev = sig
        return state, False
    except BaseException:
        for df in (state, nxt):
            if df is not None:
                _release(df)
        raise
