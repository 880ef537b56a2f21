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

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

# (app id, build, sf_dir, args) -> (input stamp, checkpoint, its RDD id)
_MEMOS: dict = {}


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
    """``build(spark, sf_dir, *args)`` as a memo: localCheckpointed once
    per Spark application, ``sf_dir`` and ``args``, and shared by every
    later call.

    A hit rebuilds when the files of ``tables`` under ``sf_dir`` changed
    size or mtime, or when the checkpoint's blocks were dropped (its RDD
    is no longer registered as persistent). ``refresh=True`` rebuilds
    unconditionally (write-through). A replaced checkpoint is left to
    the ContextCleaner, so DataFrames derived from it stay readable.
    """

    def cached(
        spark: SparkSession, sf_dir: str, *args: Hashable, refresh: bool = False
    ) -> DataFrame:
        key = (spark.sparkContext.applicationId, build, sf_dir, args)
        stamp = _stamp(sf_dir, tables)
        hit = _MEMOS.get(key)
        if (
            hit is not None
            and not refresh
            and hit[0] == stamp
            and spark.sparkContext._jsc.sc().getPersistentRDDs().contains(hit[2])
        ):
            return hit[1]
        df = build(spark, sf_dir, *args)
        if _checkpoint_rdd(df) is None:
            df = df.localCheckpoint(eager=True)
        _MEMOS[key] = (stamp, df, _checkpoint_rdd(df).id())
        return df

    return cached


def fixpoint(
    state0: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    signature: Callable[[DataFrame], Hashable] | None,
    max_rounds: int,
    checkpoint_every: int | None = None,
) -> tuple[DataFrame, bool]:
    """``state = step(state)`` until ``signature(state)`` repeats or
    ``max_rounds`` rounds ran; returns ``(state, converged)``.

    Round r's state is localCheckpointed when ``checkpoint_every``
    divides r, else persisted MEMORY_AND_DISK, and is materialized (by
    the checkpoint or the ``signature`` action) before the previous
    state is released. ``signature=None`` runs all ``max_rounds`` rounds
    and needs ``checkpoint_every=1``. The loop owns ``state0`` and, on
    an exception, every state it holds; the caller owns the returned
    state.
    """
    if signature is None and checkpoint_every != 1:
        raise ValueError("rounds without a signature must checkpoint every round")
    state, nxt = state0, None
    try:
        prev = signature(state) if signature else None
        for rnd in range(1, max_rounds + 1):
            nxt = step(state)
            if checkpoint_every and rnd % checkpoint_every == 0:
                nxt = nxt.localCheckpoint(eager=True)
            else:
                nxt = nxt.persist(StorageLevel.MEMORY_AND_DISK)
            sig = signature(nxt) if signature else None
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
