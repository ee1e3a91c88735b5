"""Partition spreading and the caller-owned cache scope.

Cache contract: an operator that reads a frame more than once wraps it
in :func:`scoped`; the frame lives until the caller's innermost
:func:`cache_scope` exits (one ``with`` per unit of work, its result
consumed inside).  Outside any scope ``scoped`` is a plain ``persist()``
the caller frees with ``spark.catalog.clearCache()``, Spark's own
contract (localCheckpoint-backed frames are left to the ContextCleaner).
Other per-call leftovers (scratch directories, catalog tables) are
released the same way through :func:`on_scope_exit`."""

from __future__ import annotations

import contextlib
import contextvars
from typing import Callable, Iterator

from pyspark.sql import Column, DataFrame

# (frames, exit callbacks) of the innermost open scope
_SCOPE: contextvars.ContextVar = contextvars.ContextVar("cache_scope", default=None)


def one_window_partition() -> Column:
    """Constant partition key for metadata-scale single-partition windows
    that, unlike ``F.lit(0)``, is not folded away to an empty spec."""
    from pyspark.sql import functions as F

    return F.pmod(F.spark_partition_id(), F.lit(1))


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin `df` to the session parallelism iff it has fewer
    partitions; an already parallel scan passes through, no shuffle."""
    par = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


@contextlib.contextmanager
def cache_scope() -> Iterator[list[DataFrame]]:
    """Own the frames :func:`scoped` registers while this is the innermost
    scope (the yielded list); at exit free checkpoint-backed ones with
    :func:`free_checkpoint`, unpersist the rest without blocking, then
    run the :func:`on_scope_exit` callbacks, last registered first.
    The scope is a ``ContextVar``: one per thread and per nested ``with``."""
    frames: list[DataFrame] = []
    exits: list[Callable[[], object]] = []
    token = _SCOPE.set((frames, exits))
    try:
        yield frames
    finally:
        _SCOPE.reset(token)
        for df in frames:
            try:
                if not free_checkpoint(df):
                    df.unpersist(blocking=False)
            except Exception:
                pass  # session may be stopped/replaced; nothing to free
        for fn in reversed(exits):
            try:
                fn()
            except Exception:
                pass  # same: a stopped session has nothing left to drop


def on_scope_exit(fn: Callable[[], object]) -> bool:
    """Run ``fn`` when the innermost open scope exits; False (and ``fn``
    not registered) outside any scope."""
    scope = _SCOPE.get()
    if scope is not None:
        scope[1].append(fn)
    return scope is not None


def scoped(df: DataFrame) -> DataFrame:
    """Cache `df` until the innermost open scope exits; return it.  An
    already cached frame stays its owner's; a checkpoint is only registered."""
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        return df
    if _checkpoint_rdd(df) is None:
        df = df.persist()
    scope = _SCOPE.get()
    if scope is not None:
        scope[0].append(df)
    return df


def memo_result_invalidate(prefix: str) -> None:
    """No-op.  The engine keeps no cross-call result memo; this name and
    :func:`memo_result_hit_count` stay only because ``perfbench/``
    imports them, until the next benchmark change drops that import.
    Nothing else may call either."""


def memo_result_hit_count() -> int:
    """Always 0 — see :func:`memo_result_invalidate`."""
    return 0


def _checkpoint_rdd(df: DataFrame):
    plan = df._jdf.queryExecution().analyzed()
    ckpt = plan.getClass().getName() == "org.apache.spark.sql.execution.LogicalRDD"
    return plan.rdd() if ckpt else None


def free_checkpoint(df: DataFrame) -> bool:
    """Unpersist the RDD behind a localCheckpoint-backed frame now
    (``DataFrame.unpersist()`` is a silent no-op for one); it cannot be
    recomputed afterwards.  False when `df` is not checkpoint-backed."""
    try:
        rdd = _checkpoint_rdd(df)
        if rdd is not None:
            rdd.unpersist(True)
        return rdd is not None
    except Exception:
        return False
