"""Partition-spreading helper for narrow per-row pipelines.

The local testdata tables are single-row-group parquet files — Spark
cannot split a row group, so every scan arrives as ONE partition and
all per-row expression work (tokenize, quality features, fixed-point
signatures) serializes onto one core.  The fix must not damage the
100 TB plan: an UNCONDITIONAL ``repartition(par)`` is a full shuffle
of the corpus, which a cluster scan (thousands of input splits)
neither needs nor forgives.

``spread`` repartitions ONLY when the frame has fewer partitions than
the session's parallelism — i.e. it round-robins the pathological
small-scan case and is a no-op exactly when the scan is already
parallel.  The partition check reads the planned RDD's partition
count (plan analysis, no job)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def one_window_partition() -> Column:
    """A constant, NON-FOLDABLE partition key for window frames that
    are legitimately single-partition (metadata-scale: per-partition
    offsets, post-limit k rows, B resample means).

    ``partitionBy(F.lit(0))`` does NOT silence the WindowExec "No
    Partition Defined" warning: the optimizer constant-folds the
    literal out of the partition spec, leaving it empty again (measured
    round 8 — the r6 lit(0) sites all still warned).  ``pmod(
    spark_partition_id(), 1)`` is 0 for every row but opaque to
    constant folding, so the spec stays non-empty: same single-task
    placement, no warning masking real ones during verify runs."""
    from pyspark.sql import functions as F

    return F.pmod(F.spark_partition_id(), F.lit(1))


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin `df` to the session parallelism iff it currently has
    fewer partitions — narrow pipelines over few-partition scans
    otherwise serialize on one core; already-parallel inputs pass
    through untouched (no shuffle)."""
    par = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


_PERSISTED_LATEST: dict[str, DataFrame] = {}


def persist_latest(key: str, df: DataFrame) -> DataFrame:
    """``persist()`` for a frame the current call reads more than once
    (fan-out), with bounded growth: drops the PREVIOUS frame cached
    under ``key`` first, so repeated invocations of an operator hold at
    most one cached copy per session.  A later call never reads the
    earlier call's frame — every call persists the frame it builds and
    computes from its own input.  Plain per-call persists
    accumulate in Spark's CacheManager until explicitly unpersisted —
    the round-3 review measured them as a slow storage-memory leak in
    a long-lived session running the catalog repeatedly.

    Single-driver assumption: the registry is keyed by ``key`` alone
    (process-global).  Two interleaved catalog runs — or threads —
    sharing a key would unpersist a frame the other run still reads;
    that frame silently reverts to recompute-per-action (correct, just
    uncached).  The verify/bench flow is one driver, one run at a
    time, so this is the intended trade; key by session id if that
    ever changes."""
    prev = _PERSISTED_LATEST.pop(key, None)
    if prev is not None:
        try:
            # non-blocking: round 5's drift attribution measured the
            # synchronous executor-sync of blocking=True at ~0.1-0.2 s
            # PER CALL on the rank-machinery queries — a fixed tax on
            # every hot-path invocation to make a diagnostics counter
            # deterministic.  Async release frees the entry within
            # milliseconds; tests that count getPersistentRDDs() poll
            # until the count settles (tests/test_cache_bounded.py)
            # instead of taxing production calls.
            prev.unpersist(blocking=False)
        except Exception:
            pass  # session may be stopped/replaced; nothing to free
    _PERSISTED_LATEST[key] = df
    return df.persist()


_RETIRED_LATEST: dict[str, DataFrame] = {}


def retire_latest(key: str, df: DataFrame) -> DataFrame:
    """Register ``df`` as the latest LONG-LIVED result frame under
    ``key``, freeing the previous call's frame — `persist_latest`'s
    bounded-growth contract extended to frames that may be
    localCheckpoint-backed (where ``unpersist()`` is a silent no-op;
    see :func:`free_checkpoint`).

    Used for iterative operators' RETURNED frames: the final
    labels/ranks must stay persisted until the caller consumes them,
    so the operator can't free them itself — instead the NEXT call
    retires them.  Same single-driver assumption as `persist_latest`,
    with a sharper edge: a checkpoint-backed previous result cannot be
    recomputed, so re-collecting a stale handle after the next call
    raises instead of recomputing.  The verify/bench flow consumes each
    result immediately; this is the intended trade."""
    prev = _RETIRED_LATEST.pop(key, None)
    if prev is not None:
        try:
            if not free_checkpoint(prev):
                prev.unpersist(blocking=True)
        except Exception:
            pass  # session may be stopped/replaced; nothing to free
    _RETIRED_LATEST[key] = df
    return df


def memo_result_invalidate(prefix: str) -> None:
    """No-op.  The engine keeps no cross-call result memo; this name and
    :func:`memo_result_hit_count` stay only because ``perfbench/``
    imports them, until the next benchmark change drops that import.
    Nothing else may call either."""


def memo_result_hit_count() -> int:
    """Always 0 — see :func:`memo_result_invalidate`."""
    return 0


def retire_prefix(prefix: str) -> None:
    """Free EVERY retired frame whose key starts with ``prefix`` — the
    function-entry form of :func:`retire_latest` for operators that pin
    several checkpoint frames per run (one per CHECKPOINT_EVERY
    rounds).  Freeing at the NEXT call's entry instead of mid-run
    keeps two invariants the mid-run single-key form broke (round-4
    advice): (a) persisted per-iteration frames whose lineage is
    rooted at an earlier checkpoint stay recomputable for the whole
    run, and (b) the frame returned to the caller — possibly
    checkpoint-backed — stays valid until the operator is invoked
    again (that next-call invalidation is the documented contract)."""
    for key in [k for k in _RETIRED_LATEST if k.startswith(prefix)]:
        prev = _RETIRED_LATEST.pop(key)
        try:
            if not free_checkpoint(prev):
                prev.unpersist(blocking=True)
        except Exception:
            pass  # session may be stopped/replaced; nothing to free


def free_checkpoint(df: DataFrame) -> bool:
    """Explicitly unpersist the RDD behind a ``localCheckpoint``-backed
    frame.  ``DataFrame.unpersist()`` is a SILENT NO-OP for checkpointed
    frames — they are RDD-level persists, invisible to the SQL
    CacheManager — so iterative operators that "unpersist" a superseded
    checkpoint actually leave it pinned until the ContextCleaner GCs the
    JVM-side reference.  This reaches the LogicalRDD's stored RDD and
    frees it NOW.

    DANGER: a locally-checkpointed RDD has truncated lineage — it
    CANNOT be recomputed after unpersisting, so only call this on a
    frame that has been fully superseded (its successor materialized)
    and will never be read again.  Returns False (no-op) when ``df`` is
    not directly checkpoint-backed."""
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        if analyzed.getClass().getName() != (
            "org.apache.spark.sql.execution.LogicalRDD"
        ):
            return False
        analyzed.rdd().unpersist(True)
        return True
    except Exception:
        return False
