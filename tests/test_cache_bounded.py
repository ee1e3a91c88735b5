"""CacheManager boundedness: repeated catalog runs must not grow the
set of persisted RDDs.

Round 3 measured the leak class this pins: a bare per-call
``.persist()`` inside an operator leaves one CacheManager entry per
invocation for the life of the session (entries are NOT GC-cleaned).
Every shared-scan persist in the engine now routes through
``functions.partitioning.persist_latest``, which unpersists the
previous frame under the same key — so running the same operators
twice must end with exactly as many persisted RDDs as running them
once (at most one cached frame per persist_latest key).
"""

from __future__ import annotations

import pytest

from lab3_spark.queries_catalog import QUERIES

# Every operator family the round-3 verdict named as leaking (ngram
# jaccard's shingle frame, global row numbers, PageRank) plus the HLL
# double-scan fix — each exercised through its public catalog query.
_PERSISTING_QUERIES = [
    "dedup_ngram_jaccard",
    "order_total_deciles",
    "pagerank_candidates",
    "events_hll_daily_merge",
    # iterative localCheckpoint bookkeeping (free_checkpoint path)
    "dedup_clusters",
    # round-4 memo sites: surprisal frame (2 consumers), DSIR weights,
    # robust-zscore quality frame, triangle edge frame, the prefix-sum
    # ranged frame, and the cluster-representatives candidate frame
    # (which also walks BOTH iterative checkpointers in one query)
    "doc_ppl_buckets",
    "doc_dsir_weights",
    "robust_quality_zscore",
    "dedup_graph_triangles",
    "token_budget_select",
    "dedup_cluster_representatives",
]


def _run_all(spark, sf_dir) -> None:
    for name in _PERSISTING_QUERIES:
        QUERIES[name](spark, sf_dir).collect()


def test_persistent_rdds_bounded_across_repeat_runs(
    spark, sf_dir, settled_persistent_rdds
):
    _run_all(spark, sf_dir)
    after_first = settled_persistent_rdds()
    _run_all(spark, sf_dir)
    after_second = settled_persistent_rdds()
    # Second pass replaces, never accumulates: persist_latest holds at
    # most one frame per key, so the count must not grow.
    assert after_second <= after_first, (
        f"CacheManager grew across identical runs: {after_first} -> "
        f"{after_second} persisted RDDs (a bare .persist() leaked)"
    )


def test_no_bare_persist_outside_managed_sites():
    """Structural guard: every ``.persist()`` in lab3_spark is either
    persist_latest's own call or paired with an explicit unpersist in
    the same module (components.py's iterative bookkeeping)."""
    import os

    import lab3_spark

    root = os.path.dirname(lab3_spark.__file__)
    allowed = {
        # persist_latest implementation itself
        os.path.join("functions", "partitioning.py"),
    }
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            if ".persist()" in src and rel not in allowed:
                offenders.append(rel)
    assert not offenders, (
        f"bare .persist() outside managed sites: {offenders}; route "
        "through functions.partitioning.persist_latest"
    )


def test_memo_persist_hits_same_plan_replaces_different(spark):
    """Same analyzed plan → the registered frame comes back (object
    identity — zero recompute); a different plan under the same key →
    replaced, and the registry still holds exactly one entry."""
    from lab3_spark.functions.partitioning import (
        _PERSISTED_LATEST,
        memo_persist,
    )

    a1 = spark.range(100).selectExpr("id", "id * 2 AS x")
    m1 = memo_persist("test.memo", a1)
    m1.count()
    a2 = spark.range(100).selectExpr("id", "id * 2 AS x")  # same plan
    m2 = memo_persist("test.memo", a2)
    assert m2 is m1  # hit: the registered frame itself
    b = spark.range(50).selectExpr("id", "id * 3 AS x")  # different plan
    m3 = memo_persist("test.memo", b)
    assert m3 is not m1
    assert _PERSISTED_LATEST["test.memo"] is m3
    assert m3.count() == 50
    m3.unpersist()
    del _PERSISTED_LATEST["test.memo"]


def test_memo_result_hit_and_invalidate(spark):
    """memo_result returns the SAME frame for a sameResult-equal
    input without re-running the build, rebuilds on a different
    input, and drops entries on prefix invalidation."""
    from lab3_spark.functions.partitioning import (
        memo_result,
        memo_result_invalidate,
    )

    calls = {"n": 0}

    def build(df):
        def _b():
            calls["n"] += 1
            return df.selectExpr("id * 2 AS twice")
        return _b

    a = spark.range(10)
    r1 = memo_result("test.memo_result.x", a, build(a))
    r2 = memo_result("test.memo_result.x", spark.range(10), build(a))
    assert calls["n"] == 1  # second call memo-hit on an equal plan
    assert r2 is r1
    b = spark.range(20)  # different input -> rebuild
    memo_result("test.memo_result.x", b, build(b))
    assert calls["n"] == 2
    memo_result_invalidate("test.memo_result.")
    memo_result("test.memo_result.x", b, build(b))
    assert calls["n"] == 3  # invalidation forced the rebuild
