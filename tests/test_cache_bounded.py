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

import os

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
    # round-4 persist sites: surprisal frame, DSIR weights,
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


# cross-call memo machinery the engine no longer has
_MEMO_WORDS = (
    "sameResult",
    "memo_persist",
    "memo_result(",
    "_RESULT_MEMO",
    "_CENTROID_MEMO",
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


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
    """Structural guard: every ``.persist()`` in lab3_spark is
    persist_latest's own call, and no cross-call memo survives — no
    plan-equality lookup (``sameResult``) and none of the removed memo
    registries appear anywhere in the package."""
    import lab3_spark

    root = os.path.dirname(lab3_spark.__file__)
    allowed = {
        # persist_latest implementation itself
        os.path.join("functions", "partitioning.py"),
    }
    offenders = []
    memos = []
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
            memos.extend(f"{rel}: {w}" for w in _MEMO_WORDS if w in src)
    assert not offenders, (
        f"bare .persist() outside managed sites: {offenders}; route "
        "through functions.partitioning.persist_latest"
    )
    assert not memos, f"cross-call memo left in lab3_spark: {memos}"


def test_unigram_surprisal_recomputes_after_clear_cache(spark, docs):
    """A call after ``spark.catalog.clearCache()`` must hand back a
    frame it persisted itself, never the previous call's frame (which
    the clear left uncached, so each consumer recomputed it)."""
    from lab3_spark.operators.textstats import unigram_surprisal

    first = unigram_surprisal(docs)
    rows = sorted(first.collect())
    spark.catalog.clearCache()
    second = unigram_surprisal(docs)
    assert second.storageLevel.useMemory
    assert sorted(second.collect()) == rows
