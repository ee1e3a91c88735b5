"""CacheManager boundedness: repeated catalog runs must not grow the
set of persisted RDDs.

Round 3 measured the leak class this pins: a bare per-call
``.persist()`` inside an operator leaves one CacheManager entry per
invocation for the life of the session (entries are NOT GC-cleaned).
Every shared-scan persist in the engine now routes through
``functions.partitioning.scoped``, which registers the frame in the
caller's ``cache_scope()`` — so running the same operators twice, each
pass in its own scope, must end with no more persisted RDDs than
running them once.
"""

from __future__ import annotations

import os

import pytest

from lab3_spark.functions.partitioning import cache_scope
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

# keyed persist/retire registries the caller-owned cache scope replaced
_REGISTRY_WORDS = (
    "persist_latest",
    "retire_latest",
    "retire_prefix",
    "_PERSISTED_LATEST",
    "_RETIRED_LATEST",
    "memo_key",
)

# disk and module-global state that outlived the call: the codebook
# store, the reused bucketed tables' root and the stream staging dirs
_CROSS_CALL_STATE_WORDS = (
    "CODEBOOK_STORE",
    "MATERIALIZED_ROOT",
    "_STAGE_CACHE",
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
    with cache_scope():
        _run_all(spark, sf_dir)
    after_first = settled_persistent_rdds()
    with cache_scope():
        _run_all(spark, sf_dir)
    after_second = settled_persistent_rdds()
    # Each pass's scope releases what the pass cached, so the count
    # must not grow.
    assert after_second <= after_first, (
        f"CacheManager grew across identical runs: {after_first} -> "
        f"{after_second} persisted RDDs (a bare .persist() leaked)"
    )


def test_no_bare_persist_outside_managed_sites():
    """Structural guard: every ``.persist()`` in lab3_spark is
    ``scoped``'s own call, and no cross-call memo survives — no
    plan-equality lookup (``sameResult``), none of the removed memo
    registries and none of the removed keyed persist/retire registries
    appear anywhere in the package, and no disk or module-global state
    is kept from one call for the next."""
    import lab3_spark

    root = os.path.dirname(lab3_spark.__file__)
    allowed = {
        # scoped implementation itself
        os.path.join("functions", "partitioning.py"),
    }
    offenders = []
    memos = []
    registries = []
    cross_call = []
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
            registries.extend(
                f"{rel}: {w}" for w in _REGISTRY_WORDS if w in src
            )
            cross_call.extend(
                f"{rel}: {w}" for w in _CROSS_CALL_STATE_WORDS if w in src
            )
    assert not offenders, (
        f"bare .persist() outside managed sites: {offenders}; route "
        "through functions.partitioning.scoped"
    )
    assert not memos, f"cross-call memo left in lab3_spark: {memos}"
    assert not registries, (
        f"keyed persist/retire registry left in lab3_spark: {registries}"
    )
    assert not cross_call, f"cross-call state left in lab3_spark: {cross_call}"


# store listing and stream starts: streaming/store.py's alone
_STORE_IO_WORDS = ("listStatus(", "getFileSystem(", "foreachBatch(")


def test_store_io_only_in_store_module():
    """Structural guard: within lab3_spark only ``streaming/store.py``
    lists a directory through Hadoop, resolves a FileSystem or starts a
    foreachBatch query (so every store shares one layout, one version
    reader and one wipe guard), and only ``queries_catalog._drain``
    waits on a StreamingQuery."""
    import ast

    import lab3_spark

    root = os.path.dirname(lab3_spark.__file__)
    store_io = []
    waits = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            if rel != os.path.join("streaming", "store.py"):
                store_io.extend(
                    f"{rel}: {w}" for w in _STORE_IO_WORDS if w in src
                )
            for top in ast.parse(src, path).body:
                name = getattr(top, "name", "<module>")
                waits.extend(
                    f"{rel}: {name}"
                    for n in ast.walk(top)
                    if isinstance(n, ast.Call)
                    and getattr(n.func, "attr", None) == "awaitTermination"
                    and (rel, name) != ("queries_catalog.py", "_drain")
                )
    assert not store_io, (
        f"store listing or stream start outside streaming/store.py: {store_io}"
    )
    assert not waits, (
        f"awaitTermination outside queries_catalog._drain: {waits}"
    )


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
