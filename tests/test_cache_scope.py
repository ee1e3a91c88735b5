"""The caller-owned cache scope (functions.partitioning.cache_scope).

A frame an operator caches with ``scoped`` lives until the caller's
innermost scope exits — not until the next call of the same operator,
and never shared with another thread's scope."""

from __future__ import annotations

import os
import threading

from lab3_spark.functions.partitioning import cache_scope
from lab3_spark.queries_catalog import QUERIES
from test_cache_bounded import _PERSISTING_QUERIES


def test_scope_exit_releases_persisted_and_checkpoint_frames(
    spark, sf_dir, settled_persistent_rdds
):
    """Everything the persisting catalog queries cache — persisted
    frames and the iterative operators' localCheckpoint frames — is
    released when the scope that ran them exits."""
    before = settled_persistent_rdds()
    with cache_scope() as frames:
        for name in _PERSISTING_QUERIES:
            QUERIES[name](spark, sf_dir).collect()
        assert frames, "no frame was registered in the scope"
    after = settled_persistent_rdds()
    assert after <= before, (
        f"{after - before} persistent RDDs outlived the scope "
        f"({before} before, {after} after)"
    )


def test_pagerank_result_outlives_next_call_in_scope(spark):
    """Two pagerank_fixed_point calls in one scope: the first result
    (checkpoint-backed, so it cannot be recomputed) still collects
    after the second call."""
    from lab3_spark.operators.pagerank import pagerank_fixed_point, symmetrize

    pairs1 = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    pairs2 = spark.createDataFrame([(7, 8), (8, 9)], "doc_a long, doc_b long")
    with cache_scope():
        first = pagerank_fixed_point(symmetrize(pairs1))
        rows = sorted(first.collect())
        pagerank_fixed_point(symmetrize(pairs2)).collect()
        assert sorted(first.collect()) == rows


def test_threads_keep_their_own_rank_frames(spark):
    """Thread B's with_row_number frames stay cached while
    thread A runs the same operator on another input in its own
    scope."""
    from lab3_spark.operators.rank import with_row_number

    b_ready = threading.Event()
    a_done = threading.Event()
    errors: list[BaseException] = []
    seen: dict[str, object] = {}

    def thread_b() -> None:
        try:
            df = spark.range(0, 200).withColumnRenamed("id", "k")
            with cache_scope() as frames:
                out = with_row_number(df, ["k"])
                rows = sorted(out.collect())
                b_ready.set()
                assert a_done.wait(300), "thread A did not finish"
                seen["levels"] = [f.storageLevel.useMemory for f in frames]
                assert sorted(out.collect()) == rows
        except BaseException as e:  # surfaced in the main thread
            errors.append(e)
            b_ready.set()

    def thread_a() -> None:
        try:
            assert b_ready.wait(300), "thread B did not start"
            df = spark.range(0, 300).withColumnRenamed("id", "k")
            with cache_scope():
                with_row_number(df, ["k"]).collect()
        except BaseException as e:
            errors.append(e)
        finally:
            a_done.set()

    threads = [threading.Thread(target=thread_b), threading.Thread(target=thread_a)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(600)
    assert not errors, errors
    assert seen["levels"] and all(seen["levels"]), seen


def test_scope_exit_removes_scratch_dirs_and_bucketed_tables(spark, sf_dir):
    """Three bucketed_fact_join calls in one scope: each writes a fresh
    scratch directory and two ``*_bkt_*`` catalog tables, and the scope's
    exit removes all of them (before, they stayed until interpreter exit
    and for the whole session)."""
    import glob
    import tempfile

    def leftovers():
        dirs = glob.glob(os.path.join(tempfile.gettempdir(), "bucketed_facts_*"))
        tables = [t.name for t in spark.catalog.listTables() if "_bkt_" in t.name]
        return set(dirs), set(tables)

    dirs0, tables0 = leftovers()
    with cache_scope():
        for _ in range(3):
            QUERIES["bucketed_fact_join"](spark, sf_dir).collect()
        dirs, tables = leftovers()
        assert len(dirs - dirs0) == 3 and len(tables - tables0) == 6
    assert leftovers() == (dirs0, tables0)
