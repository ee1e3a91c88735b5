"""Plan-shape assertions for the round-11 gates — the physical plans
must be the ones the 100 TB design story claims, not just correct."""

import os

import pytest

from lab3_spark.plans.explain import count_exchanges, formatted_plan


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def test_contamination_gram_probe_is_broadcast_semi_join(spark, docs):
    """The eval-gram membership probe must be a BROADCAST semi join —
    the corpus-side scan never shuffles on gram (the
    benchmark_decontaminate scale contract, shared by the severity
    operator)."""
    from pyspark.sql import functions as F

    from lab3_spark.operators.dedup import contamination_max_span

    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    plan = formatted_plan(contamination_max_span(train, bench))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # no sort-merge join anywhere: the only joins are the broadcast
    # probe; islands/merge are windows, not joins
    assert "SortMergeJoin" not in plan, plan


def test_line_dedup_single_text_shuffle(spark, docs):
    """apply_line_dedup's keep-first rule shuffles on the unit text
    (the canonical dedup shuffle) via the skew-immune min-struct
    AGGREGATE — map-side partial combine, never a window over the hot
    key — and the per-doc reassembly adds only doc_id-keyed
    aggregation exchanges."""
    from lab3_spark.operators.dedup import apply_line_dedup

    plan = formatted_plan(apply_line_dedup(docs, block_tokens=32))
    assert "hashpartitioning(para_text" in plan, plan
    # no join other than the final doc_id reassembly joins; in
    # particular nothing nested-loop / cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_band_planner_curve_join_is_broadcast(spark, docs):
    """The 55-row S-curve × ≤11-row histogram join must be broadcast —
    no exchange may land on the planner path beyond the shared
    candidate machinery."""
    from lab3_spark.operators.dedup import lsh_band_plan

    plan = formatted_plan(lsh_band_plan(docs))
    assert "BroadcastHashJoin" in plan, plan


def test_planner_quality_reband_no_signature_recompute(spark, docs):
    """lsh_planned_blocking_quality must re-band from the persisted
    signature frame: the call registers the signature frame in the
    caller's cache scope, and the re-banded plan reads it through the
    cache (an InMemoryRelation over the signature columns) instead of
    re-running the signature pass."""
    import re

    from lab3_spark.functions.partitioning import cache_scope
    from lab3_spark.operators.dedup import (
        lsh_planned_blocking_quality,
        minhash_signatures,
    )

    with cache_scope() as frames:
        out = lsh_planned_blocking_quality(docs)
        sig_cols = minhash_signatures(docs).columns
        sig = next(f for f in frames if f.columns == sig_cols)
        assert sig.storageLevel.useMemory
        # cached relations' column lists with expression ids stripped
        cached = out._jdf.queryExecution().withCachedData().toString()
        relations = {
            re.sub(r"#\d+L?", "", r)
            for r in re.findall(r"InMemoryRelation \[([^\]]*)\]", cached)
        }
        assert ", ".join(sig.columns) in relations, cached
        out.collect()
