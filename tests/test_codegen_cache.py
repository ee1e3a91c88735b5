"""A warm session compiles nothing twice.

Spark compiles each whole-stage-codegen class with Janino and keeps it
in an LRU cache keyed by the generated source.  ``get_spark`` sizes that
cache to the engine's working set; at Spark's default of 100 entries a
catalog round (about 154 classes) evicted its own classes and every
call recompiled almost all of them.  Each test runs a workload twice in
the test session and asserts that the second round compiles no class:
the count is Spark's JVM-wide ``CodegenMetrics`` compilation histogram,
which also counts the classes tasks compile on executors.
"""

from __future__ import annotations

import os
import sys

import pytest

from lab3_spark.functions.partitioning import cache_scope

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.join(ROOT, "perfbench") not in sys.path:
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402  (perfbench's seeded input generators)
from workloads import CATALOG_QUERIES  # noqa: E402


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _second_round_compiles(spark, round_fn) -> int:
    """Janino compilations during the second of two identical rounds."""
    with cache_scope():
        round_fn()
    before = _compiles(spark)
    with cache_scope():
        round_fn()
    return _compiles(spark) - before


def test_catalog_round_recompiles_nothing(spark, sf_dir):
    from lab3_spark.queries_catalog import QUERIES

    def round_fn():
        for name in CATALOG_QUERIES:
            QUERIES[name](spark, sf_dir).toPandas()

    assert _second_round_compiles(spark, round_fn) == 0


@pytest.fixture(scope="module")
def text_inputs(tmp_path_factory):
    dst = tmp_path_factory.mktemp("codegen_inputs")
    gen.gen_corpus(7, str(dst), n_tokens=20_000)
    gen.gen_near_dups(7, str(dst), n_docs=60)
    return str(dst)


def test_text_batch_pass_recompiles_nothing(spark, text_inputs, tmp_path):
    """One ``text_batch`` pass: the three reference programs rendered
    and collected, then the dedup pass (about 104 classes together)."""
    from lab3_spark.operators.dedup import (
        dedup_survivors,
        exact_duplicates,
        minhash_candidates,
    )
    from lab3_spark.operators.inverted_index import inverted_index
    from lab3_spark.operators.topk import top_k_words
    from lab3_spark.operators.wordcount import word_count
    from lab3_spark.sinks import (
        render_inverted_index_text,
        render_keyval_text,
        write_parquet,
    )
    from lab3_spark.sources.text import read_text_lines

    lines = read_text_lines(spark, os.path.join(text_inputs, "corpus.txt"))
    docs = spark.read.parquet(os.path.join(text_inputs, "docs.parquet"))

    def round_fn():
        render_keyval_text(word_count(lines)).collect()
        render_keyval_text(top_k_words(lines, k=50)).collect()
        render_inverted_index_text(inverted_index(lines, id_col="line_no")).collect()
        exact_duplicates(docs).collect()
        minhash_candidates(docs).collect()
        write_parquet(dedup_survivors(docs), str(tmp_path / "survivors"))

    assert _second_round_compiles(spark, round_fn) == 0
