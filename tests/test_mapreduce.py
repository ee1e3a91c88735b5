"""The generic MapReduce facade must reproduce the concrete pipelines
(SURVEY §2.7 — the reference's CRTP surface)."""

from pyspark.sql import functions as F

from lab3_spark.operators.inverted_index import inverted_index
from lab3_spark.functions.text import tokenize
from lab3_spark.operators.mapreduce import map_reduce, word_count_as_mapreduce
from lab3_spark.operators.wordcount import word_counts_unfiltered


def test_facade_word_count_matches_operator(spark, corpus):
    via_facade = {
        (r["word"], r["cnt"]) for r in word_count_as_mapreduce(corpus).collect()
    }
    via_operator = {
        (r["word"], r["cnt"]) for r in word_counts_unfiltered(corpus).collect()
    }
    assert via_facade == via_operator


def test_facade_inverted_index_matches_operator(spark, corpus):
    # the invert app through the facade: map emits (word, doc_id), the
    # set combiner collects the posting list (invert.cpp:85)
    mapper = F.transform(
        tokenize("text"),
        lambda w: F.struct(w.alias("key"), F.col("doc_id").alias("value")),
    )
    via_facade = {
        (r["word"], tuple(sorted(r["ids"])))
        for r in map_reduce(
            corpus, mapper, combiner="set", key_name="word", value_name="ids"
        ).collect()
    }
    via_operator = {
        (r["word"], tuple(r["ids"]))
        for r in inverted_index(corpus, stop_mode="idiomatic").collect()
        # facade variant doesn't stop-filter; compare on shared words only
    }
    for k, v in via_operator:
        assert (k, v) in via_facade


def test_combiner_registry(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "k string, v long"
    )
    mapper = F.array(
        F.struct(F.col("k").alias("key"), F.col("v").alias("value"))
    )
    got_sum = {
        (r["key"], r["value"])
        for r in map_reduce(df, mapper, combiner="sum").collect()
    }
    assert got_sum == {("a", 3), ("b", 5)}
    got_max = {
        (r["key"], r["value"])
        for r in map_reduce(df, mapper, combiner="max").collect()
    }
    assert got_max == {("a", 2), ("b", 5)}
    got_buf = {
        (r["key"], tuple(sorted(r["value"])))
        for r in map_reduce(df, mapper, combiner="buffer").collect()
    }
    assert got_buf == {("a", (1, 2)), ("b", (5,))}


def test_multi_emit_mapper(spark):
    # one row emits several pairs — the flatMap shape of
    # emit_intermediate loops (map_reduce.h:185)
    df = spark.createDataFrame([(3,), (2,)], "n long")
    mapper = F.transform(
        F.sequence(F.lit(1), F.col("n")),
        lambda i: F.struct(
            (i % 2).cast("string").alias("key"), F.lit(1).cast("long").alias("value")
        ),
    )
    got = {
        (r["key"], r["value"])
        for r in map_reduce(df, mapper, combiner="sum").collect()
    }
    # n=3 → parities 1,0,1 ; n=2 → 1,0  ⇒ "1": 3, "0": 2
    assert got == {("1", 3), ("0", 2)}
