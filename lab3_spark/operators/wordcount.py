"""Word count — the reference's flagship pipeline (SURVEY.md §3.1).

Reference lifecycle (phoenixLab/wordCount/wordCount.cpp): pread file →
split on \\t\\r\\n → per-thread tokenize+combine (sum_combiner) → hash
shuffle → reduce merge → parallel merge-sort (cnt ASC, word DESC) →
substring stop-word filter at print time.

Spark translation: scan → explode(regexp tokens) → partial+final hash
aggregation (Catalyst inserts the map-side combine automatically, the
analogue of combiner.h:230-235) → stop-word filter → orderBy.  The whole
map/combine path is one WholeStageCodegen span; no Python touches a row.

Filter placement (MEASURED, 430 MB corpus): the reference filters AFTER
aggregation (print loop, wordCount.cpp:151-157) — and that is the right
placement here too.  With map-side partial aggregation the shuffle
carries one row per DISTINCT word per partition, so a pre-shuffle stop
filter saves almost no shuffle bytes while paying the 182-way set
membership once per TOKEN (~80M evaluations); post-agg it runs once per
distinct word (~9k).  Post-agg filtering benchmarked 10-15% faster end
to end with identical results.  Pre-filtering only pays when there is
NO combining before the shuffle (e.g. the inverted index's posting
pairs, which do filter early).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab3_spark.functions.text import is_stop_word, tokenize


def _words(df: DataFrame, text_col: str) -> DataFrame:
    return df.select(F.explode(tokenize(text_col)).alias("word"))


def word_counts_unfiltered(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) with NO stop-word filter — the raw aggregation."""
    return _words(df, text_col).groupBy("word").agg(F.count("*").alias("cnt"))


def word_count(
    df: DataFrame,
    text_col: str = "text",
    mode: str = "idiomatic",
    ordered: bool = True,
) -> DataFrame:
    """Full word-count pipeline → (word, cnt).

    Order: cnt ASC, ties word DESC (wordCount.cpp:108-110).
    mode: 'idiomatic' (set membership) | 'parity' (substring semantics,
    wordCount.cpp:152) — outputs genuinely differ (SURVEY.md §7.0).
    """
    counts = word_counts_unfiltered(df, text_col)
    # The stop filter must run AFTER the aggregation: post-agg it tests
    # ~vocabulary-many distinct words; pushed below the partial agg it
    # runs per token OCCURRENCE (per-corpus-token substring search in
    # parity mode — measured 3× the whole query at sf0.1).  Catalyst
    # pushes any grouping-key-only predicate through the aggregate, so
    # add a never-true disjunct referencing the aggregated column: an
    # OR spanning both sides can't be split into pushable conjuncts.
    no_pushdown_barrier = F.col("cnt") < F.lit(0)
    counts = counts.where(~is_stop_word("word", mode) | no_pushdown_barrier)
    if ordered:
        counts = counts.orderBy(F.asc("cnt"), F.desc("word"))
    return counts


def stop_words_df(spark) -> DataFrame:
    """The stop-word list as a 1-row-per-word DataFrame (broadcast-join
    side for anti-join filtering at scale)."""
    from lab3_spark.stopwords import STOP_WORDS

    return spark.createDataFrame([(w,) for w in STOP_WORDS], "word string")


def word_count_antijoin(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Word count with the stop filter as a broadcast LEFT ANTI join —
    the form to use when the stop list is a TABLE (too big / too
    dynamic for an IN-list literal).  Applied post-aggregation for the
    same measured reason as word_count."""
    spark = df.sparkSession
    counts = word_counts_unfiltered(df, text_col)
    kept = counts.join(F.broadcast(stop_words_df(spark)), "word", "left_anti")
    return kept.orderBy(F.asc("cnt"), F.desc("word"))
