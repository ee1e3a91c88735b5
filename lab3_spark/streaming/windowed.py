"""Structured Streaming extensions (absent in the reference — SURVEY.md
§2.8: pure batch).  The engine adds streaming twins of the batch
operators, sharing the same column expressions so the batch DuckDB
oracle vouches for the streaming logic.

Design:
- event-time tumbling windows + watermark for late data;
- the aggregation body is the SAME expression tree as
  operators/events.tumbling_counts / operators/wordcount — streaming
  correctness rides on the batch-checked logic;
- sinks: memory (tests), parquet+checkpoint (production shape).

At scale: streaming shuffle partitioning follows
spark.sql.shuffle.partitions like batch; state store size is bounded by
(windows in watermark horizon × groups), and watermarking is what keeps
it bounded — an unwatermarked stream agg would grow state forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lab3_spark.functions.text import tokenize


def streaming_word_count(
    lines: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window word counts over a text stream.

    The reference's wordCount pipeline (SURVEY §3.1) lifted to a
    stream: same tokenizer expression, windowed by event time with a
    watermark bounding state/late data."""
    words = lines.withWatermark(ts_col, watermark).select(
        F.col(ts_col), F.explode(tokenize(text_col)).alias("word")
    )
    return (
        words.groupBy(F.window(ts_col, window).alias("w"), "word")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "word", "cnt")
    )


def streaming_tumbling_counts(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of operators/events.tumbling_counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_sliding_counts(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of operators/events.sliding_counts: hopping
    windows in a stream.  State per key set is (windows inside the
    watermark horizon × types) × overlap factor — still bounded; the
    window assignment is the same in-row generator as batch, so one
    event updates width/slide window states per trigger."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
