"""Structured Streaming twins must equal their batch-checked logic."""

import os

from pyspark.sql import functions as F

from lab3_spark.operators.wordcount import word_counts_unfiltered
from lab3_spark.streaming.windowed import (
    streaming_tumbling_counts,
    streaming_word_count,
)


def run_stream_to_memory(result, query_name: str):
    """Run the stream to completion into an in-memory table (complete
    mode, availableNow); returns the StreamingQuery."""
    return (
        result.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def test_streaming_word_count_equals_batch(spark, tmp_path):
    rows = [
        ("2024-01-01 00:00:10", "spark streams words"),
        ("2024-01-01 00:00:40", "words words again"),
        ("2024-01-01 00:01:10", "late spark"),
    ]
    src = spark.createDataFrame(rows, "ts_s string, text string").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "text"
    )
    path = os.path.join(str(tmp_path), "stream_src")
    src.write.parquet(path)

    stream = spark.readStream.schema(src.schema).parquet(path)
    result = streaming_word_count(stream, window="1 minute")
    q = run_stream_to_memory(result, "wc_stream_test")
    q.awaitTermination(120)

    got = {
        (str(r["window_start"]), r["word"]): r["cnt"]
        for r in spark.table("wc_stream_test").collect()
    }
    # window [00:00, 00:01): spark=1, streams=1, words=3, again=1
    assert got[("2024-01-01 00:00:00", "words")] == 3
    assert got[("2024-01-01 00:00:00", "spark")] == 1
    assert got[("2024-01-01 00:01:00", "late")] == 1
    # total counts across windows == batch word counts
    batch = {
        r["word"]: r["cnt"] for r in word_counts_unfiltered(src).collect()
    }
    stream_totals: dict = {}
    for (_, w), c in got.items():
        stream_totals[w] = stream_totals.get(w, 0) + c
    assert stream_totals == batch


def test_streaming_tumbling_counts_runs(spark, tmp_path):
    rows = [
        ("2024-01-01 00:01:00", "click", 1.0),
        ("2024-01-01 00:02:00", "click", 2.0),
        ("2024-01-01 00:07:00", "view", 3.0),
    ]
    src = spark.createDataFrame(rows, "ts_s string, event_type string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value"
    )
    path = os.path.join(str(tmp_path), "ev_src")
    src.write.parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    q = run_stream_to_memory(
        streaming_tumbling_counts(stream), "ev_stream_test"
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("ev_stream_test").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 00:05:00", "view")] == (1, 3.0)


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """Inner stream-stream interval join over a bounded source must
    equal the batch interval join of the same inputs."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from lab3_spark.sources.tables import load_table, normalize_event_time
    from lab3_spark.streaming.joins import view_purchase_interval_join

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 500)
    batch = sorted(
        map(
            tuple,
            view_purchase_interval_join(ev)
            .select("user_id", "view_event_id", "purchase_event_id")
            .collect(),
        )
    )

    path = os.path.join(sf_dir, "events.parquet")
    stage = tempfile.mkdtemp(prefix="ssj_test_")
    os.symlink(path, os.path.join(stage, "events.parquet"))
    schema = spark.read.parquet(path).schema
    src = spark.readStream.schema(schema).parquet(stage)
    src = normalize_event_time(src)
    out = view_purchase_interval_join(src.where(F.col("user_id") < 500))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_eq_check")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not terminate"
    streamed = sorted(
        map(
            tuple,
            spark.table("ssj_eq_check")
            .select("user_id", "view_event_id", "purchase_event_id")
            .collect(),
        )
    )
    assert streamed == batch and len(batch) >= 0


def test_streaming_sliding_counts_equals_batch(spark, tmp_path):
    """Hopping-window stream (complete mode, availableNow) over a
    bounded source must equal the batch sliding_counts."""
    from lab3_spark.operators.events import sliding_counts
    from lab3_spark.streaming.windowed import streaming_sliding_counts

    rows = [
        ("2024-01-01 00:01:00", "click", 1.0),
        ("2024-01-01 00:02:00", "click", 2.0),
        ("2024-01-01 00:07:00", "view", 3.0),
        ("2024-01-01 00:13:00", "view", 4.0),
    ]
    src = spark.createDataFrame(
        rows, "ts_s string, event_type string, value double"
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
    path = os.path.join(str(tmp_path), "ev_slide_src")
    src.write.parquet(path)
    stream = spark.readStream.schema(src.schema).parquet(path)
    q = run_stream_to_memory(
        streaming_sliding_counts(stream), "ev_slide_stream_test"
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("ev_slide_stream_test").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in sliding_counts(src).collect()
    }
    assert got == want
    # each event lands in exactly two windows
    assert sum(n for n, _ in got.values()) == 2 * len(rows)
