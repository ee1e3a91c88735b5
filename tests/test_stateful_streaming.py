"""applyInPandasWithState sessionizer: closed sessions must match the
batch sessionize formulation on the same data."""

import os

from pyspark.sql import functions as F

from lab3_spark.streaming.stateful import streaming_sessionize


def test_streaming_sessionize_closes_on_gap(spark, tmp_path):
    rows = [
        # user 1: two sessions (65-min gap), second stays pending
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),
        (1, "2024-01-01 01:15:00"),
        # user 2: one session only → nothing closed by gap
        (2, "2024-01-01 00:00:00"),
        (2, "2024-01-01 00:05:00"),
    ]
    src = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    path = os.path.join(str(tmp_path), "sess_src")
    src.write.parquet(path)

    stream = spark.readStream.schema(src.schema).parquet(path)
    out = streaming_sessionize(stream, gap_minutes=30, flush_timeout_ms=None)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_state_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], str(r["session_start"])): (
            str(r["session_end"]),
            r["n_events"],
            r["closed_by"],
        )
        for r in spark.table("sess_state_test").collect()
    }
    # exactly ONE closed session: user 1's first (2 events, closed by gap)
    assert got == {
        (1, "2024-01-01 00:00:00"): ("2024-01-01 00:10:00", 2, "gap")
    }
