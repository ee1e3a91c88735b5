"""Streaming Count-Min Sketch maintenance — incremental heavy hitters.

The batch gate (`events_cms_heavy_hitters`) answers "who are the heavy
hitters in this corpus"; this module maintains the SAME sketch
incrementally at ingest: each micro-batch contributes its own d×w
counter matrix, and because Count-Min merges by ELEMENTWISE ADDITION,
the union of per-batch matrices is bit-identical to the one-shot
batch matrix — mergeability is not a property to argue, it is the
entire implementation.

Exactly-once: each batch's matrix is written to its own
``{store}/batch_id=N`` partition with overwrite — a replayed batch
replaces its own partition instead of double-counting, the same
idempotence-per-(batch_id, data) contract as
`streaming/incremental_dedup.py`.  The merged matrix is a sum over
partitions at read time (d·w rows per batch — metadata-scale however
long the stream runs).

At 100 TB/day the per-batch cost is one map-side-combined aggregation
(each task emits ≤ d·w rows) and one d·w-row write; the heavy-hitter
query never rescans history — it reads the counter partitions and one
current key universe.

Reference parity note: the reference (Phoenix++, include/map_reduce.h)
is strictly batch; SURVEY §2.8/§2.9 extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.operators.events import cms_counters
from lab3_spark.streaming import store


def merged_counters(spark: SparkSession, store_path: str) -> DataFrame:
    """(r, bucket, cnt): the elementwise sum of every batch's counter
    matrix — bit-identical to `cms_counters` over the full history."""
    return (
        store.read_batches(spark, store_path)
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def start_streaming_cms(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    d: int = 4,
    w: int = 1024,
):
    """Start the sketch-maintenance StreamingQuery (availableNow
    trigger — drains the source then stops, the test/replay-friendly
    mode; a production ingest would use a processing-time trigger)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        counters = cms_counters(batch_df, key_col, d, w)
        store.write_batch(counters, store_path, batch_id)

    return store.start(stream, process, checkpoint)
