"""Streaming activity-bitmap maintenance — incremental user-day
presence.

The batch gate (`user_activity_bitmap`) packs each user's day
presence into one bigint; this module maintains the underlying
PRESENCE SET incrementally at ingest: each micro-batch writes its own
distinct (user_id, dt) rows to an idempotent ``batch_id=N`` partition
(the streaming/cms.py exactly-once contract), and the bitmap is
assembled at read time from the merged store via the SAME
``activity_bitmap_from_presence`` expression the batch operator uses.

Merge correctness is trivial by algebra: presence union is a set
union and bit_or is idempotent/commutative/associative, so the merged
store yields masks BIT-IDENTICAL to the one-shot batch run — replayed
batches and duplicate presence rows are absorbed for free (no
tombstones, no versioning).  The store holds ≤ |users|·horizon rows
regardless of event volume: the per-batch distinct is the map-side
combine of the whole design.

Reference parity note: the reference (Phoenix++) is strictly batch;
SURVEY §2.8 extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.streaming import store


def merged_presence(spark: SparkSession, store_path: str) -> DataFrame:
    """Distinct (user_id, dt) over every batch partition — the exact
    input shape of ``activity_bitmap_from_presence``."""
    return (
        store.read_batches(spark, store_path)
        .select("user_id", "dt")
        .distinct()
    )


def start_streaming_bitmap(
    stream: DataFrame, store_path: str, checkpoint: str
):
    """Start the presence-maintenance StreamingQuery (availableNow
    trigger — drains the source then stops; production ingest would
    use a processing-time trigger)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        presence = batch_df.select("user_id", F.to_date("ts").alias("dt"))
        store.write_batch(presence.distinct(), store_path, batch_id)

    return store.start(stream, process, checkpoint)
