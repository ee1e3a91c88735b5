"""Streaming KMV (bottom-k) synopsis maintenance — incremental
distinct counts.

The batch gate (`events_kmv_daily_users`) builds per-day KMV synopses
in one pass; this module maintains the SAME synopsis incrementally at
ingest: each micro-batch writes its own ≤ k-row bottom-k synopsis, and
because KMV merges by "union then re-select the k smallest" (the
union's k smallest hashes all sit inside each constituent's k
smallest), the merged store estimate is bit-identical to the one-shot
batch estimate — the mergeability `tests/test_sketches.py` pins on
hash values is the entire implementation.

Exactly-once: each batch's synopsis goes to its own
``{store}/batch_id=N`` partition with overwrite — the same
idempotence-per-(batch_id, data) contract as `streaming/cms.py`.  The
store holds ≤ k rows per batch (metadata scale).

At 100 TB/day the per-batch cost is one distinct + salted top-k over
the batch only; the all-time distinct estimate never rescans history
— it reads ≤ k·batches rows and re-selects k.

Reference parity note: the reference (Phoenix++, include/map_reduce.h)
is strictly batch; SURVEY §2.8/§2.9 extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.operators.events import KMV_DOMAIN, KMV_HEX_CHARS, kmv_synopsis
from lab3_spark.streaming import store


def _hv(key_col: str):
    from lab3_spark.functions.text import hex_to_long

    return hex_to_long(
        F.substring(
            F.md5(F.concat(F.lit("kmv|"), F.col(key_col).cast("string"))),
            1,
            KMV_HEX_CHARS,
        )
    )


def merged_estimate_frame(
    spark: SparkSession, store_path: str, k: int
) -> DataFrame:
    """1-row (est_users_total): distinct-count estimate from the union
    of every batch's synopsis — bit-identical to the one-shot batch
    KMV estimate over the full history (mergeability), computed from
    ≤ k·batches stored rows without touching the source stream."""
    return (
        store.read_batches(spark, store_path)
        .select("hv")
        .distinct()
        .orderBy("hv")
        .limit(k)
        .agg(F.count("*").alias("ns"), F.max("hv").alias("hk"))
        .select(
            F.when(F.col("ns") < k, F.col("ns"))
            .otherwise(F.expr(f"CAST({(k - 1) * KMV_DOMAIN} AS BIGINT) div hk"))
            .cast("bigint")
            .alias("est_users_total")
        )
    )


def start_streaming_kmv(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    k: int = 64,
):
    """Start the synopsis-maintenance StreamingQuery (availableNow
    trigger — drains the source then stops, the test/replay-friendly
    mode; a production ingest would use a processing-time trigger)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_syn = kmv_synopsis(
            batch_df.select(F.lit("all").alias("g"), _hv(key_col).alias("hv")),
            "g",
            "hv",
            k,
        ).select("hv")
        store.write_batch(batch_syn, store_path, batch_id)

    return store.start(stream, process, checkpoint)
