"""Streaming NEAR-dup flagging — the LSH twin of incremental exact
dedup.

`streaming/incremental_dedup.py` answers "is this exact content
already in the corpus" at ingest; this module answers the NEAR-dup
version: each micro-batch's MinHash band-bucket keys (the same
blocking unit as batch `dedup.minhash_candidates`) are appended to a
per-batch key store, and a document is flagged iff any of its buckets
contains an EARLIER ARRIVAL — an earlier batch, or the same batch
with a smaller doc_id (the deterministic within-batch order).

Flagging, not dropping: near-dup candidates still need exact
verification (Jaccard) before a drop decision — the store gives the
candidate relation incrementally; the verify step is per-candidate
and batch-local.  This is deliberately the ALL-ARRIVALS store (every
doc's keys are appended whether or not it was flagged): accept/reject
feedback loops make the result order-dependent in ways no closed-form
oracle can state, while first-arrival flagging is a pure function of
(bucket, arrival order) — fully oracle-checkable.

Exactly-once: per-batch ``{store}/batch_id=N`` partitions with
overwrite — the idempotence-per-(batch_id, data) contract shared with
the CMS/KMV stores.  Store growth is ~N_BANDS rows per doc;
compaction is not needed (the keys ARE the state, there is nothing to
fold), retention policy is the caller's (drop partitions older than
the dedup horizon).

Reference parity note: the reference (Phoenix++, include/map_reduce.h)
is strictly batch; SURVEY §2.8/§2.9 extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.operators.dedup import minhash_band_keys
from lab3_spark.streaming import store


def flagged_docs(spark: SparkSession, store_path: str) -> DataFrame:
    """(doc_id, flagged): near-dup flags over the whole store — a doc
    is flagged iff any of its band buckets holds an earlier arrival
    (lexicographic (batch_id, doc_id)).  One aggregation per bucket
    (min struct — map-side combinable) + a same-key join back; reads
    only the metadata-scale key store, never the corpus."""
    keys = store.read_batches(spark, store_path)
    firsts = keys.groupBy("band", "band_key").agg(
        F.min(F.struct("batch_id", "doc_id")).alias("first")
    )
    return (
        keys.join(firsts, ["band", "band_key"])
        .select(
            "doc_id",
            (
                (F.col("batch_id") != F.col("first.batch_id"))
                | (F.col("doc_id") != F.col("first.doc_id"))
            )
            .cast("int")
            .alias("f"),
        )
        .groupBy("doc_id")
        .agg(F.max("f").alias("flagged"))
        .orderBy("doc_id")
    )


def start_streaming_lsh_flags(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
):
    """Start the key-store maintenance StreamingQuery (availableNow
    trigger — drains the source then stops; a production ingest would
    use a processing-time trigger)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        keys = minhash_band_keys(batch_df, text_col)
        store.write_batch(keys, store_path, batch_id)

    return store.start(stream, process, checkpoint)
