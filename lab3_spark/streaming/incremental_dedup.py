"""Streaming incremental corpus dedup — the INGESTION-time dedup shape.

A training corpus is not built in one batch: crawls arrive
continuously, and each increment must be deduplicated against
EVERYTHING already accepted without rescanning it.  The engine's batch
`dedup_exact` answers "what is duplicated in this corpus"; this module
answers "which newly arrived docs are novel" — the accumulating
fingerprint STORE is the state, and each micro-batch costs one
anti-join against it, never a corpus rescan.

Dataflow per micro-batch (foreachBatch):

1. fingerprint the batch (md5 over the normalized token stream —
   byte-identical to `textstats.fingerprint`, so the store is
   interoperable with the batch pipeline);
2. collapse WITHIN the batch (min doc_id per fingerprint);
3. LEFT ANTI join against the store's fingerprints from batches
   STRICTLY BEFORE this one;
4. write survivors to ``{store}/batch_id=N`` (overwrite).

Exactly-once: the sink contract is idempotence per (batch_id, data) —
a replayed batch overwrites its own partition, and step 3 filters
``batch_id < N`` so a replay never anti-joins against its own partial
output.  At 100 TB the store is a fingerprint-partitioned table and
the anti-join is a shuffle on fp (or a broadcast of a Bloom filter of
store fingerprints as the cheap pre-filter); the per-batch cost is
O(batch + store-index probe), independent of corpus history length.

Reference parity note: the reference (Phoenix++,
include/map_reduce.h:200-207) is strictly batch; SURVEY §2.8/§2.9
extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.functions.text import tokenize
from lab3_spark.streaming import store


def _fingerprints(df: DataFrame, text_col: str) -> DataFrame:
    norm = F.concat_ws(" ", tokenize(text_col))
    return df.select("doc_id", F.md5(norm).alias("fp"))


def accepted_store(spark: SparkSession, store_path: str) -> DataFrame:
    """(doc_id, fp, batch_id): every accepted (novel-at-arrival) doc."""
    return store.read_batches(spark, store_path)


def start_incremental_dedup(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    pre_filter=None,
):
    """Start the incremental-dedup StreamingQuery (availableNow
    trigger: drains the source then stops — the test/replay-friendly
    mode; a production ingest would use a processing-time trigger).

    ``pre_filter`` (optional ``DataFrame -> DataFrame``) runs on each
    micro-batch BEFORE fingerprinting — the curation hook: a quality
    gate (Gopher rules, lang-id, PII policy) drops rejects at ingest
    so they never reach the store or cost an anti-join probe.  It
    must be a pure filter/projection preserving doc_id + text
    semantics; replays re-apply it deterministically, keeping the
    idempotence contract."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if pre_filter is not None:
            batch_df = pre_filter(batch_df)
        batch = (
            _fingerprints(batch_df, text_col)
            .groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"))
        )
        prior = store.read_batches(
            batch_df.sparkSession, store_path, before=batch_id
        )
        if prior is not None:
            batch = batch.join(prior.select("fp"), "fp", "left_anti")
        store.write_batch(batch.select("doc_id", "fp"), store_path, batch_id)

    return store.start(stream, process, checkpoint)
