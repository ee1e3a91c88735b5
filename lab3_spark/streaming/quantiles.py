"""Streaming quantile-digest maintenance — incremental percentiles.

The batch gate (`events_kll_daily_quantiles`) builds one mergeable
digest per day in a single pass; this module maintains the SAME
per-day digests incrementally at ingest: each micro-batch contributes
its own per-day digest rows (the batch operator applied to the batch's
rows), written to an idempotent ``{store}/batch_id=N`` partition, and
the serving-time view merges each day's per-batch digests by
concatenate + recompress — the digest's merge operation, never a
rescan of history.

Unlike Count-Min (elementwise addition ⇒ streamed counters are
bit-identical to batch), digest merging is associative only in its
ERROR CONTRACT, not bit-level: merging per-batch digests walks a
different compress order than one-shot building, so centroids differ
while every quantile estimate stays inside the rank-error budget —
one extra compress level (build=1, in-batch day merge=2, cross-batch
day merge=3, cross-day union=4 ⇒ ≤ 4·eps ≈ 4% worst-case rank error
at eps=0.01, inside the gate's 5% band).  The gate therefore shares
the batch gate's ORACLE (exact counts + literal TRUE tolerance
booleans) rather than claiming bit-parity — the honest statement of
what a mergeable sketch guarantees.

Exactly-once: same idempotence-per-(batch_id, data) contract as
`streaming/cms.py` — a replayed batch overwrites its own partition.
The store holds #days rows per batch (centroid arrays, ≤ ~2/eps
entries each) — metadata-scale however long the stream runs.

Reference parity note: the reference (Phoenix++, include/map_reduce.h)
is strictly batch; SURVEY §2.8/§2.9 extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lab3_spark.operators.quantile_sketch import (
    DEFAULT_EPS,
    _DIGEST_FIELDS,
    daily_value_digest,
    merged_digest_pdf,
)
from lab3_spark.streaming import store


def merged_daily_digests(
    spark: SparkSession, store_path: str, eps: float = DEFAULT_EPS
) -> DataFrame:
    """(day, means, weights, n, est_p50, est_p90, est_p99): each day's
    per-batch digests merged into one — deterministic regardless of
    row order (the merge sorts the flattened centroid multiset),
    centroid-scale input (#batches × #days rows)."""

    def merge_day(pdf):
        return merged_digest_pdf(pdf, eps, {"day": pdf["day"].iloc[0]})

    digests = store.read_batches(spark, store_path)
    return digests.groupBy("day").applyInPandas(
        merge_day, f"day string, {_DIGEST_FIELDS}"
    )


def start_streaming_quantiles(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    value_col: str = "value",
    eps: float = DEFAULT_EPS,
):
    """Start the digest-maintenance StreamingQuery (availableNow
    trigger — drains the source then stops, the test/replay-friendly
    mode; a production ingest would use a processing-time trigger)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        digests = daily_value_digest(batch_df, value_col, eps)
        store.write_batch(digests, store_path, batch_id)

    return store.start(stream, process, checkpoint)
