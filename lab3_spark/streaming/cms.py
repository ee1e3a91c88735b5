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
long the stream runs; a compaction job summing old partitions into
one keeps the store bounded without changing any result).

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

from lab3_spark.functions.partitioning import cache_scope
from lab3_spark.operators.events import cms_counters


def merged_counters(spark: SparkSession, store_path: str) -> DataFrame:
    """(r, bucket, cnt): the elementwise sum of every batch's counter
    matrix — bit-identical to `cms_counters` over the full history."""
    return (
        spark.read.option("basePath", store_path)
        .parquet(f"{store_path}/batch_id=*")
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def compact_cms_store(
    spark: SparkSession, store_path: str, keep_last: int = 2
) -> int:
    """Sum all batch partitions except the ``keep_last`` most recent
    into the OLDEST retained partition, then drop the absorbed ones —
    the bounded-store maintenance job: after compaction the store
    holds ≤ keep_last + 1 partitions (≤ (keep_last+1)·d·w rows)
    however long the stream has run, and `merged_counters` is
    unchanged (elementwise sums are associative).

    ``keep_last`` exists for the replay contract: Structured Streaming
    can only replay batches at/after the last checkpoint offset, so
    only partitions old enough to never replay may be absorbed — an
    absorbed batch that DID replay would overwrite a partition its
    counts were folded into and double-count.  Returns the number of
    absorbed partitions."""
    import re

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    # a crash between the scratch write and the swap below may leave a
    # stale scratch dir; it holds counts already present in the live
    # partitions, so it must never survive into a later merge
    for st in fs.listStatus(hpath):
        if st.getPath().getName().startswith("_compacting_"):
            fs.delete(st.getPath(), True)
    ids = sorted(
        int(m.group(1))
        for st in fs.listStatus(hpath)
        if (m := re.fullmatch(r"batch_id=(\d+)", st.getPath().getName()))
    )
    absorb = ids[:-keep_last] if keep_last > 0 else ids
    if len(absorb) < 2:
        return 0
    target, rest = absorb[0], absorb[1:]
    merged = (
        spark.read.option("basePath", store_path)
        .parquet(*[f"{store_path}/batch_id={b}" for b in absorb])
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .select("r", "bucket", "cnt")
    )
    # write to a scratch dir first, then swap: the merged plan READS
    # the target partition, so overwriting it in place would
    # read-truncate its own input.  The scratch name is _-prefixed so
    # the `batch_id=*` glob in merged_counters can never see it — a
    # crash mid-swap must not leave a dir whose counts double-count
    # with the partitions they were folded from
    tmp = f"{store_path}/_compacting_{target}"
    merged.write.mode("overwrite").parquet(tmp)
    fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/batch_id={target}"), True)
    fs.rename(
        jvm.org.apache.hadoop.fs.Path(tmp),
        jvm.org.apache.hadoop.fs.Path(f"{store_path}/batch_id={target}"),
    )
    for b in rest:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store_path}/batch_id={b}"), True)
    return len(rest)


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

    @cache_scope()
    def process(batch_df: DataFrame, batch_id: int) -> None:
        cms_counters(batch_df, key_col, d, w).write.mode("overwrite").parquet(
            f"{store_path}/batch_id={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
