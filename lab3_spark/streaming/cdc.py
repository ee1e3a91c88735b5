"""Streaming CDC apply — maintain a materialized snapshot from a
change feed, one micro-batch at a time.

The batch operator (operators/relational.cdc_apply) answers "given the
whole log, what is the current state"; this module maintains that
state INCREMENTALLY: each micro-batch of (key, seq, op, ...) changes
produces a NEW snapshot version from the previous version plus the
batch — the open-Spark shape of a lakehouse MERGE/change-feed
materialization.

Dataflow per micro-batch (foreachBatch, started by streaming/store.py):

1. collapse WITHIN the batch: max_by(seq) per key + per-key change
   count;
2. read the previous snapshot ``{store}/version=N-1`` (none for the
   first batch; a missing one at batch N > 0 refuses — the store's
   wipe guard, streaming/store.py);
3. merge: untouched prior keys pass through (anti-join on the batch's
   keys); touched keys take the batch's latest change with accumulated
   n_changes; keys whose latest change is a DELETE tombstone drop;
4. write ``{store}/version=N`` (overwrite).

Exactly-once: version dirs are keyed by batch_id, so a replayed batch
re-reads version N-1 (never its own partial output) and overwrites its
own version — idempotent by construction (the versioned layout of
streaming/store.py).  Feed contract: seq is globally monotone with the
batch order (a change in batch B has higher seq than every change in
batches < B), which is what a CDC source's log offset gives you.

At 100 TB the snapshot rewrite per batch is the honest cost of plain
parquet; a production deployment partitions the snapshot by key range
and rewrites only partitions the batch touches (the same pruning
argument as the batch MERGE gate, orders_scd_upsert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.streaming import store

SNAPSHOT_COLS = (
    "o_orderkey",
    "last_op",
    "price_cents",
    "o_orderstatus",
    "n_changes",
)


def latest_snapshot(spark: SparkSession, store_path: str) -> DataFrame:
    """The highest-version snapshot under ``store_path``."""
    return store.read_version(spark, store_path, what="snapshot")


def start_cdc_apply(stream: DataFrame, store_path: str, checkpoint: str):
    """Start the snapshot-maintenance StreamingQuery (availableNow
    trigger).  ``stream`` rows: (o_orderkey, seq, op, price_cents,
    o_orderstatus)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        latest = (
            batch_df.groupBy("o_orderkey")
            .agg(
                F.max_by(
                    F.struct("op", "price_cents", "o_orderstatus"), "seq"
                ).alias("_last"),
                F.count("*").alias("_batch_changes"),
            )
            .select(
                "o_orderkey",
                F.col("_last.op").alias("last_op"),
                F.col("_last.price_cents").alias("price_cents"),
                F.col("_last.o_orderstatus").alias("o_orderstatus"),
                "_batch_changes",
            )
        )
        prior = store.read_prior(
            batch_df.sparkSession, [store_path], batch_id, "cdc"
        )
        if prior is not None:
            (prior,) = prior
            untouched = prior.join(
                latest.select("o_orderkey"), "o_orderkey", "left_anti"
            )
            touched = (
                latest.join(
                    prior.select(
                        "o_orderkey",
                        F.col("n_changes").alias("_prior_changes"),
                    ),
                    "o_orderkey",
                    "left",
                )
                .withColumn(
                    "n_changes",
                    F.coalesce("_prior_changes", F.lit(0))
                    + F.col("_batch_changes"),
                )
                .where(F.col("last_op") != "D")
                .select(*SNAPSHOT_COLS)
            )
            merged = untouched.select(*SNAPSHOT_COLS).unionByName(touched)
        else:
            merged = (
                latest.withColumn("n_changes", F.col("_batch_changes"))
                .where(F.col("last_op") != "D")
                .select(*SNAPSHOT_COLS)
            )
        store.write_version(merged, store_path, batch_id)

    return store.start(stream, process, checkpoint)
