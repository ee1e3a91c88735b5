"""Streaming CDC apply — maintain a materialized snapshot from a
change feed, one micro-batch at a time.

The batch operator (operators/relational.cdc_apply) answers "given the
whole log, what is the current state"; this module maintains that
state INCREMENTALLY: each micro-batch of (key, seq, op, ...) changes
produces a NEW snapshot version from the previous version plus the
batch — the open-Spark shape of a lakehouse MERGE/change-feed
materialization.

Dataflow per micro-batch (foreachBatch):

1. collapse WITHIN the batch: max_by(seq) per key + per-key change
   count;
2. read the previous snapshot ``{store}/version=N-1`` (absent for the
   first batch);
3. merge: untouched prior keys pass through (anti-join on the batch's
   keys); touched keys take the batch's latest change with accumulated
   n_changes; keys whose latest change is a DELETE tombstone drop;
4. write ``{store}/version=N`` (overwrite).

Exactly-once: version dirs are keyed by batch_id, so a replayed batch
re-reads version N-1 (never its own partial output) and overwrites its
own version — idempotent by construction (the incremental_dedup store
discipline).  Feed contract: seq is globally monotone with the batch
order (a change in batch B has higher seq than every change in batches
< B), which is what a CDC source's log offset gives you.

At 100 TB the snapshot rewrite per batch is the honest cost of plain
parquet; a production deployment partitions the snapshot by key range
and rewrites only partitions the batch touches (the same pruning
argument as the batch MERGE gate, orders_scd_upsert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import cache_scope

SNAPSHOT_COLS = (
    "o_orderkey",
    "last_op",
    "price_cents",
    "o_orderstatus",
    "n_changes",
)


def snapshot(spark: SparkSession, store_path: str, version: int) -> DataFrame:
    return spark.read.parquet(f"{store_path}/version={version}")


def latest_snapshot(spark: SparkSession, store_path: str) -> DataFrame:
    """The highest-version snapshot under ``store_path``."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(store_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    versions = [
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(hpath)
        if st.getPath().getName().startswith("version=")
    ]
    if not versions:
        raise FileNotFoundError(f"no snapshot versions under {store_path}")
    return snapshot(spark, store_path, max(versions))


def start_cdc_apply(stream: DataFrame, store_path: str, checkpoint: str):
    """Start the snapshot-maintenance StreamingQuery (availableNow
    trigger).  ``stream`` rows: (o_orderkey, seq, op, price_cents,
    o_orderstatus)."""

    @cache_scope()
    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
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
        jvm = spark._jvm
        hprev = jvm.org.apache.hadoop.fs.Path(
            f"{store_path}/version={batch_id - 1}"
        )
        fs = hprev.getFileSystem(spark._jsc.hadoopConfiguration())
        # Store/checkpoint-disagreement guard: batch_id > 0 with the
        # expected version=batch_id-1 ABSENT while other versions exist
        # means the store was partially wiped or the stream restarted
        # against a mismatched checkpoint.  Silently treating it as a
        # first batch would discard prior state yet leave
        # latest_snapshot() returning a stale higher version — refuse
        # instead of corrupting.  (batch_id == 0 with versions present
        # stays legal: that is the full-replay-after-checkpoint-loss
        # path, whose overwrite-from-the-start is the idempotency
        # contract pinned by test_streaming_cdc_replay_is_idempotent.)
        if batch_id > 0 and not fs.exists(hprev):
            hstore = jvm.org.apache.hadoop.fs.Path(store_path)
            existing = (
                sorted(
                    int(st.getPath().getName().split("=", 1)[1])
                    for st in fs.listStatus(hstore)
                    if st.getPath().getName().startswith("version=")
                )
                if fs.exists(hstore)
                else []
            )
            if existing:
                raise RuntimeError(
                    f"cdc store {store_path} holds versions {existing} but "
                    f"not version={batch_id - 1} expected by incoming "
                    f"batch_id={batch_id}; refusing to rebuild from "
                    "scratch — point the stream at a fresh store or "
                    "resume from the original checkpoint"
                )
            # A COMPLETELY emptied store (full wipe, checkpoint kept)
            # is the same silent-prior-state-loss class: batch_id > 0
            # proves the checkpoint believes earlier batches were
            # applied, so writing version=batch_id containing only the
            # current batch would masquerade as a full snapshot.
            # Refuse; the legal recovery paths are a fresh checkpoint
            # (full replay from batch 0) or restoring the store.
            raise RuntimeError(
                f"cdc store {store_path} is empty but the checkpoint "
                f"delivered batch_id={batch_id} > 0 — prior applied "
                "state is lost; refusing to write a partial snapshot. "
                "Start over with a fresh checkpoint (full replay) or "
                "restore the store"
            )
        if batch_id > 0 and fs.exists(hprev):
            prior = snapshot(spark, store_path, batch_id - 1)
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
        merged.write.mode("overwrite").parquet(
            f"{store_path}/version={batch_id}"
        )

    return (
        stream.writeStream.foreachBatch(process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
