"""Streaming incremental Markov attribution — a versioned
(journey-state, transition-counts) store maintained under TIME-ORDERED
event micro-batches, with an EXACT merged-equals-batch contract.

Why journeys are not naively mergeable: the batch operator
(operators/events.attribution_transitions) truncates each user's path
at the first conversion and stitches consecutive touches — both are
properties of the WHOLE per-user stream, so per-batch transition
counting over path fragments would double-count entries and miss the
cross-batch edges.  The store therefore carries exactly the state that
makes the computation incremental:

- ``state/version=N``: (user_id, last_type, converted) — each user's
  journey frontier after batch N;
- ``counts/version=N``: (s, t, n) — every transition EXCEPT the
  terminal →NULL edges, which are a function of the CURRENT frontier
  and only materialize in the serving view (a non-converted user's
  journey is still open while the stream runs — emitting their NULL
  edge per batch would be wrong, emitting it at read time is exactly
  the batch semantics over the events delivered so far).

Per micro-batch (foreachBatch): order the batch per user, truncate at
conversion, drop users already converted in the store, stitch each
user's first batch touch to their stored frontier (or START), add the
within-batch consecutive edges, fold into the cumulative counts, and
advance the frontier — all written as idempotent ``version=batch_id``
partitions of both tables, refusing when either prior version is
missing (the wipe guard of streaming/store.py).

Contract: because batches partition the stream in global (ts,
event_id) order, the stitched edge multiset after the last batch is
IDENTICAL to the batch operator's, so the serving view's absorption
probabilities equal the one-shot ``events_attribution_markov`` result
bit-for-bit and the gate shares its oracle verbatim (the
streaming_cms exactness class, stronger than the digest twin's
tolerance contract)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.streaming import store

_STATE_SCHEMA = "user_id bigint, last_type string, converted int"
_COUNTS_SCHEMA = "s string, t string, n bigint"


def start_streaming_attribution(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    channels: tuple[str, ...] = ("click", "error", "signup", "view"),
    conv_type: str = "purchase",
):
    """foreachBatch maintenance of the journey store.  ``stream`` must
    deliver events in global (ts, event_id) order across batches (a
    time-partitioned source); within a batch any order is fine — the
    per-user window re-sorts."""
    from pyspark.sql.window import Window

    state_path, counts_path = f"{store_path}/state", f"{store_path}/counts"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = store.read_prior(
            spark, [state_path, counts_path], batch_id, "attribution"
        )
        if prior is not None:
            state_prev, counts_prev = prior
        else:
            state_prev = spark.createDataFrame([], _STATE_SCHEMA)
            counts_prev = spark.createDataFrame([], _COUNTS_SCHEMA)

        bf = batch_df.where(
            F.col("event_type").isin(*channels, conv_type)
        ).select("user_id", "ts", "event_id", "event_type")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ordd = bf.withColumn("rn", F.row_number().over(w))
        fp_ = (
            ordd.where(F.col("event_type") == conv_type)
            .groupBy("user_id")
            .agg(F.min("rn").alias("prn"))
        )
        path = (
            ordd.join(fp_, "user_id", "left")
            .where(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
            # users whose journey already converted are done: their
            # later events are post-conversion noise in this model
            .join(
                state_prev.where(F.col("converted") == 1).select(
                    "user_id"
                ),
                "user_id",
                "left_anti",
            )
        )
        as_conv = lambda c: F.when(  # noqa: E731
            F.col(c) == conv_type, F.lit("CONV")
        ).otherwise(F.col(c))
        entry = (
            path.where(F.col("rn") == 1)
            .join(
                state_prev.select("user_id", "last_type"),
                "user_id",
                "left",
            )
            .select(
                F.coalesce("last_type", F.lit("START")).alias("s"),
                as_conv("event_type").alias("t"),
            )
        )
        wp = Window.partitionBy("user_id").orderBy("rn")
        nx = path.withColumn("nxt", F.lead("event_type", 1).over(wp))
        inner = nx.where(F.col("nxt").isNotNull()).select(
            F.col("event_type").alias("s"), as_conv("nxt").alias("t")
        )
        batch_counts = (
            entry.unionByName(inner)
            .groupBy("s", "t")
            .agg(F.count("*").cast("bigint").alias("n"))
        )
        counts_new = (
            counts_prev.unionByName(batch_counts)
            .groupBy("s", "t")
            .agg(F.sum("n").alias("n"))
        )
        batch_state = path.groupBy("user_id").agg(
            F.max_by("event_type", "rn").alias("last_type"),
            F.max(
                F.when(F.col("event_type") == conv_type, 1).otherwise(0)
            ).alias("converted"),
        )
        state_new = state_prev.join(
            batch_state, "user_id", "left_anti"
        ).unionByName(batch_state)
        store.write_version(counts_new, counts_path, batch_id)
        store.write_version(state_new, state_path, batch_id)

    return store.start(stream, process, checkpoint)


def merged_attribution(
    spark: SparkSession,
    store_path: str,
    channels: tuple[str, ...] = ("click", "error", "signup", "view"),
    conv_type: str = "purchase",
    rounds: int = 16,
) -> DataFrame:
    """Serving view: latest cumulative counts + the frontier's terminal
    →NULL edges (non-converted users' open journeys closed AS OF now —
    the batch semantics over everything delivered), then the shared
    exact-integer chain solve."""
    from lab3_spark.operators.events import solve_removal_effects

    counts_path, state_path = f"{store_path}/counts", f"{store_path}/state"
    version = store.latest_version(spark, counts_path, "count")
    counts = store.read_version(spark, counts_path, version)
    state = store.read_version(spark, state_path, version, "state")
    terminals = (
        state.where(
            (F.col("converted") == 0) & F.col("last_type").isNotNull()
        )
        .groupBy(F.col("last_type").alias("s"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .select("s", F.lit("NULL").alias("t"), "n")
    )
    merged = (
        counts.unionByName(terminals)
        .groupBy("s", "t")
        .agg(F.sum("n").alias("n"))
    )
    return solve_removal_effects(spark, merged, channels, rounds)
