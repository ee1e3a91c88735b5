"""Streaming incremental PageRank — maintain a versioned (edge set,
ranks) store under edge-delta micro-batches: the streaming/cdc.py
store discipline applied to graphs (VERDICT r7 item 6).

Per micro-batch (foreachBatch):

1. distinct the batch's (src, dst) deltas;
2. store/checkpoint-disagreement guard (both cdc.py branches): a
   batch_id > 0 whose expected ``{store}/edges/version=batch_id-1`` is
   absent REFUSES — whether other versions survive (partial wipe) or
   none do (full wipe under a kept checkpoint) — instead of silently
   ranking a subgraph;
3. cumulative edge set = prior version ∪ batch (anti-join dedup:
   re-delivered edges are idempotent), written to
   ``edges/version=batch_id``;
4. ranks = operators/pagerank.pagerank_fixed_point over the cumulative
   set (all-bigint fixed point), written to ``ranks/version=batch_id``.

Contract (merged-equals-batch): the latest rank version equals the
one-shot batch PageRank over the union of every delivered edge with
the same ``n_iter`` — EXACTLY, because each version re-ranks the full
maintained edge set with bit-exact integer arithmetic, so the gate's
oracle is the batch PageRank oracle verbatim.  The INCREMENTAL part is
the store: edges accumulate delta-by-delta and every version is a
consistent (edges, ranks) snapshot pair.  A 100 TB deployment would
swap the per-batch full re-rank for a warm-started iteration seeded
from version N-1's ranks (same operator, prior init) — trading the
exactness contract for delta-proportional work; the store layout
already carries everything that needs.

Exactly-once: version dirs are keyed by batch_id — a replayed batch
re-reads version N-1 and overwrites only its own output (idempotent,
the cdc.py/incremental_dedup discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import cache_scope


def ranks_snapshot(
    spark: SparkSession, store_path: str, version: int
) -> DataFrame:
    return spark.read.parquet(f"{store_path}/ranks/version={version}")


def latest_ranks(spark: SparkSession, store_path: str) -> DataFrame:
    """The highest-version rank table under ``store_path``."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(f"{store_path}/ranks")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    # fs.exists first: listStatus on a missing store raises a raw py4j
    # Java FileNotFoundException, not the Python contract (ADVICE r8)
    if not fs.exists(hpath):
        raise FileNotFoundError(f"no rank versions under {store_path}")
    versions = [
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(hpath)
        if st.getPath().getName().startswith("version=")
    ]
    if not versions:
        raise FileNotFoundError(f"no rank versions under {store_path}")
    return ranks_snapshot(spark, store_path, max(versions))


def start_incremental_pagerank(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    n_iter: int = 5,
):
    """Start the rank-store maintenance StreamingQuery (availableNow
    trigger).  ``stream`` rows: (src bigint, dst bigint, ...) edge
    deltas; extra columns are ignored."""
    from lab3_spark.operators.pagerank import pagerank_fixed_point

    @cache_scope()
    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_edges = batch_df.select("src", "dst").distinct()
        jvm = spark._jvm
        hprev = jvm.org.apache.hadoop.fs.Path(
            f"{store_path}/edges/version={batch_id - 1}"
        )
        fs = hprev.getFileSystem(spark._jsc.hadoopConfiguration())
        if batch_id > 0 and not fs.exists(hprev):
            # the cdc.py guard, both branches: missing expected prior
            # with OTHER versions present (partial wipe) or with NONE
            # present (full wipe, checkpoint kept) — either way prior
            # graph state is lost and a version written now would
            # masquerade as ranks over the full delivered edge set
            hstore = jvm.org.apache.hadoop.fs.Path(f"{store_path}/edges")
            existing = (
                sorted(
                    int(st.getPath().getName().split("=", 1)[1])
                    for st in fs.listStatus(hstore)
                    if st.getPath().getName().startswith("version=")
                )
                if fs.exists(hstore)
                else []
            )
            raise RuntimeError(
                f"pagerank edge store {store_path}/edges holds versions "
                f"{existing} but not version={batch_id - 1} expected by "
                f"incoming batch_id={batch_id}; refusing to rank a "
                "subgraph — start over with a fresh checkpoint (full "
                "replay) or restore the store"
            )
        if batch_id > 0:
            prior = spark.read.parquet(
                f"{store_path}/edges/version={batch_id - 1}"
            )
            merged = prior.unionByName(
                batch_edges.join(prior, ["src", "dst"], "left_anti")
            )
        else:
            merged = batch_edges
        merged.write.mode("overwrite").parquet(
            f"{store_path}/edges/version={batch_id}"
        )
        # re-read what was just written: the rank pass runs over the
        # durable version (one consistent snapshot pair), not the
        # in-flight union plan
        edges = spark.read.parquet(f"{store_path}/edges/version={batch_id}")
        pagerank_fixed_point(edges, n_iter=n_iter).write.mode(
            "overwrite"
        ).parquet(f"{store_path}/ranks/version={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
