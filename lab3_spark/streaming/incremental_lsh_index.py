"""Streaming incremental MinHash-LSH candidate index — maintain a
versioned (band-key store, candidate-pair list) snapshot pair under
DOCUMENT-delta micro-batches: the incremental_pagerank store
discipline applied to the near-dup index a curation pipeline queries
at ingest time ("which already-ingested documents might this new
batch duplicate?").

Per micro-batch (foreachBatch):

1. distinct the batch's (doc_id, text) rows on doc_id;
2. read version batch_id-1 of both ``bands/`` and ``cands/``; a
   batch_id > 0 missing either REFUSES — partial or full wipe under a
   kept checkpoint (the wipe guard of streaming/store.py);
3. NEW docs = batch anti-join prior band store on doc_id (re-delivered
   docs are idempotent); band keys are computed for the NEW docs only
   — a document's MinHash signature depends on nothing but the
   document, so previously-ingested signatures are never recomputed
   (the incremental win: per-batch work is delta-proportional in the
   signature stage); cumulative bands → ``bands/version=batch_id``;
4. NEW candidate pairs delta-proportionally: join(new-doc bands,
   cumulative bands) on (band, band_key) covers new×new and new×old
   collisions; old×old pairs are already in the prior candidate
   version.  The orientation guard — keep (a, b) when b.doc_id >
   a.doc_id OR b is an OLD doc — counts every shared band of every
   new pair exactly once (a new×new pair would otherwise appear in
   both orientations);
5. ``cands/version=batch_id`` = prior candidates ∪ the new pairs
   (disjoint by construction: every new pair touches a new doc).

Contract (merged-equals-batch): the latest candidate version equals
the one-shot batch ``minhash_candidates`` over the union of every
delivered document — EXACTLY, because banding is per-document and the
delta join enumerates precisely the collisions the batch self-join
would add.  Exactly-once: version dirs are keyed by batch_id — a
replayed batch re-reads version N−1 and overwrites only its own
output (the versioned layout of streaming/store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.streaming import store


def latest_cands(spark: SparkSession, store_path: str) -> DataFrame:
    """The highest-version candidate-pair table under ``store_path``."""
    return store.read_version(spark, f"{store_path}/cands", what="candidate")


def start_incremental_lsh_index(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
):
    """Start the LSH-index maintenance StreamingQuery (availableNow
    trigger).  ``stream`` rows: (doc_id bigint, text string, ...)
    document deltas; extra columns are ignored."""
    from lab3_spark.operators.dedup import minhash_band_keys

    bands_path, cands_path = f"{store_path}/bands", f"{store_path}/cands"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_docs = batch_df.select("doc_id", text_col).dropDuplicates(
            ["doc_id"]
        )
        prior = store.read_prior(
            spark, [bands_path, cands_path], batch_id, "lsh index"
        )
        if prior is not None:
            prior_bands, prior_cands = prior
            new_docs = batch_docs.join(
                prior_bands.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        else:
            prior_bands = prior_cands = None
            new_docs = batch_docs
        new_bands = minhash_band_keys(new_docs, text_col)
        merged_bands = (
            prior_bands.unionByName(new_bands)
            if prior_bands is not None
            else new_bands
        )
        store.write_version(merged_bands, bands_path, batch_id)
        # re-read the durable version: the pair join runs over one
        # consistent snapshot, not the in-flight union plan
        bands = store.read_version(spark, bands_path, batch_id)
        new_ids = new_docs.select("doc_id").distinct()
        a = bands.join(new_ids, "doc_id").alias("a")
        b = bands.join(
            new_ids.withColumn("_new", F.lit(1)), "doc_id", "left"
        ).alias("b")
        new_pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") != F.col("b.doc_id"))
                & (
                    (F.col("b.doc_id") > F.col("a.doc_id"))
                    | F.col("b._new").isNull()
                ),
            )
            .groupBy(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_bands"))
        )
        merged_cands = (
            prior_cands.unionByName(new_pairs)
            if prior_cands is not None
            else new_pairs
        )
        store.write_version(merged_cands, cands_path, batch_id)

    return store.start(stream, process, checkpoint)
