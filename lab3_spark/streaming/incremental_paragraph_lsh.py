"""Streaming incremental PARAGRAPH-grain MinHash-LSH candidate index —
the incremental_lsh_index store discipline applied at the
(doc_id, para_idx) unit, so an ingest pipeline can ask "which
already-ingested paragraphs does this new batch's boilerplate
duplicate?" without re-banding history.

Per micro-batch (foreachBatch):

1. distinct the batch's (doc_id, text) rows on doc_id (documents
   arrive WHOLE; the paragraph grain is derived, never streamed
   per-paragraph — a re-delivered doc is idempotent as a unit).
   ADVICE r10: the store is APPEND-ONLY over IMMUTABLE documents —
   first delivery wins, so a re-delivered doc_id with DIFFERENT text
   is anti-joined away and its new paragraphs are never indexed
   (updates require a fresh checkpoint / full replay, exactly like
   recovering from a wiped store).  This is replay-idempotence, NOT
   update support;
2. read version batch_id-1 of BOTH ``bands/`` and ``cands/``; any
   missing one REFUSES with the documented RuntimeError (the wipe
   guard of streaming/store.py);
3. NEW docs = batch anti-join prior band store on doc_id; their
   paragraphs are banded ONCE via the batch machinery VERBATIM
   (dedup.paragraph_frame → minhash_band_keys with
   key_cols=(doc_id, para_idx)) — a paragraph's signature depends on
   nothing but its own text, so prior signatures are never
   recomputed; cumulative bands → ``bands/version=batch_id``;
4. NEW candidate pairs delta-proportionally: join(new-unit bands,
   cumulative bands) on (band, band_key) covers new×new and new×old
   collisions; old×old pairs carry over.  The orientation guard —
   keep when the b-unit is lexicographically GREATER than the a-unit
   OR b is an OLD doc's unit — counts every shared band of every new
   pair exactly once;
5. ``cands/version=batch_id`` = prior candidates ∪ new pairs
   (disjoint: every new pair touches a new doc's unit).

Contract (merged-equals-batch): the latest candidate version equals
the ONE-SHOT ``dedup.paragraph_minhash_duplicates(max_bucket=None)``
over the union of every delivered document — guard-FREE, because the
store emits pairs as buckets grow and a global size cap applied
per-batch would depend on delivery order (the batch gate's
``max_bucket`` is an ingest-time knob, applied downstream of the
index).  Exactly-once: version dirs keyed by batch_id — a replayed
batch re-reads version N−1 and overwrites only its own output (the
versioned layout of streaming/store.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.streaming import store


def latest_cands(spark: SparkSession, store_path: str) -> DataFrame:
    """The highest-version paragraph candidate table under
    ``store_path``."""
    return store.read_version(
        spark, f"{store_path}/cands", what="paragraph candidate"
    )


def start_incremental_paragraph_lsh(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    delimiter: str | None = None,
    block_tokens: int | None = 32,
):
    """Start the paragraph-index maintenance StreamingQuery
    (availableNow trigger).  ``stream`` rows: (doc_id bigint,
    text string, ...) WHOLE-document deltas; extra columns ignored."""
    from lab3_spark.operators.dedup import (
        minhash_band_keys,
        paragraph_frame,
    )

    # validate the paragraph-grain args EAGERLY: inside foreachBatch
    # the same ValueError would surface as an opaque
    # StreamingQueryException on the first micro-batch
    if (delimiter is None) == (block_tokens is None):
        raise ValueError("give exactly one of delimiter / block_tokens")

    bands_path, cands_path = f"{store_path}/bands", f"{store_path}/cands"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_docs = batch_df.select("doc_id", text_col).dropDuplicates(
            ["doc_id"]
        )
        prior = store.read_prior(
            spark, [bands_path, cands_path], batch_id, "paragraph lsh"
        )
        if prior is not None:
            prior_bands, prior_cands = prior
            new_docs = batch_docs.join(
                prior_bands.select("doc_id").distinct(),
                "doc_id",
                "left_anti",
            )
        else:
            prior_bands = prior_cands = None
            new_docs = batch_docs
        new_paras = paragraph_frame(
            new_docs,
            text_col,
            delimiter=delimiter,
            block_tokens=block_tokens,
        )
        new_bands = minhash_band_keys(
            new_paras, "para_text", key_cols=("doc_id", "para_idx")
        )
        merged_bands = (
            prior_bands.unionByName(new_bands)
            if prior_bands is not None
            else new_bands
        )
        store.write_version(merged_bands, bands_path, batch_id)
        # re-read the durable version: one consistent snapshot
        bands = store.read_version(spark, bands_path, batch_id)
        new_ids = new_docs.select("doc_id").distinct()
        a = bands.join(new_ids, "doc_id").alias("a")
        b = bands.join(
            new_ids.withColumn("_new", F.lit(1)), "doc_id", "left"
        ).alias("b")
        b_gt_a = (F.col("b.doc_id") > F.col("a.doc_id")) | (
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.para_idx") > F.col("a.para_idx"))
        )
        a_lt_b = (F.col("a.doc_id") < F.col("b.doc_id")) | (
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.para_idx") < F.col("b.para_idx"))
        )
        new_pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (
                    (F.col("a.doc_id") != F.col("b.doc_id"))
                    | (F.col("a.para_idx") != F.col("b.para_idx"))
                )
                & (b_gt_a | F.col("b._new").isNull()),
            )
            .groupBy(
                F.when(a_lt_b, F.col("a.doc_id"))
                .otherwise(F.col("b.doc_id"))
                .alias("doc_a"),
                F.when(a_lt_b, F.col("a.para_idx"))
                .otherwise(F.col("b.para_idx"))
                .alias("para_a"),
                F.when(a_lt_b, F.col("b.doc_id"))
                .otherwise(F.col("a.doc_id"))
                .alias("doc_b"),
                F.when(a_lt_b, F.col("b.para_idx"))
                .otherwise(F.col("a.para_idx"))
                .alias("para_b"),
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
