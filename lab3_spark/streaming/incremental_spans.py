"""Streaming incremental exact-substring span store — the Lee et al.
2022 ExactSubstr dedup (operators/dedup.exact_substring_spans)
maintained under DOCUMENT-delta micro-batches: the versioned-store
discipline of incremental_pagerank / incremental_lsh_index applied to
the remove-span table a curation pipeline keeps current at ingest.

The incremental subtlety this store exists for: adding documents can
make a previously-UNIQUE gram duplicated, which creates spans in OLD
documents the prior version rightly did not report (the first copy of
a boilerplate block becomes dedup-worthy only when the second copy
arrives).  Gram counts are monotone non-decreasing, so spans only ever
APPEAR — the delta work is exactly:

1. distinct the batch on doc_id; read version batch_id-1 of all three
   tables — a batch_id > 0 missing any REFUSES (partial or full wipe
   under a kept checkpoint; the wipe guard of streaming/store.py);
2. NEW docs = batch anti-join the prior positional-gram store
   (re-delivered docs are idempotent); their positional grams append
   to ``docgrams/version=batch_id`` — a document's grams depend on
   nothing but the document, never recomputed;
3. merged gram counts (prior + batch delta) →
   ``gramcounts/version=batch_id``; NEWLY-DUPLICATED grams = count
   crossed 1 → ≥2 this batch;
4. AFFECTED docs = the new docs ∪ prior docs holding a newly-
   duplicated gram (delta-proportional: a batch that repeats nothing
   re-evaluates nothing old); their spans recompute against the full
   updated duplicated-gram table via the batch operator's
   gram-semi-join → gaps-and-islands fold;
5. ``spans/version=batch_id`` = prior spans of UNAFFECTED docs ∪ the
   recomputed spans (replacement, not union: an affected old doc's
   span set is recomputed whole).

Contract (merged-equals-batch): the latest span version equals the
one-shot batch ``exact_substring_spans`` over the union of every
delivered document — monotone counts make carried-over spans exact,
and affected docs are recomputed against the same duplicated-gram
table the batch run would build.  Exactly-once: version dirs are
keyed by batch_id (a replayed batch re-reads version N−1 and
overwrites only its own output — the versioned layout of
streaming/store.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.streaming import store

SPAN_COLS = ("doc_id", "span_start", "span_end", "span_tokens")


def latest_spans(spark: SparkSession, store_path: str) -> DataFrame:
    """The highest-version span table under ``store_path``."""
    return store.read_version(spark, f"{store_path}/spans", what="span")


def start_incremental_spans(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    text_col: str = "text",
    n: int = 5,
    min_span_tokens: int = 50,
):
    """Start the span-store maintenance StreamingQuery (availableNow
    trigger).  ``stream`` rows: (doc_id bigint, text string, ...)
    document deltas; extra columns are ignored."""
    from lab3_spark.functions.text import tokenize
    from lab3_spark.operators.dedup import spans_from_hits
    from lab3_spark.operators.textstats import _word_ngrams

    grams_path, counts_path, spans_path = (
        f"{store_path}/{t}" for t in ("docgrams", "gramcounts", "spans")
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_docs = batch_df.select("doc_id", text_col).dropDuplicates(
            ["doc_id"]
        )
        prior = store.read_prior(
            spark, [grams_path, counts_path, spans_path], batch_id, "span"
        )
        if prior is not None:
            prior_grams, prior_counts, prior_spans = prior
            new_docs = batch_docs.join(
                prior_grams.select("doc_id").distinct(),
                "doc_id",
                "left_anti",
            )
        else:
            prior_grams = prior_counts = prior_spans = None
            new_docs = batch_docs
        new_grams = new_docs.select(
            "doc_id",
            F.posexplode(_word_ngrams(tokenize(text_col), n)).alias(
                "pos", "gram"
            ),
        )
        merged_grams = (
            prior_grams.unionByName(new_grams)
            if prior_grams is not None
            else new_grams
        )
        store.write_version(merged_grams, grams_path, batch_id)
        # re-read the durable version: every downstream join runs over
        # one consistent snapshot, not the in-flight union plan
        docgrams = store.read_version(spark, grams_path, batch_id)
        delta_counts = new_grams.groupBy("gram").agg(
            F.count(F.lit(1)).alias("_d")
        )
        if prior_counts is not None:
            merged_counts = (
                prior_counts.join(delta_counts, "gram", "full_outer")
                .select(
                    "gram",
                    (
                        F.coalesce(F.col("cnt"), F.lit(0))
                        + F.coalesce(F.col("_d"), F.lit(0))
                    )
                    .cast("bigint")
                    .alias("cnt"),
                )
            )
        else:
            merged_counts = delta_counts.select(
                "gram", F.col("_d").cast("bigint").alias("cnt")
            )
        store.write_version(merged_counts, counts_path, batch_id)
        counts = store.read_version(spark, counts_path, batch_id)
        dup = counts.where(F.col("cnt") >= 2).select("gram")
        new_ids = new_docs.select("doc_id").distinct()
        if prior_counts is not None:
            newly_dup = (
                counts.where(F.col("cnt") >= 2)
                .join(
                    prior_counts.where(F.col("cnt") >= 2).select("gram"),
                    "gram",
                    "left_anti",
                )
                .select("gram")
            )
            affected_old = (
                prior_grams.join(newly_dup, "gram", "left_semi")
                .select("doc_id")
                .distinct()
            )
            affected = new_ids.unionByName(affected_old).distinct()
        else:
            affected = new_ids
        hits = (
            docgrams.join(affected, "doc_id", "left_semi")
            .join(dup, "gram", "left_semi")
            .select("doc_id", "pos")
        )
        recomputed = spans_from_hits(hits, n, min_span_tokens)
        if prior_spans is not None:
            carried = prior_spans.join(affected, "doc_id", "left_anti")
            merged_spans = carried.unionByName(recomputed)
        else:
            merged_spans = recomputed
        store.write_version(merged_spans.select(*SPAN_COLS), spans_path, batch_id)

    return store.start(stream, process, checkpoint)
