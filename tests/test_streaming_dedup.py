"""Incremental sketch and dedup stores fed by Structured Streaming:
the merged store equals the one-shot batch result, and a replayed
batch changes nothing."""

import os

from pyspark.sql import functions as F


def test_streaming_cms_store_equals_batch_matrix(spark, sf_dir, tmp_path):
    """Draining events through the per-batch counter store and summing
    partitions reproduces the one-shot batch matrix EXACTLY — and a
    replayed batch (overwrite of its own partition) changes nothing."""
    import os

    from pyspark.sql import functions as F

    from lab3_spark.operators.events import cms_counters
    from lab3_spark.streaming.cms import merged_counters, start_streaming_cms
    from lab3_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    incoming = str(tmp_path / "incoming")
    os.makedirs(incoming)
    for b in range(3):
        ev.where(F.col("event_id") % 3 == b).coalesce(1).write.parquet(
            str(tmp_path / f"part{b}")
        )
        (pf,) = [
            f
            for f in os.listdir(tmp_path / f"part{b}")
            if f.endswith(".parquet")
        ]
        os.rename(tmp_path / f"part{b}" / pf, f"{incoming}/{b:02d}.parquet")
    src = (
        spark.readStream.schema("event_id bigint, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(incoming)
    )
    store = str(tmp_path / "store")
    q = start_streaming_cms(src, store, str(tmp_path / "ckpt"))
    assert q.awaitTermination(600)
    batches = {
        f for f in os.listdir(store) if f.startswith("batch_id=")
    }
    assert len(batches) == 3, batches
    merged = {
        (r.r, r.bucket): r.cnt for r in merged_counters(spark, store).collect()
    }
    whole = {(r.r, r.bucket): r.cnt for r in cms_counters(ev).collect()}
    assert merged == whole
    # replay batch 0: rewrite its partition from the same data — the
    # overwrite-own-partition contract keeps the merge unchanged
    b0 = spark.read.parquet(f"{incoming}/00.parquet")
    cms_counters(b0).write.mode("overwrite").parquet(f"{store}/batch_id=0")
    again = {
        (r.r, r.bucket): r.cnt for r in merged_counters(spark, store).collect()
    }
    assert again == whole


def test_streaming_kmv_store_equals_batch_estimate(spark, sf_dir, tmp_path):
    """Draining events through the per-batch KMV synopsis store and
    merging reproduces the one-shot batch estimate EXACTLY; replaying
    a batch changes nothing."""
    import os

    from pyspark.sql import functions as F

    from lab3_spark.operators.events import kmv_daily_users
    from lab3_spark.streaming.kmv import merged_estimate_frame, start_streaming_kmv
    from lab3_spark.sources.tables import load_table

    k = 64
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    incoming = str(tmp_path / "incoming")
    os.makedirs(incoming)
    for b in range(4):
        ev.where(F.col("event_id") % 4 == b).coalesce(1).write.parquet(
            str(tmp_path / f"part{b}")
        )
        (pf,) = [
            f for f in os.listdir(tmp_path / f"part{b}") if f.endswith(".parquet")
        ]
        os.rename(tmp_path / f"part{b}" / pf, f"{incoming}/{b:02d}.parquet")
    src = (
        spark.readStream.schema("event_id bigint, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(incoming)
    )
    store = str(tmp_path / "store")
    q = start_streaming_kmv(src, store, str(tmp_path / "ckpt"), k=k)
    assert q.awaitTermination(600)
    # one-shot batch estimate over the whole input: the all-days total
    # from the batch operator (single-day data would also work; the
    # total is the merged estimate over everything)
    ev_ts = load_table(spark, sf_dir, "events").select("user_id", "ts")
    whole = kmv_daily_users(ev_ts, k=k).collect()[0]["est_users_total"]

    def merged_estimate():
        return merged_estimate_frame(spark, store, k).collect()[0]["est_users_total"]

    assert merged_estimate() == whole
    # replay batch 0 from the same data — idempotent
    b0 = spark.read.parquet(f"{incoming}/00.parquet")
    from lab3_spark.streaming.kmv import _hv
    from lab3_spark.operators.events import kmv_synopsis

    kmv_synopsis(
        b0.select(F.lit("all").alias("g"), _hv("user_id").alias("hv")),
        "g",
        "hv",
        k,
    ).select("hv").write.mode("overwrite").parquet(f"{store}/batch_id=0")
    assert merged_estimate() == whole


def test_streaming_lsh_flags_near_dups_at_ingest(spark, tmp_path):
    """The later arrival of a near-dup pair is flagged; the first
    arrival and unique docs are not; flags equal the batch-computed
    first-arrival relation over the same band keys."""
    import os

    from lab3_spark.operators.dedup import minhash_band_keys
    from lab3_spark.streaming.lsh_flag import (
        flagged_docs,
        start_streaming_lsh_flags,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill every single morning"
    )
    rows = [
        (0, base),                          # batch 0 — first arrival
        (3, base),                          # batch 0, later id → flagged
        (1, base.replace("warm", "cold")),  # batch 1 near dup → flagged
        (4, "completely different content about spark query engines"),
        (2, "another unrelated body of text entirely its own words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    incoming = str(tmp_path / "incoming")
    os.makedirs(incoming)
    now = __import__("time").time()
    for b in range(3):
        part = tmp_path / f"part{b}"
        docs.where(F.col("doc_id") % 3 == b).coalesce(1).write.parquet(str(part))
        (pf,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = f"{incoming}/{b:02d}.parquet"
        os.rename(part / pf, dst)
        os.utime(dst, (now + b * 10, now + b * 10))
    src = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(incoming)
    )
    store = str(tmp_path / "store")
    q = start_streaming_lsh_flags(src, store, str(tmp_path / "ckpt"))
    assert q.awaitTermination(600)
    got = {r.doc_id: r.flagged for r in flagged_docs(spark, store).collect()}
    assert got[0] == 0          # first arrival of the dup cluster
    assert got[3] == 1          # same batch, later doc_id
    assert got[1] == 1          # later batch near dup
    assert got[4] == 0 and got[2] == 0
    # store keys == batch-side band keys for the same docs
    stored = {
        (r.doc_id, r.band, r.band_key)
        for r in spark.read.option("basePath", store)
        .parquet(f"{store}/batch_id=*")
        .select("doc_id", "band", "band_key")
        .collect()
    }
    batch_side = {
        (r.doc_id, r.band, r.band_key)
        for r in minhash_band_keys(docs).collect()
    }
    assert stored == batch_side
