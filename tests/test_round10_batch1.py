"""Round-10 additions, part 1: the ADVICE r9 guard fixes."""

import pytest
from pyspark.sql import functions as F  # noqa: F401


def test_logreg_empty_documents_raises_value_error(spark):
    """ADVICE r9: an empty documents frame must raise the engine's
    descriptive empty-input ValueError (kmeans.py contract), not the
    raw ZeroDivisionError from the gradient-step divisor."""
    from lab3_spark.operators.quality import train_quality_logreg

    empty = spark.createDataFrame(
        [], "doc_id bigint, text string, source string"
    )
    with pytest.raises(ValueError, match="empty documents frame"):
        train_quality_logreg(empty).collect()


def test_apply_span_removal_excises_planted_block(spark):
    """VERDICT r9 item 4: the remove action applied.  Docs 1/2 share
    an 8-token block (n=3, min_span=6): doc 1 keeps only its unique
    tail, doc 2 (block only) survives as an empty string (remove-not-
    drop), doc 3 (all unique) passes through verbatim."""
    from lab3_spark.operators.dedup import apply_span_removal

    block = "sa sb sc sd se sf sg sh"
    docs = spark.createDataFrame(
        [
            (1, block + " taila tailb"),
            (2, block),
            (3, "ua ub uc ud ue uf ug"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r
        for r in apply_span_removal(
            docs, n=3, min_span_tokens=6
        ).collect()
    }
    assert got[1]["clean_text"] == "taila tailb"
    assert (got[1]["n_tokens"], got[1]["kept_tokens"]) == (10, 2)
    assert got[2]["clean_text"] == "" and got[2]["kept_tokens"] == 0
    assert got[3]["clean_text"] == "ua ub uc ud ue uf ug"
    assert got[3]["removed_tokens"] == 0


def test_apply_span_removal_matches_accounting(spark, sf_dir):
    """apply_span_removal's per-doc removed_tokens must sum to exactly
    what span_removal_by_source's interval-union accounting reports —
    the two share merge_spans, and this pins that they stay shared."""
    from lab3_spark.operators.dedup import (
        apply_span_removal,
        span_removal_by_source,
    )
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    applied = apply_span_removal(docs)
    total_removed = applied.agg(
        F.sum("removed_tokens").cast("bigint")
    ).collect()[0][0]
    accounted = (
        span_removal_by_source(docs)
        .agg(F.sum("removed_tokens").cast("bigint"))
        .collect()[0][0]
    )
    assert total_removed == accounted
    # excision really re-emits text: kept == tokens of clean_text
    bad = applied.where(
        F.size(F.split(F.col("clean_text"), " "))
        - F.when(F.col("clean_text") == "", 1).otherwise(0)
        != F.col("kept_tokens")
    ).count()
    assert bad == 0


def test_merge_spans_overlapping_islands(spark):
    """Interval union on overlapping + touching + disjoint spans."""
    from lab3_spark.operators.dedup import merge_spans

    spans = spark.createDataFrame(
        [
            (1, 0, 10), (1, 5, 12), (1, 12, 20),  # overlap then touch
            (1, 30, 40),                          # disjoint
            (2, 3, 7),
        ],
        "doc_id bigint, span_start bigint, span_end bigint",
    )
    got = sorted(
        (r["doc_id"], r["a"], r["b"]) for r in merge_spans(spans).collect()
    )
    # touching at 12: span [12,20) starts at prev max end 12, NOT
    # strictly greater -> merged (tokens 0..19 contiguous removal)
    assert got == [(1, 0, 20), (1, 30, 40), (2, 3, 7)]


def test_paragraph_frame_semantics(spark):
    from lab3_spark.operators.dedup import paragraph_frame

    docs = spark.createDataFrame(
        [(1, "first para here\n\n  \nthird para here")],
        "doc_id bigint, text string",
    )
    rows = sorted(
        (r["para_idx"], r["para_text"])
        for r in paragraph_frame(docs, delimiter="\n").collect()
    )
    # whitespace-only paragraph dropped; ORIGINAL indices kept
    assert rows == [(0, "first para here"), (3, "third para here")]
    blocks = sorted(
        (r["para_idx"], r["para_text"])
        for r in paragraph_frame(docs, block_tokens=4).collect()
    )
    assert blocks == [
        (0, "first para here third"),
        (1, "para here"),
    ]
    with pytest.raises(ValueError, match="exactly one"):
        paragraph_frame(docs)
    with pytest.raises(ValueError, match="exactly one"):
        paragraph_frame(docs, delimiter="\n", block_tokens=4)


def test_paragraph_minhash_planted_boilerplate(spark):
    """RefinedWeb-style: three docs share a verbatim boilerplate
    paragraph while their body paragraphs are disjoint — the pairs
    must be exactly the boilerplate cross-pairs, all 4 bands, and a
    within-doc repeat must also surface."""
    from lab3_spark.operators.dedup import paragraph_minhash_duplicates

    bp = "subscribe to our newsletter for updates every single week"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon\n" + bp),
            (2, bp + "\nzeta eta theta iota kappa"),
            (3, "lam mu nu xi omicron\n" + bp + "\n" + bp),
        ],
        "doc_id bigint, text string",
    )
    got = {
        ((r["doc_a"], r["para_a"]), (r["doc_b"], r["para_b"])): r["n_bands"]
        for r in paragraph_minhash_duplicates(docs, delimiter="\n").collect()
    }
    bp_units = [(1, 1), (2, 0), (3, 1), (3, 2)]
    expected = {
        (u, v): 4
        for i, u in enumerate(bp_units)
        for v in bp_units[i + 1 :]
    }
    assert got == expected


def test_apply_paragraph_dedup_keep_first(spark):
    """Dolma-style keep-first: the earliest copy of the boilerplate
    paragraph survives, every later copy (cross-doc AND within-doc)
    is removed, bodies pass through, and clean_text preserves the
    original paragraph order."""
    from lab3_spark.operators.dedup import apply_paragraph_dedup

    bp = "subscribe to our newsletter for updates every single week"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon\n" + bp),
            (2, bp + "\nzeta eta theta iota kappa"),
            (3, bp + "\n" + bp),
            (4, "lam mu nu xi omicron"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r
        for r in apply_paragraph_dedup(docs, delimiter="\n").collect()
    }
    # doc 1 holds the earliest copy (1,1): everything kept
    assert got[1]["clean_text"] == "alpha beta gamma delta epsilon\n" + bp
    assert got[1]["removed_paras"] == 0
    # doc 2's copy (2,0) has earlier partner (1,1): removed, body kept
    assert got[2]["clean_text"] == "zeta eta theta iota kappa"
    assert (got[2]["n_paras"], got[2]["kept_paras"]) == (2, 1)
    # doc 3: both copies have earlier partners -> empty survivor
    assert got[3]["clean_text"] == "" and got[3]["kept_paras"] == 0
    # doc 4: untouched
    assert got[4]["clean_text"] == "lam mu nu xi omicron"
    assert got[4]["removed_paras"] == 0


def test_dhash_near_dup_planted_pair(spark):
    """dHash semantics: a one-character edit moves one grid cell's
    brightness, flipping at most 2 of the 64 gradient bits — the pair
    must surface through the pigeonhole join with is_near=1; an
    unrelated doc must not be near either."""
    from lab3_spark.operators.multimodal import dhash_near_dups

    base = (
        "the quick brown fox jumps over the lazy dog while seven "
        "wizards quietly mix bright vexing potions in the old tower "
        "basement near the river bend just after midnight strikes"
    )
    edited = base.replace("midnight", "midnighx")
    other = "z" * 30 + "a" * 40 + "m" * 50 + "q" * 60
    docs = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)],
        "doc_id bigint, text string",
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in dhash_near_dups(docs, max_bucket=None).collect()
    }
    assert (1, 2) in rows
    r12 = rows[(1, 2)]
    assert r12["hamming"] <= 2 and r12["is_near"] == 1
    assert r12["n_equal_chunks"] >= 5  # >= 7 - 2 flipped bits
    for pair in ((1, 3), (2, 3)):
        assert pair not in rows or rows[pair]["is_near"] == 0


def test_dhash_identical_content_hamming_zero(spark):
    from lab3_spark.operators.multimodal import dhash_near_dups

    t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id bigint, text string"
    )
    (r,) = dhash_near_dups(docs, max_bucket=None).collect()
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["hamming"] == 0 and r["n_equal_chunks"] == 7
    assert r["is_near"] == 1


def test_incremental_spans_refuses_partially_wiped_store(spark, tmp_path):
    """ADVICE r9: a PARTIAL wipe (spans/ deleted, gramcounts/ intact)
    must surface the documented refusing-to-dedup RuntimeError, not a
    raw py4j FileNotFoundException from spark.read.parquet."""
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from tests.test_round9_batch2 import BLOCK, _doc_feed, _drain_spans

    feed = _doc_feed(spark, tmp_path, [[(1, BLOCK), (2, BLOCK)]])
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    _drain_spans(spark, feed, store, ck)
    shutil.rmtree(store + "/spans")
    _doc_feed(spark, tmp_path, [[(3, BLOCK)]])
    with pytest.raises(StreamingQueryException, match="refusing"):
        _drain_spans(spark, feed, store, ck)


# ------------------- streaming incremental paragraph LSH (r10) --------


def _para_feed(spark, tmp_path, batches):
    import os
    import time

    feed = str(tmp_path / "pfeed")
    os.makedirs(feed, exist_ok=True)
    existing = len(os.listdir(feed))
    for i, docs in enumerate(batches, start=existing):
        part = str(tmp_path / f"ppart{i}")
        spark.createDataFrame(docs, "doc_id bigint, text string").coalesce(
            1
        ).write.parquet(part)
        (pf,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = os.path.join(feed, f"{i:02d}.parquet")
        os.rename(os.path.join(part, pf), dst)
        os.utime(dst, (time.time() + i * 10,) * 2)
    return feed


def _drain_para_lsh(spark, feed, store, ck):
    from lab3_spark.streaming.incremental_paragraph_lsh import (
        start_incremental_paragraph_lsh,
    )

    src = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = start_incremental_paragraph_lsh(
        src, store, ck, delimiter="\n", block_tokens=None
    )
    if not q.awaitTermination(300):  # pragma: no cover
        q.stop()
        raise AssertionError("paragraph lsh stream timed out")


BOILER = "subscribe to our newsletter for updates every single week"


def test_incremental_paragraph_lsh_merged_equals_batch(spark, tmp_path):
    """The maintained candidate store's final version must equal the
    one-shot guard-free paragraph_minhash_duplicates over the union
    of every delivered document — including the new×old case: batch
    1's boilerplate copy must pair with batch 0's WITHOUT batch 0
    being re-banded, and a re-delivered doc is idempotent."""
    from lab3_spark.operators.dedup import paragraph_minhash_duplicates
    from lab3_spark.streaming.incremental_paragraph_lsh import latest_cands
    from lab3_spark.streaming.store import read_version

    b0 = [(1, "alpha beta gamma delta epsilon\n" + BOILER)]
    b1 = [(2, BOILER + "\nzeta eta theta iota kappa"), (1, "ignored")]
    b2 = [(3, BOILER + "\n" + BOILER)]
    feed = _para_feed(spark, tmp_path, [b0, b1, b2])
    store, ck = str(tmp_path / "pstore"), str(tmp_path / "pck")
    _drain_para_lsh(spark, feed, store, ck)

    all_docs = spark.createDataFrame(
        [b0[0], b1[0], b2[0]], "doc_id bigint, text string"
    )
    exp = sorted(
        map(
            tuple,
            paragraph_minhash_duplicates(
                all_docs, delimiter="\n", max_bucket=None
            ).collect(),
        )
    )
    got = sorted(map(tuple, latest_cands(spark, store).collect()))
    assert got == exp
    # delta-proportionality is visible in the versions: v0 has no
    # pairs (one doc), v1 adds exactly the (1,1)x(2,0) collision
    assert read_version(spark, store + "/cands", 0).count() == 0
    v1 = sorted(map(tuple, read_version(spark, store + "/cands", 1).collect()))
    assert v1 == [(1, 1, 2, 0, 4)]


def test_incremental_paragraph_lsh_refuses_partial_wipe(spark, tmp_path):
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    feed = _para_feed(
        spark, tmp_path, [[(1, BOILER), (2, BOILER)]]
    )
    store, ck = str(tmp_path / "pstore"), str(tmp_path / "pck")
    _drain_para_lsh(spark, feed, store, ck)
    shutil.rmtree(store + "/cands")
    _para_feed(spark, tmp_path, [[(3, BOILER)]])
    with pytest.raises(StreamingQueryException, match="refusing"):
        _drain_para_lsh(spark, feed, store, ck)


def test_latest_para_cands_missing_store_raises(spark, tmp_path):
    from lab3_spark.streaming.incremental_paragraph_lsh import latest_cands

    with pytest.raises(FileNotFoundError, match="no paragraph candidate"):
        latest_cands(spark, str(tmp_path / "never"))


# ------------------------ surgical decontamination (r10) --------------


def test_decontaminate_train_spans_excises_planted_leak(spark):
    """A train doc embedding a >=13-token verbatim run from a held-out
    doc keeps exactly its prefix/suffix; an all-clean train doc passes
    through verbatim; held-out docs never appear in the output."""
    from lab3_spark.functions.text import md5_long
    from lab3_spark.operators.dedup import decontaminate_train_spans

    # recover the salted 90/5/5 assignment for small ids
    probe = spark.range(0, 60).select(
        F.col("id").alias("doc_id"),
        (md5_long(F.col("id").cast("string"), salt="split") % 100).alias(
            "h"
        ),
    )
    hs = {r["doc_id"]: r["h"] for r in probe.collect()}
    train_ids = [i for i, h in hs.items() if h < 90]
    held_ids = [i for i, h in hs.items() if h >= 90]
    assert len(train_ids) >= 2 and held_ids, hs
    t1, t2, h1 = train_ids[0], train_ids[1], held_ids[0]

    leak = " ".join(f"w{c}" for c in "abcdefghijklmno")  # 15 tokens
    docs = spark.createDataFrame(
        [
            (t1, "prea preb " + leak + " posta postb"),
            (t2, "ua ub uc ud ue uf ug"),
            (h1, "held head " + leak + " held tail"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r
        for r in decontaminate_train_spans(docs).collect()
    }
    assert set(got) == {t1, t2}  # held-out docs never emitted
    assert got[t1]["clean_text"] == "prea preb posta postb"
    assert got[t1]["removed_tokens"] == 15
    assert got[t2]["clean_text"] == "ua ub uc ud ue uf ug"
    assert got[t2]["removed_tokens"] == 0


# ---------------------- property tests (hypothesis) -------------------


from hypothesis import given, settings, strategies as st

SPANS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),    # doc_id
        st.integers(min_value=0, max_value=40),   # start
        st.integers(min_value=1, max_value=15),   # length
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=15, deadline=None)
@given(SPANS)
def test_merge_spans_matches_bruteforce_interval_union(spark, raw):
    """merge_spans must equal a brute-force per-doc interval union on
    arbitrary overlapping/nested/touching spans (the fold both APPLY
    capstones and the accounting share)."""
    from lab3_spark.operators.dedup import merge_spans

    rows = [(d, s, s + ln) for d, s, ln in raw]
    spans = spark.createDataFrame(
        rows, "doc_id bigint, span_start bigint, span_end bigint"
    )
    got = sorted(
        (r["doc_id"], r["a"], r["b"]) for r in merge_spans(spans).collect()
    )
    # brute force: mark covered positions, read off maximal runs
    exp = []
    for d in sorted({r[0] for r in rows}):
        covered = set()
        for dd, s, e in rows:
            if dd == d:
                covered.update(range(s, e))
        run = None
        for p in range(min(covered), max(covered) + 2):
            if p in covered and run is None:
                run = p
            elif p not in covered and run is not None:
                exp.append((d, run, p))
                run = None
    assert got == sorted(exp)


@settings(max_examples=10, deadline=None)
@given(st.binary(min_size=0, max_size=200))
def test_dhash_chunks_reconstruct_packed_hash(spark, payload):
    """The 7 pigeonhole chunk values must reassemble to the packed
    two's-complement dhash exactly — on arbitrary byte payloads."""
    import pandas as pd

    from lab3_spark.operators.multimodal import dhash_chunks

    media = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1], "media_type": ["x"], "content": [payload]}
        )
    )
    rows = dhash_chunks(media).collect()
    assert len(rows) == 7
    h = rows[0]["dhash"]
    assert all(r["dhash"] == h for r in rows)
    acc = 0
    for r in rows:
        lo = (r["c"] * 64) // 7
        acc += r["cv"] << lo
    # undo two's complement for comparison
    assert acc == (h if h >= 0 else h + (1 << 64))


def test_round10_applies_empty_corpus_contract(spark):
    """The three round-10 APPLY operators must return EMPTY frames
    (same schema) on an empty documents frame — the engine's
    pass-through empty-input contract, no crashes, no NULL rows."""
    from lab3_spark.operators.dedup import (
        apply_paragraph_dedup,
        apply_span_removal,
        decontaminate_train_spans,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    for fn, kw in (
        (apply_span_removal, {}),
        (apply_paragraph_dedup, {"block_tokens": 32}),
        (decontaminate_train_spans, {}),
    ):
        out = fn(empty, **kw)
        assert out.count() == 0, fn.__name__
        assert "clean_text" in out.columns, fn.__name__


def test_dhash_rejects_incomplete_radius(spark):
    from lab3_spark.operators.multimodal import dhash_near_dups

    docs = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        dhash_near_dups(docs, max_hamming=7)


def test_incremental_paragraph_lsh_rejects_bad_grain_args_eagerly(
    spark, tmp_path
):
    from lab3_spark.streaming.incremental_paragraph_lsh import (
        start_incremental_paragraph_lsh,
    )

    feed = _para_feed(spark, tmp_path, [[(1, BOILER)]])
    src = (
        spark.readStream.schema("doc_id bigint, text string")
        .parquet(feed)
    )
    with pytest.raises(ValueError, match="exactly one"):
        start_incremental_paragraph_lsh(
            src,
            str(tmp_path / "s"),
            str(tmp_path / "c"),
            delimiter="\n",
            block_tokens=32,
        )


def test_span_removal_packing_equals_raw_minus_removed(spark, sf_dir):
    """The cleaned ladder's total_tokens must equal the raw ladder's
    total minus the interval-union removal accounting, rung by rung —
    the packing dividend is exactly what the accounting says was
    removed."""
    from lab3_spark.operators.dedup import (
        span_removal_by_source,
        span_removal_packing_bound,
    )
    from lab3_spark.operators.sampling import packing_bfd_bound
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    raw = {r["budget"]: r["total_tokens"]
           for r in packing_bfd_bound(docs).collect()}
    cleaned = {r["budget"]: r["total_tokens"]
               for r in span_removal_packing_bound(docs).collect()}
    removed = (
        span_removal_by_source(docs)
        .agg(F.sum("removed_tokens").cast("bigint"))
        .collect()[0][0]
    )
    assert set(raw) == set(cleaned)
    for b in raw:
        assert cleaned[b] == raw[b] - removed
