"""Round-9 additions, part 2: the streaming incremental exact-substring
span store (streaming/incremental_spans.py)."""

import pytest
from pyspark.sql import functions as F


def _doc_feed(spark, tmp_path, batches):
    """Write document batches as mtime-ordered single-file parquets."""
    import os
    import time

    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    existing = len(os.listdir(feed))
    for i, docs in enumerate(batches, start=existing):
        part = str(tmp_path / f"part{i}")
        spark.createDataFrame(docs, "doc_id bigint, text string").coalesce(
            1
        ).write.parquet(part)
        (pf,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = os.path.join(feed, f"{i:02d}.parquet")
        os.rename(os.path.join(part, pf), dst)
        os.utime(dst, (time.time() + i * 10,) * 2)
    return feed


def _drain_spans(spark, feed, store, ck, n=3, min_span=6):
    src = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    from lab3_spark.streaming.incremental_spans import (
        start_incremental_spans,
    )

    q = start_incremental_spans(
        src, store, ck, n=n, min_span_tokens=min_span
    )
    if not q.awaitTermination(300):  # pragma: no cover
        q.stop()
        raise AssertionError("incremental spans stream timed out")


# 8-token boilerplate block — pure-alpha words: the letters-only
# tokenizer would fold "s1".."s8" all to "s" (self-repetition)
BLOCK = "sa sb sc sd se sf sg sh"


def test_incremental_spans_merged_equals_batch(spark, tmp_path):
    """The maintained span store's final version must equal one-shot
    batch exact_substring_spans over the union of every delivered
    document — including the OLD-doc reactivation case: doc 1's block
    is unique in batch 0 (no span), becomes duplicated when batch 1
    delivers doc 2 with the same block, so doc 1's span must appear
    through the newly-duplicated-gram re-evaluation path."""
    from lab3_spark.operators.dedup import exact_substring_spans
    from lab3_spark.streaming.incremental_spans import latest_spans
    from lab3_spark.streaming.store import read_version

    b0 = [(1, BLOCK + " taila tailb")]
    b1 = [(2, "heada " + BLOCK), (1, BLOCK)]  # doc 1 re-delivered: idempotent
    b2 = [(3, "ua ub uc ud ue uf ug")]  # all-unique, affects nothing
    feed = _doc_feed(spark, tmp_path, [b0, b1, b2])
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    _drain_spans(spark, feed, store, ck)

    all_docs = spark.createDataFrame(
        [b0[0], b1[0], b2[0]], "doc_id bigint, text string"
    )
    exp = sorted(
        map(
            tuple,
            exact_substring_spans(
                all_docs, n=3, min_span_tokens=6
            ).collect(),
        )
    )
    got = sorted(map(tuple, latest_spans(spark, store).collect()))
    assert got == exp
    # the reactivation specifically: version 0 has NO spans (block
    # unique), version 1 reports doc 1's span without re-delivery
    assert read_version(spark, store + "/spans", 0).count() == 0
    v1 = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in read_version(spark, store + "/spans", 1).collect()
    }
    assert v1[1] == (0, 8) and v1[2] == (1, 9)
    # idempotence: doc 1's re-delivery in batch 1 did not duplicate rows
    assert len(got) == len({(r[0], r[1]) for r in got})


def test_incremental_spans_unaffected_docs_carry_over(spark, tmp_path):
    """A batch that repeats nothing old recomputes nothing old: after
    batch 2 (all-unique doc), the span rows of docs 1/2 are carried
    from version 1 verbatim."""
    from lab3_spark.streaming.store import read_version

    feed = _doc_feed(
        spark,
        tmp_path,
        [
            [(1, BLOCK), (2, BLOCK)],
            [(3, "ua ub uc ud ue uf ug")],
        ],
    )
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    _drain_spans(spark, feed, store, ck)
    v0 = sorted(map(tuple, read_version(spark, store + "/spans", 0).collect()))
    v1 = sorted(map(tuple, read_version(spark, store + "/spans", 1).collect()))
    assert v0 == v1 == [(1, 0, 8, 8), (2, 0, 8, 8)]


def test_incremental_spans_refuses_wiped_store(spark, tmp_path):
    """Full store wipe under a kept checkpoint must fail the stream
    (the cdc.py guard contract)."""
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    feed = _doc_feed(spark, tmp_path, [[(1, BLOCK), (2, BLOCK)]])
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    _drain_spans(spark, feed, store, ck)
    shutil.rmtree(store)
    _doc_feed(spark, tmp_path, [[(3, BLOCK)]])
    with pytest.raises(StreamingQueryException, match="refusing"):
        _drain_spans(spark, feed, store, ck)


def test_latest_spans_missing_store_raises_python_error(spark, tmp_path):
    from lab3_spark.streaming.incremental_spans import latest_spans

    with pytest.raises(FileNotFoundError, match="no span versions"):
        latest_spans(spark, str(tmp_path / "never_written"))


# ------------------------------------------ Kneser-Ney bigram LM (r9) --


def test_kn_bigram_hand_computed(spark):
    """Interpolated KN checked against an independent Python
    computation: clean slice forced by construction (one Gopher-pass
    doc trains), a two-token doc scores one seen bigram, and the
    KN identities (discount mass redistribution, continuation
    probabilities) are reproduced from raw counts."""
    import math
    from collections import Counter

    from lab3_spark.operators.textstats import (
        gopher_quality,
        kn_bigram_surprisal,
    )

    vocab = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
        "golf", "hotel", "india", "juliet", "kilo", "lima",
    ]
    clean_text = " ".join(vocab[i % 12] for i in range(60))
    docs = spark.createDataFrame(
        [(1, clean_text), (2, "alpha bravo"), (3, "alpha zebra")],
        "doc_id long, text string",
    )
    gp = {
        r["doc_id"]: r["gopher_pass"]
        for r in gopher_quality(docs).collect()
    }
    assert gp[1] and not gp[2] and not gp[3]

    toks = clean_text.split()
    big = Counter(zip(toks, toks[1:]))
    ctx = Counter(toks[:-1])
    n1f = Counter(a for a, _ in big)
    n1r = Counter(b for _, b in big)
    t_types, v_clean = len(big), len(set(toks))
    d = 0.75

    def p(w1, w2):
        pc = (n1r.get(w2, 0) + 1) / (t_types + v_clean + 1)
        if w1 in ctx:
            return (
                max(big.get((w1, w2), 0) - d, 0.0)
                + d * n1f.get(w1, 0) * pc
            ) / ctx[w1]
        return pc

    def s_fp(w1, w2):
        return math.floor(-math.log(p(w1, w2)) / math.log(2) * 1_000_000)

    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_surprisal_fp"])
        for r in kn_bigram_surprisal(docs).collect()
    }
    # doc 2: seen bigram; doc 3: seen context, UNSEEN continuation
    # (exercises the discount-mass backoff branch)
    assert got[2] == (1, s_fp("alpha", "bravo"))
    assert got[3] == (1, s_fp("alpha", "zebra"))
    total = sum(s_fp(a, b) for a, b in zip(toks, toks[1:]))
    assert got[1] == (59, total // 59)


def test_kn_probabilities_sum_to_one_over_clean_vocab(spark):
    """KN is a proper distribution over seen contexts: for a trained
    context w1, sum over the CLEAN VOCABULARY of p(w2 | w1) stays
    below 1 (the +1 OOV floor in p_cont reserves the remaining mass
    for unseen continuations) and above 0.9 for this tiny vocab —
    the discount mass is redistributed, not lost."""
    from collections import Counter

    vocab = ["aa", "bb", "cc", "dd"]
    text = "aa bb cc aa bb dd aa cc dd bb"
    toks = text.split()
    big = Counter(zip(toks, toks[1:]))
    ctx = Counter(toks[:-1])
    n1f = Counter(a for a, _ in big)
    n1r = Counter(b for _, b in big)
    t_types, v_clean = len(big), len(set(toks))
    d = 0.75

    def p(w1, w2):
        pc = (n1r.get(w2, 0) + 1) / (t_types + v_clean + 1)
        return (
            max(big.get((w1, w2), 0) - d, 0.0) + d * n1f.get(w1, 0) * pc
        ) / ctx[w1]

    for w1 in ctx:
        s = sum(p(w1, w2) for w2 in vocab)
        assert 0.9 < s < 1.0, (w1, s)


# ----------------------------------- in-engine quality logreg (r9) --


def test_quality_logreg_learns_the_conjunction(spark, sf_dir):
    """Sanity of the distilled scorer: 3 GD rounds must already beat
    the majority-class baseline on its own training set, and the
    weight vector must be nonzero and deterministic across runs."""
    from lab3_spark.operators.quality import (
        quality_logreg_accuracy,
        train_quality_logreg,
    )
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    w1 = {r["feature"]: r["w_fp"] for r in train_quality_logreg(docs).collect()}
    w2 = {r["feature"]: r["w_fp"] for r in train_quality_logreg(docs).collect()}
    assert w1 == w2 and any(v != 0 for v in w1.values())
    acc = quality_logreg_accuracy(docs).collect()[0]
    base = docs.count()
    from lab3_spark.operators.textstats import gopher_quality

    n_pass = gopher_quality(docs).where("gopher_pass").count()
    majority_fp = max(n_pass, base - n_pass) * 1_000_000 // base
    assert acc["n_docs"] == base
    assert acc["accuracy_fp"] >= majority_fp
