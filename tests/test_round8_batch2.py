"""Round-8 batch 2: grouped Spearman + near-dup split-leakage audit."""

import hashlib
import random

import pytest
from pyspark.sql import functions as F

# ------------------------------------------------ grouped Spearman ----


def test_grouped_spearman_matches_per_group_scalar(spark):
    """The grouped operator must equal the corpus-global operator run
    on each group's slice (the grouped-MW test pattern)."""
    from lab3_spark.functions.rounding import cents
    from lab3_spark.operators.profile import spearman_rho

    rng = random.Random(11)
    rows = []
    for i in range(300):
        g = "ABC"[i % 3]
        x = round(rng.uniform(1, 50), 2)
        y = round(x * (1 + rng.uniform(-0.5, 0.5)), 2)  # noisy monotone
        rows.append((g, x, y))
    df = spark.createDataFrame(
        rows, "source string, l_quantity double, l_extendedprice double"
    )
    got = {
        r["grp"]: (r["n"], r["rho_fp"])
        for r in spearman_rho(
            df.withColumnRenamed("source", "grp"),
            F.floor(F.col("l_quantity") * 100 + F.lit(0.5)),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)),
            keys=["grp"],
        ).collect()
    }
    for g in "ABC":
        (exp,) = spearman_rho(
            df.where(F.col("source") == g),
            cents("l_quantity"),
            cents("l_extendedprice"),
        ).collect()
        assert got[g] == (exp["n"], exp["rho_fp"]), g


def test_grouped_spearman_degenerate_and_perfect(spark):
    """Constant column within a group → NULL rho_fp for THAT group
    only; a perfectly monotone group hits exactly 10⁶."""
    from lab3_spark.operators.profile import spearman_rho

    rows = [("K", 5, i) for i in range(10)] + [
        ("L", i, i) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "source string, x bigint, y bigint")
    got = {
        r["grp"]: (r["n"], r["rho_fp"])
        for r in spearman_rho(
            df.withColumnRenamed("source", "grp"),
            F.col("x"),
            F.col("y"),
            keys=["grp"],
        ).collect()
    }
    assert got["K"] == (10, None)
    assert got["L"] == (10, 1000000)


# --------------------------------------------- split-leakage audit ----


def _py_split(doc_id: int) -> str:
    """The pure-Python twin of sampling's md5 90/5/5 split expression."""
    h = int(
        hashlib.md5(f"split|{doc_id}".encode()).hexdigest()[:15], 16
    ) % 100
    return "train" if h < 90 else ("val" if h < 95 else "test")


@pytest.fixture()
def leak_corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill every single morning"
    )
    rows = []
    for i in range(24):  # 8 near-dup triples (copy / 1-edit / copy)
        fam = i // 3
        text = base.replace("morning", f"morning family{fam}")
        if i % 3 == 1:
            text = text.replace("warm", "cold")
        rows.append((i, text))
    for i in range(24, 40):  # singletons — no verified pairs
        rows.append(
            (i, f"unique filler document number {i} about topic {i * 7} " * 3)
        )
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_split_leakage_matches_python(spark, leak_corpus):
    """Bucket counts must equal a pure-Python rebucketing of the
    verified pair list under the md5 split — pins the canonicalization
    (split_a <= split_b), the pair counts, and the distinct-doc
    counts in one shot."""
    from lab3_spark.operators.dedup import (
        ngram_jaccard_pairs,
        split_leakage_neardup,
    )

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(leak_corpus).collect()
    ]
    assert pairs, "fixture must plant verified near-dup pairs"
    exp_pairs: dict = {}
    exp_docs: dict = {}
    for a, b in pairs:
        key = tuple(sorted((_py_split(a), _py_split(b))))
        exp_pairs[key] = exp_pairs.get(key, 0) + 1
        exp_docs.setdefault(key, set()).update((a, b))
    got = {
        (r["split_a"], r["split_b"]): (r["n_pairs"], r["n_docs"])
        for r in split_leakage_neardup(leak_corpus).collect()
    }
    assert got == {
        k: (n, len(exp_docs[k])) for k, n in exp_pairs.items()
    }
    assert all(a <= b for a, b in got)


def test_decontaminate_train_matches_python(spark, leak_corpus):
    """Survivors = train docs minus the train-side member of every
    train↔held-out verified pair (Python rebucketing of the same pair
    list); held-out docs never appear in the output."""
    from lab3_spark.operators.dedup import (
        decontaminate_train,
        ngram_jaccard_pairs,
    )

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(leak_corpus).collect()
    ]
    all_ids = [r["doc_id"] for r in leak_corpus.select("doc_id").collect()]
    contaminated = set()
    for a, b in pairs:
        sa, sb = _py_split(a), _py_split(b)
        if sa == "train" and sb != "train":
            contaminated.add(a)
        if sb == "train" and sa != "train":
            contaminated.add(b)
    expected = sorted(
        i for i in all_ids
        if _py_split(i) == "train" and i not in contaminated
    )
    docs = leak_corpus.withColumn("source", F.lit("s"))
    got = [r["doc_id"] for r in decontaminate_train(docs).collect()]
    assert got == expected


def test_similarity_histogram_matches_pair_list(spark, leak_corpus):
    """The ≤11-bucket fold must equal a Python regrouping of the
    unthresholded pair list's exact integer set sizes, and bucket 10
    must exist (the fixture plants exact duplicates)."""
    from lab3_spark.operators.dedup import (
        ngram_jaccard_pairs,
        pair_similarity_histogram,
    )

    counts: dict = {}
    for r in ngram_jaccard_pairs(
        leak_corpus, min_jaccard=0.0, keep_counts=True
    ).collect():
        b = (10 * r["n_inter"]) // (r["n_a"] + r["n_b"] - r["n_inter"])
        counts[b] = counts.get(b, 0) + 1
    got = {
        r["bucket_x10"]: r["n_pairs"]
        for r in pair_similarity_histogram(leak_corpus).collect()
    }
    assert got == counts
    assert 10 in got  # planted exact duplicates land in bucket 10


def test_ngram_jaccard_keep_counts_is_additive(spark, leak_corpus):
    """keep_counts only APPENDS columns — (doc_a, doc_b, jaccard) stay
    identical, and jaccard re-derives from the integer counts."""
    from lab3_spark.operators.dedup import ngram_jaccard_pairs

    plain = ngram_jaccard_pairs(leak_corpus).collect()
    kept = ngram_jaccard_pairs(leak_corpus, keep_counts=True).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in plain] == [
        (r["doc_a"], r["doc_b"], r["jaccard"]) for r in kept
    ]
    import math

    for r in kept:
        union = r["n_a"] + r["n_b"] - r["n_inter"]
        assert r["jaccard"] == math.floor(
            r["n_inter"] / union * 10000
        ) / 10000


def test_quality_quantile_by_source_matches_python_rank(spark):
    """quantile_fp must equal rank·10⁶ DIV group_n under a Python sort
    of the same (quality, doc_id) keys — pins the grouped rank
    machinery and the exact-bigint division."""
    from lab3_spark.operators.textstats import quality_quantile_by_source

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "spark spark spark spark spark",
        "a much longer document with many varied distinct tokens "
        "covering several different topics and themes entirely",
        "short",
        "!!! ??? ...",
    ]
    rows = [
        (i * 10 + j, t, "AB"[j % 2])
        for i, t in enumerate(texts)
        for j in range(2)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got = quality_quantile_by_source(df).collect()
    by_src: dict = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    for src, members in by_src.items():
        order = sorted(members, key=lambda r: (r["quality"], r["doc_id"]))
        gn = len(order)
        for rank, r in enumerate(order, start=1):
            assert r["quantile_fp"] == rank * 10**6 // gn, (src, r)


def test_copy_spectrum_matches_python(spark, leak_corpus):
    """Spectrum must equal a Python regrouping under the SAME token
    normalization (fingerprints see tokens, not raw bytes — the filler
    docs differ only in digits, which the tokenizer strips, so they
    form one big group; the 8 planted triples each hold 2 exact
    copies)."""
    import re
    from collections import Counter

    from lab3_spark.operators.dedup import copy_spectrum

    texts = [r["text"] for r in leak_corpus.select("text").collect()]
    fps = Counter(
        " ".join(re.findall(r"[a-z][a-z']*", t.lower())) for t in texts
    )
    expected: dict = {}
    for n in fps.values():
        g, d = expected.get(n, (0, 0))
        expected[n] = (g + 1, d + n)
    got = {
        r["n_copies"]: (r["n_groups"], r["n_docs"])
        for r in copy_spectrum(leak_corpus).collect()
    }
    assert got == expected
    # the digit-stripping collapse is total here: all 16 family copies
    # tokenize identically (fam digits vanish), as do all 16 fillers
    # and all 8 edited docs — a deliberately extreme spectrum
    assert got == {16: (2, 32), 8: (1, 8)}


def test_cramers_v_residuals_hand_computed(spark):
    """2×2 table with known χ²: O = [[30, 10], [20, 40]].
    E = [[20, 20], [30, 30]]; χ² = 5+5+10/3+10/3 = 50/3 ≈ 16.667;
    V = √(χ²/(100·1)) ≈ 0.40825; residuals = ±√5, ±√(10/3)."""
    import math

    from lab3_spark.operators.quality import cramers_v_residuals

    rows = (
        [("a", "x")] * 30 + [("a", "y")] * 10
        + [("b", "x")] * 20 + [("b", "y")] * 40
    )
    df = spark.createDataFrame(
        [(i, r, c) for i, (r, c) in enumerate(rows)],
        "doc_id bigint, source string, lang string",
    )
    got = {
        (r["source"], r["lang"]): (r["observed"], r["residual_fp"], r["v_fp"])
        for r in cramers_v_residuals(df).collect()
    }
    exp_resid = {
        ("a", "x"): math.sqrt(5),
        ("a", "y"): -math.sqrt(5),
        ("b", "x"): -math.sqrt(10 / 3),
        ("b", "y"): math.sqrt(10 / 3),
    }
    # chi2_fp is the sum of per-cell floored contributions
    chi2_fp = sum(
        math.floor(x * 1_000_000)
        for x in (5.0, 10 / 3, 5.0, 10 / 3)
    )
    exp_v = math.floor(
        math.sqrt((chi2_fp / 1_000_000) / (100 * 1)) * 1_000_000
    )
    for (rr, cc), (o, res, v) in got.items():
        assert res == math.floor(exp_resid[(rr, cc)] * 10_000), (rr, cc)
        assert v == exp_v
    assert got[("a", "x")][0] == 30 and got[("b", "y")][0] == 40


def test_cramers_v_degenerate_single_column_null(spark):
    from lab3_spark.operators.quality import cramers_v_residuals

    df = spark.createDataFrame(
        [(i, "AB"[i % 2], "only") for i in range(20)],
        "doc_id bigint, source string, lang string",
    )
    for r in cramers_v_residuals(df).collect():
        assert r["v_fp"] is None


def test_split_fertility_drift_matches_python(spark):
    """Per-split sums must equal a Python regrouping under the md5
    split; the train row's drift is exactly 0."""
    from lab3_spark.operators.textstats import split_fertility_drift

    texts = {
        i: f"it's test number {i} with punctuation!!! and words " * 2
        for i in range(60)
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )
    got = {
        r["split"]: (r["n_docs"], r["fertility_fp"], r["drift_fp"])
        for r in split_fertility_drift(df).collect()
    }
    by_split: dict = {}
    import re

    bpe_re = r"'s|'t|'re|'ve|'m|'ll|'d|[a-z]+|[0-9]+|[^a-z0-9\s']+"
    for i, t in texts.items():
        s = _py_split(i)
        n, ws, bpe = by_split.get(s, (0, 0, 0))
        by_split[s] = (
            n + 1,
            ws + len(t.split()),
            bpe + len(re.findall(bpe_re, t.lower())),
        )
    train_fert = (
        by_split["train"][2] * 10**6 // by_split["train"][1]
    )
    for s, (n, ws, bpe) in by_split.items():
        fert = bpe * 10**6 // ws
        assert got[s] == (n, fert, fert - train_fert), s
    assert got["train"][2] == 0


def test_source_percentile_rank_contract_small_groups(spark):
    """25 distinct values per group — the shape whose interpolated
    ±0.01 VALUE band contains no data point at all; the rank-interval
    contract must still hold (GK is exact at this size)."""
    from lab3_spark.queries_catalog import QUERIES

    rows = [
        (g * 100 + i, f"src{g}", (i + 1) * (g + 7))
        for g in range(3)
        for i in range(25)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_chars bigint")
    df.createOrReplaceTempView("_tmp_docs")
    # drive the gate's logic directly on a temp frame via its builder
    import lab3_spark.queries_catalog as qc

    orig = qc._t
    try:
        qc._t = lambda spark, sf_dir, name: df  # noqa: ARG005
        out = QUERIES["source_length_percentiles_approx"](spark, "unused")
        got = out.collect()
    finally:
        qc._t = orig
    assert len(got) == 3
    for r in got:
        assert r["p50_within_rank_tol"], r
        assert r["p90_within_rank_tol"], r
        assert r["p99_within_rank_tol"], r


def test_substring_contamination_hand_run(spark):
    """A planted 6-token verbatim span shared train→test must yield
    exactly 4 consecutive hit 3-grams → max_run_tokens 6; a clean test
    doc reports zeros; train docs emit no rows."""
    from lab3_spark.operators.textstats import substring_contamination

    test_ids = [i for i in range(200) if _py_split(i) == "test"]
    train_ids = [i for i in range(200) if _py_split(i) == "train"]
    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        (train_ids[0], f"prefix words here {shared} suffix tail words"),
        (train_ids[1], "filler unrelated content entirely different"),
        (
            test_ids[0],
            f"totally different opening {shared} closing remarks"
            " now unrelated ending",
        ),
        (test_ids[1], "pristine heldout material nothing borrowed here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_hit"], r["max_run_tokens"])
        for r in substring_contamination(df).collect()
    }
    assert set(got) == {test_ids[0], test_ids[1]}
    # 14 test tokens → 12 grams; 4 hit grams inside the span → 6 tokens
    assert got[test_ids[0]] == (12, 4, 6)
    assert got[test_ids[1]] == (4, 0, 0)


def test_padding_waste_hand_computed(spark):
    """Buckets at 64-token granularity: 10 and 64 tokens share bucket
    64; 65 rounds to 128; 130 to 192; the empty doc is excluded."""
    from lab3_spark.operators.sampling import padding_waste_by_bucket

    rows = [
        (0, "tok " * 10),
        (1, "tok " * 64),
        (2, "tok " * 65),
        (3, "tok " * 130),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["bucket_len"]: (
            r["n_docs"], r["real_tokens"], r["padded_tokens"], r["waste_fp"]
        )
        for r in padding_waste_by_bucket(df).collect()
    }
    assert got == {
        64: (2, 74, 128, 54 * 10**6 // 128),
        128: (1, 65, 128, 63 * 10**6 // 128),
        192: (1, 130, 192, 62 * 10**6 // 192),
    }


def test_grouped_bpe_matches_per_group_scalar(spark):
    """Each source's merge sequence must equal the scalar bpe_merges
    run on that source's slice alone (groups are fully independent)."""
    from lab3_spark.operators.textstats import bpe_merges

    texts = {
        "A": ["the theft theme then the the", "low lower lowest"],
        "B": ["banana bananas bandana", "aaaaaaaa aaaa aa"],
        "C": ["zip zap zop", "zip zip zap"],
    }
    rows = [
        (i * 10 + j, t, src)
        for i, (src, ts) in enumerate(sorted(texts.items()))
        for j, t in enumerate(ts)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    got: dict = {}
    for r in bpe_merges(df, k=3, keys=["source"]).collect():
        got.setdefault(r["source"], []).append((r["it"], r["pair"], r["cnt"]))
    for src in texts:
        exp = [
            (r["it"], r["pair"], r["cnt"])
            for r in bpe_merges(
                df.where(F.col("source") == src), k=3
            ).collect()
        ]
        assert got[src] == exp, src


# --------------------------------------- streaming incremental LSH ----


def _doc_feed(spark, tmp_path, batches):
    import os
    import time

    feed = str(tmp_path / "feed")
    os.makedirs(feed, exist_ok=True)
    existing = len(os.listdir(feed))
    for i, docs in enumerate(batches, start=existing):
        part = str(tmp_path / f"dpart{i}")
        spark.createDataFrame(docs, "doc_id bigint, text string").coalesce(
            1
        ).write.parquet(part)
        (pf,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = os.path.join(feed, f"{i:02d}.parquet")
        os.rename(os.path.join(part, pf), dst)
        os.utime(dst, (time.time() + i * 10,) * 2)
    return feed


def _drain_lsh(spark, feed, store, ck):
    from lab3_spark.streaming.incremental_lsh_index import (
        start_incremental_lsh_index,
    )

    src = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = start_incremental_lsh_index(src, store, ck)
    if not q.awaitTermination(300):  # pragma: no cover
        q.stop()
        raise AssertionError("incremental lsh stream timed out")


def test_incremental_lsh_merged_equals_batch(spark, tmp_path, leak_corpus):
    """The maintained candidate store's final version must equal the
    one-shot batch minhash_candidates over every delivered doc —
    including new×old collisions across batch boundaries (the planted
    triples are split across batches by doc_id % 3)."""
    import os

    from lab3_spark.operators.dedup import minhash_candidates
    from lab3_spark.streaming.incremental_lsh_index import latest_cands

    docs = [(r["doc_id"], r["text"]) for r in leak_corpus.collect()]
    batches = [
        [d for d in docs if d[0] % 3 == b] for b in range(3)
    ]
    feed = _doc_feed(spark, tmp_path, batches)
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    _drain_lsh(spark, feed, store, ck)

    exp = {
        (r["doc_a"], r["doc_b"]): r["n_bands"]
        for r in minhash_candidates(leak_corpus).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["n_bands"]
        for r in latest_cands(spark, store).collect()
    }
    assert got == exp and exp  # non-trivial: the triples plant pairs
    # every intermediate version exists (consistent snapshot pairs)
    assert sorted(os.listdir(os.path.join(store, "cands"))) == [
        "version=0", "version=1", "version=2",
    ]


def test_incremental_lsh_refuses_wiped_store(spark, tmp_path):
    """A wiped band store under a kept checkpoint must fail the stream
    (the cdc.py guard contract)."""
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    base = (
        "the quick brown fox jumps over the lazy dog while the cat"
        " watches from the warm windowsill every single morning"
    )
    feed = _doc_feed(spark, tmp_path, [[(0, base), (1, base)]])
    store, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    _drain_lsh(spark, feed, store, ck)
    shutil.rmtree(store)
    _doc_feed(spark, tmp_path, [[(2, base.replace("warm", "cold"))]])
    with pytest.raises(StreamingQueryException, match="refusing"):
        _drain_lsh(spark, feed, store, ck)


def test_source_token_fertility_hand_computed(spark):
    from lab3_spark.operators.textstats import source_token_fertility

    df = spark.createDataFrame(
        [
            (0, "hello world", "a"),      # ws 2, bpe 2, ch 11
            (1, "it's a test!", "a"),     # ws 3, bpe 5 (it 's a test !), ch 12
            (2, "", "b"),                 # ws 0, bpe 0, ch 0
        ],
        "doc_id bigint, text string, source string",
    )
    got = {
        r["source"]: (
            r["n_docs"], r["ws_tokens"], r["bpe_tokens"],
            r["fertility_fp"], r["chars_per_bpe_fp"],
        )
        for r in source_token_fertility(df).collect()
    }
    assert got["a"] == (2, 5, 7, 7 * 10**6 // 5, 23 * 10**6 // 7)
    assert got["b"] == (1, 0, 0, None, None)
