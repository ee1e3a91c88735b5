"""Dedup operator tests: planted duplicates must be found; invariants
hold (SURVEY §5.3-style property tests)."""

import pytest
from pyspark.sql import functions as F

from lab3_spark.operators.dedup import (
    exact_duplicates,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash_near_pairs,
    simhash_signatures,
)


@pytest.fixture(scope="module")
def near_dup_corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill every single morning"
    )
    near = base.replace("warm", "cold")  # 1-token edit
    far = "completely different content about spark query engines and shuffles"
    rows = [
        (0, base),
        (1, base),          # exact dup of 0
        (2, near),          # near dup of 0
        (3, far),
        (4, "Tiny doc"),    # < 3 tokens → no shingles
        (5, base.upper()),  # case-normalized exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, near_dup_corpus):
    got = {r["doc_id"]: (r["n_copies"], r["is_dup"]) for r in
           exact_duplicates(near_dup_corpus).collect()}
    assert got[0] == (3, 0)   # representative (min id of {0,1,5})
    assert got[1] == (3, 1)
    assert got[5] == (3, 1)   # case-insensitive via token normalization
    assert got[3] == (1, 0)


def test_minhash_finds_planted_pairs(spark, near_dup_corpus):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             minhash_candidates(near_dup_corpus).collect()}
    # identical docs share every band
    assert (0, 1) in pairs and (0, 5) in pairs and (1, 5) in pairs
    # the 1-token edit shares most shingles → expect ≥1 band collision
    assert (0, 2) in pairs
    assert all(a < b for a, b in pairs)


def test_jaccard_exact_values(spark, near_dup_corpus):
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(near_dup_corpus).collect()}
    assert got[(0, 1)] == 1.0
    assert 0.5 < got[(0, 2)] < 1.0
    assert all(0.0 <= j <= 1.0 for j in got.values())


def test_simhash_signature_deterministic_and_bounded(spark, near_dup_corpus):
    sigs = {r["doc_id"]: r["sig"] for r in
            simhash_signatures(near_dup_corpus).collect()}
    assert all(0 <= s < (1 << 60) for s in sigs.values())
    assert sigs[0] == sigs[1] == sigs[5]  # identical token multisets
    again = {r["doc_id"]: r["sig"] for r in
             simhash_signatures(near_dup_corpus.repartition(7)).collect()}
    assert sigs == again


def test_simhash_near_pairs(spark, near_dup_corpus):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             simhash_near_pairs(near_dup_corpus).collect()}
    assert pairs[(0, 1)] == 0
    assert pairs[(0, 5)] == 0
    # (0,2): one token swapped — hamming small but possibly > 3; only
    # assert completeness of the ≤3 set: every reported pair ≤ 3
    assert all(h <= 3 for h in pairs.values())


def test_minhash_bucket_cap(spark, near_dup_corpus):
    # with a cap of 1 every shared bucket is "degenerate" → no pairs
    capped = minhash_candidates(near_dup_corpus, max_bucket=1).collect()
    assert capped == []
    # a generous cap keeps all pairs
    full = {(r["doc_a"], r["doc_b"]) for r in
            minhash_candidates(near_dup_corpus).collect()}
    wide = {(r["doc_a"], r["doc_b"]) for r in
            minhash_candidates(near_dup_corpus, max_bucket=100).collect()}
    assert wide == full


def test_minhash_repartition_invariance(spark, near_dup_corpus):
    base = sorted(map(tuple, minhash_candidates(near_dup_corpus).collect()))
    for n in (1, 7):
        got = sorted(
            map(tuple, minhash_candidates(near_dup_corpus.repartition(n)).collect())
        )
        assert got == base, f"repartition({n}) changed LSH candidates"


def test_keep_best_prefers_clean_copy(spark):
    """Same token stream (same fp), different punctuation noise: the
    cleaner copy wins regardless of doc_id order."""
    from lab3_spark.operators.dedup import keep_best_duplicates

    rows = [
        (1, "hello,, world!! nice### text... here;;"),  # noisy, lower quality
        (2, "hello world nice text here"),              # clean twin
        (3, "completely different document body"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in keep_best_duplicates(df).collect()}
    assert got[1]["fp"] == got[2]["fp"]
    assert got[1]["n_copies"] == 2 and got[2]["n_copies"] == 2
    assert got[2]["keep"] == 1 and got[1]["keep"] == 0
    assert got[3]["keep"] == 1 and got[3]["n_copies"] == 1


def test_repeated_chunks_flags_duplicated_doc(spark):
    from lab3_spark.operators.dedup import repeated_chunks

    body = " ".join(f"tok{i}" for i in range(5))
    rows = [(1, body), (2, body), (3, "something else entirely here")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = repeated_chunks(df, chunk_tokens=4).collect()
    # the two copies share chunk windows; the unique doc contributes none
    assert len(got) >= 1
    for r in got:
        assert r["n_occurrences"] == 2 and r["n_docs"] == 2
        assert r["first_doc_id"] == 1


def test_keep_best_quality_matches_quality_score(spark, sf_dir):
    """keep_best's ranking key must equal the quality column the
    quality_score operator reports (shared expression, pinned here)."""
    from lab3_spark.operators.dedup import keep_best_duplicates
    from lab3_spark.operators.textstats import quality_score
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    kb = {r["doc_id"]: r["quality"] for r in keep_best_duplicates(docs).collect()}
    qs = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    assert kb == qs


def test_simhash_expr_and_arrow_signatures_identical(spark, sf_dir):
    """The Arrow-fused bit-sum path must be bit-identical to the pure
    expression aggregate (the test_similarity_impls.py pinning pattern
    applied to SimHash): integer ±1 sums are associative, so partial
    per-batch reduction cannot change any signature."""
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["sig"] for r in
         simhash_signatures(docs, impl="expr").collect()}
    b = {r["doc_id"]: r["sig"] for r in
         simhash_signatures(docs, impl="arrow").collect()}
    assert a == b and len(a) > 0


def test_simhash_bucket_cap(spark, near_dup_corpus):
    # cap of 1: every shared chunk bucket is degenerate → no pairs
    assert simhash_near_pairs(near_dup_corpus, max_bucket=1).collect() == []
    # generous cap keeps the full pair set
    full = {(r["doc_a"], r["doc_b"]) for r in
            simhash_near_pairs(near_dup_corpus).collect()}
    wide = {(r["doc_a"], r["doc_b"]) for r in
            simhash_near_pairs(near_dup_corpus, max_bucket=10_000).collect()}
    assert wide == full


def test_containment_detects_embedded_doc(spark):
    """doc0's text embedded verbatim at the head of doc1 (plus a small
    tail): containment(doc0 in doc1) is exactly 1.0 while Jaccard is
    strictly below 1 — the asymmetric signal Jaccard dilutes."""
    from lab3_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # " sigma tau" tail chosen so the pair lands in a shared LSH band
    # (md5 minhashes are deterministic; some tails miss all 4 bands —
    # candidate recall < 1 is inherent to banded LSH, see the
    # containment_pairs docstring's recall caveat)
    docs = spark.createDataFrame(
        [(0, base), (1, base + " sigma tau")],
        "doc_id bigint, text string",
    )
    got = containment_pairs(docs, min_containment=0.5).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["doc_a"], r["doc_b"]) == (0, 1)
    assert r["cont_a_in_b"] == 1.0
    assert r["cont_b_in_a"] < 1.0
    jac = ngram_jaccard_pairs(docs, min_jaccard=0.0).collect()[0]["jaccard"]
    assert jac < r["cont_a_in_b"]


def test_simhash_bucket_cap_mixed_case_complete(spark, sf_dir):
    """With a cap, a pair whose LOWEST matching chunk sits in a dropped
    bucket must still surface via a surviving shared chunk — the
    capped path dedups by grouping, not the full-signature
    first-match predicate (which assumes every bucket survived).
    Python reference recomputes the expected pair set from the
    signatures for several cap values."""
    from collections import Counter

    from lab3_spark.operators.dedup import (
        CHUNK_BITS,
        SIM_CHUNKS,
        simhash_near_pairs,
        simhash_signatures,
    )
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = {
        r["doc_id"]: r["sig"] for r in simhash_signatures(docs).collect()
    }
    mask = (1 << CHUNK_BITS) - 1

    def chunk(s, c):
        return (s >> (c * CHUNK_BITS)) & mask

    for cap in (2, 5, 50):
        sizes = Counter(
            (c, chunk(s, c)) for s in sigs.values() for c in range(SIM_CHUNKS)
        )
        expected = set()
        ids = sorted(sigs)
        for i, da in enumerate(ids):
            for db in ids[i + 1:]:
                x = sigs[da] ^ sigs[db]
                if bin(x).count("1") > 3:
                    continue
                if any(
                    chunk(sigs[da], c) == chunk(sigs[db], c)
                    and sizes[(c, chunk(sigs[da], c))] <= cap
                    for c in range(SIM_CHUNKS)
                ):
                    expected.add((da, db))
        got = {
            (r["doc_a"], r["doc_b"])
            for r in simhash_near_pairs(docs, max_bucket=cap).collect()
        }
        assert got == expected, cap


def test_bloom_prefilter_no_false_negatives_and_classification(spark):
    """Every incoming doc whose content exists in the reference MUST
    pass the bloom (no false negatives — the filter's one guarantee)
    and be classified is_dup; provably-new docs (bloom_pass=0) are
    never dups; false_positive = pass & !dup exactly."""
    from lab3_spark.operators.dedup import bloom_prefilter_dedup

    ref_rows = [(i, f"reference document number {i} alpha beta") for i in range(1, 40)]
    inc_rows = (
        # true dups: same content as ref docs 1..5 (different ids)
        [(100 + i, f"reference document number {i} alpha beta") for i in range(1, 6)]
        # new content
        + [(200 + i, f"fresh unseen content item {i} gamma delta") for i in range(10)]
    )
    schema = "doc_id bigint, text string"
    ref = spark.createDataFrame(ref_rows, schema)
    inc = spark.createDataFrame(inc_rows, schema)
    got = {r.doc_id: r for r in bloom_prefilter_dedup(ref, inc).collect()}
    assert len(got) == len(inc_rows)
    for i in range(1, 6):
        r = got[100 + i]
        assert r.bloom_pass == 1 and r.is_dup == 1 and r.false_positive == 0, r
    for i in range(10):
        r = got[200 + i]
        assert r.is_dup == 0, r
        assert r.false_positive == (1 if r.bloom_pass == 1 else 0), r


def test_bloom_filter_words_mergeable(spark):
    """Filters over disjoint corpus slices OR together into the whole-
    corpus filter — per-slice build then merge must equal one-shot."""
    from lab3_spark.operators.dedup import bloom_filter_words

    rows = [(i, f"slice test document {i} unique words {i * 7}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    whole = {
        r.word: r.bits for r in bloom_filter_words(docs).collect()
    }
    a = bloom_filter_words(docs.where(F.col("doc_id") % 2 == 0))
    b = bloom_filter_words(docs.where(F.col("doc_id") % 2 == 1))
    merged = {
        r.word: r.bits
        for r in a.unionByName(b)
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
        .collect()
    }
    assert merged == whole


def test_bloom_prefilter_plan_broadcasts(spark, sf_dir):
    """The probe join and the survivor verify are broadcast joins —
    the incoming batch and the reference never shuffle-join on fp."""
    from lab3_spark.operators.dedup import bloom_prefilter_dedup
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        bloom_prefilter_dedup(
            docs.where(F.col("doc_id") % 4 != 0),
            docs.where(F.col("doc_id") % 4 == 0),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere: the only joins are broadcast
    assert "SortMergeJoin" not in plan, plan


def test_dedup_reassemble_hand_checked(spark):
    """First occurrence keeps its text; an exact copy loses all chunks;
    a doc sharing only its head chunk keeps its tail."""
    import hashlib

    from lab3_spark.operators.dedup import dedup_reassemble

    # letter-only words: the tokenizer spec is [a-z][a-z']* (digits
    # never appear in tokens)
    c = ["alpha", "bravo", "charlie", "delta"]    # chunk A
    d = ["echo", "foxtrot", "golf", "hotel"]      # chunk B
    e = ["india", "juliet", "kilo", "lima"]       # chunk C
    docA = " ".join(c + d)                        # chunks A, B
    docB = docA                                   # exact copy → empty
    docC = " ".join(c + e)                        # shares A, keeps C
    docs = spark.createDataFrame(
        [(1, docA), (2, docB), (3, docC)], "doc_id bigint, text string"
    )
    got = {r.doc_id: r for r in dedup_reassemble(docs, chunk_tokens=4).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got[1].n_chunks == 2 and got[1].n_kept == 2
    assert got[1].new_fp == md5(docA)
    assert got[2].n_chunks == 2 and got[2].n_kept == 0
    assert got[2].new_fp == md5("")
    assert got[3].n_chunks == 2 and got[3].n_kept == 1
    assert got[3].new_fp == md5(" ".join(e))


def test_ppjoin_complete_vs_bruteforce(spark, sf_dir):
    """Prefix filtering must find EVERY pair with Jaccard >= 0.5 —
    compared against the brute-force all-pairs join on real testdata
    (the completeness theorem, checked not argued)."""
    from lab3_spark.operators.dedup import _doc_shingles, ppjoin_pairs
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.doc_a, r.doc_b): (r.n_inter, r.jaccard)
        for r in ppjoin_pairs(docs).collect()
    }
    sh = _doc_shingles(docs, "text")
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    sizes = {r.doc_id: r.n for r in sh.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    brute = {}
    inter = (
        sa.join(sb, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("ni"))
        .collect()
    )
    for r in inter:
        na, nb = sizes[r.doc_a], sizes[r.doc_b]
        u = na + nb - r.ni
        if 2 * r.ni >= u:
            brute[(r.doc_a, r.doc_b)] = r.ni
    assert set(got) == set(brute), (
        set(brute) - set(got),  # missed pairs = broken theorem
        set(got) - set(brute),  # phantom pairs = broken verify
    )
    for k, ni in brute.items():
        assert got[k][0] == ni


def _py_cdc_chunks(text, W=16, MOD=64):
    def gear(b):
        return (b * 2654435761) % 8192

    bs = [ord(c) for c in text]
    n = len(bs)

    def h(i):
        return sum(gear(bs[i - 1 - k]) * (4 ** k) for k in range(W))

    bnd = sorted(
        {0, n} | {i for i in range(W, n + 1) if h(i) % MOD == 0}
    )
    return [
        text[bnd[i]:bnd[i + 1]]
        for i in range(len(bnd) - 1)
        if bnd[i + 1] > bnd[i]
    ]


def test_cdc_chunks_match_python_reference(spark):
    from lab3_spark.operators.dedup import cdc_chunk_frame_arrow

    texts = [
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the forest all day long without stopping even once",
        "a" * 100,
        "short",
        "",
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {}
    for r in cdc_chunk_frame_arrow(df).collect():
        got.setdefault(r["doc_id"], []).append((r["idx"], r["chunk"]))
    for did, text in enumerate(texts):
        want = _py_cdc_chunks(text)
        have = [c for _, c in sorted(got.get(did, []))]
        assert have == want, f"doc {did}"


def test_cdc_arrow_twin_bit_identical(spark, sf_dir):
    """The Arrow chunker equals the pure-Python closed form, row for
    row, on every document of the sf corpus."""
    from lab3_spark.operators.dedup import cdc_chunk_frame_arrow
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    want = sorted(
        (r["doc_id"], i, c)
        for r in docs.collect()
        for i, c in enumerate(_py_cdc_chunks(r["text"] or ""), 1)
    )
    got = sorted(tuple(r) for r in cdc_chunk_frame_arrow(docs).collect())
    assert got == want


def test_cdc_boundaries_resynchronize_after_insert(spark):
    """THE content-defined-chunking property: a 1-byte prepend changes
    only the first chunk(s); boundaries resync and later chunks keep
    their exact content (fixed-window chunking shifts all of them)."""
    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the forest all day long without stopping even once"
    )
    a = set(_py_cdc_chunks(base))
    b = set(_py_cdc_chunks("X" + base))
    assert len(a & b) >= len(a) - 1  # everything but the head survives

    from lab3_spark.operators.dedup import cdc_duplicate_chunks

    df = spark.createDataFrame(
        [(0, base), (1, "X" + base)], "doc_id long, text string"
    )
    dup = cdc_duplicate_chunks(df).collect()
    # the surviving shared chunks are reported as cross-doc duplicates
    assert all(r["n_docs"] == 2 for r in dup)
    assert len(dup) >= len(a) - 1


def test_blocking_quality_hand_corpus(spark):
    from lab3_spark.operators.dedup import blocking_quality

    # 3 exact copies (3 true pairs) + 2 distinct docs: LSH must catch
    # all exact-copy pairs (identical shingles -> identical bands)
    dup = "the quick brown fox jumps over the lazy dog again and again"
    hi1 = " ".join(f"alpha{c}" for c in "abcdefghij")
    hi2 = " ".join(f"beta{c}" for c in "abcdefghij")
    rows = [
        (0, dup), (1, dup), (2, dup), (3, hi1), (4, hi2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = blocking_quality(df).collect()[0]
    assert r["n_docs"] == 5 and r["n_true_pairs"] == 3
    assert r["n_caught"] == 3 and r["pc_fp"] == 1_000_000
    # candidate space far below the full C(5,2)=10
    assert r["n_cand_pairs"] < 10 and r["rr_fp"] > 0
