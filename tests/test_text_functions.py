"""Tokenizer / stop-word / portable-hash golden tests (SURVEY.md §5.1)."""

import hashlib

from pyspark.sql import functions as F

from lab3_spark.functions.text import hex_to_long, is_stop_word, md5_long, tokenize
from lab3_spark.stopwords import STOP_LINE, STOP_WORDS


def tok(spark, s):
    return (
        spark.range(1)
        .select(tokenize(F.lit(s)).alias("t"))
        .collect()[0]["t"]
    )


def test_tokenizer_spec(spark):
    # letters only start tokens; apostrophes continue them; digits never
    # appear (wordCount.cpp:72-85)
    assert tok(spark, "The quick brown fox") == ["the", "quick", "brown", "fox"]
    assert tok(spark, "Don't stop believin'") == ["don't", "stop", "believin'"]
    assert tok(spark, "abc123 42nd x") == ["abc", "nd", "x"]
    assert tok(spark, "  ...  ") == []
    assert tok(spark, "a'b''c") == ["a'b''c"]
    assert tok(spark, "'leading") == ["leading"]


def test_tokenizer_tab_and_newline_split(spark):
    assert tok(spark, "a\tb\nc\rd") == ["a", "b", "c", "d"]


def test_stop_word_modes(spark):
    words = ["the", "hav", "quick", "abo", "dont", *STOP_WORDS]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = df.select(
        "word",
        is_stop_word("word", "idiomatic").alias("idio"),
        is_stop_word("word", "parity").alias("par"),
    ).collect()
    by = {r["word"]: (r["idio"], r["par"]) for r in got}
    assert by["the"] == (True, True)
    # 'hav' is not in the list but IS a substring of 'having'
    assert by["hav"] == (False, True)
    assert by["quick"] == (False, False)
    # 'abo' is a substring of 'about'
    assert by["abo"] == (False, True)
    # every listed word, apostrophes included, is an exact member
    assert {w: idio for w, (idio, _) in by.items()} == {w: w in STOP_WORDS for w in words}


def test_stop_line_is_reference_file():
    assert len(STOP_WORDS) == 182
    assert len(STOP_LINE) == 1000
    assert STOP_LINE.startswith("a about above")


def test_hex_to_long_matches_python(spark):
    samples = ["hello", "world", "", "spark", "x" * 50]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = df.select(
        "s",
        hex_to_long(F.substring(F.md5("s"), 1, 15)).alias("h"),
        md5_long("s").alias("h2"),
    ).collect()
    for r in got:
        expect = int(hashlib.md5(r["s"].encode()).hexdigest()[:15], 16)
        assert r["h"] == expect
        assert r["h2"] == expect


def test_gopher_quality_handcrafted(spark):
    """Feature-by-feature check on a constructed document."""
    from lab3_spark.operators.textstats import gopher_quality

    # 4 lines (one duplicated), one bullet line, one ellipsis line,
    # tokens: the×3 cat dog dog runs fast → 8 tokens, top 'the'=3
    text = "the cat the dog\nthe cat the dog\n- dog runs...\nfast # x1"
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    row = gopher_quality(df).collect()[0]
    assert row["n_words"] == 12  # the×4 cat×2 dog×3 runs fast x
    assert row["top_word_ratio"] == 0.3333  # 'the' appears 4/12, truncated
    assert row["dup_line_frac"] == 0.25  # 1 - 3 distinct / 4 lines
    assert row["bullet_line_frac"] == 0.25
    assert row["ellipsis_line_frac"] == 0.25
    # symbols: one '#', one '...' over 14 whitespace words
    assert abs(row["symbol_word_ratio"] - 2 / 14) < 1e-3
    assert row["gopher_pass"] is False  # n_words < 50


def test_gopher_pass_on_normal_prose(spark):
    from lab3_spark.operators.textstats import gopher_quality

    words = " ".join(f"prose word number {i} flows nicely along" for i in range(20))
    df = spark.createDataFrame([(1, words)], "doc_id bigint, text string")
    row = gopher_quality(df).collect()[0]
    assert row["n_words"] >= 50
    assert row["gopher_pass"] is True


def test_ngram_repetition_handcrafted(spark):
    from lab3_spark.operators.textstats import ngram_repetition

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x"), (3, "")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in ngram_repetition(df).collect()}
    r = rows[1]  # bigrams: ab ba ab ba; trigrams: aba bab aba
    assert r["n_bigrams"] == 4 and r["dup_bigram_frac"] == 0.5
    assert r["top_bigram_frac"] == 0.5
    assert r["n_trigrams"] == 3 and r["dup_trigram_frac"] == 0.3333
    assert r["top_trigram_frac"] == 0.6666
    # short/empty docs: no descending-sequence ghosts, all zeros
    for d in (2, 3):
        assert rows[d]["n_bigrams"] == 0 and rows[d]["dup_bigram_frac"] == 0.0
        assert rows[d]["n_trigrams"] == 0 and rows[d]["top_trigram_frac"] == 0.0


def test_chunk_documents_handcrafted(spark):
    from lab3_spark.operators.sampling import chunk_documents

    df = spark.createDataFrame(
        [(1, "t one two three four"), (2, "")], "doc_id bigint, text string"
    )
    got = [tuple(r) for r in chunk_documents(df, chunk_tokens=2).collect()]
    assert got == [
        (1, 0, 2, "t one"),
        (1, 1, 2, "two three"),
        (1, 2, 1, "four"),
    ]


def test_feature_hash_embedding_matches_python(spark):
    import hashlib
    from collections import defaultdict

    from lab3_spark.operators.textstats import feature_hash_embedding

    text = "alpha beta alpha gamma delta beta alpha"
    df = spark.createDataFrame([(7, text)], "doc_id bigint, text string")
    got = {(r["doc_id"], r["dim"]): r["w"] for r in feature_hash_embedding(df).collect()}

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    expect = defaultdict(int)
    for w in text.split():
        sgn = 1 if h(f"fhs|{w}") % 2 == 0 else -1
        expect[(7, h(f"fh|{w}") % 16)] += sgn
    assert got == {k: v for k, v in expect.items()}


def test_redact_pii_counts_and_placeholders(spark):
    from pyspark.sql import functions as F

    from lab3_spark.operators.textstats import redact_pii

    rows = [
        (1, "mail a.b+c@test.org and 10.0.0.1 call +1 (555) 123-4567 end"),
        (2, "no pii here at all"),
        (3, "two mails x@y.co z@w.io one ip 192.168.001.255"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert (got[1]["n_emails"], got[1]["n_ips"], got[1]["n_phones"]) == (1, 1, 1)
    assert (got[2]["n_emails"], got[2]["n_ips"], got[2]["n_phones"]) == (0, 0, 0)
    assert (got[3]["n_emails"], got[3]["n_ips"], got[3]["n_phones"]) == (2, 1, 0)
    # the fingerprint is over the redacted text: recompute directly
    redacted = "mail <EMAIL> and <IP> call <PHONE> end"
    fp = df.where("doc_id = 1").select(F.md5(F.lit(redacted))).collect()[0][0]
    assert got[1]["clean_fp"] == fp


def test_unigram_surprisal_handcomputed(spark):
    """Corpus {doc0: "a a b", doc1: "b c"}: N=5, cnt(a)=2 cnt(b)=2
    cnt(c)=1; s_fp(a)=s_fp(b)=floor(log2(2.5)*1e6)=1321928,
    s_fp(c)=floor(log2(5)*1e6)=2321928; doc0 mean = 1321928 exactly,
    doc1 mean = (1321928+2321928) div 2 = 1821928."""
    from lab3_spark.operators.textstats import unigram_surprisal

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "b c")], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: (r["n_tokens"], r["mean_surprisal_fp"])
           for r in unigram_surprisal(docs).collect()}
    assert got == {0: (3, 1321928), 1: (2, 1821928)}


def test_sparse_tfidf_pairs_handcomputed(spark):
    """Only the shared shingle "x y z" survives df-pruning (df>=2);
    both docs' surviving vectors are scalar multiples of the same
    one-hot vector, so cos == 1.0 exactly; doc2 shares nothing."""
    from lab3_spark.operators.textstats import sparse_tfidf_pairs

    docs = spark.createDataFrame(
        [(0, "x y z x y z"), (1, "x y z w"), (2, "a b c d")],
        "doc_id bigint, text string",
    )
    got = [tuple(r) for r in
           sparse_tfidf_pairs(docs, min_cosine=0.5, max_df_frac=1.0).collect()]
    assert got == [(0, 1, 1.0)]


def test_sparse_tfidf_df_cap_guards_degenerate_terms(spark):
    """A shingle present in EVERY doc is pruned by the df cap — the
    quadratic-blowup guard: with the cap at 0.5·N the ubiquitous term
    contributes no pairs."""
    from lab3_spark.operators.textstats import sparse_tfidf_pairs

    docs = spark.createDataFrame(
        [(i, "common shingle here unique%d tail" % i) for i in range(6)],
        "doc_id bigint, text string",
    )
    got = sparse_tfidf_pairs(docs, min_cosine=0.0, max_df_frac=0.5).collect()
    assert got == []


def test_sparse_tfidf_absolute_df_ceiling(spark):
    """The round-5 ABSOLUTE df ceiling: at corpus scale a fractional
    cap alone re-admits quadratic terms (0.2·N is huge when N is),
    so a term over ``max_df_abs`` is pruned even when it passes the
    fraction.  Here the shared shingle has df=5 < 0.9·N (passes the
    fraction) but exceeds max_df_abs=4 — no pairs; raising the
    ceiling re-admits it."""
    from lab3_spark.operators.textstats import sparse_tfidf_pairs

    docs = spark.createDataFrame(
        [(i, "common shingle here unique%d tail" % i) for i in range(5)]
        + [(99, "totally different words altogether now")],
        "doc_id bigint, text string",
    )
    capped = sparse_tfidf_pairs(
        docs, min_cosine=0.0, max_df_frac=0.9, max_df_abs=4
    ).collect()
    assert capped == []
    uncapped = sparse_tfidf_pairs(
        docs, min_cosine=0.0, max_df_frac=0.9, max_df_abs=10_000
    ).collect()
    assert len(uncapped) == 10  # C(5,2) pairs through the shared shingle


def test_dsir_weights_separate_disjoint_vocab(spark):
    """Target (en) and background (de) docs use DISJOINT vocabularies:
    every en doc must get positive log-ratio weight, every de doc
    negative — the separation DSIR exists to measure."""
    from lab3_spark.operators.textstats import dsir_log_ratio_weights

    rows = []
    for i in range(4):
        rows.append((i, "alpha beta gamma alpha beta", "en"))
    for i in range(4, 8):
        rows.append((i, "delta epsilon zeta delta epsilon", "de"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {r["doc_id"]: r["mean_fp"] for r in dsir_log_ratio_weights(docs).collect()}
    assert len(got) == 8
    for i in range(4):
        assert got[i] > 0, (i, got[i])
    for i in range(4, 8):
        assert got[i] < 0, (i, got[i])


def test_benchmark_decontaminate_planted_overlap(spark):
    """A train doc sharing an exact 5-gram with the benchmark is
    flagged; disjoint docs and sub-n overlaps are not."""
    from lab3_spark.operators.textstats import benchmark_decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro text then quick brown fox jumps over and more"),
            (2, "quick brown fox gone"),  # only a 3-gram overlap
            (3, "totally unrelated words here now"),
            (4, "too short"),  # < n tokens
        ],
        "doc_id bigint, text string",
    )
    rows = {
        r.doc_id: r
        for r in benchmark_decontaminate(train, bench, n=5).collect()
    }
    assert rows[1].contaminated == 1 and rows[1].n_hit_grams == 1
    assert rows[2].contaminated == 0
    assert rows[3].contaminated == 0
    assert rows[4].contaminated == 0 and rows[4].n_hit_grams == 0
    assert len(rows) == 4  # every train doc present, hit or not


def test_benchmark_decontaminate_broadcasts_bench_side(spark, sf_dir):
    """The benchmark gram set must broadcast — the corpus side never
    shuffles for the semi-join (the 100 TB decontamination shape)."""
    from lab3_spark.operators.textstats import benchmark_decontaminate
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = benchmark_decontaminate(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_bpe_token_counts_handcomputed(spark):
    from lab3_spark.operators.textstats import bpe_token_counts

    rows = [
        (1, "don't stop"),  # don + 't + stop = 3 bpe; 2 ws
        (2, "x2go!!"),  # x + 2 + go + !! = 4 bpe; 1 ws
        (3, ""),  # empty: 0 / 0
        (4, "   "),  # whitespace-only
        (5, "we've 42 apples, ok?"),  # we+'ve+42+apples+,+ok+? = 7
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in bpe_token_counts(df).collect()}
    assert (got[1].n_ws_tokens, got[1].n_bpe_tokens) == (2, 3)
    assert (got[2].n_ws_tokens, got[2].n_bpe_tokens) == (1, 4)
    assert (got[3].n_ws_tokens, got[3].n_bpe_tokens) == (0, 0)
    assert got[3].chars_per_bpe == 0.0
    assert (got[4].n_ws_tokens, got[4].n_bpe_tokens) == (0, 0)
    assert (got[5].n_ws_tokens, got[5].n_bpe_tokens) == (4, 7)
    assert got[1].chars_per_bpe == 3.3333  # 10 chars / 3 tokens truncated


def test_winnowing_shared_run_guarantee(spark):
    """Two docs sharing a ≥ w+k−1 = 6-token run MUST share at least
    one fingerprint (the winnowing theorem); docs with disjoint
    vocabularies share none."""
    from lab3_spark.operators.textstats import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"prefix words here {shared} and a tail"),
        (2, f"{shared} totally different continuation text"),
        (3, "unrelated vocabulary entirely disjoint from others"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps: dict[int, set] = {}
    for r in winnowing_fingerprints(df).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "shared 6-token run must share a fingerprint"
    assert not (fps[1] & fps.get(3, set()))
    assert not (fps[2] & fps.get(3, set()))


def test_winnowing_short_docs(spark):
    """< k tokens → no fingerprints; k ≤ tokens < k+w−1 → exactly the
    single global-min fingerprint."""
    from lab3_spark.operators.textstats import winnowing_fingerprints

    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two three"), (3, "one two three four")],
        "doc_id bigint, text string",
    )
    got: dict[int, list] = {}
    for r in winnowing_fingerprints(df).collect():
        got.setdefault(r.doc_id, []).append(r.fp)
    assert 1 not in got  # 2 tokens < k=3: no 3-gram exists
    assert len(got[2]) == 1  # one 3-gram, below window: global min
    assert len(got[3]) == 1  # two 3-grams, still < w=4 hashes


def test_winnowing_candidates_surface_coderivatives(spark):
    """The candidate join surfaces the co-derivative pair (long
    shared run ⇒ ≥ min_shared shared fingerprints), never pairs
    disjoint docs, and the degenerate-fingerprint cap drops a
    boilerplate fingerprint shared by every doc without killing the
    rare-run pair."""
    from lab3_spark.operators.textstats import winnowing_candidates

    shared = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lam mu nu xi omicron pi"
    )
    rows = [
        (1, f"prefix words here {shared} and a tail"),
        (2, f"{shared} totally different continuation text"),
        (3, "unrelated vocabulary entirely disjoint from others"),
        (4, "more unrelated filler nothing in common whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r.doc_a, r.doc_b): r.n_shared for r in winnowing_candidates(df).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 2
    assert all(p == (1, 2) for p in got)
    # a boilerplate run in EVERY doc: capped out at max_bucket=3,
    # so no all-pairs explosion — but the (1,2) rare run survives
    boiler = "standard legal disclaimer footer text appears everywhere"
    rows_b = [(i, f"{t} {boiler}") for i, t in rows]
    df_b = spark.createDataFrame(rows_b, "doc_id bigint, text string")
    got_b = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnowing_candidates(df_b, max_bucket=3).collect()
    }
    assert (1, 2) in got_b


def test_dataset_card_metrics_hand_checked(spark):
    """Every card metric recomputed by hand on a 4-doc corpus with one
    exact duplicate pair, two sources and two langs."""
    from lab3_spark.operators.textstats import dataset_card

    rows = [
        (1, "alpha beta gamma", "en", "web"),
        (2, "Alpha  beta, GAMMA!", "en", "web"),   # dup of 1 after norm
        (3, "delta epsilon", "fr", "book"),
        (4, "zeta", "en", "book"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string, source string")
    got = {r.metric: r.value for r in dataset_card(df).collect()}
    assert got["n_docs"] == 4
    assert got["total_tokens"] == 3 + 3 + 2 + 1
    assert got["distinct_fingerprints"] == 3
    assert got["exact_dup_docs"] == 1
    assert got["dup_rate_ppm"] == (1 * 1_000_000) // 4
    assert got["mean_doc_tokens_ppm"] == (9 * 1_000_000) // 4
    assert got["n_sources"] == 2
    assert got["n_langs"] == 2
    # manifest checksum recomputed independently: modular sum of
    # md5(doc_id|md5(norm_tokens))[0:15] over all docs, mod 2^61-1
    import hashlib

    norm = {1: "alpha beta gamma", 2: "alpha beta gamma",
            3: "delta epsilon", 4: "zeta"}
    want = 0
    for d, t in norm.items():
        fp = hashlib.md5(t.encode()).hexdigest()
        h = int(hashlib.md5(f"{d}|{fp}".encode()).hexdigest()[:15], 16)
        want = (want + h) % (2**61 - 1)
    assert got["content_checksum_modsum"] == want


def test_dataset_card_checksum_multiplicity_faithful(spark):
    """The modular-sum manifest distinguishes duplicate MULTIPLICITY —
    the failure mode of an XOR fold, where an even number of copies of
    the same (doc_id, content) hash cancels to zero."""
    from lab3_spark.operators.textstats import dataset_card

    schema = "doc_id bigint, text string, lang string, source string"
    one = spark.createDataFrame(
        [(1, "alpha beta", "en", "web")], schema
    )
    # same (doc_id, content) row twice: XOR would cancel to 0; the sum
    # doubles instead
    two = spark.createDataFrame(
        [(1, "alpha beta", "en", "web"), (1, "alpha beta", "en", "web")],
        schema,
    )
    c1 = {r.metric: r.value for r in dataset_card(one).collect()}
    c2 = {r.metric: r.value for r in dataset_card(two).collect()}
    k = "content_checksum_modsum"
    assert c2[k] != 0
    assert c2[k] == (2 * c1[k]) % (2**61 - 1)


def test_zipf_fit_exact_power_law(spark):
    """A corpus whose counts are exactly c_r = 1000/r (r=1..8) must fit
    slope = -1 with R^2 ~ 1 (fixed-point log granularity aside)."""
    from lab3_spark.operators.textstats import zipf_fit

    words = []
    names = ["alpha", "bravo", "carol", "delta", "echos", "foxes", "golfs", "hotel"]
    for r in range(1, 9):
        words += [names[r - 1]] * (1000 // r)
    # one doc per word occurrence: tokenization is per-doc independent
    rows = [(i, w, "en", "s", len(w)) for i, w in enumerate(words)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    row = zipf_fit(df).collect()[0]
    assert row["n_types"] == 8
    assert row["n_tokens"] == sum(1000 // r for r in range(1, 9))
    assert -1_050_000 < row["slope_fp"] < -950_000   # slope ~ -1
    assert row["r2_fp"] > 990_000                    # R^2 > 0.99


def test_zipf_fit_single_type_guarded(spark):
    from lab3_spark.operators.textstats import zipf_fit

    df = spark.createDataFrame(
        [(0, "same same same", "en", "s", 14)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    row = zipf_fit(df).collect()[0]
    assert row["n_types"] == 1
    assert row["slope_fp"] == 0 and row["r2_fp"] == 0  # denx = 0 guard


def test_gini_even_and_concentrated(spark):
    from lab3_spark.operators.textstats import source_token_gini

    # perfectly even: 4 sources x 5 tokens each -> G = 0
    even = [
        (i, "alpha bravo carol delta echos", "en", f"s{i % 4}", 30)
        for i in range(8)
    ]
    df = spark.createDataFrame(
        even, "doc_id long, text string, lang string, source string, n_chars long"
    )
    assert source_token_gini(df).collect()[0]["gini_fp"] == 0
    # one source holds ~all mass: G -> (n-1)/n = 0.75 for n=4
    skew = (
        [(0, " ".join(["word"] * 97), "en", "big", 1)]
        + [(i, "word", "en", f"t{i}", 1) for i in (1, 2, 3)]
    )
    df2 = spark.createDataFrame(
        skew, "doc_id long, text string, lang string, source string, n_chars long"
    )
    g = source_token_gini(df2).collect()[0]["gini_fp"]
    assert 700_000 <= g <= 750_000
