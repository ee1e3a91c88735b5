"""Hypothesis property tests: the Spark tokenizer and portable hash
must agree with independent Python reference implementations on
arbitrary input (SURVEY §5.3 differential testing)."""

import hashlib
import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from lab3_spark.functions.text import TOKEN_REGEX, hex_to_long, tokenize

TEXTS = st.lists(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd", "Po", "Zs"),
            whitelist_characters="'\t\n-_",
        ),
        max_size=60,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=12, deadline=None)
@given(TEXTS)
def test_tokenizer_matches_python_reference(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [r["toks"] for r in
           df.select(tokenize("text").alias("toks")).collect()]
    pat = re.compile(TOKEN_REGEX)
    for t, toks in zip(texts, got):
        assert toks == pat.findall(t.lower()), (t,)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.text(max_size=40), min_size=1, max_size=8))
def test_hex_fold_matches_python_int(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [
        r["h"]
        for r in df.select(
            hex_to_long(F.substring(F.md5("s"), 1, 15)).alias("h")
        ).collect()
    ]
    for t, h in zip(texts, got):
        assert h == int(hashlib.md5(t.encode()).hexdigest()[:15], 16)


EDGES = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=25,
)


@settings(max_examples=6, deadline=None)
@given(EDGES)
def test_connected_components_matches_union_find(spark, edges):
    """Spark min-label propagation == a Python union-find reference on
    arbitrary small graphs."""
    from lab3_spark.operators.components import connected_components

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    # canonical: min node id per component
    nodes = {n for e in edges for n in e}
    expected = {}
    roots: dict[int, int] = {}
    for n in sorted(nodes):
        r = find(n)
        roots.setdefault(r, n)  # first (= min) node seen per root
        expected[n] = roots[r]

    df = spark.createDataFrame(list(edges), "src long, dst long")
    got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(st.integers(1, 9999).map(lambda f: f / 10000))
def test_hash_sample_fraction_is_threshold_cut(spark, fraction):
    """Deterministic sampling: the sample for fraction f is exactly the
    ids whose hash lands under the threshold — verified against a
    driver-side Python recomputation of the same md5 arithmetic."""
    from lab3_spark.operators.sampling import SAMPLE_MOD, stratified_hash_sample

    df = spark.range(300).select(F.col("id").alias("doc_id"))
    sample = stratified_hash_sample(
        df, "doc_id", "doc_id", {}, salt="sample", default_fraction=fraction
    )
    got = {r["doc_id"] for r in sample.collect()}
    want = {
        i
        for i in range(300)
        if int(hashlib.md5(f"sample|{i}".encode()).hexdigest()[:15], 16)
        % SAMPLE_MOD
        < int(fraction * SAMPLE_MOD)
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(TEXTS)
def test_ngram_repetition_matches_python_reference(spark, texts):
    """dup/top n-gram fractions recomputed in pure Python (truncation
    included) must match the per-row expression pipeline."""
    from collections import Counter

    from lab3_spark.operators.textstats import ngram_repetition

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r for r in ngram_repetition(df).collect()}
    pat = re.compile(TOKEN_REGEX)

    def tr(x):
        import math

        return math.floor(x * 10000) / 10000

    for i, t in enumerate(texts):
        toks = pat.findall(t.lower())
        for n, pre in ((2, "bigram"), (3, "trigram")):
            grams = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
            r = got[i]
            assert r[f"n_{pre}s"] == len(grams), (t, n)
            if grams:
                c = Counter(grams)
                assert r[f"dup_{pre}_frac"] == tr(1 - len(c) / len(grams)), (t, n)
                assert r[f"top_{pre}_frac"] == tr(max(c.values()) / len(grams)), (t, n)
            else:
                assert r[f"dup_{pre}_frac"] == 0.0 and r[f"top_{pre}_frac"] == 0.0


@settings(max_examples=8, deadline=None)
@given(TEXTS)
def test_chunk_documents_reassembles_corpus(spark, texts):
    """Chunks partition the token stream: concatenating a doc's chunks
    in chunk_id order reproduces its full normalized token stream, and
    every chunk except the last is exactly the window size."""
    from lab3_spark.operators.sampling import chunk_documents

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    rows = chunk_documents(df, chunk_tokens=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    pat = re.compile(TOKEN_REGEX)
    for i, t in enumerate(texts):
        toks = pat.findall(t.lower())
        chunks = sorted(by_doc.get(i, []), key=lambda r: r["chunk_id"])
        if not toks:
            assert chunks == []
            continue
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        joined = " ".join(c["chunk_text"] for c in chunks)
        assert joined == " ".join(toks), (t,)
        assert all(c["n_chunk_tokens"] == 3 for c in chunks[:-1])
        assert chunks[-1]["n_chunk_tokens"] == len(toks) - 3 * (len(chunks) - 1)


def test_round3_table_invariants(spark, sf_dir):
    """Structural invariants of the round-3 operators on the real
    documents table: exactly one keeper per fingerprint group, repeated
    chunks really repeat, hash-embedding mass is bounded by tokens."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from lab3_spark.operators.dedup import keep_best_duplicates, repeated_chunks
    from lab3_spark.operators.textstats import feature_hash_embedding
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")

    by_fp = defaultdict(list)
    for r in keep_best_duplicates(docs).collect():
        by_fp[r["fp"]].append(r)
    for fp, rows in by_fp.items():
        assert sum(r["keep"] for r in rows) == 1, fp
        kept = next(r for r in rows if r["keep"])
        assert all(kept["quality"] >= r["quality"] for r in rows)
        assert all(r["n_copies"] == len(rows) for r in rows)

    for r in repeated_chunks(docs).collect():
        assert r["n_occurrences"] >= 2
        assert 1 <= r["n_docs"] <= r["n_occurrences"]

    emb = feature_hash_embedding(docs)
    agg = emb.agg(
        F.min("dim").alias("lo"), F.max("dim").alias("hi"),
        F.sum(F.abs("w")).alias("mass"),
    ).collect()[0]
    assert 0 <= agg["lo"] and agg["hi"] <= 15
    n_tokens = docs.select(
        F.sum(F.size(F.regexp_extract_all(F.lower("text"),
                                          F.lit(r"[a-z][a-z']*"), F.lit(0))))
    ).collect()[0][0]
    assert agg["mass"] <= n_tokens


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.integers(min_value=0, max_value=50),  # score
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=5),  # n
)
def test_top_n_per_key_matches_python_reference(spark, rows, n):
    """Salted two-stage top-n == sorted-prefix per key, computed
    independently in Python, under arbitrary key/score multisets
    (duplicate scores allowed — the unique row id is the tie-break,
    per the total-order contract)."""
    from lab3_spark.operators.rank import top_n_per_key

    data = [(k, s, i) for i, (k, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "key int, score int, rid int")
    got = sorted(
        (r.key, r.score, r.rid, r.rk)
        for r in top_n_per_key(df, ["key"], ["score", "rid"], n).collect()
    )
    want = []
    for k in {k for k, _, _ in data}:
        grp = sorted((s, i) for kk, s, i in data if kk == k)[:n]
        want.extend((k, s, i, rk + 1) for rk, (s, i) in enumerate(grp))
    assert got == sorted(want)
