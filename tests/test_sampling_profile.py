"""Deterministic sampling, sequence packing, and the single-scan
profiler."""

from pyspark.sql import functions as F

from lab3_spark.operators.profile import profile_table
from lab3_spark.operators.sampling import pack_sequences, stratified_hash_sample


def _uniform(df, fraction):
    # no listed strata: every row is kept at the default fraction
    return stratified_hash_sample(
        df, "doc_id", "doc_id", {}, salt="sample", default_fraction=fraction
    )


def test_hash_sample_deterministic_and_proportional(spark):
    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"] for r in _uniform(df, 0.3).collect()}
    b = {r["doc_id"] for r in _uniform(df, 0.3).collect()}
    assert a == b  # reproducible
    assert abs(len(a) / 20_000 - 0.3) < 0.02  # within 2pp of the target
    # a smaller fraction with the same salt is a SUBSET (threshold cut)
    c = {r["doc_id"] for r in _uniform(df, 0.1).collect()}
    assert c <= a


def test_stratified_fractions_respected(spark):
    df = spark.range(30_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("src"),
    )
    out = (
        stratified_hash_sample(
            df, "doc_id", "src", {"s0": 0.5, "s1": 0.1}, default_fraction=0.0
        )
        .groupBy("src")
        .count()
        .collect()
    )
    by = {r["src"]: r["count"] for r in out}
    assert abs(by["s0"] / 10_000 - 0.5) < 0.03
    assert abs(by["s1"] / 10_000 - 0.1) < 0.03
    assert "s2" not in by  # default fraction 0 drops the stratum


def test_pack_sequences_budget_and_order(spark):
    rows = [
        # source a: 300 + 300 + 300 tokens -> bins 0, 0, 1 (budget 512)
        (0, "a", "w " * 300),
        (1, "a", "w " * 300),
        (2, "a", "w " * 300),
        # source b: a 600-token doc overflows bin 0; next doc starts bin 1
        (10, "b", "w " * 600),
        (11, "b", "w " * 100),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["bin_id"])
        for r in pack_sequences(df, budget=512).collect()
    }
    assert got == {0: (300, 0), 1: (300, 0), 2: (300, 1), 10: (600, 0), 11: (100, 1)}


def test_profile_counts_nulls_and_canonical_minmax(spark):
    df = spark.createDataFrame(
        [(1, None, 2.5), (2, "b", 0.125), (2, "a", None)],
        "k long, s string, v double",
    )
    rows = {r["column"]: r for r in profile_table(df).collect()}
    assert rows["k"]["n_rows"] == 3 and rows["k"]["n_nulls"] == 0
    assert rows["k"]["n_distinct"] == 2
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert (rows["s"]["min_repr"], rows["s"]["max_repr"]) == ("a", "b")
    assert (rows["v"]["min_repr"], rows["v"]["max_repr"]) == ("0.1250", "2.5000")


def test_stratified_fixed_sample_allocation(spark, sf_dir):
    """Exactly n per stratum (or the whole stratum when smaller), and
    membership is stable under repartitioning."""
    from pyspark.sql import functions as F

    from lab3_spark.operators.sampling import stratified_fixed_sample
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = 7
    got = stratified_fixed_sample(docs, n_per_stratum=n)
    sizes = {r["stratum"]: r["c"] for r in
             got.groupBy("stratum").agg(F.count("*").alias("c")).collect()}
    full = {r["source"]: r["c"] for r in
            docs.groupBy("source").agg(F.count("*").alias("c")).collect()}
    assert sizes == {s: min(n, c) for s, c in full.items()}
    again = stratified_fixed_sample(docs.repartition(13), n_per_stratum=n)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, again.collect()))


def test_corpus_shuffle_shards_balanced_and_deterministic(spark, sf_dir):
    """Contiguous global ranks, shard sizes within ±1, and re-running
    reproduces the identical assignment (the resumable-export
    contract)."""
    from lab3_spark.operators.sampling import corpus_shuffle_shards
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = corpus_shuffle_shards(docs, n_shards=8).collect()
    assert [r.rn for r in a] == list(range(1, len(a) + 1))
    sizes = {}
    for r in a:
        sizes[r.shard] = sizes.get(r.shard, 0) + 1
    assert set(sizes) == set(range(1, 9))
    assert max(sizes.values()) - min(sizes.values()) <= 1, sizes
    b = corpus_shuffle_shards(docs, n_shards=8).collect()
    assert [(r.doc_id, r.rn, r.shard) for r in a] == [
        (r.doc_id, r.rn, r.shard) for r in b
    ]


def test_forget_propagation_fingerprint_survival(spark):
    """A fingerprint survives while ANY remaining doc carries it —
    deleting one copy of duplicated content must not retire the fp."""
    from lab3_spark.operators.textstats import forget_propagation

    docs = spark.createDataFrame(
        [
            (1, "shared duplicated content alpha"),
            (2, "shared duplicated content alpha"),  # same fp as 1
            (3, "unique content beta"),
            (4, "doomed unique content gamma"),
        ],
        "doc_id bigint, text string",
    )
    forget = spark.createDataFrame([(2,), (4,)], "doc_id bigint")
    got = {r.artifact: r for r in forget_propagation(docs, forget).collect()}
    d = got["documents"]
    assert (d.n_before, d.n_after, d.n_deleted) == (4, 2, 2)
    f = got["fingerprints"]
    # 3 distinct fps before; doc 2's fp survives via doc 1, doc 4's
    # fp is retired → 2 after, 1 deleted
    assert (f.n_before, f.n_after, f.n_deleted) == (3, 2, 1)
    c = got["chunks"]
    assert c.n_before == 4 and c.n_after == 2


def test_dedup_threshold_curve_monotone(spark, sf_dir):
    """Raising the cut can only shrink the pair and doc counts; the
    20% row equals the full verified-pair set."""
    from lab3_spark.operators.dedup import (
        dedup_threshold_curve,
        ngram_jaccard_pairs,
    )
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = dedup_threshold_curve(docs).collect()
    assert [r.threshold_pct for r in rows] == [20, 30, 40, 50, 60, 70, 80, 90]
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs and a.n_docs >= b.n_docs
    assert rows[0].n_pairs == ngram_jaccard_pairs(docs).count()


def test_mixture_apportionment_sums_to_budget(spark, sf_dir):
    """Σ n_draws == budget EXACTLY; every source gets base or base+1;
    larger-token sources never get fewer draws (α-monotone)."""
    from lab3_spark.operators.sampling import mixture_apportionment
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = mixture_apportionment(docs, budget=12_345).collect()
    assert sum(r.n_draws for r in rows) == 12_345
    by_tokens = sorted(rows, key=lambda r: r.n_tokens)
    for a, b in zip(by_tokens, by_tokens[1:]):
        assert a.n_draws <= b.n_draws + 1  # base shares are monotone;
        # the +1 remainder can land on either side of a near-tie


def test_source_token_entropy_hand_checked(spark):
    """Uniform distribution → log2(n_types) bits; single-token source
    → 0; fixed-point floor semantics."""
    import math

    from lab3_spark.operators.textstats import source_token_entropy

    docs = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta", "en", "uniform"),
            (2, "same same same same", "en", "constant"),
        ],
        "doc_id bigint, text string, lang string, source string",
    )
    got = {r.source: r for r in source_token_entropy(docs).collect()}
    u = got["uniform"]
    assert (u.n_tokens, u.n_types) == (4, 4)
    # every term: cnt=1, s_fp = floor(log2(4)*1e6) = 2_000_000;
    # entropy = (4 * 2e6) div 4
    assert u.entropy_fp == 2_000_000
    c = got["constant"]
    assert (c.n_tokens, c.n_types, c.entropy_fp) == (4, 1, 0)


def test_systematic_sample_exact_cadence(spark):
    from lab3_spark.operators.sampling import systematic_sample

    df = spark.createDataFrame([(i,) for i in range(95)], "doc_id long")
    rows = systematic_sample(df, k=10).collect()
    assert len(rows) == 10  # ceil(95/10)
    assert [r["rn"] for r in rows] == [1 + 10 * i for i in range(10)]
    # deterministic: same call, same picks
    again = systematic_sample(df, k=10).collect()
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in again]


def test_scd2_history_intervals(spark, sf_dir):
    from lab3_spark.operators import relational as REL
    from lab3_spark.sources.tables import load_table

    log = REL.cdc_change_log(load_table(spark, sf_dir, "orders"))
    hist = REL.scd2_history(log)
    # key 21: I(1) closed by U(2), U(2) closed by the D(3) tombstone
    k21 = {r["seq_from"]: r for r in hist.where("o_orderkey = 21").collect()}
    assert k21[1]["seq_to"] == 2 and k21[1]["is_current"] == 0
    assert k21[2]["seq_to"] == 3 and k21[2]["is_current"] == 0
    # key 3: updated, never deleted -> U row open
    k3 = {r["seq_from"]: r for r in hist.where("o_orderkey = 3").collect()}
    assert k3[2]["seq_to"] is None and k3[2]["is_current"] == 1
    # key 1: plain insert still current
    k1 = hist.where("o_orderkey = 1").collect()
    assert len(k1) == 1 and k1[0]["is_current"] == 1


def test_poisson_bootstrap_ci_brackets_truth(spark):
    from lab3_spark.operators.profile import poisson_bootstrap_ci

    # symmetric values around 100.00: the CI must bracket the point
    # estimate tightly and the point estimate must be exact
    rows = [(i, 100.0 + ((i % 21) - 10) * 0.5) for i in range(2000)]
    df = spark.createDataFrame(rows, "o_orderkey long, o_totalprice double")
    got = {r["stat"]: r["value_cents"] for r in poisson_bootstrap_ci(df).collect()}
    assert set(got) == {"point", "ci_lo", "ci_hi"}
    # 95 full 21-cycles (mean exactly 100.00) + 5 leftover low rows
    assert got["point"] == 9999
    assert got["ci_lo"] <= got["point"] <= got["ci_hi"]
    # ±10σ/√n is generous: σ≈303c, n=2000 → ~68c
    assert got["ci_hi"] - got["ci_lo"] < 100


def test_poisson_weights_mean_one(spark):
    """Σw/N must be ≈ 1 across resamples (Poisson(1) mean)."""
    from lab3_spark.functions.text import md5_long
    from lab3_spark.operators.profile import _POISSON1_CDF_FP
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i,) for i in range(5000)], "k long")
    u = md5_long(F.concat(F.lit("0"), F.lit("|"), F.col("k").cast("string")), salt="boot") % 1_000_000
    w = F.lit(len(_POISSON1_CDF_FP))
    for lvl in range(len(_POISSON1_CDF_FP) - 1, -1, -1):
        w = F.when(u < _POISSON1_CDF_FP[lvl], F.lit(lvl)).otherwise(w)
    s = df.select(w.alias("w")).agg(F.sum("w").alias("s")).collect()[0]["s"]
    assert 4700 < s < 5300
