"""Round-7 second wave: rank statistics (Mann-Whitney, KS), the
n-gram novelty audit, and the quality PR sweep."""

from pyspark.sql import functions as F


def test_mannwhitney_hand_computed(spark):
    """group1 = {3, 5}, group2 = {1, 3}: ranks 1, 2.5, 2.5, 4 →
    R1 = 6.5, U1 = 3.5 (pair count: 3>1 + ½·(3=3) + 5>1 + 5>3),
    AUC = 3.5/4."""
    from lab3_spark.functions.rounding import cents
    from lab3_spark.operators.profile import mannwhitney_u

    df = spark.createDataFrame(
        [(0.03, "g1"), (0.05, "g1"), (0.01, "g2"), (0.03, "g2")],
        "o_totalprice double, grp string",
    )
    row = mannwhitney_u(df, cents("o_totalprice"), "grp = 'g1'").collect()[0]
    assert row["n1"] == 2 and row["n2"] == 2
    assert row["u1_x2"] == 7  # U1 = 3.5
    assert row["u2_x2"] == 1  # U2 = 0.5; U1 + U2 = n1*n2
    assert row["auc_fp"] == 875_000


def test_mannwhitney_symmetry(spark):
    """Swapping the groups swaps U1/U2 and mirrors the AUC."""
    from lab3_spark.functions.rounding import cents
    from lab3_spark.operators.profile import mannwhitney_u

    df = spark.createDataFrame(
        [(float(v), "a" if v % 2 else "b") for v in range(1, 101)],
        "o_totalprice double, grp string",
    )
    a = mannwhitney_u(df, cents("o_totalprice"), "grp = 'a'").collect()[0]
    b = mannwhitney_u(df, cents("o_totalprice"), "grp = 'b'").collect()[0]
    assert a["u1_x2"] == b["u2_x2"] and a["u2_x2"] == b["u1_x2"]
    assert a["u1_x2"] + a["u2_x2"] == 2 * a["n1"] * a["n2"]


def test_ks_hand_computed(spark):
    """a lengths {1,2}, b lengths {2,3}: D = 1/2."""
    from lab3_spark.operators.textstats import length_ks_test

    df = spark.createDataFrame(
        [(1, "a", 1), (2, "a", 2), (3, "b", 2), (4, "b", 3)],
        "doc_id bigint, source string, n_chars bigint",
    )
    row = length_ks_test(df, "a", "b").collect()[0]
    assert row["n_a"] == 2 and row["n_b"] == 2
    assert row["d_num"] == 2
    assert row["d_fp"] == 500_000


def test_ks_identical_distributions_zero(spark):
    from lab3_spark.operators.textstats import length_ks_test

    rows = [(i, "a", i % 7) for i in range(70)] + [
        (100 + i, "b", i % 7) for i in range(70)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_chars bigint")
    row = length_ks_test(df, "a", "b").collect()[0]
    assert row["d_num"] == 0 and row["d_fp"] == 0


def test_ngram_novelty_bounds_and_determinism(spark, sf_dir):
    from lab3_spark.operators.textstats import ngram_novelty
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = ngram_novelty(docs).collect()[0]
    assert 0 <= a["n_novel"] <= a["n_test_grams"]
    assert 0 <= a["novelty_fp"] <= 1_000_000
    b = ngram_novelty(docs).collect()[0]
    assert tuple(a) == tuple(b)


def test_ngram_novelty_disjoint_corpus(spark):
    """Every doc shares one text → test grams all appear in train
    (both splits nonempty at this size) → novelty 0."""
    from lab3_spark.operators.textstats import ngram_novelty

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "s") for i in range(200)],
        "doc_id bigint, text string, source string",
    )
    row = ngram_novelty(df).collect()[0]
    assert row["n_test_grams"] == 2  # 'alpha beta gamma', 'beta gamma delta'
    assert row["n_novel"] == 0 and row["novelty_fp"] == 0


def test_quality_pr_curve_monotone(spark, sf_dir):
    """Raising the threshold can only shrink the predicted-positive
    set: recall is non-increasing in t, tp+fn (actual positives) is
    constant, and all counts partition the corpus."""
    from lab3_spark.operators.textstats import quality_pr_curve
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = quality_pr_curve(docs).collect()
    n = docs.count()
    actual_pos = {r["n_tp"] + r["n_fn"] for r in rows}
    assert len(actual_pos) == 1
    recalls = [r["recall_fp"] for r in rows]
    assert recalls == sorted(recalls, reverse=True)
    for r in rows:
        assert r["n_tp"] + r["n_fp"] + r["n_fn"] + r["n_tn"] == n


def test_mannwhitney_empty_group_null_auc(spark):
    from lab3_spark.functions.rounding import cents
    from lab3_spark.operators.profile import mannwhitney_u

    df = spark.createDataFrame(
        [(1.0, "b"), (2.0, "b")], "o_totalprice double, grp string"
    )
    row = mannwhitney_u(df, cents("o_totalprice"), "grp = 'a'").collect()[0]
    assert row["n1"] == 0 and row["auc_fp"] is None


def test_ks_missing_source_null_d(spark):
    from lab3_spark.operators.textstats import length_ks_test

    df = spark.createDataFrame(
        [(1, "a", 5)], "doc_id bigint, source string, n_chars bigint"
    )
    row = length_ks_test(df, "a", "zzz").collect()[0]
    assert row["n_b"] == 0 and row["d_fp"] is None


def test_mannwhitney_matches_bruteforce_pair_count(spark):
    """U1 = #(x1 > x2) + ½·#(x1 = x2) over all cross pairs — the
    definition, checked against the histogram formulation on a messy
    tie-heavy sample."""
    import random

    rng = random.Random(7)
    rows = [
        (float(rng.randint(0, 15)) / 100.0, rng.choice(["a", "b"]))
        for _ in range(300)
    ]
    if not any(g == "a" for _, g in rows):  # pragma: no cover
        rows[0] = (rows[0][0], "a")
    from lab3_spark.functions.rounding import cents
    from lab3_spark.operators.profile import mannwhitney_u

    df = spark.createDataFrame(rows, "o_totalprice double, grp string")
    got = mannwhitney_u(df, cents("o_totalprice"), "grp = 'a'").collect()[0]
    xs1 = [round(v * 100) for v, g in rows if g == "a"]
    xs2 = [round(v * 100) for v, g in rows if g == "b"]
    u1_x2 = sum(
        2 if x1 > x2 else (1 if x1 == x2 else 0)
        for x1 in xs1
        for x2 in xs2
    )
    assert got["n1"] == len(xs1) and got["n2"] == len(xs2)
    assert got["u1_x2"] == u1_x2
    assert got["auc_fp"] == u1_x2 * 10**6 // (2 * len(xs1) * len(xs2))


def test_ks_matches_bruteforce_cdf_scan(spark):
    """D·n_a·n_b = max over the pooled grid of |cum_a·n_b − cum_b·n_a|
    — checked against a plain python CDF scan."""
    import random

    rng = random.Random(11)
    la = [rng.randint(0, 30) for _ in range(120)]
    lb = [rng.randint(5, 40) for _ in range(80)]
    rows = [(i, "a", v) for i, v in enumerate(la)] + [
        (1000 + i, "b", v) for i, v in enumerate(lb)
    ]
    from lab3_spark.operators.textstats import length_ks_test

    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_chars bigint")
    got = length_ks_test(df, "a", "b").collect()[0]
    grid = sorted(set(la) | set(lb))
    na, nb = len(la), len(lb)
    d_num = max(
        abs(sum(1 for x in la if x <= v) * nb - sum(1 for x in lb if x <= v) * na)
        for v in grid
    )
    assert (got["n_a"], got["n_b"]) == (na, nb)
    assert got["d_num"] == d_num
    assert got["d_fp"] == d_num * 10**6 // (na * nb)


def test_winsorized_and_mannwhitney_use_distributed_rank(spark, sf_dir):
    """Both rank statistics must go through the ranged shuffle
    (RangePartitioning on the value order), never a single-partition
    window over the data-scale frame."""
    from lab3_spark.functions.rounding import cents
    from lab3_spark.operators.profile import mannwhitney_u, winsorized_stats
    from lab3_spark.plans.explain import formatted_plan
    from lab3_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    price = cents("o_totalprice")
    for df in (
        winsorized_stats(orders, price, "o_orderkey"),
        mannwhitney_u(orders, price, "o_orderpriority = '1-URGENT'"),
    ):
        plan = formatted_plan(df)
        assert "rangepartitioning" in plan.lower(), plan


def test_bpe_pair_stage_is_vocab_scale(spark, sf_dir):
    """The char-pair explode must sit ABOVE the word-count aggregate
    (pairs derive from word types, not token occurrences): exactly one
    Generate and it consumes the aggregated (word, wcnt) frame."""
    from lab3_spark.operators.textstats import bpe_merge_candidates
    from lab3_spark.plans.explain import formatted_plan
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = formatted_plan(bpe_merge_candidates(docs))
    # two Generates total: the tokenizer explode (below the count agg)
    # and the pair explode (above it) — the pair one must reference wcnt
    gen_sections = plan.split("Generate")
    assert any("wcnt" in g[:400] for g in gen_sections[1:]), plan
