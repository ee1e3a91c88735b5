"""Round-7 additions: blocking evaluation, vocabulary induction,
release manifests, robust stats, sketch tolerance gates, and the
ADVICE-r6 bug fixes (systematic k=1, hits n_iter validation, cdc
restart guard, blocking RR single-doc guard)."""

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )


# ---------------------------------------------------------------- dedup --


def test_simhash_blocking_catches_exact_dups(spark):
    from lab3_spark.operators.dedup import simhash_blocking_quality

    d = _docs(
        spark,
        [
            (1, "spark table scan value row batch merge sort", "a"),
            (2, "spark table scan value row batch merge sort", "b"),  # dup of 1
            (3, "completely different words here about nothing", "a"),
            (4, "another unrelated document with other tokens", "b"),
        ],
    )
    row = simhash_blocking_quality(d).collect()[0]
    assert row["n_docs"] == 4
    assert row["n_true_pairs"] == 1
    # exact duplicates share the signature -> every chunk bucket pairs them
    assert row["n_caught"] == 1
    assert row["pc_fp"] == 1_000_000


def test_blocking_quality_single_doc_no_crash(spark):
    """ADVICE r6: RR denominator n*(n-1)/2 is 0 for one doc — must not
    divide by zero; vacuously perfect instead."""
    from lab3_spark.operators.dedup import blocking_quality

    d = _docs(spark, [(1, "only one document in this corpus", "a")])
    row = blocking_quality(d).collect()[0]
    assert row["n_docs"] == 1
    assert row["rr_fp"] == 1_000_000
    assert row["pc_fp"] == 1_000_000


def test_cross_source_near_dups_filters_same_source(spark):
    from lab3_spark.operators.dedup import cross_source_near_dups

    base = "spark scan value row batch merge sort table window group"
    d = _docs(
        spark,
        [
            (1, base, "a"),
            (2, base, "b"),        # near-dup across sources -> kept
            (3, base, "a"),        # near-dup of 1 within source a -> dropped
            (4, "unrelated tokens entirely different content", "c"),
        ],
    )
    got = cross_source_near_dups(d).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in got}
    assert (1, 2) in pairs and (2, 3) in pairs
    assert (1, 3) not in pairs  # same source
    for r in got:
        assert r["source_a"] != r["source_b"]
        assert r["jaccard"] >= 0.2


# ------------------------------------------------------------- sampling --


def test_systematic_sample_k1_returns_all_rows(spark):
    """ADVICE r6: rn % 1 == 1 never holds; (rn-1) % 1 == 0 always does."""
    from lab3_spark.operators.sampling import systematic_sample

    df = spark.range(25).select(F.col("id").alias("doc_id"))
    got = systematic_sample(df, k=1).collect()
    assert len(got) == 25


def test_systematic_sample_cadence_unchanged_for_k_gt_1(spark):
    from lab3_spark.operators.sampling import systematic_sample

    df = spark.range(95).select(F.col("id").alias("doc_id"))
    rows = systematic_sample(df, k=10).collect()
    assert len(rows) == 10  # ceil(95/10)
    assert [r["rn"] for r in rows] == [1 + 10 * i for i in range(10)]


def test_dataset_split_manifest_shares_sum_to_stratum(spark):
    from lab3_spark.operators.sampling import dataset_split_manifest

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(3000)], "doc_id bigint, source string"
    )
    rows = dataset_split_manifest(df).collect()
    by_src: dict[str, int] = {}
    for r in rows:
        by_src[r["source"]] = by_src.get(r["source"], 0) + r["n"]
        # ~90/5/5 with hash noise; generous envelope
        if r["split"] == "train":
            assert 850_000 < r["pct_fp"] < 950_000
    assert set(by_src.values()) == {1000}
    # deterministic: same split on re-run
    again = dataset_split_manifest(df).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


# ------------------------------------------------------------ textstats --


def test_quality_kappa_systematic_disagreement_is_zero(spark):
    from lab3_spark.operators.textstats import quality_kappa

    # "x y" scores 0.616 on the blend (rater A accepts) but fails the
    # Gopher word-count floor (rater B rejects) -> all mass in n10;
    # observed agreement 0 equals chance agreement 0 -> kappa = 0
    d = _docs(spark, [(i, "x y", "a") for i in range(6)])
    row = quality_kappa(d).collect()[0]
    assert row["n10"] == 6 and row["n11"] == 0 and row["n00"] == 0
    assert row["po_fp"] == 0 and row["pe_fp"] == 0
    assert row["kappa_fp"] == 0


def test_quality_kappa_contingency_adds_up(spark, sf_dir):
    from lab3_spark.operators.textstats import quality_kappa
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    row = quality_kappa(docs).collect()[0]
    n = row["n11"] + row["n10"] + row["n01"] + row["n00"]
    assert n == docs.count()
    assert -1_000_000 <= row["kappa_fp"] <= 1_000_000
    assert 0 <= row["po_fp"] <= 1_000_000


def test_vocab_coverage_monotone_and_complete(spark):
    from lab3_spark.operators.textstats import vocab_coverage_curve

    d = _docs(
        spark,
        [(1, "a a a a b b c", "s"), (2, "a b b d", "s")],
    )
    rows = vocab_coverage_curve(d, ks=(1, 2, 4, 8)).collect()
    cov = {r["k"]: r["coverage_fp"] for r in rows}
    # vocabulary: a=5 b=4 c=1 d=1, total 11
    assert cov[1] == 5 * 10**6 // 11
    assert cov[2] == 9 * 10**6 // 11
    assert cov[4] == 1_000_000 and cov[8] == 1_000_000
    assert [r["coverage_fp"] for r in rows] == sorted(
        r["coverage_fp"] for r in rows
    )


def test_bpe_merge_candidates_hand_computed(spark):
    from lab3_spark.operators.textstats import bpe_merge_candidates

    # "aaab" x2 and "ab" x1: pairs aa(2x2=4... per-word occurrences:
    # aaab -> aa, aa, ab; weighted by wcnt=2 -> aa:4 ab:2; ab -> ab:1
    d = _docs(spark, [(1, "aaab aaab ab", "s")])
    rows = bpe_merge_candidates(d, k=5).collect()
    got = {r["pair"]: r["cnt"] for r in rows}
    assert got == {"aa": 4, "ab": 3}
    assert rows[0]["pair"] == "aa" and rows[0]["rnk"] == 1


def test_bpe_merge_single_char_words_excluded(spark):
    from lab3_spark.operators.textstats import bpe_merge_candidates

    d = _docs(spark, [(1, "a b c d e", "s")])
    assert bpe_merge_candidates(d).collect() == []


def test_source_vocab_overlap_hand_computed(spark):
    from lab3_spark.operators.textstats import source_vocab_overlap

    d = _docs(
        spark,
        [
            (1, "alpha beta gamma", "s1"),
            (2, "alpha beta delta", "s2"),
            (3, "zeta eta", "s3"),
        ],
    )
    rows = source_vocab_overlap(d).collect()
    by = {(r["source_a"], r["source_b"]): r for r in rows}
    r12 = by[("s1", "s2")]
    assert r12["v_inter"] == 2 and r12["v_a"] == 3 and r12["v_b"] == 3
    assert r12["jaccard_fp"] == 2 * 10**6 // 4
    # zero-overlap pairs are absent (inner join on shared words)
    assert ("s1", "s3") not in by and ("s2", "s3") not in by


# -------------------------------------------------------------- profile --


def test_winsorized_mean_pulls_in_outlier(spark):
    from lab3_spark.functions.rounding import cents
    from lab3_spark.operators.profile import winsorized_stats

    # 99 values of 10.00 + one 10000.00 outlier; k = max(1, 100//100) = 1
    # p_lo = rank-1 value (1000 cents), p_hi = rank-100 value... with
    # tail clipping at rank 1 and rank 100 nothing changes; use 200 rows
    rows = [(i, 10.0) for i in range(199)] + [(199, 10_000.0)]
    df = spark.createDataFrame(rows, "o_orderkey bigint, o_totalprice double")
    got = winsorized_stats(df, cents("o_totalprice"), "o_orderkey").select(
        "n",
        F.col("p_hi").alias("p_hi_cents"),
        F.col("mean_v").alias("mean_cents"),
        F.col("winsorized_mean_v").alias("winsorized_mean_cents"),
    ).collect()[0]
    assert got["n"] == 200
    # k = 2: p_lo = 1000, p_hi = value at rank 199 = 1000 -> outlier clipped
    assert got["p_hi_cents"] == 1000
    assert got["winsorized_mean_cents"] == 1000
    assert got["mean_cents"] > got["winsorized_mean_cents"]


# ------------------------------------------------------------- sketches --


def test_approx_dau_check_all_within(spark, sf_dir):
    from lab3_spark.operators.events import approx_dau_check
    from lab3_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = approx_dau_check(ev).collect()
    assert rows and all(r["within_5pct"] for r in rows)


def test_hll_merge_check_daily_and_total(spark, sf_dir):
    from lab3_spark.operators.events import hll_merge_check
    from lab3_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = hll_merge_check(ev).collect()
    assert rows
    assert all(r["daily_within_5pct"] for r in rows)
    assert all(r["total_within_5pct"] for r in rows)


# ------------------------------------------------------------ pagerank --


def test_hits_rejects_zero_iterations(spark):
    from lab3_spark.operators.pagerank import hits_scores

    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="n_iter"):
        hits_scores(edges, n_iter=0)


# ------------------------------------------------------------ streaming --


def test_cdc_apply_refuses_missing_prior_version(spark, tmp_path):
    """ADVICE r6: batch_id > 0 whose expected version=batch_id-1 is
    absent while OTHER versions exist (partial store wipe, mismatched
    checkpoint) must refuse instead of silently rebuilding — rebuilding
    discards prior state and leaves latest_snapshot() stale.  Full
    replay from batch 0 stays legal (test_streaming_cdc_replay_is_
    idempotent pins that contract)."""
    import glob
    import os
    import shutil
    import time

    from lab3_spark.streaming.cdc import start_cdc_apply

    store = str(tmp_path / "store")
    feed = str(tmp_path / "feed")
    ck = str(tmp_path / "ck")
    os.makedirs(feed)
    schema = (
        "o_orderkey bigint, seq bigint, op string,"
        " price_cents bigint, o_orderstatus string"
    )

    def add_file(i: int):
        part = str(tmp_path / f"part{i}")
        spark.createDataFrame(
            [(i + 1, i + 1, "I", 100 * (i + 1), "O")], schema
        ).coalesce(1).write.parquet(part)
        (pf,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = os.path.join(feed, f"{i:02d}.parquet")
        os.rename(os.path.join(part, pf), dst)
        os.utime(dst, (time.time() + i * 10,) * 2)

    def drain() -> None:
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = start_cdc_apply(src, store, ck)
        if not q.awaitTermination(300):  # pragma: no cover
            q.stop()
            raise AssertionError("cdc stream timed out")

    add_file(0)
    add_file(1)
    drain()
    assert glob.glob(f"{store}/version=1")
    # wipe the LATEST version, then feed batch 2 through the same
    # checkpoint: its expected prior (version=1) is gone while
    # version=0 survives -> the guard must fail the stream
    shutil.rmtree(f"{store}/version=1")
    add_file(2)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="refusing"):
        drain()
