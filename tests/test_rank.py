"""Distributed global order statistics (operators/rank.py): the derived
ntile / percent_rank / cume_dist must be bit-identical to Spark's own
unpartitioned window functions — while never collapsing the data to a
single partition."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lab3_spark.operators.rank import (
    with_global_order_stats,
    with_row_number,
    drop_rank_internals,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )


def _window_reference(docs, k):
    w = Window.orderBy("n_chars", "doc_id")
    return docs.select(
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.ntile(k).over(w).alias("ntile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@pytest.mark.parametrize("k", [3, 10, 1000])
def test_matches_window_functions(docs, k):
    # k=1000 > row count at sf0.001 exercises the N < k degenerate case
    got = {
        r["doc_id"]: (r["rn"], r["ntile"], r["pct_rank"], r["cume"])
        for r in with_global_order_stats(
            docs, ["n_chars", "doc_id"], ntile=k, percent_rank=True, cume_dist=True
        ).collect()
    }
    want = {
        r["doc_id"]: (r["rn"], r["ntile"], r["pct_rank"], r["cume"])
        for r in _window_reference(docs, k).collect()
    }
    assert got == want


def test_range_partitioned_layout(docs):
    ranked = drop_rank_internals(
        with_row_number(docs, ["n_chars", "doc_id"])
    )
    # the distributed form's ONE big-side shuffle is a RANGE
    # partitioning on the order keys (disjoint globally-ordered
    # ranges) — not the SinglePartition exchange an unpartitioned
    # window would plan.  The only SinglePartition allowed is the
    # offsets cumsum over the per-partition counts (metadata scale).
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(n_chars" in plan.lower(), plan
    # no Window node may touch the data columns at all — the big side
    # gets its local index from monotonically_increasing_id, windowless
    for line in plan.splitlines():
        if "Window [" in line:
            assert "n_chars" not in line, line


def test_no_unpartitioned_window_over_input(docs):
    # Window nodes in the plan must all be partitioned by the range
    # partition id; the only global sort allowed is over the tiny
    # per-partition counts aggregate.
    plan = (
        with_global_order_stats(docs, ["n_chars", "doc_id"], ntile=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # Spark prints: Window [functions], [partition spec], [order spec].
    # The big-side window must carry a partition spec (_gos_pid); the
    # only empty-partition window allowed is the offsets cumsum, which
    # orders by the internal _gos_pid — never by a data column.
    for line in plan.splitlines():
        if "Window [" in line and "], [], [" in line:
            order_spec = line.split("], [], [", 1)[1]
            assert "n_chars" not in order_spec, line


def test_top_n_per_key_equals_plain_window(spark):
    """Salted two-stage top-n is row-for-row the single-window form,
    on a skewed key distribution (one key holds ~90% of rows) — the
    exact shape the salting exists for."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lab3_spark.operators.rank import top_n_per_key

    df = spark.range(2000).select(
        F.when(F.col("id") < 1800, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 7).cast("string")))
        .alias("key"),
        F.col("id"),
        ((F.col("id") * 2654435761) % 100003).alias("score"),
    )
    got = top_n_per_key(df, ["key"], ["score", "id"], 5).select(
        "key", "id", "score", "rk"
    )
    w = Window.partitionBy("key").orderBy("score", "id")
    want = (
        df.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("key", "id", "score", "rk")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert got.count() > 0


def _assert_keyed_match_windows(df):
    """with_row_number / with_running_sum keyed on ``key`` equal Spark's
    per-key ``row_number()`` and running ``sum()`` windows, row by row."""
    from lab3_spark.operators.rank import with_row_number, with_running_sum

    w = Window.partitionBy("key").orderBy("v", "id")
    want = {
        r["id"]: (r["rn"], r["cum"])
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        ).collect()
    }
    rn = drop_rank_internals(with_row_number(df, ["v", "id"], keys=["key"]))
    cum = with_running_sum(df, ["v", "id"], "v", keys=["key"])
    got_rn = {r["id"]: r["rn"] for r in rn.collect()}
    got_cum = {r["id"]: r["cum"] for r in cum.collect()}
    assert len(got_rn) == len(got_cum) == df.count()
    assert {i: (got_rn[i], got_cum[i]) for i in got_rn} == want


def test_keyed_row_number_and_running_sum_match_windows(spark):
    """With keys, row numbers and running sums restart per key and equal
    Spark's per-key windows — on skewed keys whose rows span several
    ranged partitions, and a key that shares a partition with others."""
    _assert_keyed_match_windows(
        spark.range(3000).select(
            F.when(F.col("id") < 2000, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 5).cast("string")))
            .alias("key"),
            F.col("id"),
            ((F.col("id") * 2654435761) % 1009).alias("v"),
        )
    )


def test_null_key_is_one_group(spark):
    """A NULL key numbers and sums like any other group, as SQL's
    ``PARTITION BY`` does: 1,200 of 3,000 rows have a NULL key, so the
    NULL group (first in the range order) spans several of the four
    ranged partitions, and NULL rows still find their offsets."""
    _assert_keyed_match_windows(
        spark.range(3000).select(
            F.when(F.col("id") % 5 < 2, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 3).cast("string")))
            .alias("key"),
            F.col("id"),
            ((F.col("id") * 2654435761) % 1009).alias("v"),
        )
    )
