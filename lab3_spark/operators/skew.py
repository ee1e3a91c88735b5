"""Skew mitigation for joins: explicit salting vs AQE.

Aggregation skew is largely a solved problem in Spark: map-side partial
aggregation collapses the hot key per partition before the shuffle, so
one reducer receives ~n_partitions partial rows, not the raw row count
(tests/test_skew.py pins the exactness; tools/bench_skew.py measures
it).  The reference has the unmitigated form of the same pathology:
every value of a key lands in one hash-bucket chain processed by one
reduce task (phoenixLab/include/container.h:185, map_reduce.h:238-252
reduce phase) — a hot word serializes its whole group there too.  JOIN skew is the real 100 TB hazard: a shuffle join routes EVERY
row of the hot key to one task — partial aggregation can't help because
the join has to see the rows themselves.

Two mitigations, both here:

- AQE skew-join (spark.sql.adaptive.skewJoin.*): runtime detection —
  oversized partitions are split and the matching side's partition is
  replicated.  Zero code changes; needs sort-merge join and the skew to
  show up in map output statistics.
- Explicit salting (:func:`salted_join`): the fact side gets a
  deterministic row-level salt in [0, n_salts); the dim side is
  replicated n_salts×; the join key becomes (key, salt), splitting the
  hot key across n_salts tasks unconditionally.  Exact for every join
  type whose semantics survive dim replication (inner/left).

Rule of thumb measured in tools/bench_skew.py: prefer AQE (it costs
nothing when there's no skew); reach for salting when the skew is known
and extreme (a handful of keys owning most rows — the natural-language
norm: stop words, null-ish sentinel keys), when AQE's stats miss it, or
when the engine must not depend on runtime re-planning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import one_window_partition


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: fact salted, dim replicated n_salts×.

    The salt is derived from a row id (pmod(monotonically_increasing_id,
    n_salts)) — any row-level spread works because the join result is
    salt-independent: each fact row still meets exactly its dim match
    (the one replica carrying its salt).  Supported `how`: inner/left —
    semantics that survive dim replication unchanged.

    Cost model: dim shuffle volume grows n_salts×; the hot fact key's
    rows spread over n_salts tasks.  Worth it when hot-key row count /
    task >> dim size × n_salts."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    f = fact.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).cast("int")
    )
    # cast the sequence, not the exploded column: a generator can't be
    # nested inside another expression (UNSUPPORTED_GENERATOR)
    d = dim.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>")),
    )
    return f.join(d, on=keys + ["_salt"], how=how).drop("_salt")


def zipf_keys(spark, n_rows: int, hot_share: float = 0.3, n_cold: int = 100_000) -> DataFrame:
    """Synthetic skewed fact table: `hot_share` of rows carry the single
    key 'hot'; the rest spread uniformly over n_cold keys.  Generated
    distributed (spark.range), no driver materialization."""
    threshold = int(1.0 / max(hot_share, 1e-9))
    return spark.range(n_rows).select(
        F.when(F.col("id") % threshold == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % n_cold).cast("string")))
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def key_skew_report(df: DataFrame, key_col: str, table: str) -> DataFrame:
    """One-row (tbl, key_col, n_rows, n_keys, max_group, top_share_fp,
    p50_group, p99_group): the join-key skew profile an operator reads
    BEFORE choosing a strategy — broadcast / plain shuffle / AQE skew
    split / salting (tools/bench_skew.py measures those; this gate
    measures WHEN they're needed).  top_share_fp is the hottest key's
    row share ·1e6; p50/p99 are EXACT group-size percentiles.

    Scale shape: one combinable count agg to the (key, cnt) frame,
    then a second agg to the counts-of-counts HISTOGRAM — |distinct
    group sizes| rows, metadata-scale no matter how many keys — so the
    percentile scan is a running sum over a bounded frame (the single-
    partition window is over the size histogram, never over data; a
    billion-key table yields at most a few thousand distinct sizes).
    Positional rule: index (n−1)·p DIV 100 + 1 into the size-ordered
    key sequence (the ship_latency_percentiles convention)."""
    from pyspark.sql.window import Window

    from lab3_spark.functions.partitioning import scoped

    cnts = scoped(
        df.groupBy(F.col(key_col).alias("k")).agg(
            F.count(F.lit(1)).alias("c")
        ),
    )
    stats = cnts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_group"),
    )
    hist = cnts.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
    # bounded frame: |distinct sizes| rows — the WindowExec single
    # partition here holds the histogram, not the data
    cum = hist.withColumn(
        "cum",
        F.sum("m").over(
            Window.partitionBy(one_window_partition())
            .orderBy("c")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    picks = cum.crossJoin(F.broadcast(stats)).select(
        "c",
        "cum",
        "n_keys",
        "n_rows",
        "max_group",
        F.expr("CAST((n_keys - 1) * 50 DIV 100 AS BIGINT) + 1").alias("i50"),
        F.expr("CAST((n_keys - 1) * 99 DIV 100 AS BIGINT) + 1").alias("i99"),
    )
    return picks.agg(
        F.lit(table).alias("tbl"),
        F.lit(key_col).alias("key_col"),
        F.max("n_rows").alias("n_rows"),
        F.max("n_keys").alias("n_keys"),
        F.max("max_group").alias("max_group"),
        F.expr(f"CAST(max(max_group) * {10**6} DIV max(n_rows) AS BIGINT)").alias(
            "top_share_fp"
        ),
        F.min(F.when(F.col("cum") >= F.col("i50"), F.col("c"))).alias(
            "p50_group"
        ),
        F.min(F.when(F.col("cum") >= F.col("i99"), F.col("c"))).alias(
            "p99_group"
        ),
    )


def join_skew_report(
    orders: DataFrame, lineitem: DataFrame, events: DataFrame
) -> DataFrame:
    """The standing skew audit over the schema's three fan-out join
    keys, one report row each (see key_skew_report)."""
    return (
        key_skew_report(orders, "o_custkey", "orders")
        .unionByName(key_skew_report(lineitem, "l_orderkey", "lineitem"))
        .unionByName(key_skew_report(events, "user_id", "events"))
        .orderBy("tbl")
    )
