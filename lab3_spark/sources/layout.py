"""Storage layouts: bucketed tables, date partitioning, compaction plans.

At 100 TB the dominant costs are (a) the shuffle of fact-fact joins and
(b) full scans that a predicate should have pruned.  Both are STORAGE
decisions, not query decisions — made once at write time and then free
for every downstream query:

- **Bucketing** (`bucketBy` on the join key, same bucket count on both
  sides): reading the tables back, Catalyst sees compatible output
  partitioning and plans the orders ⋈ lineitem sort-merge join with ZERO
  Exchange (pinned by tests/test_bucketing.py).  The shuffle is paid
  once at layout time instead of per query.
- **Date partitioning** (`sinks.write_parquet(..., partition_by=
  ["event_date"])`): a `WHERE event_date = …` predicate becomes
  directory pruning — partitions that can't match are never listed,
  never opened (PartitionFilters in the scan node; pinned by
  tests/test_partition_pruning.py).

The reference has no analogue (it rescans its flat input per run,
phoenixLab/wordCount/wordCount.cpp:116-133); this is the Spark-native
answer to the same I/O problem at cluster scale.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from lab3_spark.functions.partitioning import on_scope_exit
from lab3_spark.sinks import write_bucketed
from lab3_spark.sources.tables import load_table

DEFAULT_BUCKETS = 8


def materialize_bucketed_facts(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> tuple[DataFrame, DataFrame]:
    """Write orders + lineitem under ``out_dir`` as external tables
    bucketed (and sorted) by orderkey; return the bucketed readers.

    Every call writes both tables from ``sf_dir``: a table is named
    after ``out_dir`` (the caller passes a fresh directory), so no
    call can read rows another call wrote.  The tables are dropped from
    the session catalog when the caller's ``cache_scope()`` exits."""
    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(out_dir)))
    readers = []
    for table, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        name = f"{table}_bkt_{tag}"
        write_bucketed(
            load_table(spark, sf_dir, table),
            name,
            key,
            n_buckets,
            sort_col=key,
            path=os.path.join(out_dir, table),
        )
        on_scope_exit(lambda n=name: spark.sql(f"DROP TABLE IF EXISTS {n}"))
        readers.append(spark.table(name))
    return readers[0], readers[1]


def compaction_plan(
    files: DataFrame,
    size_col: str = "n_chars",
    target_bytes: int = 4000,
) -> DataFrame:
    """(source, bin_id, n_files, total_bytes): small-file compaction
    planner — assign each file (here: document, standing in for a file
    listing) to an output bin by WHERE ITS BYTES START in the
    per-source running total, bin = floor(start / target).  This is
    the same first-fit-by-order packing Spark's own scan planner uses
    for FilePartitions (maxPartitionBytes), expressed as one window
    running sum; bins overshoot the target by at most one file, and
    ordering by (doc_id) makes the plan deterministic.

    The per-source window runs over the FILE LISTING — metadata scale
    (one row per file, not per byte), which is why a plain partitioned
    running sum is the right tool here while data-sized global order
    goes through operators/rank.py."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.sum(size_col).over(w) - F.col(size_col)
    return (
        files.withColumn("_start", start)
        .withColumn(
            "bin_id", F.expr(f"CAST(_start DIV {target_bytes} AS BIGINT)")
        )
        .groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(size_col).cast("bigint").alias("total_bytes"),
        )
        .orderBy("source", "bin_id")
    )
