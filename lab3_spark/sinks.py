"""Sinks (SURVEY.md §2.1 S5).

The reference's only sink is a formatted stdout print:
``printf("%15s - %lu\\n", key, val)`` over the final vector
(phoenixLab/wordCount/wordCount.cpp:151-157; top50.cpp:153-159) and the
grouped comma-separated variant for invert (invert.cpp:151-168).  The
engine's real sinks are Parquet/CSV/JSON writers; the text renderers
exist for golden-output parity with the reference binaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def render_keyval_text(df: DataFrame, key: str = "word", val: str = "cnt") -> DataFrame:
    """One formatted line per row, exactly the reference's
    ``%15s - %lu`` (wordCount.cpp:153): key right-aligned to 15 chars,
    " - ", value.  Like ``%15s``, a longer key is printed whole (a bare
    ``lpad`` to 15 would cut it)."""
    k = F.col(key)
    padded = F.lpad(k, F.greatest(F.length(k), F.lit(15)), " ")
    return df.select(
        F.concat(padded, F.lit(" - "), F.col(val).cast("string")).alias("line")
    )


def render_inverted_index_text(
    df: DataFrame, key: str = "word", ids: str = "ids"
) -> DataFrame:
    """invert's sink shape (invert.cpp:151-168): ``word - n1, n2, ...``
    with the posting list comma-joined.  The ids are cast as a whole
    array and joined in one expression: no per-element lambda, which
    Spark evaluates interpreted, element by element."""
    return df.select(
        F.concat(
            F.col(key),
            F.lit(" - "),
            F.array_join(F.col(ids).cast("array<string>"), ", "),
        ).alias("line")
    )


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Parquet sink — snappy, optional partition columns (the layout
    knob that buys partition pruning for downstream readers)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Bucketed table sink — the storage layout that turns a
    fact-fact shuffle join into a ZERO-SHUFFLE sort-merge join
    (docs/SCALE.md: orders⋈lineitem bucketed by orderkey).  Both join
    sides written with the SAME bucket count and column are read back
    co-partitioned, so Catalyst plans the join without any Exchange —
    verified by tests/test_bucketing.py.

    With ``path`` the table is EXTERNAL (data at `path`, metadata in the
    session catalog) — callers control the storage location instead of
    inheriting whatever spark.sql.warehouse.dir the session happens to
    have (a static conf we can't change on sessions we didn't build)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)
