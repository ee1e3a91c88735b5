"""Text-corpus source with deterministic line numbers.

The reference's invert app splits its input on ``\\n`` and stamps a
0-based line number on each chunk (phoenixLab/invert/invert.cpp:91-105).
Spark's ``monotonically_increasing_id`` is NOT contiguous — but it IS
``(partition_id << 33) + row_index_within_partition``, so contiguous
numbering is the row index plus the row count of the earlier
partitions: the global case of the engine's one offset primitive
(operators/rank.py ``with_line_numbers``), JVM-side, with no shuffle
of the lines.

Correctness of the ordering (rows within a text partition follow file
order, and partition ids follow file offsets for a single file) is
pinned by tests/test_sinks_sources.py::
test_line_numbers_match_reference_ground_truth against the lab's
line-number-prefixed corpus (File2ForLab3.txt, 24k lines).

Scale note (SURVEY.md §7.4): the id is ``(doc_id, line_no)`` with
line_no contiguous *per file* — numbering is embarrassingly parallel
across files; a single global counter would serialize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark.operators.rank import with_line_numbers


def read_text_lines(spark: SparkSession, *paths: str) -> DataFrame:
    """Read text file(s) → DataFrame(doc_id, line_no, text).

    line_no is 0-based and contiguous within each file (parity with
    invert.cpp:101-103); one file is read per call-iteration so the
    numbering restarts per document."""
    dfs = []
    for path in paths:
        doc_id = path.rsplit("/", 1)[-1]
        base = spark.read.text(path).withColumnRenamed("value", "text")
        numbered = with_line_numbers(base)
        dfs.append(
            numbered.select(
                F.lit(doc_id).alias("doc_id"), "line_no", "text"
            )
        )
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out
