"""Generic MapReduce facade — the reference's CRTP extension surface
(SURVEY.md §2.7: split/map/combine/reduce/sort overrides,
phoenixLab/include/map_reduce.h:120-139,455) re-expressed as a
declarative DataFrame transform chain.

A Phoenix-style job declares:
- ``mapper``:  row → array of (key, value) structs, as a Column
  expression (the analogue of the app ``map`` UDF emitting via
  ``emit_intermediate``, map_reduce.h:185-188);
- ``combiner``: one of the reference's combiner registry —
  sum (sum_combiner, combiner.h:230-235), buffer (buffer_combiner,
  combiner.h:37-105, = collect_list), one (one_combiner,
  combiner.h:238-243, = last), or any Spark aggregate Column;
- ``sort``: list of ordering Columns (the merge-phase comparator,
  map_reduce.h:455).

Spark runs the same physical dataflow the reference hand-rolls:
partial hash agg (per-task combine) → hash-partition shuffle → final
agg → sort.  No RDDs, no UDFs — Catalyst plans everything.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# combiner registry: name → (value-column → aggregate expression)
COMBINERS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,                      # sum_combiner  (combiner.h:230-235)
    "count": lambda v: F.count("*"),   # sum_combiner with value 1
    "buffer": F.collect_list,          # buffer_combiner (combiner.h:37-105)
    "set": F.collect_set,
    "one": F.last,                     # one_combiner  (combiner.h:238-243)
    "max": F.max,
    "min": F.min,
}


def map_reduce(
    df: DataFrame,
    mapper: Column,
    combiner: str | Callable[[Column], Column] = "sum",
    sort: Sequence[Column] | None = None,
    key_name: str = "key",
    value_name: str = "value",
) -> DataFrame:
    """Run the generic dataflow: mapper → groupBy(key) → combine → sort.

    ``mapper`` must evaluate to ``array<struct<key, value>>`` per input
    row (a flatMap — one row may emit many pairs, like repeated
    ``emit_intermediate`` calls).  Returns (key, value) columns where
    value is the combined result.
    """
    agg = COMBINERS[combiner] if isinstance(combiner, str) else combiner
    pairs = df.select(F.explode(mapper).alias("kv")).select(
        F.col("kv.key").alias(key_name), F.col("kv.value").alias(value_name)
    )
    out = pairs.groupBy(key_name).agg(agg(F.col(value_name)).alias(value_name))
    if sort is not None:
        out = out.orderBy(*sort)
    return out


def word_count_as_mapreduce(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The reference wordCount expressed through the facade — proof the
    generic surface reproduces the concrete pipeline (SURVEY §3.1)."""
    from lab3_spark.functions.text import tokenize

    mapper = F.transform(
        tokenize(text_col),
        lambda w: F.struct(w.alias("key"), F.lit(1).cast("long").alias("value")),
    )
    return map_reduce(
        df,
        mapper,
        combiner="sum",
        sort=[F.asc("cnt"), F.desc("word")],  # sort refs the renamed cols
        key_name="word",
        value_name="cnt",
    )


def map_reduce_salted(
    df: DataFrame,
    mapper: Column,
    combiner: str = "sum",
    n_salts: int = 16,
    key_name: str = "key",
    value_name: str = "value",
) -> DataFrame:
    """Skew-resistant two-phase aggregation (salting).

    A hot key (one word dominating a corpus — the natural-language
    norm) funnels its entire group through one reduce task in the
    plain dataflow; the reference has the same pathology (all values
    of a key land in one bucket, container.h:185).  Salting splits
    each key into `n_salts` subgroups aggregated in parallel, then
    combines the partials — exact for associative combiners
    (sum/count/min/max).

    The salt only spreads rows of one key across reduce tasks; the
    FINAL result is salt-independent (associativity), so any row-level
    salt works — we use monotonically_increasing_id mod n_salts.
    """
    if combiner not in ("sum", "count", "min", "max"):
        raise ValueError(f"salting requires an associative combiner, got {combiner!r}")
    agg = COMBINERS[combiner]
    pairs = df.select(F.explode(mapper).alias("kv")).select(
        F.col("kv.key").alias(key_name), F.col("kv.value").alias(value_name)
    )
    salted = pairs.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    partial = salted.groupBy(key_name, "_salt").agg(
        agg(F.col(value_name)).alias(value_name)
    )
    refold = {"count": F.sum}.get(combiner, agg)  # counts re-combine by SUM
    return partial.groupBy(key_name).agg(refold(F.col(value_name)).alias(value_name))


def vocab_lengths_as_mapreduce(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The reference's one_combiner (combiner.h:238-243) exercised
    end-to-end through the facade (VERDICT r10 item 6 — the last §2
    row without a dedicated oracled gate): key = token, value = the
    token's character length.  one_combiner's contract is "all values
    for a key are identical, keep one" (the reference uses it where
    the value is key-functional); emitting length(token) honors that
    contract, so the kept value is deterministic no matter which
    occurrence the final aggregate sees — exactly the property that
    makes the combiner safe in the reference's unordered merge.
    Output: the corpus vocabulary with word lengths, ordered by word."""
    from lab3_spark.functions.text import tokenize

    mapper = F.transform(
        tokenize(text_col),
        lambda w: F.struct(
            w.alias("key"), F.length(w).cast("long").alias("value")
        ),
    )
    return map_reduce(
        df,
        mapper,
        combiner="one",
        sort=[F.col("word")],
        key_name="word",
        value_name="word_len",
    )
