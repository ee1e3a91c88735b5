"""Distributed global order statistics — no single-partition window.

``ntile / percent_rank / cume_dist OVER (ORDER BY ...)`` with no
PARTITION BY is the classic scale trap: Spark's WindowExec moves the
ENTIRE input to one partition ("No Partition Defined for Window
operation" warning), which is a guaranteed OOM/stall at 100 TB.  The
reference's sort phase (phoenixLab: the merge-sort over all emitted
pairs feeding top50.cpp:109-159) has the same global-total-order
semantics; Phoenix++ solves it with a parallel merge — this module is
the Spark-native equivalent:

1. ``repartitionByRange(order keys)`` — one sampling pass plus ONE
   shuffle gives disjoint, globally-ordered key ranges per partition
   (partition i's keys all sort before partition i+1's);
   ``sortWithinPartitions`` completes the total order.
2. per-partition local index via ``monotonically_increasing_id`` —
   pid<<33 | row-index evaluated over the sorted iterator (the
   sources/text.py:36-54 line-numbering trick), so no window — and
   therefore no second Exchange — ever touches the big side.
3. partition row-counts (a metadata-scale aggregate, one row per
   partition) → cumulative offsets, broadcast back.
4. global row number = local index + partition offset + 1.

``ntile(k)``, ``percent_rank`` and ``cume_dist`` are then pure
arithmetic on (rn, N) when the order key is a total order (unique per
row — callers append a unique tie-break column, same determinism rule
as every ordered query in the catalog):

- percent_rank = (rn - 1) / (N - 1)
- cume_dist    = rn / N
- ntile(k): the first ``N mod k`` buckets get ``ceil(N/k)`` rows, the
  rest ``floor(N/k)`` (the SQL-standard split DuckDB and Spark share).

Everything is JVM-side; N arrives via a broadcast of the (tiny) offsets
aggregate, not a driver collect.  The only unpartitioned window left
runs over the per-partition counts — #partitions rows, metadata scale
(same pattern as sources/text.py:36-54 line numbering).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_PID = "_gos_pid"
_RIDX = "_gos_ridx"
_OFF = "_gos_offset"
_TOT = "_gos_total"


def _ranged_frame(
    df: DataFrame, order_cols: Sequence[str], memo_key: str
) -> DataFrame:
    """The shared scaffolding of every global-order operator: ONE
    ranged shuffle + within-partition sort complete the total order,
    then (pid, local row index) decompose from
    ``monotonically_increasing_id`` over the sorted iterator — no
    window, no second Exchange, ever touches the big side.

    The result is persisted WITHIN the call (it feeds both the
    per-partition metadata aggregate and the final broadcast join, and
    must not be recomputed — the range partitioner would re-sample),
    via the bounded ``persist_latest`` registry: at most one ranged
    frame stays cached per ``memo_key``.

    Each call ranks afresh; no call reads a frame an earlier call
    persisted.  That is also the measured choice: round 5's drift
    attribution found cross-run reuse of the ranged frame a net LOSS at
    bench scale (~+0.2-0.3 s/run on order_total_deciles /
    doc_length_distribution — the InMemoryTableScan read path costs
    more than the small re-shuffle it saves).  The within-call persist
    is the part that matters at every scale.

    ``memo_key`` is only the registry key.  Callers that keep the
    default key share one slot: a second ranked frame under the same
    key unpersists the first (and its ``.in`` input), so a plan that
    ranks twice under one key — or reads an earlier ranked frame after
    another rank call — recomputes it (correct, just uncached).  The
    heavy callers pass distinct keys (ADVICE r13, low).

    The INPUT is also persisted (bounded, ``memo_key + ".in"``) unless
    the caller already cached it: ``repartitionByRange`` SAMPLES its
    child to pick range boundaries — a reservoir sketch that computes
    EVERY input partition — and the shuffle map then computes the child
    again.  For the rank-stat gates the child is itself a full
    aggregation (a value histogram) or a tokenize/score pass, so the
    un-persisted form paid that subtree twice per call (optimization
    round 13, guide §1.2 "don't compute things you throw away" / §5).
    Storage cost: one extra data-scale projection per memo_key, the
    same size class as the ranged frame this helper already caches;
    both are bounded by the persist_latest registry."""
    from lab3_spark.functions.partitioning import persist_latest
    from lab3_spark.sources.text import ROW_IDX_BITS

    par = df.sparkSession.sparkContext.defaultParallelism
    if not (df.storageLevel.useMemory or df.storageLevel.useDisk):
        df = persist_latest(memo_key + ".in", df)
    cols = [F.col(c) for c in order_cols]
    mid = F.monotonically_increasing_id()
    d = (
        df.repartitionByRange(par, *cols)
        .sortWithinPartitions(*cols)
        .withColumn(_PID, F.shiftrightunsigned(mid, ROW_IDX_BITS))
        .withColumn(_RIDX, mid.bitwiseAND(F.lit((1 << ROW_IDX_BITS) - 1)))
    )
    return persist_latest(memo_key, d)


def with_global_row_number(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "rn",
    memo_key: str = "rank.global_row_number",
) -> DataFrame:
    """Add a 1-based global row number following ``ORDER BY order_cols``
    without a single-partition window.

    Also leaves a ``_gos_total`` column (total row count N) for derived
    statistics; callers drop it via :func:`drop_rank_internals`.

    ``order_cols`` must be a total order (append a unique key as the
    last column) — equal keys across a range boundary would otherwise
    make ranks partition-placement-dependent."""
    d = _ranged_frame(df, order_cols, memo_key)

    counts = d.groupBy(_PID).agg(F.count("*").alias("_n"))
    # one_window_partition(): same single-partition placement over the
    # ≤ defaultParallelism offset rows, but a non-empty (and
    # non-foldable) partition spec silences the WindowExec "No
    # Partition Defined" warning that was masking real warnings during
    # verify runs (VERDICT r7 item 7)
    from lab3_spark.functions.partitioning import one_window_partition

    w = (
        Window.partitionBy(one_window_partition())
        .orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        counts.withColumn(_OFF, F.coalesce(F.sum("_n").over(w), F.lit(0)))
        .withColumn(_TOT, F.sum("_n").over(
            Window.partitionBy(one_window_partition()).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(_PID, _OFF, _TOT)
    )

    return (
        d.join(F.broadcast(offsets), _PID)
        .withColumn(out_col, (F.col(_RIDX) + F.col(_OFF) + 1).cast("long"))
        .drop(_PID, _RIDX, _OFF)
    )


def with_global_running_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "cum",
    memo_key: str = "rank.global_running_sum",
) -> DataFrame:
    """Global prefix sum of ``value_col`` following ``ORDER BY
    order_cols`` — the distributed replacement for
    ``sum(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``, which
    Spark plans as a single-partition window (the 100 TB stall).

    Same three-step shape as :func:`with_global_row_number` (shared
    scaffolding: :func:`_ranged_frame`): ONE ranged shuffle orders the
    data; per-PARTITION value sums (metadata scale — one row per
    partition) cumulate through a tiny window and broadcast back as
    offsets; the within-partition running sum is an ordinary
    partitioned window.  ``order_cols`` must be a total order (append a
    unique key)."""
    d = _ranged_frame(df, order_cols, memo_key)

    sums = d.groupBy(_PID).agg(F.sum(value_col).alias("_v"))
    # see with_global_row_number — warning hygiene over the
    # metadata-scale offsets frame, identical placement
    from lab3_spark.functions.partitioning import one_window_partition

    w = (
        Window.partitionBy(one_window_partition())
        .orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sums.withColumn(
        _OFF, F.coalesce(F.sum("_v").over(w), F.lit(0))
    ).select(_PID, _OFF)

    local = Window.partitionBy(_PID).orderBy(_RIDX).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        d.join(F.broadcast(offsets), _PID)
        .withColumn(
            # no cast: the sum keeps the value column's own type
            # (bigint → bigint, double → double) — a generic prefix-sum
            # helper must not silently floor fractional inputs
            out_col,
            F.sum(value_col).over(local) + F.col(_OFF),
        )
        .drop(_PID, _RIDX, _OFF)
    )


_GRP_N = "_gos_group_n"


def with_grouped_row_number(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    out_col: str = "rn",
    memo_key: str = "rank.grouped_row_number",
) -> DataFrame:
    """Per-GROUP 1-based row number following ``ORDER BY order_cols``
    within each group — WITHOUT a per-group window (``partitionBy(
    group)`` moves each whole group to one partition: the skew/OOM
    trap when a group is data-scale).

    One :func:`with_global_row_number` pass ordered by (group, order)
    gives contiguous global ranks per group; subtracting each group's
    broadcast start offset (cumulative counts of preceding groups —
    a #groups-row metadata frame) localizes them.  Group cardinality
    must be metadata-scale (sources, priorities, statuses); the DATA
    never sees a per-group single-partition window.  Also leaves a
    ``_gos_group_n`` column (per-group row count, exposed via
    :func:`group_rows_col`); drop with :func:`drop_rank_internals`."""
    from lab3_spark.functions.partitioning import one_window_partition

    gcols = list(group_cols)
    d = with_global_row_number(
        df, [*gcols, *order_cols], out_col="_grn", memo_key=memo_key
    )
    counts = d.groupBy(*gcols).agg(F.count("*").alias(_GRP_N))
    w = (
        Window.partitionBy(one_window_partition())
        .orderBy(*gcols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.withColumn(
        _OFF, F.coalesce(F.sum(_GRP_N).over(w), F.lit(0))
    )
    return (
        d.join(F.broadcast(offs), gcols)
        .withColumn(out_col, (F.col("_grn") - F.col(_OFF)).cast("long"))
        .drop("_grn", _OFF)
    )


def with_grouped_running_sum(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "cum",
    memo_key: str = "rank.grouped_running_sum",
) -> DataFrame:
    """Per-group prefix sum of ``value_col`` following ``ORDER BY
    order_cols`` within each group — the grouped sibling of
    :func:`with_global_running_sum`, same no-per-group-window design
    as :func:`with_grouped_row_number`: one global prefix sum ordered
    by (group, order), minus each group's broadcast starting total
    (cumulative value sums of preceding groups, #groups rows)."""
    from lab3_spark.functions.partitioning import one_window_partition

    gcols = list(group_cols)
    d = with_global_running_sum(
        df, [*gcols, *order_cols], value_col, out_col="_gcum",
        memo_key=memo_key,
    )
    sums = d.groupBy(*gcols).agg(F.sum(value_col).alias("_gv"))
    w = (
        Window.partitionBy(one_window_partition())
        .orderBy(*gcols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = sums.withColumn(
        _OFF, F.coalesce(F.sum("_gv").over(w), F.lit(0))
    ).drop("_gv")
    return (
        d.join(F.broadcast(offs), gcols)
        .withColumn(out_col, F.col("_gcum") - F.col(_OFF))
        .drop("_gcum", _OFF)
    )


def group_rows_col() -> Column:
    """Per-group row count as a column, valid on a
    :func:`with_grouped_row_number` result before
    ``drop_rank_internals``."""
    return F.col(_GRP_N)


def drop_rank_internals(df: DataFrame) -> DataFrame:
    return df.drop(_TOT).drop(_GRP_N)


def total_rows_col() -> Column:
    """N (total row count) as a column, valid on a
    :func:`with_global_row_number` result before ``drop_rank_internals``."""
    return F.col(_TOT)


def ntile_from_rank(rn: Column, n_total: Column, k: int) -> Column:
    """SQL-standard ntile(k) from a 1-based unique global rank.

    With N rows: the first ``N % k`` buckets hold ``N div k + 1`` rows,
    the remaining buckets ``N div k`` (DuckDB and Spark agree on this
    split, so the derived form is hash-identical to the window form)."""
    size_small = F.floor(n_total / k).cast("long")  # floor(N/k)
    rem = (n_total % k).cast("long")
    big = size_small + 1
    cutover = rem * big  # rows 1..cutover live in the `rem` bigger buckets
    in_big = F.floor((rn - 1) / big).cast("long") + 1
    # N < k => size_small == 0, but then cutover == N covers every row,
    # so the in_small branch is never taken; guard keeps the divisor
    # positive regardless of branch evaluation order.
    safe_small = F.greatest(size_small, F.lit(1))
    in_small = rem + F.floor((rn - cutover - 1) / safe_small).cast("long") + 1
    return F.when(rn <= cutover, in_big).otherwise(in_small).cast("int")


def percent_rank_from_rank(rn: Column, n_total: Column) -> Column:
    """percent_rank = (rank-1)/(N-1) — exact for a unique total order
    (rank == row_number).  N==1 degenerates to 0.0 like the window fn."""
    return F.when(n_total > 1, (rn - 1) / (n_total - 1)).otherwise(F.lit(0.0))


def cume_dist_from_rank(rn: Column, n_total: Column) -> Column:
    """cume_dist = rn/N — exact when the order is a unique total order
    (each row is its own peer group)."""
    return rn / n_total


def with_global_order_stats(
    df: DataFrame,
    order_cols: Sequence[str],
    ntile: int | None = None,
    percent_rank: bool = False,
    cume_dist: bool = False,
    rn_col: str = "rn",
    memo_key: str = "rank.global_row_number",
) -> DataFrame:
    """One-stop: global row number plus any of ntile / percent_rank /
    cume_dist, all derived from the distributed rank — the drop-in
    replacement for an unpartitioned window."""
    d = with_global_row_number(df, order_cols, out_col=rn_col, memo_key=memo_key)
    rn = F.col(rn_col)
    n = total_rows_col()
    if ntile is not None:
        d = d.withColumn("ntile", ntile_from_rank(rn, n, ntile))
    if percent_rank:
        d = d.withColumn("pct_rank", percent_rank_from_rank(rn, n))
    if cume_dist:
        d = d.withColumn("cume", cume_dist_from_rank(rn, n))
    return drop_rank_internals(d)


def top_n_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[Column | str],
    n: int,
    n_salts: int = 32,
    rank_name: str = "rk",
) -> DataFrame:
    """Exact smallest-``n`` rows per key without a hot per-key window —
    the scale-safe form of ``row_number() OVER (PARTITION BY key ORDER
    BY ...) <= n`` when a key's group can be a large fraction of the
    corpus (few keys, e.g. quantizer cells; skewed keys).

    Two salted stages: stage 1 ranks within (key, salt) where salt =
    hash(order tuple) % n_salts — every stage-1 group is ~1/n_salts of
    its key's rows, so no task sees a whole hot key — and keeps ``n``
    per group; stage 2 ranks the ≤ n·n_salts survivors per key
    (bounded metadata scale).  Any global winner survives stage 1:
    fewer than ``n`` rows order before it globally, hence fewer than
    ``n`` in its own salt group — so the composition is row-for-row
    the single-window top-n, and an oracle can stay one plain
    ``row_number``.

    The salt uses Spark's internal ``hash`` (NOT portable) — it never
    reaches the output, any spread works.  ``order_cols`` must be a
    total order per key (append a unique tie-break — the catalog-wide
    determinism rule); with ties at the cut, stage 1 could drop rows
    stage 2 would have picked among arbitrarily."""
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    salt = F.pmod(F.hash(*ocols), F.lit(int(n_salts)))
    w1 = Window.partitionBy(*keys, "_tnk_salt").orderBy(*ocols)
    w2 = Window.partitionBy(*keys).orderBy(*ocols)
    return (
        df.withColumn("_tnk_salt", salt)
        .withColumn("_tnk_lrk", F.row_number().over(w1))
        .where(F.col("_tnk_lrk") <= n)
        .withColumn(rank_name, F.row_number().over(w2))
        .where(F.col(rank_name) <= n)
        .drop("_tnk_salt", "_tnk_lrk")
    )
