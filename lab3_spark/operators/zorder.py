"""Z-order (Morton-curve) clustering for multi-dimensional data skipping.

Parquet scans prune row groups / files whose column min-max statistics
exclude the predicate.  A layout sorted on ONE column gives perfect
skipping on that column and none on any other; interleaving the bits of
two (or more) key columns into a single Morton code and sorting by it
gives each file a small rectangle in (a, b) space — predicates on
EITHER dimension skip most files.  This is the same layout decision as
bucketing/date-partitioning in sources/layout.py: paid once at write
time, free for every later scan.  (The reference engine rescans a flat
buffer per run — phoenixLab/wordCount/wordCount.cpp:116-133 — and has
no layout surface at all; this is the cluster-scale answer.)

All arithmetic is integer (shift/mask/or folded into one Catalyst
expression), so a SQL oracle reproduces the codes bit-for-bit:

1. fixed-point bucketize each dimension to ``bits`` bits using GLOBAL
   min/max (a 1-row broadcast aggregate — two-pass, like every
   stats-dependent layout build);
2. interleave: bit i of a → bit 2i, bit i of b → bit 2i+1.

The z-value is a WRITE-TIME sort key — queries never see it; skipping
shows up purely as fewer row groups read (tests/test_zorder.py measures
per-file min-max rectangles via pyarrow footers on both layouts).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BITS = 8


def bucketize_fixed(col: Column, lo: Column, hi: Column, bits: int) -> Column:
    """Scale ``col`` into the integer range [0, 2^bits - 1] given global
    min/max columns — floor fixed-point, the cross-engine-exact choice
    (HALF_UP rounding differs between engines; floor never does).
    Degenerate ranges (hi == lo) map to 0."""
    n_cells = (1 << bits) - 1
    span = hi - lo
    scaled = F.when(
        span > 0, F.floor((col - lo) / span * n_cells).cast("bigint")
    ).otherwise(F.lit(0).cast("bigint"))
    # clamp: col == hi lands exactly on n_cells, keep it in range
    return F.least(scaled, F.lit(n_cells).cast("bigint"))


def interleave_bits(a: Column, b: Column, bits: int) -> Column:
    """Morton code of two ``bits``-wide non-negative ints: bit i of
    ``a`` goes to bit 2i, bit i of ``b`` to bit 2i+1.  A fold of
    2*bits shift/mask/or terms — whole-stage-codegen'd, no UDF."""
    zero = F.lit(0).cast("bigint")
    one = F.lit(1).cast("bigint")
    terms = []
    for i in range(bits):
        bit_a = F.shiftright(a, i).bitwiseAND(one)
        bit_b = F.shiftright(b, i).bitwiseAND(one)
        terms.append(F.shiftleft(bit_a, 2 * i))
        terms.append(F.shiftleft(bit_b, 2 * i + 1))
    return reduce(lambda x, y: x.bitwiseOR(y), terms, zero)


def with_z_value(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = DEFAULT_BITS,
    out_col: str = "z",
) -> DataFrame:
    """Add the Morton code of (col_a, col_b), bucketized to ``bits``
    bits each against their GLOBAL min/max (computed as a 1-row
    broadcast aggregate — the only extra pass a z-order write costs)."""
    stats = df.agg(
        F.min(col_a).cast("double").alias("_lo_a"),
        F.max(col_a).cast("double").alias("_hi_a"),
        F.min(col_b).cast("double").alias("_lo_b"),
        F.max(col_b).cast("double").alias("_hi_b"),
    )
    qa = bucketize_fixed(
        F.col(col_a).cast("double"), F.col("_lo_a"), F.col("_hi_a"), bits
    )
    qb = bucketize_fixed(
        F.col(col_b).cast("double"), F.col("_lo_b"), F.col("_hi_b"), bits
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(out_col, interleave_bits(qa, qb, bits))
        .drop("_lo_a", "_hi_a", "_lo_b", "_hi_b")
    )


def hilbert_steps(bits: int, x: str, y: str, d: str, intdiv: str):
    """Per-level (x, y, d) update expressions for the Hilbert curve
    index (the standard xy2d bit walk, Wikipedia/public): at level s
    (a power of two), quadrant code q = ry when rx=0 else 3−ry (the
    XOR-free rendering), d += s²·q, then the conditional
    reflect-and-swap rotation.  Returns [(s, exprs)] where exprs maps
    new column names to SQL text — the SAME generator renders the
    Spark chain (intdiv='DIV') and the DuckDB oracle (intdiv='//'),
    so the arithmetic is identical by construction.  All integer; a
    power-of-two AND is (v {intdiv} s) % 2.  The reflection uses the
    FULL-grid constant (2^bits − 1, the Wikipedia rot(n, …) form),
    not s − 1: the latter sends coordinates negative mid-walk, where
    SQL's truncating DIV/% diverge from the floor semantics the
    algorithm assumes."""
    n1 = (1 << bits) - 1
    steps = []
    s = 1 << (bits - 1)
    while s > 0:
        rx = f"(({x} {intdiv} {s}) % 2)"
        ry = f"(({y} {intdiv} {s}) % 2)"
        q = f"(CASE WHEN {rx} = 0 THEN {ry} ELSE 3 - {ry} END)"
        flip = f"{ry} = 0 AND {rx} = 1"
        x1 = f"(CASE WHEN {flip} THEN {n1} - {x} ELSE {x} END)"
        y1 = f"(CASE WHEN {flip} THEN {n1} - {y} ELSE {y} END)"
        steps.append(
            (
                s,
                {
                    d: f"{d} + {s * s} * {q}",
                    x: f"(CASE WHEN {ry} = 0 THEN {y1} ELSE {x1} END)",
                    y: f"(CASE WHEN {ry} = 0 THEN {x1} ELSE {y1} END)",
                },
            )
        )
        s >>= 1
    return steps


def hilbert_index(
    df: DataFrame,
    col_x: str,
    col_y: str,
    bits: int,
    out_col: str = "h",
) -> DataFrame:
    """Hilbert-curve index of two ``bits``-wide non-negative integer
    code columns — the locality-better alternative to the Morton
    interleave (every curve step is a unit move, no quadrant jumps),
    which is why Hilbert zone maps usually prune at least as well.
    Chained integer CASE expressions (one trio per level), no UDF."""
    d = df.withColumn("_hx", F.col(col_x).cast("bigint")).withColumn(
        "_hy", F.col(col_y).cast("bigint")
    ).withColumn(out_col, F.lit(0).cast("bigint"))
    for _s, exprs in hilbert_steps(bits, "_hx", "_hy", out_col, "DIV"):
        d = d.withColumns({c: F.expr(e) for c, e in exprs.items()})
    return d.drop("_hx", "_hy")


def zone_map_pruning_audit(
    df: DataFrame,
    col_a: str,
    col_b: str,
    key_col: str,
    n_files: int = 64,
    bits: int = 5,
    cuts: int = 4,
) -> DataFrame:
    """Quantify what the z-order layout actually BUYS: the zone-map
    pruning table a lakehouse writer consults before choosing a
    clustering key.

    All candidate layouts are simulated from one coded projection
    (key, cx, cy, z, h — fixed-point codes against global min/max, the
    write-time math of :func:`with_z_value`):

    - ``linear``: total order (col_b, key) — the single-column sort
      every date-partitioned table already has;
    - ``zorder``: total order (z, key) — the Morton curve;
    - ``hilbert``: total order (h, key) — the Hilbert curve
      (:func:`hilbert_index`), whose unit-step locality usually
      prunes at least as well as Morton's quadrant-jumping walk.

    Rows land in ``n_files`` equal files by global rank (the
    distributed rank machinery — no single-partition window touches
    the fact table), each file's zone map is its min/max code
    rectangle (a combinable aggregate), and a ``cuts × cuts`` grid of
    code-space range queries is tested against every zone:
    file hit ⇔ rectangles overlap.  Output — one row per
    (layout, query): how many of the ``n_files`` files a reader must
    scan.  The curve row sets are the justification artifact: linear
    prunes only its sort dimension; both curves prune both — and the
    table ranks the curves against each other too.

    Scale shape: one persisted coded projection (never the full row)
    + three ranged shuffles over it (one per layout), a ≤ 3·n_files-row
    zone table, and a
    zones × queries broadcast nested loop at metadata scale.  All
    arithmetic is integer past the one shared bucketize floor(), so a
    SQL oracle reproduces every count bit-for-bit."""
    from lab3_spark.operators.rank import (
        total_rows_col,
        with_row_number,
    )

    stats = df.agg(
        F.min(col_a).cast("double").alias("_lo_a"),
        F.max(col_a).cast("double").alias("_hi_a"),
        F.min(col_b).cast("double").alias("_lo_b"),
        F.max(col_b).cast("double").alias("_hi_b"),
    )
    qa = bucketize_fixed(
        F.col(col_a).cast("double"), F.col("_lo_a"), F.col("_hi_a"), bits
    )
    qb = bucketize_fixed(
        F.col(col_b).cast("double"), F.col("_lo_b"), F.col("_hi_b"), bits
    )
    coded = (
        df.crossJoin(F.broadcast(stats))
        .withColumn("cx", qa)
        .withColumn("cy", qb)
        .withColumn("z", interleave_bits(F.col("cx"), F.col("cy"), bits))
    )
    # persisted: the three layout rankings below each probe this frame
    # (plus their range-partition sampling passes) — unpersisted, the
    # scan + bucketize + Morton/Hilbert chains re-ran per layout
    # (optimization round 12, guide §5; freed at the caller's scope exit)
    from lab3_spark.functions.partitioning import scoped

    coded = scoped(
        hilbert_index(coded, "cx", "cy", bits, out_col="h").select(
            key_col, col_b, "cx", "cy", "z", "h"
        ),
    )

    def _files(order_col: str, layout: str) -> DataFrame:
        d = with_row_number(
            coded,
            [order_col, key_col],
            out_col="_rn",
        )
        return d.withColumn("_n_total", total_rows_col()).select(
            F.lit(layout).alias("layout"),
            F.expr(f"((_rn - 1) * {int(n_files)}) DIV _n_total").alias(
                "_file"
            ),
            "cx",
            "cy",
        )

    zones = (
        _files(col_b, "linear")
        .unionByName(_files("z", "zorder"))
        .unionByName(_files("h", "hilbert"))
        .groupBy("layout", "_file")
        .agg(
            F.min("cx").alias("mn_cx"),
            F.max("cx").alias("mx_cx"),
            F.min("cy").alias("mn_cy"),
            F.max("cy").alias("mx_cy"),
        )
    )

    span = (1 << bits) // cuts
    spark = df.sparkSession
    queries = spark.range(cuts * cuts).select(
        F.expr(f"id DIV {cuts}").alias("q_a"),
        F.pmod(F.col("id"), F.lit(cuts)).cast("bigint").alias("q_b"),
    )
    queries = queries.select(
        "q_a",
        "q_b",
        (F.col("q_a") * span).alias("lo_x"),
        (F.col("q_a") * span + (span - 1)).alias("hi_x"),
        (F.col("q_b") * span).alias("lo_y"),
        (F.col("q_b") * span + (span - 1)).alias("hi_y"),
    )
    hit = (
        (F.col("mn_cx") <= F.col("hi_x"))
        & (F.col("mx_cx") >= F.col("lo_x"))
        & (F.col("mn_cy") <= F.col("hi_y"))
        & (F.col("mx_cy") >= F.col("lo_y"))
    )
    return (
        zones.crossJoin(F.broadcast(queries))
        .groupBy("layout", "q_a", "q_b")
        .agg(
            F.sum(hit.cast("bigint")).alias("files_hit"),
            F.count("*").alias("files_total"),
        )
        .orderBy("layout", "q_a", "q_b")
    )
