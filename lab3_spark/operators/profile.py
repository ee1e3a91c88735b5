"""Column profiler — the data-quality primer every ingest pipeline runs
before training jobs touch a new source.

Two scale-safe formulations, neither of which lets Catalyst plan an
``Expand`` of the full input (N ``count_distinct``s in one aggregate
replicate every input row once per column — a ~N× row amplifier that
grows with table width; round-2 verdict item 4):

- ``distinct="approx"`` (default, the 100 TB path): ONE pass — every
  metric including ``approx_count_distinct`` (HLL±2%) is an ordinary
  declarative aggregate, so the plan is a single partial/final hash agg
  with map-side combine and a one-row shuffle.
- ``distinct="exact"``: the wide agg above (counts/nulls/min/max, no
  distincts) plus a melt pass — ``explode`` to (column, value) pairs,
  then ``groupBy(column, value)`` → ``groupBy(column)``.  The first
  groupBy dedups map-side, so the shuffle carries only distinct pairs
  (for a unique-key column that is n_rows — the information-theoretic
  floor for exact distinct).  The N-row results broadcast-join back.
  Two scans total vs the single-agg Expand's 1 scan × N× CPU.

min/max are emitted as CANONICAL STRINGS (printf-style per type) so
profiles of heterogeneous columns share one schema AND the DuckDB
oracle can reproduce them byte-for-byte: %.4f for floating point (C
formatting matches across engines), ISO seconds for timestamps, plain
cast for integers/strings.  The melt casts values with a PLAIN string
cast (injective per column type) — %.4f would collide doubles that
differ past 4 decimals and undercount.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import one_window_partition
from lab3_spark.functions.rounding import cents


def _canon(col: Column, dtype: str) -> Column:
    if dtype in ("double", "float"):
        return F.format_string("%.4f", col.cast("double"))
    if dtype.startswith("timestamp"):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    if dtype.startswith("date"):
        return F.date_format(col, "yyyy-MM-dd")
    return col.cast("string")


def profile_table(
    df: DataFrame, cols: list[str] | None = None, distinct: str = "approx"
) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, min_repr, max_repr) — one
    row per profiled column.

    ``distinct``: ``"approx"`` (default; HLL, rsd 2%, single scan),
    ``"exact"`` (melt + two-stage groupBy, adds a second scan), or
    ``"none"`` (n_distinct NULL).  Nulls are excluded from n_distinct
    and min/max, per SQL semantics.  Binary and complex types are
    profiled for counts only (no ordering defined): min/max NULL."""
    if distinct not in ("approx", "exact", "none"):
        raise ValueError(f"distinct must be approx|exact|none, got {distinct!r}")
    dtypes = dict(df.dtypes)
    if cols is None:
        cols = list(df.columns)
    aggs: list[Column] = [F.count(F.lit(1)).alias("_n_rows")]
    orderable = {}
    for c in cols:
        dt = dtypes[c]
        orderable[c] = not (
            dt == "binary" or dt.startswith(("array", "map", "struct"))
        )
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        if distinct == "approx":
            aggs.append(F.approx_count_distinct(c, 0.02).alias(f"_nd_{c}"))
        if orderable[c]:
            aggs.append(_canon(F.min(c), dt).alias(f"_min_{c}"))
            aggs.append(_canon(F.max(c), dt).alias(f"_max_{c}"))
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n_rows").alias("n_rows"),
                (F.col("_n_rows") - F.col(f"_nn_{c}")).alias("n_nulls"),
                (
                    F.col(f"_nd_{c}")
                    if distinct == "approx"
                    else F.lit(None).cast("bigint")
                ).alias("n_distinct"),
                (F.col(f"_min_{c}") if orderable[c] else F.lit(None).cast("string")).alias("min_repr"),
                (F.col(f"_max_{c}") if orderable[c] else F.lit(None).cast("string")).alias("max_repr"),
            )
            for c in cols
        ]
    )
    wide = one.select(F.explode(rows).alias("p")).select("p.*")
    if distinct == "exact":
        nd = exact_distinct_counts(df, cols)
        wide = (
            wide.drop("n_distinct")
            .join(F.broadcast(nd), "column", "left")
            .select(
                "column",
                "n_rows",
                "n_nulls",
                # an all-NULL column contributes no melt rows → no join
                # match; count(DISTINCT c) semantics say 0, not NULL
                F.coalesce("n_distinct", F.lit(0).cast("bigint")).alias(
                    "n_distinct"
                ),
                "min_repr",
                "max_repr",
            )
        )
    return wide.orderBy("column")


def exact_distinct_counts(df: DataFrame, cols: list[str]) -> DataFrame:
    """(column, n_distinct) exact, for many columns, WITHOUT Catalyst's
    multi-distinct Expand: melt to (column, value-as-string) pairs, dedup
    via ``groupBy(column, value)`` (map-side partial agg — the shuffle
    carries distinct pairs only), then count per column.

    NULLs are dropped to match ``count(DISTINCT c)`` semantics.  The
    string cast is the melt's common type; it is faithful for the
    numeric/string/date columns this profiler targets but NOT a
    universally injective encoding — ``-0.0``/``0.0`` render as two
    strings where grouping treats them as one, and complex types can
    collide in their rendering.  For such columns use the
    ``approx_count_distinct`` default path (exact profiling of complex
    types is not a supported claim)."""
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"), F.col(c).cast("string").alias("value")
                )
                for c in cols
            ]
        )
    )
    return (
        df.select(pairs.alias("p"))
        .select("p.*")
        .where(F.col("value").isNotNull())
        .groupBy("column", "value")
        .agg(F.lit(1))
        .groupBy("column")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )


BENFORD_FP = 1_000_000


def benford_first_digit(
    df: DataFrame, value_col: str = "o_totalprice"
) -> DataFrame:
    """(digit, n, observed_fp, expected_fp, dev_fp): first-significant-
    digit distribution of a positive numeric column against Benford's
    law — the classic forensic data-quality audit (fabricated or
    truncated-domain numerics bend the curve; organically-grown
    magnitudes follow log10(1 + 1/d)).

    One pure per-row projection (first digit via string head — no
    log/pow per row) + one 9-row combinable agg.  expected_fp is the
    Benford mass as DRIVER-SIDE integer literals (the same 9 constants
    in both engines — no runtime float log10); dev_fp = |obs − exp|."""
    import math

    first = F.substring(
        F.regexp_replace(
            F.col(value_col).cast("double").cast("string"), r"[^1-9]*", ""
        ),
        1,
        1,
    ).cast("bigint")
    counts = (
        df.where(F.col(value_col) > 0)
        .select(first.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("t"))
    exp_fp = F.element_at(
        F.array(
            *[
                F.lit(math.floor(math.log10(1 + 1 / d) * BENFORD_FP)).cast(
                    "long"
                )
                for d in range(1, 10)
            ]
        ),
        F.col("digit").cast("int"),
    )
    obs_fp = F.expr(f"CAST(n * {BENFORD_FP} DIV t AS BIGINT)")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            obs_fp.alias("observed_fp"),
            exp_fp.alias("expected_fp"),
            F.abs(obs_fp - exp_fp).alias("dev_fp"),
        )
        .orderBy("digit")
    )


# Poisson(1) CDF ·1e6, floor — the inverse-CDF ladder both engines
# evaluate literally (no runtime exp())
_POISSON1_CDF_FP = [367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989]
BOOT_B = 40  # resamples: 2.5%/97.5% land on ranks 1 and 39


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str = "o_totalprice",
    key_col: str = "o_orderkey",
    n_boot: int = BOOT_B,
) -> DataFrame:
    """Three rows (stat ∈ {point, ci_lo, ci_hi}, value_cents): the mean
    of ``value_col`` with a 95% POISSON-BOOTSTRAP confidence interval —
    uncertainty quantification that actually scales: classical
    bootstrap resamples N rows WITH replacement B times (impossible to
    coordinate distributed); the Poisson bootstrap gives every row an
    iid Poisson(1) weight per resample, which is the same thing in the
    limit and needs NO coordination — each row computes its B weights
    locally and one combinable agg per resample does the rest.

    Determinism: the Poisson draw is inverse-CDF over a portable
    uniform (u against the literal CDF ladder — no runtime exp/random
    in either engine); resample means are exact-bigint cents with
    truncating division (values positive ⇒ Spark DIV == DuckDB //);
    the CI picks are positional ranks 1 and B−1 of the B-row means
    frame (metadata-scale sort).

    The uniform is ONE md5 per row mixed with the resample index b by
    a cubic-residue fold — h is hashed once, then per b:
    x = (h + b·2654435761) % P + 1 (P = 2³¹−1), z = x³·48271 mod P,
    u = z % 10⁶.  The cube is nonlinear in b so the B draws per row
    are decorrelated; every intermediate stays < 2⁶² (no bigint
    overflow in either engine).  The previous shape evaluated a FULL
    md5 per (row, b) — B=40 md5s/row dominated the scan (9.6 s at
    sf0.1); the mix is ~integer-ops-only per b."""
    from lab3_spark.functions.text import md5_long

    P = 2147483647  # 2^31 - 1
    blits = F.array(*[F.lit(b) for b in range(n_boot)])
    x = (F.col("h") + F.col("b") * F.lit(2654435761)) % P + 1
    x2 = (x * x) % P
    x3 = (x2 * x) % P
    u = ((x3 * 48271) % P) % 1_000_000
    w = F.lit(len(_POISSON1_CDF_FP))
    for lvl in range(len(_POISSON1_CDF_FP) - 1, -1, -1):
        w = F.when(u < _POISSON1_CDF_FP[lvl], F.lit(lvl)).otherwise(w)
    weighted = (
        df.select(
            cents(value_col).alias("y"),
            md5_long(F.col(key_col).cast("string"), salt="boot").alias("h"),
        )
        .select("y", "h", F.explode(blits).alias("b"))
        .select("b", "y", w.cast("bigint").alias("w"))
    )
    means = (
        weighted.groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("y")).alias("sy"),
            F.sum("w").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select("b", F.expr("CAST(sy DIV sw AS BIGINT)").alias("m"))
    )
    from pyspark.sql.window import Window

    # B-row frame; the non-foldable constant partition key keeps the
    # same single-task plan but suppresses the all-to-one-partition
    # WindowExec warning (a plain literal gets constant-folded back out)
    ranked = means.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy(one_window_partition()).orderBy("m", "b")
        ),
    )
    point = df.agg(
        F.lit("point").alias("stat"),
        F.expr(
            f"CAST(sum(CAST(floor({value_col} * 100 + 0.5) AS BIGINT))"
            " DIV count(*) AS BIGINT)"
        ).alias("value_cents"),
    )
    lo = ranked.where(F.col("rk") == 1).select(
        F.lit("ci_lo").alias("stat"), F.col("m").alias("value_cents")
    )
    hi = ranked.where(F.col("rk") == n_boot - 1).select(
        F.lit("ci_hi").alias("stat"), F.col("m").alias("value_cents")
    )
    return point.unionByName(lo).unionByName(hi).orderBy("stat")


def winsorized_stats(
    df: DataFrame,
    value: Column,
    key_col: str,
    tail_pct: int = 1,
    keys: Sequence[str] = (),
) -> DataFrame:
    """(keys..., n, p_lo, p_hi, mean_v, winsorized_mean_v), one row per
    ``keys`` group (one row with no keys): the mean before and after
    winsorizing the distribution's tails — clip every value below the
    p1 (above the p99) RANK cutoff to the cutoff value, then
    re-average.  The robust location estimate that, unlike trimming,
    keeps n constant.

    ``value`` must be an exact integer expression (the caller fixes the
    point, e.g. cents).  Rank-based cutoffs (k = max(1, n·tail_pct DIV
    100) per group; p_lo = the k-th smallest value, p_hi = the k-th
    largest) make the whole statistic integer-exact and
    engine-portable — no percentile interpolation to disagree on.  The
    rank is the distributed keyed row number (operators/rank.py): one
    ranged shuffle ordered by (keys, value, key_col), offsets broadcast
    back — the data never crosses a single-partition or per-group
    window, so a skewed group cannot stall an executor.  The cutoffs
    travel back as a #groups-row broadcast frame and the clip + mean
    is one combinable agg."""
    from lab3_spark.functions.partitioning import scoped
    from lab3_spark.operators.rank import total_rows_col, with_row_number

    keys = list(keys)
    vals = df.select(
        *keys, value.cast("bigint").alias("y"), F.col(key_col).alias("k")
    )
    ranked = scoped(
        with_row_number(vals, ["y", "k"], out_col="rn", keys=keys).withColumn(
            "gn", total_rows_col()
        ),
    )
    kcut = F.greatest(F.lit(1), F.expr(f"gn * {tail_pct} DIV 100"))
    hi_rn = F.col("gn") - kcut + 1
    cuts = (
        ranked.where((F.col("rn") == kcut) | (F.col("rn") == hi_rn))
        .groupBy(*keys)
        .agg(
            F.min(F.when(F.col("rn") == kcut, F.col("y"))).alias("p_lo"),
            F.max(F.when(F.col("rn") == hi_rn, F.col("y"))).alias("p_hi"),
        )
    )
    # an equi-join needs a key: the global case's one cutoffs row
    # cross-joins instead
    joined = (
        ranked.join(F.broadcast(cuts), keys)
        if keys
        else ranked.crossJoin(F.broadcast(cuts))
    )
    return (
        joined.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("p_lo").alias("p_lo"),
            F.first("p_hi").alias("p_hi"),
            F.sum("y").alias("sy"),
            F.sum(
                F.greatest(F.col("p_lo"), F.least(F.col("p_hi"), F.col("y")))
            ).alias("sw"),
        )
        .select(
            *keys,
            F.col("n").cast("bigint").alias("n"),
            F.col("p_lo").cast("bigint").alias("p_lo"),
            F.col("p_hi").cast("bigint").alias("p_hi"),
            F.expr("CAST(sy DIV n AS BIGINT)").alias("mean_v"),
            F.expr("CAST(sw DIV n AS BIGINT)").alias("winsorized_mean_v"),
        )
    )


def mannwhitney_u(
    df: DataFrame,
    value: Column,
    group_expr: str,
    keys: Sequence[str] = (),
) -> DataFrame:
    """(keys..., n1, n2, u1_x2, u2_x2, auc_fp), one row per ``keys``
    group (one row with no keys): Mann-Whitney U between the rows
    matching ``group_expr`` (sample 1) and the rest — the rank-based
    two-sample location test that, unlike the t-test, needs no
    normality and is EXACT under ties.  auc_fp is the common-language
    effect size U1/(n1·n2) — equivalently P(X1 > X2) + ½P(X1 = X2),
    the probability a random sample-1 value beats a random sample-2
    value.

    Everything integer (``value`` must be an exact integer
    expression): from the per-(group, value) HISTOGRAM, the
    tie-averaged rank sum is 2·R1 = Σ_v n1(v)·(2·cum_below(v) + cnt(v)
    + 1) — kept ×2 so average ranks at ties (k+½ shapes) never
    materialize a float; U1×2 = 2R1 − n1(n1+1).  Distinct values ≈
    rows for continuous prices, so the cumulative count is the
    DISTRIBUTED keyed running sum (operators/rank.py), never a
    single-partition or per-group window on the data-scale histogram.
    An empty sample makes U undefined → NULL auc_fp."""
    from lab3_spark.operators.rank import with_running_sum

    keys = list(keys)
    hist = (
        df.select(
            *keys,
            value.cast("bigint").alias("y"),
            F.when(F.expr(group_expr), 1).otherwise(0).alias("g1"),
        )
        .groupBy(*keys, "y")
        .agg(
            F.sum("g1").cast("bigint").alias("n1v"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    cum = with_running_sum(hist, ["y"], "cnt", out_col="cum_incl", keys=keys)
    agg = cum.groupBy(*keys).agg(
        F.sum("n1v").alias("n1"),
        F.sum(F.col("cnt") - F.col("n1v")).alias("n2"),
        F.sum(
            F.col("n1v")
            * (2 * (F.col("cum_incl") - F.col("cnt")) + F.col("cnt") + 1)
        ).alias("r1_x2"),
    )
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    auc = F.when(
        (F.col("n1") > 0) & (F.col("n2") > 0),
        F.expr(
            "CAST((r1_x2 - n1 * (n1 + 1)) * 1000000"
            " DIV (2 * n1 * n2) AS BIGINT)"
        ),
    )
    return agg.select(
        *keys,
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        u1_x2.cast("bigint").alias("u1_x2"),
        (2 * F.col("n1") * F.col("n2") - u1_x2).cast("bigint").alias("u2_x2"),
        auc.alias("auc_fp"),
    )


def spearman_rho(
    df: DataFrame,
    x: Column,
    y: Column,
    keys: Sequence[str] = (),
) -> DataFrame:
    """(keys..., n, rho_fp), one row per ``keys`` group (one row with
    no keys): Spearman rank correlation between two numeric columns —
    Pearson over tie-averaged ranks, exact until the final division.
    rho_fp = floor(rho·10⁶).  ``x``/``y`` must be exact integer
    expressions (the caller fixes the point).

    Ranks stay INTEGER via the ×2 trick (2·rank = 2·cum_below + cnt
    + 1 from each column's per-(group, value) histogram — the
    mannwhitney_u machinery; the uniform ×2 cancels in the
    correlation).  Each histogram's cumulative count is the
    DISTRIBUTED keyed prefix sum (operators/rank.py); rank columns join
    back to the fact rows as (group, value)→rank lookup tables
    (co-partitioned equi-joins — two data-scale shuffles, the
    irreducible cost of a joint rank statistic).  Moment sums
    accumulate in decimal(38,0) — exact to n ≈ 1.3·10⁹ rows per group
    (num ≈ 4n⁴ < 10³⁸; DuckDB's HUGEINT has the same bound); the final
    rho is ONE double expression evaluated identically in both engines
    (docs/SCALE.md).  Degenerate (constant) column within a group →
    NULL rho_fp."""
    from lab3_spark.functions.partitioning import scoped
    from lab3_spark.operators.rank import with_running_sum

    keys = list(keys)
    vals = scoped(
        df.select(*keys, x.cast("bigint").alias("x"), y.cast("bigint").alias("y"))
    )

    def rank_table(col: str) -> DataFrame:
        hist = vals.groupBy(*keys, col).agg(
            F.count(F.lit(1)).cast("bigint").alias("_c")
        )
        cum = with_running_sum(hist, [col], "_c", out_col="_cum", keys=keys)
        # 2·(tie-averaged rank) = 2·cum_below + cnt + 1
        return cum.select(
            *keys,
            col,
            (2 * (F.col("_cum") - F.col("_c")) + F.col("_c") + 1).alias(
                f"r{col}"
            ),
        )

    ranked = vals.join(rank_table("x"), [*keys, "x"]).join(
        rank_table("y"), [*keys, "y"]
    )
    d38 = "decimal(38,0)"
    agg = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("rx").cast(d38)).alias("sx"),
        F.sum(F.col("ry").cast(d38)).alias("sy"),
        F.sum((F.col("rx") * F.col("rx")).cast(d38)).alias("sxx"),
        F.sum((F.col("ry") * F.col("ry")).cast(d38)).alias("syy"),
        F.sum((F.col("rx") * F.col("ry")).cast(d38)).alias("sxy"),
    )
    # one double expression, written identically in the oracle so both
    # engines run the same IEEE op sequence on the same exact integers
    rho_fp = F.expr(
        "CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN"
        " CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000 /"
        " SQRT(CAST(n * sxx - sx * sx AS DOUBLE)"
        " * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)"
        " ELSE NULL END"
    )
    return agg.select(*keys, "n", rho_fp.alias("rho_fp"))


def kendall_tau_b(
    df: DataFrame,
    x_ord: Column | str,
    y_ord: Column | str,
) -> DataFrame:
    """One row (n, n_concordant, n_discordant, tie_x_pairs,
    tie_y_pairs, tau_fp): Kendall's tau-b between two ORDINAL
    variables, exact integers until the final division.

    Scale contract: both inputs must be metadata-cardinality ordinals
    (priority levels, buckets, grades) — ONE corpus scan folds to the
    |X|·|Y| contingency table, and the concordant/discordant counts
    are a broadcast cells×cells self-join (≤ thousands of cell pairs).
    Pair counts are bigint-safe (C, D ≤ n²/2); only the tau
    denominator sqrt((n0−n1)(n0−n2)) runs in double — one expression,
    mirrored in the oracle.  Continuous inputs should be bucketed by
    the caller (tau on raw continuous data is what spearman_rho is
    for)."""
    xc = F.col(x_ord) if isinstance(x_ord, str) else x_ord
    yc = F.col(y_ord) if isinstance(y_ord, str) else y_ord
    cells = (
        df.select(xc.cast("bigint").alias("xo"), yc.cast("bigint").alias("yo"))
        .groupBy("xo", "yo")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    a = cells.select(
        F.col("xo").alias("xa"), F.col("yo").alias("ya"), F.col("c").alias("ca")
    )
    b = cells.select(
        F.col("xo").alias("xb"), F.col("yo").alias("yb"), F.col("c").alias("cb")
    )
    # unordered cell pairs, counted once via xb > xa (x-tied pairs
    # contribute to neither C nor D)
    pairs = a.join(F.broadcast(b), F.col("xb") > F.col("xa"))
    cd = pairs.agg(
        F.sum(
            F.when(F.col("yb") > F.col("ya"), F.col("ca") * F.col("cb"))
        ).alias("c_pairs"),
        F.sum(
            F.when(F.col("yb") < F.col("ya"), F.col("ca") * F.col("cb"))
        ).alias("d_pairs"),
    )
    xm = cells.groupBy("xo").agg(F.sum("c").alias("t")).agg(
        F.sum(F.expr("t * (t - 1) DIV 2")).alias("tie_x"),
        F.sum("t").alias("n_x"),
    )
    ym = cells.groupBy("yo").agg(F.sum("c").alias("t")).agg(
        F.sum(F.expr("t * (t - 1) DIV 2")).alias("tie_y")
    )
    joined = cd.crossJoin(F.broadcast(xm)).crossJoin(F.broadcast(ym)).select(
        F.col("n_x").cast("bigint").alias("n"),
        F.coalesce("c_pairs", F.lit(0)).cast("bigint").alias("n_concordant"),
        F.coalesce("d_pairs", F.lit(0)).cast("bigint").alias("n_discordant"),
        F.col("tie_x").cast("bigint").alias("tie_x_pairs"),
        F.col("tie_y").cast("bigint").alias("tie_y_pairs"),
    )
    tau_fp = F.expr(
        "CASE WHEN n * (n - 1) DIV 2 - tie_x_pairs > 0"
        " AND n * (n - 1) DIV 2 - tie_y_pairs > 0 THEN"
        " CAST(FLOOR(CAST(n_concordant - n_discordant AS DOUBLE) * 1000000 /"
        " SQRT(CAST(n * (n - 1) DIV 2 - tie_x_pairs AS DOUBLE)"
        " * CAST(n * (n - 1) DIV 2 - tie_y_pairs AS DOUBLE))) AS BIGINT)"
        " ELSE NULL END"
    )
    return joined.select(
        "n", "n_concordant", "n_discordant", "tie_x_pairs", "tie_y_pairs",
        tau_fp.alias("tau_fp"),
    )


def paired_permutation_test(
    df: DataFrame,
    key_col: str = "o_custkey",
    value_col: str = "o_totalprice",
    cond_a: str = "year(o_orderdate) = 1995",
    cond_b: str = "year(o_orderdate) = 1996",
    n_perm: int = 200,
) -> DataFrame:
    """One row (n_pairs, t_obs_cents, n_extreme, n_perm, p_fp): paired
    SIGN-FLIP permutation test — does each entity's total under
    condition A differ from its total under condition B?  The exact
    nonparametric answer scipy's ``permutation_test(..
    permutation_type='samples')`` approximates, distribution-free and
    correct under arbitrary per-entity scale differences because each
    entity is its own control.

    d_i = sum(value | A) − sum(value | B) per key having BOTH sides
    (one groupBy);  T = Σ d_i;  under H0 the d_i are sign-symmetric,
    so the null distribution is T_b = Σ s_ib·d_i over deterministic
    sign flips — s_ib from the bootstrap-CI integer mix (ONE md5 per
    key, then the (h, b) cubic-residue fold; salt 'perm' decorrelates
    from the bootstrap draws); p = (#{|T_b| ≥ |T|} + 1) / (B + 1),
    the add-one-smoothed two-sided estimate that can never return 0.

    Everything bigint: cents values, hash mix < 2⁶², p fixed-pointed.
    Scale shape: pairs frame is |keys| rows; explode ×B then ONE
    combinable groupBy(b) — the poisson_bootstrap_ci cost model.  No
    pairs → NULL p (mirrored in the oracle)."""
    from lab3_spark.functions.partitioning import scoped
    from lab3_spark.functions.text import md5_long

    P = 2147483647  # 2^31 - 1
    cents_v = cents(value_col)
    pairs = (
        df.groupBy(key_col)
        .agg(
            F.sum(F.when(F.expr(cond_a), cents_v)).alias("sa"),
            F.sum(F.when(F.expr(cond_b), cents_v)).alias("sb"),
        )
        .where(F.col("sa").isNotNull() & F.col("sb").isNotNull())
        .select(
            F.col(key_col).cast("string").alias("k"),
            (F.col("sa") - F.col("sb")).alias("d"),
        )
    )
    pairs = scoped(
        pairs.select(
            "d", md5_long(F.col("k"), salt="perm").alias("h")
        ),
    )
    obs = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("d").cast("bigint").alias("t_obs"),
    )
    blits = F.array(*[F.lit(b) for b in range(n_perm)])
    x = (F.col("h") + F.col("b") * F.lit(2654435761)) % P + 1
    x2 = (x * x) % P
    x3 = (x2 * x) % P
    u = ((x3 * 48271) % P) % 1_000_000
    s = F.when(u < 500_000, F.lit(1)).otherwise(F.lit(-1))
    perms = (
        pairs.select("d", "h", F.explode(blits).alias("b"))
        .select("b", (s * F.col("d")).alias("sd"))
        .groupBy("b")
        .agg(F.sum("sd").alias("t_b"))
    )
    extreme = perms.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            F.when(F.abs(F.col("t_b")) >= F.abs(F.col("t_obs")), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_extreme")
    )
    return (
        obs.crossJoin(F.broadcast(extreme))
        .select(
            "n_pairs",
            F.col("t_obs").alias("t_obs_cents"),
            F.coalesce("n_extreme", F.lit(0)).cast("bigint").alias(
                "n_extreme"
            ),
            F.lit(n_perm).cast("bigint").alias("n_perm"),
            F.when(
                F.col("n_pairs") > 0,
                F.expr(
                    f"CAST((n_extreme + 1) * 1000000 DIV ({n_perm} + 1)"
                    " AS BIGINT)"
                ),
            ).alias("p_fp"),
        )
    )


def bh_zcrit_fp(m: int, alpha: float = 0.05) -> list[int]:
    """Benjamini-Hochberg rank thresholds as z-score fixed-point
    literals: crit_k = Φ⁻¹(1 − (k·α/m)/2)·10⁶ for k = 1..m — the BH
    step-up condition p_(k) ≤ k·α/m re-expressed on |z| so NO in-engine
    normal CDF is needed (neither Spark nor DuckDB ships erf).  The
    driver computes the m literals once (stdlib NormalDist — a
    deterministic rational approximation) and BOTH engines compare
    integer z_fp against the same integers."""
    from statistics import NormalDist

    nd = NormalDist()
    return [
        int(nd.inv_cdf(1 - (k * alpha / m) / 2) * 1_000_000)
        for k in range(1, m + 1)
    ]


def source_mannwhitney_bh(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    alpha: float = 0.05,
) -> DataFrame:
    """(grp, n1, n2, z_fp, bh_rank, bh_reject): per-GROUP drift screen
    with false-discovery-rate control — for every source, a
    Mann-Whitney z (tie-corrected normal approximation) of "does this
    source's value distribution differ from the REST of the corpus",
    then Benjamini-Hochberg step-up across the m sources, the standard
    answer to "20 sources → 20 tests → which differences survive
    multiple-testing correction?".

    ONE corpus scan folds to the (value, group) histogram; the
    per-value total histogram's cumulative count (the DISTRIBUTED
    prefix sum) prices every group's tie-averaged rank sum
    simultaneously — m tests for the cost of one.  Exact bigint up to
    the z denominator: rank sums ×2, U ×2; the tie term Σ(t³−t)
    accumulates in decimal(38,0)/HUGEINT; variance and z are ONE
    double expression mirrored in the oracle, z_fp = floor(z·10⁶).
    BH runs over the m-row result frame (metadata-scale window):
    rank by |z| desc, k* = max{k: z_fp_(k) ≥ crit_k} with crit from
    :func:`bh_zcrit_fp` — the discrete-on-fixed-point form of
    p_(k) ≤ k·α/m, identical in both engines by construction.

    The group count m is collected once (a 1-row metadata aggregate,
    the kmeans pattern) because the BH thresholds depend on it."""
    from lab3_spark.functions.partitioning import one_window_partition, scoped
    from lab3_spark.operators.rank import with_running_sum
    from pyspark.sql.window import Window

    hist = scoped(
        df.select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("bigint").alias("y"),
        )
        .groupBy("y", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")),
    )
    tot = scoped(
        hist.groupBy("y").agg(F.sum("cnt").cast("bigint").alias("ct")),
    )
    cum = with_running_sum(tot, ["y"], "ct", out_col="cumt")
    rank2 = (2 * (F.col("cumt") - F.col("ct")) + F.col("ct") + 1).alias("r2")
    per = (
        hist.join(cum.select("y", rank2), "y")
        .groupBy("grp")
        .agg(
            F.sum("cnt").cast("bigint").alias("n1"),
            F.sum(F.col("cnt") * F.col("r2")).cast("bigint").alias("r1_x2"),
        )
    )
    d38 = "decimal(38,0)"
    scal = tot.agg(
        F.sum("ct").cast("bigint").alias("n_all"),
        F.sum(
            F.col("ct").cast(d38) * F.col("ct") * F.col("ct") - F.col("ct")
        ).alias("tie_t"),
    )
    rows = per.crossJoin(F.broadcast(scal)).select(
        "grp",
        "n1",
        (F.col("n_all") - F.col("n1")).cast("bigint").alias("n2"),
        # z = (U1 − n1·n2/2)/sqrt(var) = num_x2/(2·sqrt(var)); one
        # double expression, mirrored verbatim in the oracle
        F.expr(
            "CASE WHEN n1 > 0 AND n_all - n1 > 0 AND n_all > 1 AND"
            " CAST(n1 AS DOUBLE) * CAST(n_all - n1 AS DOUBLE) / 12 *"
            " ((CAST(n_all AS DOUBLE) + 1) - CAST(tie_t AS DOUBLE) /"
            " (CAST(n_all AS DOUBLE) * (CAST(n_all AS DOUBLE) - 1))) > 0"
            " THEN CAST(FLOOR(CAST(r1_x2 - n1 * (n1 + 1)"
            " - n1 * (n_all - n1) AS DOUBLE) * 1000000 /"
            " (2 * SQRT(CAST(n1 AS DOUBLE) * CAST(n_all - n1 AS DOUBLE)"
            " / 12 * ((CAST(n_all AS DOUBLE) + 1) - CAST(tie_t AS DOUBLE) /"
            " (CAST(n_all AS DOUBLE) * (CAST(n_all AS DOUBLE) - 1))))))"
            " AS BIGINT) ELSE NULL END"
        ).alias("z_fp"),
    )
    # m is needed for the BH thresholds — a 1-row metadata collect
    m = rows.count()
    if m == 0:
        return rows.select(
            "grp", "n1", "n2", "z_fp",
            F.lit(None).cast("bigint").alias("bh_rank"),
            F.lit(None).cast("boolean").alias("bh_reject"),
        )
    crit = F.array(*[F.lit(c) for c in bh_zcrit_fp(m, alpha)])
    w = (
        Window.partitionBy(one_window_partition())
        .orderBy(F.abs("z_fp").desc_nulls_last(), F.asc("grp"))
    )
    ranked = rows.withColumn("bh_rank", F.row_number().over(w)).withColumn(
        "_pass",
        F.coalesce(
            F.abs("z_fp") >= F.element_at(crit, F.col("bh_rank")),
            F.lit(False),
        ),
    )
    wk = Window.partitionBy(one_window_partition()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        ranked.withColumn(
            "_kstar",
            F.max(F.when(F.col("_pass"), F.col("bh_rank"))).over(wk),
        )
        .select(
            "grp",
            "n1",
            "n2",
            "z_fp",
            F.col("bh_rank").cast("bigint").alias("bh_rank"),
            F.coalesce(
                F.col("bh_rank") <= F.col("_kstar"), F.lit(False)
            ).alias("bh_reject"),
        )
        .orderBy("grp")
    )


def grouped_bootstrap_ci(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    key_col: str = "doc_id",
    n_boot: int = BOOT_B,
) -> DataFrame:
    """(grp, n, point, ci_lo, ci_hi): the per-GROUP mean with a 95%
    Poisson-bootstrap CI — :func:`poisson_bootstrap_ci` lifted to one
    row per group, the "how sure are we about each source's average"
    companion to the keyed winsorized_stats.

    Identical deterministic machinery (ONE md5 per row, salt 'boot';
    the (h, b) cubic-residue mix; inverse-CDF Poisson(1) weights as
    literal thresholds; truncating integer division), but the resample
    means group by (grp, b) and the CI picks rank WITHIN each group's
    B-row means frame — a partitioned window over a #groups·B-row
    metadata frame (non-degenerate partition spec: no single-partition
    move, no warning).  Values must be non-negative integers
    (n_chars); the scalar operator's cents scaling is the caller's
    job if needed."""
    from pyspark.sql.window import Window

    from lab3_spark.functions.partitioning import scoped
    from lab3_spark.functions.text import md5_long

    P = 2147483647  # 2^31 - 1
    y = F.col(value_col).cast("bigint")
    hashed = scoped(
        df.select(
            F.col(group_col).alias("grp"),
            y.alias("y"),
            md5_long(F.col(key_col).cast("string"), salt="boot").alias("h"),
        ),
    )
    blits = F.array(*[F.lit(b) for b in range(n_boot)])
    x = (F.col("h") + F.col("b") * F.lit(2654435761)) % P + 1
    x2 = (x * x) % P
    x3 = (x2 * x) % P
    u = ((x3 * 48271) % P) % 1_000_000
    w = F.lit(len(_POISSON1_CDF_FP))
    for lvl in range(len(_POISSON1_CDF_FP) - 1, -1, -1):
        w = F.when(u < _POISSON1_CDF_FP[lvl], F.lit(lvl)).otherwise(w)
    means = (
        hashed.select("grp", "y", "h", F.explode(blits).alias("b"))
        .select("grp", "b", "y", w.cast("bigint").alias("w"))
        .groupBy("grp", "b")
        .agg(
            F.sum(F.col("w") * F.col("y")).alias("sy"),
            F.sum("w").alias("sw"),
        )
        .where(F.col("sw") > 0)
        .select("grp", "b", F.expr("CAST(sy DIV sw AS BIGINT)").alias("m"))
    )
    rk = F.row_number().over(Window.partitionBy("grp").orderBy("m", "b"))
    ranked = means.withColumn("rk", rk)
    pts = hashed.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(sum(y) DIV count(*) AS BIGINT)").alias("point"),
    )
    lo = ranked.where(F.col("rk") == 1).select(
        "grp", F.col("m").alias("ci_lo")
    )
    hi = ranked.where(F.col("rk") == n_boot - 1).select(
        "grp", F.col("m").alias("ci_hi")
    )
    return (
        pts.join(F.broadcast(lo), "grp", "left")
        .join(F.broadcast(hi), "grp", "left")
        .orderBy("grp")
    )
