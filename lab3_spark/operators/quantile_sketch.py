"""Mergeable bounded-rank-error quantile digest — the percentile twin
of the HLL/CMS/KMV mergeable-sketch family.

``approx_percentile`` (GK) answers one query over one scan but its
state is not unionable across independently-built summaries, so a
daily pipeline cannot store Monday's percentile state and fold Tuesday
into it.  This module implements the t-digest/KLL-SHAPED object a
100 TB monitoring pipeline stores instead: a per-day DIGEST COLUMN —
a sorted centroid list (means, weights, n) with every centroid's
weight capped at ``eps·n/2`` — that merges by concatenate + recompress
without rescanning events (Dunning & Ertl's t-digest merging variant
with a uniform weight cap; the mergeable-summaries shape of Agarwal
et al., PODS'12).

Error contract (what the gate checks): a value reported for quantile
``q`` over ``n`` points has a TRUE RANK within ``eps·n·depth`` of
``q·n``, where ``depth`` is the number of compress applications the
digest went through (build=1, day-merge=2, cross-day union=3) —
within a centroid the rank is uncertain by at most its weight, caps
sum once per compress level.  With ``eps=0.01`` and depth ≤ 3 the
estimate sits within 3% rank error at ANY corpus size — the gate
asserts the looser 5% band by exact counting, the
`source_length_percentiles_approx` rank-interval method.

Determinism (the driver-hash requirement): centroids build and merge
by ONE greedy left-to-right pass over value-sorted input, so the
digest is a pure function of each group's value MULTISET — no RNG
(randomized-KLL coin flips would flip the hash run to run), no
arrival-order dependence.  Sketch construction is the documented
Python boundary (Arrow-batched ``applyInPandas``, one bounded group
per task — shard-then-day, same two-level shape as the sharded
packing cumsum); estimation and the rank gate are pure JVM
expressions over the digest arrays.

Reference scope note: the reference engine (phoenixLab, C++ shared-
memory MapReduce) has no sketch surface; this extends the engine's
LLM-pipeline family (SURVEY.md §2.8 extensions).
"""

from __future__ import annotations

import math
from typing import Iterable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = [
    "compress_centroids",
    "estimate_quantile",
    "daily_value_digest",
    "digest_union",
    "kll_daily_quantile_check",
    "keyed_value_digest",
    "keyed_quantile_check",
]

#: default rank-error budget PER COMPRESS LEVEL (see module docstring)
DEFAULT_EPS = 0.01

#: quantiles the daily gate reports, with exact integer tolerance
#: fractions (q - 5%, q + 5%) as (numerator, denominator) pairs so the
#: rank band is bigint-exact at any n
_GATE_QS: list[tuple[str, float, tuple[int, int], tuple[int, int]]] = [
    ("p50", 0.50, (45, 100), (55, 100)),
    ("p90", 0.90, (85, 100), (95, 100)),
    ("p99", 0.99, (94, 100), (104, 100)),
]


def compress_centroids(
    means: Iterable[float], weights: Iterable[int], cap: int
) -> tuple[list[float], list[int]]:
    """One greedy left-to-right merge pass over (mean-sorted) centroids:
    adjacent centroids combine while the merged weight stays ≤ cap.
    Deterministic — the only operation either build or merge uses.
    Input weights larger than cap pass through untouched (they were
    legal under an earlier, smaller cap; splitting would fabricate
    data)."""
    out_m: list[float] = []
    out_w: list[int] = []
    cur_m: float | None = None
    cur_w = 0
    for m, w in zip(means, weights):
        if cur_m is None:
            cur_m, cur_w = float(m), int(w)
        elif cur_w + w <= cap:
            tot = cur_w + int(w)
            merged = (cur_m * cur_w + float(m) * int(w)) / tot
            # clamp into the operands' interval: the float weighted
            # mean of equal values can exceed them by one ulp
            # ((3.8 + 1.9) / 3 > 1.9), which would let centroids
            # creep outside the data range and break mean
            # monotonicity — caught by the hypothesis mass/order/cap
            # property
            cur_m = min(max(merged, cur_m), float(m))
            cur_w = tot
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            cur_m, cur_w = float(m), int(w)
    if cur_m is not None:
        out_m.append(cur_m)
        out_w.append(cur_w)
    return out_m, out_w


def _cap(n: int, eps: float) -> int:
    return max(1, int(math.floor(eps * n / 2)))


def estimate_quantile(
    means: list[float], weights: list[int], q: float
) -> float:
    """Value whose cumulative centroid weight first reaches ⌈q·n⌉ —
    the digest's rank-targeted point estimate."""
    n = sum(weights)
    target = max(1, int(math.ceil(q * n)))
    c = 0
    for m, w in zip(means, weights):
        c += w
        if c >= target:
            return m
    return means[-1]


#: digest columns shared by every merge-stage schema / DataFrame
_DIGEST_COLS = ["means", "weights", "n", "est_p50", "est_p90", "est_p99"]
_DIGEST_FIELDS = (
    "means array<double>, weights array<bigint>, n bigint, "
    "est_p50 double, est_p90 double, est_p99 double"
)
#: partial (pre-merge) digests carry no estimates — they are only ever
#: merged, so computing per-partial quantiles would be discarded work
_PARTIAL_FIELDS = "means array<double>, weights array<bigint>, n bigint"


def _digest_row(values, eps: float) -> tuple:
    """Build a partial (means, weights, n) from raw values — sorted
    first, so the result is a pure function of the multiset."""
    import numpy as np

    v = np.sort(np.asarray(values, dtype="float64"))
    n = int(v.size)
    means, weights = compress_centroids(
        v.tolist(), [1] * n, _cap(n, eps)
    )
    return (means, weights, n)


def _merge_rows(means_lists, weights_lists, eps: float) -> tuple:
    """Merge already-built digests: concatenate centroids, sort by
    (mean, weight) — a total, deterministic order, so the result is a
    pure function of the incoming centroid MULTISET regardless of the
    callers' row order — and recompress at the combined n's cap."""
    flat = sorted(
        (float(m), int(w))
        for ms, ws in zip(means_lists, weights_lists)
        for m, w in zip(ms, ws)
    )
    n = sum(w for _, w in flat)
    means, weights = compress_centroids(
        [m for m, _ in flat], [w for _, w in flat], _cap(n, eps)
    )
    return (
        means,
        weights,
        n,
        *(estimate_quantile(means, weights, q) for _, q, _, _ in _GATE_QS),
    )


def merged_digest_pdf(pdf, eps: float, lead: dict | None = None):
    """One merged-digest pandas row from a group's digest rows, with
    optional leading key columns — the single applyInPandas body every
    merge stage (per-day, cross-day union, streaming store) shares, so
    the digest row shape lives in one place."""
    import pandas as pd

    lead = lead or {}
    row = _merge_rows(pdf["means"].tolist(), pdf["weights"].tolist(), eps)
    return pd.DataFrame(
        [(*lead.values(), *row)], columns=[*lead, *_DIGEST_COLS]
    )


def daily_value_digest(
    events: DataFrame,
    value_col: str = "value",
    eps: float = DEFAULT_EPS,
    n_shards: int = 8,
) -> DataFrame:
    """(day, means, weights, n, est_p50, est_p90, est_p99): one
    mergeable quantile digest row per day over ``value_col``.

    Two-level build, the production reduce shape: per-(day, shard)
    partial digests (shard = hash of event_id — any key uniformizer;
    each task sees day-volume/n_shards values, so no day is a hot
    task), then a per-day merge of the ≤ n_shards bounded partials.
    Size ``n_shards`` so one shard's values fit a task comfortably
    (day volume / n_shards ≲ 10⁷ values; a 100 TB/day stream wants
    n_shards in the thousands — the merge stays centroid-scale since
    its input is n_shards × ~2/eps centroids).  Changing n_shards
    changes centroid VALUES (different partials, different merge
    walk) but never the rank-error contract the gate checks — the
    oracle is tolerance-based, not centroid-pinned.
    Both stages are Arrow-batched ``applyInPandas``; everything
    downstream of the partials is centroid-scale (≤ ~2/eps rows per
    digest), so the events scan is touched exactly once."""

    def build(pdf):
        import pandas as pd

        day = pdf["day"].iloc[0]
        shard = int(pdf["shard"].iloc[0])
        row = _digest_row(pdf["v"].to_numpy(), eps)
        return pd.DataFrame(
            [(day, shard, *row)],
            columns=["day", "shard", "means", "weights", "n"],
        )

    def merge_day(pdf):
        # no pre-sort: _merge_rows is order-independent by construction
        return merged_digest_pdf(pdf, eps, {"day": pdf["day"].iloc[0]})

    vals = events.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.pmod(F.xxhash64("event_id"), F.lit(n_shards)).alias("shard"),
        F.col(value_col).cast("double").alias("v"),
    ).where(F.col("v").isNotNull())
    partial = vals.groupBy("day", "shard").applyInPandas(
        build, f"day string, shard bigint, {_PARTIAL_FIELDS}"
    )
    return partial.groupBy("day").applyInPandas(
        merge_day, f"day string, {_DIGEST_FIELDS}"
    )


def digest_union(daily: DataFrame, eps: float = DEFAULT_EPS) -> DataFrame:
    """(means, weights, n, est_p50, est_p90, est_p99): the cross-day
    union — the whole point of storing digests: any date-range rollup
    is a merge over #days centroid rows, NEVER a rescan of events.
    One single-key task over metadata-scale input (#days × ~2/eps
    centroids)."""

    def merge_all(pdf):
        return merged_digest_pdf(pdf, eps)

    return (
        daily.withColumn("_k", F.lit(1))
        .groupBy("_k")
        .applyInPandas(merge_all, _DIGEST_FIELDS)
    )


def keyed_value_digest(
    vals: DataFrame, eps: float = DEFAULT_EPS
) -> DataFrame:
    """(grp, means, weights, n, est_p50, est_p90, est_p99): the
    day-keyed digest build generalized to ANY group key — ``vals``
    must carry (grp string, shard bigint, v double), the caller
    choosing the key (source, tenant, model-version, …) and the shard
    uniformizer.  Same two-level shape and error contract as
    :func:`daily_value_digest`."""

    def build(pdf):
        import pandas as pd

        grp = pdf["grp"].iloc[0]
        shard = int(pdf["shard"].iloc[0])
        row = _digest_row(pdf["v"].to_numpy(), eps)
        return pd.DataFrame(
            [(grp, shard, *row)],
            columns=["grp", "shard", "means", "weights", "n"],
        )

    def merge_grp(pdf):
        return merged_digest_pdf(pdf, eps, {"grp": pdf["grp"].iloc[0]})

    partial = vals.groupBy("grp", "shard").applyInPandas(
        build, f"grp string, shard bigint, {_PARTIAL_FIELDS}"
    )
    return partial.groupBy("grp").applyInPandas(
        merge_grp, f"grp string, {_DIGEST_FIELDS}"
    )


def _band_ok_col(lo, hi, n, lob, upb):
    """rank interval [lo+1, hi] intersects the exact-integer band —
    the division-free form (see kll_daily_quantile_check), shared by
    the day-keyed and group-keyed gates."""
    lnum, lden = lob
    unum, uden = upb
    nn = n.cast("bigint")
    return (
        (hi >= F.lit(1))
        & (hi * F.lit(lden) >= F.lit(lnum) * nn)
        & ((lo + 1) <= nn)
        & (lo * F.lit(uden) < F.lit(unum) * nn)
    )


def keyed_quantile_check(
    vals: DataFrame, eps: float = DEFAULT_EPS
) -> DataFrame:
    """(grp, n_rows, {p50,p90,p99}_within_rank_tol,
    total_{...}_within_rank_tol): the bounded-rank-error gate for the
    group-keyed digest — per-group estimates AND the cross-group union
    (merged from stored digest rows, never rescanning) checked against
    exact counts, the kll_daily_quantile_check contract with the key
    abstracted."""
    from lab3_spark.functions.partitioning import persist_latest

    digests = persist_latest(
        "qdigest.keyed." + "|".join(sorted(c for c in vals.columns)),
        keyed_value_digest(vals, eps),
    )
    total = digest_union(digests, eps)
    v = vals.select("grp", "v")

    ests = digests.select("grp", "n", "est_p50", "est_p90", "est_p99")
    per_grp = (
        v.join(F.broadcast(ests), "grp")
        .groupBy("grp")
        .agg(
            F.first("n").alias("n"),
            *[
                c
                for name, _, _, _ in _GATE_QS
                for c in (
                    F.sum(
                        (F.col("v") < F.col(f"est_{name}")).cast("bigint")
                    ).alias(f"lo_{name}"),
                    F.sum(
                        (F.col("v") <= F.col(f"est_{name}")).cast("bigint")
                    ).alias(f"hi_{name}"),
                )
            ],
        )
    )
    tot_ests = total.select(
        F.col("n").alias("tn"),
        *[
            F.col(f"est_{name}").alias(f"test_{name}")
            for name, _, _, _ in _GATE_QS
        ],
    )
    per_total = (
        v.crossJoin(F.broadcast(tot_ests))
        .groupBy()
        .agg(
            F.first("tn").alias("tn"),
            *[
                c
                for name, _, _, _ in _GATE_QS
                for c in (
                    F.sum(
                        (F.col("v") < F.col(f"test_{name}")).cast("bigint")
                    ).alias(f"tlo_{name}"),
                    F.sum(
                        (F.col("v") <= F.col(f"test_{name}")).cast("bigint")
                    ).alias(f"thi_{name}"),
                )
            ],
        )
    )
    out_cols = [F.col("grp"), F.col("n").alias("n_rows")]
    for name, _, lob, upb in _GATE_QS:
        out_cols.append(
            _band_ok_col(
                F.col(f"lo_{name}"),
                F.col(f"hi_{name}"),
                F.col("n"),
                lob,
                upb,
            ).alias(f"{name}_within_rank_tol")
        )
    for name, _, lob, upb in _GATE_QS:
        out_cols.append(
            _band_ok_col(
                F.col(f"tlo_{name}"),
                F.col(f"thi_{name}"),
                F.col("tn"),
                lob,
                upb,
            ).alias(f"total_{name}_within_rank_tol")
        )
    return (
        per_grp.crossJoin(F.broadcast(per_total))
        .select(*out_cols)
        .orderBy("grp")
    )


def kll_daily_quantile_check(
    events: DataFrame,
    value_col: str = "value",
    eps: float = DEFAULT_EPS,
    daily: DataFrame | None = None,
) -> DataFrame:
    """(day, n_events, {p50,p90,p99}_within_rank_tol,
    total_{p50,p90,p99}_within_rank_tol): the driver-hashable
    bounded-error contract for the mergeable quantile digest.

    For each estimate the TRUE rank interval [#{x<v}+1, #{x≤v}] is
    counted exactly (one extra events pass + broadcast join of the
    centroid-scale estimates) and must intersect the ±5% rank band
    around q·n — checked per day AND for the cross-day union estimate
    against the all-days distribution, so both the build path and the
    merge path are value-gated.  All band arithmetic is bigint
    (⌈a·n/b⌉ = (a·n + b − 1) DIV b); the oracle emits exact per-day
    counts plus literal TRUE booleans — estimator drift past the rank
    bound flips the hash.

    ``daily`` lets a caller supply externally-maintained per-day
    digests (the streaming store, streaming/quantiles.py) — the gate
    then value-checks the INCREMENTAL merge path against the same
    exact counts."""
    from lab3_spark.functions.partitioning import persist_latest

    if daily is None:
        daily = persist_latest(
            "events.qdigest_daily",
            daily_value_digest(events, value_col, eps),
        )
    total = digest_union(daily, eps)

    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    vals = events.select(
        day, F.col(value_col).cast("double").alias("v")
    ).where(F.col("v").isNotNull())

    ests = daily.select("day", "n", "est_p50", "est_p90", "est_p99")
    per_day = (
        vals.join(F.broadcast(ests), "day")
        .groupBy("day")
        .agg(
            F.first("n").alias("n"),
            *[
                c
                for name, _, _, _ in _GATE_QS
                for c in (
                    F.sum(
                        (F.col("v") < F.col(f"est_{name}")).cast("bigint")
                    ).alias(f"lo_{name}"),
                    F.sum(
                        (F.col("v") <= F.col(f"est_{name}")).cast("bigint")
                    ).alias(f"hi_{name}"),
                )
            ],
        )
    )
    tot_ests = total.select(
        F.col("n").alias("tn"),
        *[
            F.col(f"est_{name}").alias(f"test_{name}")
            for name, _, _, _ in _GATE_QS
        ],
    )
    per_total = (
        vals.crossJoin(F.broadcast(tot_ests))
        .groupBy()
        .agg(
            F.first("tn").alias("tn"),
            *[
                c
                for name, _, _, _ in _GATE_QS
                for c in (
                    F.sum(
                        (F.col("v") < F.col(f"test_{name}")).cast("bigint")
                    ).alias(f"tlo_{name}"),
                    F.sum(
                        (F.col("v") <= F.col(f"test_{name}")).cast("bigint")
                    ).alias(f"thi_{name}"),
                )
            ],
        )
    )

    def _band_ok(lo, hi, n, lob, upb):
        # rank interval [lo+1, hi] intersects band [max(1, ceil(lnum·
        # n/lden)), min(n, ceil(unum·n/uden))] — DIVISION-FREE integer
        # form (x ≤ ceil(a/b) ⟺ (x−1)·b < a; x ≥ ceil(a/b) ⟺ x·b ≥ a
        # for positive integers), so the whole gate is bigint-exact at
        # any n with no float rounding anywhere:
        #   hi ≥ lb      ⟺ hi ≥ 1          AND hi·lden ≥ lnum·n
        #   lo+1 ≤ ub    ⟺ lo+1 ≤ n        AND lo·uden < unum·n
        lnum, lden = lob
        unum, uden = upb
        nn = n.cast("bigint")
        return (
            (hi >= F.lit(1))
            & (hi * F.lit(lden) >= F.lit(lnum) * nn)
            & ((lo + 1) <= nn)
            & (lo * F.lit(uden) < F.lit(unum) * nn)
        )

    out_cols = [F.col("day"), F.col("n").alias("n_events")]
    for name, _, lob, upb in _GATE_QS:
        out_cols.append(
            _band_ok(
                F.col(f"lo_{name}"),
                F.col(f"hi_{name}"),
                F.col("n"),
                lob,
                upb,
            ).alias(f"{name}_within_rank_tol")
        )
    for name, _, lob, upb in _GATE_QS:
        out_cols.append(
            _band_ok(
                F.col(f"tlo_{name}"),
                F.col(f"thi_{name}"),
                F.col("tn"),
                lob,
                upb,
            ).alias(f"total_{name}_within_rank_tol")
        )
    return (
        per_day.crossJoin(F.broadcast(per_total))
        .select(*out_cols)
        .orderBy("day")
    )
