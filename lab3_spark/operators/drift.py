"""Distribution-drift monitoring: Population Stability Index between
two corpus snapshots.

A production training-data pipeline monitors every refresh: has the
length/quality/source distribution moved since the reference snapshot?
PSI is the standard scorecard metric — Σ_bins (p_a − p_b)·ln(p_a/p_b),
with PSI < 0.1 read as stable, 0.1-0.2 as moderate drift, > 0.2 as
action-needed.  (The reference engine has no monitoring surface; its
corpus is a fixed flat file — phoenixLab/wordCount/wordCount.cpp:116.)

Design for scale:
- ONE scan of documents: (source, side, bin) is a pure per-row
  projection, then a single combinable agg with conditional sums —
  the two snapshots are never materialized separately.
- The fixed bin domain (10 equal-width n_chars bins) is densified via
  a metadata-scale sources × bins frame (distinct sources is tiny by
  construction; at 100 TB it is still the domain catalog, not data),
  so Laplace smoothing sees identical empty bins in both engines.
- Per-bin PSI contributions are ONE deterministic double expression
  over bigint counts, floored to fixed-point immediately (the
  source_token_entropy contract) — bigint-exact accumulation after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import scoped

N_BINS = 10
BIN_WIDTH = 200  # n_chars per bin; last bin is open-ended
PSI_FP = 100_000_000  # 1e8 fixed point for the summed index
DRIFT_FP = PSI_FP // 5  # the standard 0.2 action threshold


def snapshot_psi(documents: DataFrame) -> DataFrame:
    """PSI of the doc-length distribution between the even-doc_id
    snapshot (reference, side a) and the odd-doc_id snapshot
    (candidate, side b), per source.

    Returns (source, n_a, n_b, psi_fp, drifted) ordered by source.
    """
    binned = documents.select(
        "source",
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        F.least(
            F.floor(F.col("n_chars") / BIN_WIDTH), F.lit(N_BINS - 1)
        ).cast("bigint").alias("bin"),
    )
    counts = scoped(
        binned.groupBy("source", "bin").agg(
            F.sum(F.col("is_a").cast("bigint")).alias("c_a"),
            F.sum((~F.col("is_a")).cast("bigint")).alias("c_b"),
        ),
    )
    # Densify to the full fixed bin domain so Laplace smoothing is
    # identical regardless of which bins happen to be occupied.  The
    # domain comes from the (persisted, post-agg, ≤10·|sources|-row)
    # counts frame — NOT a second documents scan.
    domain = (
        counts.select("source")
        .distinct()
        .select(
            "source",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"), F.lit(N_BINS - 1).cast("bigint")
                )
            ).alias("bin"),
        )
    )
    dense = domain.join(counts, ["source", "bin"], "left").select(
        "source",
        "bin",
        F.coalesce("c_a", F.lit(0)).alias("c_a"),
        F.coalesce("c_b", F.lit(0)).alias("c_b"),
    )
    # Snapshot totals via a source-partitioned window over the dense
    # frame — exactly N_BINS rows per source, metadata-scale, and no
    # re-execution of the counts subtree through an alias-differing
    # second consumer.
    w = Window.partitionBy("source")
    dense = dense.select(
        "source",
        "bin",
        "c_a",
        "c_b",
        F.sum("c_a").over(w).alias("n_a"),
        F.sum("c_b").over(w).alias("n_b"),
    )
    # Laplace-smoothed shares; contribution fixed-pointed per bin.
    p_a = (F.col("c_a") + 1).cast("double") / (F.col("n_a") + N_BINS).cast("double")
    p_b = (F.col("c_b") + 1).cast("double") / (F.col("n_b") + N_BINS).cast("double")
    contrib = dense.select(
        "source",
        "n_a",
        "n_b",
        F.floor((p_a - p_b) * F.log(p_a / p_b) * PSI_FP)
        .cast("bigint")
        .alias("contrib_fp"),
    )
    return (
        contrib.groupBy("source", "n_a", "n_b")
        .agg(F.sum("contrib_fp").alias("psi_fp"))
        .select(
            "source",
            "n_a",
            "n_b",
            "psi_fp",
            (F.col("psi_fp") > DRIFT_FP).cast("bigint").alias("drifted"),
        )
        .orderBy("source")
    )
