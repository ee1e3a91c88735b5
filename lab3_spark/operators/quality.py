"""Data-quality / constraint audit — the validation pass a production
training-data pipeline runs before (and after) every transformation.

Design for 100 TB: all domain/null/uniqueness checks for one table
fold into ONE aggregate over ONE scan (conditional sums side by side,
then unpivoted to long form) — ten checks cost three table scans, not
ten.  Referential checks are LEFT ANTI joins on the key columns only
(column-pruned scans, keyed shuffle, never a driver-side collect).
The report is a tiny (check, violations) DataFrame — the thing you
alert on, gate merges with, or trend over time.

The reference has no quality surface (it trusts its input buffer);
this is engine-native breadth for the LLM-pipeline use case.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import persist_latest


def _unpivot(wide: DataFrame, checks: list[str]) -> DataFrame:
    """1-row wide aggregate -> (check, violations) long form."""
    pairs = ", ".join(f"'{c}', `{c}`" for c in checks)
    return wide.selectExpr(
        f"stack({len(checks)}, {pairs}) AS (check_name, violations)"
    )


def _cnt(cond) -> F.Column:
    return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")


def quality_report(
    orders: DataFrame,
    lineitem: DataFrame,
    customer: DataFrame,
    documents: DataFrame,
) -> DataFrame:
    """(check, violations): the standard audit over the star schema.

    Violation semantics:
    - *_null / *_out_of_range / *_negative: row counts failing the rule
    - lineitem_dup_line_id: EXTRA rows beyond the first per
      (l_orderkey, l_linenumber) — count(*) minus distinct pairs
    - *_fk_*: child rows whose key has no parent (anti-join count)
    - orders_without_lineitems: parent rows with no children
    """
    o_checks = _unpivot(
        orders.agg(
            _cnt(F.col("o_custkey").isNull()).alias("orders_null_custkey"),
            _cnt(F.col("o_totalprice") <= 0).alias(
                "orders_nonpositive_totalprice"
            ),
        ),
        ["orders_null_custkey", "orders_nonpositive_totalprice"],
    )
    li_checks = _unpivot(
        lineitem.agg(
            _cnt(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
            ).alias("lineitem_discount_out_of_range"),
            _cnt(F.col("l_quantity") <= 0).alias(
                "lineitem_nonpositive_quantity"
            ),
            (
                F.count("*")
                - F.count_distinct(
                    F.col("l_orderkey"), F.col("l_linenumber")
                )
            )
            .cast("bigint")
            .alias("lineitem_dup_line_id"),
        ),
        [
            "lineitem_discount_out_of_range",
            "lineitem_nonpositive_quantity",
            "lineitem_dup_line_id",
        ],
    )
    c_checks = _unpivot(
        customer.agg(
            _cnt(F.col("c_acctbal") < 0).alias("customer_negative_acctbal")
        ),
        ["customer_negative_acctbal"],
    )
    d_checks = _unpivot(
        documents.agg(
            _cnt(F.col("n_chars") < 50).alias("documents_short_text")
        ),
        ["documents_short_text"],
    )

    def anti_count(name: str, child: DataFrame, ckey: str, parent: DataFrame, pkey: str) -> DataFrame:
        return (
            child.select(ckey)
            .join(parent.select(pkey), F.col(ckey) == F.col(pkey), "left_anti")
            .agg(F.count("*").cast("bigint").alias("violations"))
            .select(F.lit(name).alias("check_name"), "violations")
        )

    fk_checks = [
        anti_count(
            "orders_fk_custkey", orders, "o_custkey", customer, "c_custkey"
        ),
        anti_count(
            "lineitem_fk_orderkey", lineitem, "l_orderkey", orders, "o_orderkey"
        ),
        anti_count(
            "orders_without_lineitems", orders, "o_orderkey", lineitem, "l_orderkey"
        ),
    ]

    parts = [o_checks, li_checks, c_checks, d_checks, *fk_checks]
    return reduce(DataFrame.unionAll, parts).orderBy("check_name")


def k_anonymity_report(
    documents: DataFrame, k: int = 5, bucket_chars: int = 100
) -> DataFrame:
    """(lang, source, size_bucket, class_size, is_suppressed):
    k-anonymity audit over the quasi-identifier tuple (lang, source,
    length bucket) — every equivalence class with its size and whether
    a k-anonymous release would have to suppress it (class_size < k).
    The privacy-side companion to doc_redact_pii: redaction hides
    direct identifiers, k-anonymity measures re-identification risk
    from the INDIRECT ones.

    One combinable aggregation on the quasi-identifier key — scan
    speed at any scale; the class table is |langs|·|sources|·|buckets|
    rows, metadata-sized."""
    return (
        documents.groupBy(
            "lang",
            "source",
            F.expr(f"CAST(n_chars DIV {bucket_chars} AS BIGINT)").alias(
                "size_bucket"
            ),
        )
        .agg(F.count("*").alias("class_size"))
        .select(
            "lang",
            "source",
            "size_bucket",
            "class_size",
            (F.col("class_size") < k).cast("int").alias("is_suppressed"),
        )
        .orderBy("lang", "source", "size_bucket")
    )


def l_diversity_report(
    documents: DataFrame,
    l: int = 2,
    sensitive_col: str = "lang",
    bucket_chars: int = 100,
) -> DataFrame:
    """(source, size_bucket, class_size, distinct_sensitive, meets_l):
    distinct-l-diversity audit (Machanavajjhala et al. 2007) over the
    quasi-identifier (source, length bucket) with ``sensitive_col`` as
    the sensitive attribute — the attack k-anonymity misses: a class
    can be k-large yet reveal everyone's sensitive value when all k
    rows share it (homogeneity attack).  A release is l-diverse when
    every class carries ≥ l distinct sensitive values.

    Note the quasi-identifier here deliberately EXCLUDES the sensitive
    column (:func:`k_anonymity_report` keys on lang; an l-diversity
    audit that grouped by its own sensitive attribute would be
    vacuously 1-diverse everywhere).

    One aggregation with an exact count-distinct — Catalyst's two-
    phase Expand plan over a metadata-sized class table
    (|sources|·|buckets| rows); scan speed at any corpus size."""
    return (
        documents.groupBy(
            "source",
            F.expr(f"CAST(n_chars DIV {bucket_chars} AS BIGINT)").alias(
                "size_bucket"
            ),
        )
        .agg(
            F.count("*").alias("class_size"),
            F.countDistinct(sensitive_col).alias("distinct_sensitive"),
        )
        .select(
            "source",
            "size_bucket",
            "class_size",
            "distinct_sensitive",
            (F.col("distinct_sensitive") >= l).cast("int").alias("meets_l"),
        )
        .orderBy("source", "size_bucket")
    )


def chi_square_independence(
    documents: DataFrame,
    row_col: str = "source",
    col_col: str = "lang",
    fp: int = 1_000_000,
) -> DataFrame:
    """(source, lang, observed, contrib_fp) per contingency cell plus
    one ('ALL','ALL', N, chi2_fp) total row: Pearson's χ² test of
    independence between two categorical columns — "is the language
    mix the same across sources?", the distribution-shift companion to
    snapshot PSI (drift over time) and the ab z-test (two groups).

    Scale shape: ONE combinable count agg collapses the corpus to the
    |rows|·|cols| contingency table (metadata-scale by construction);
    margins are two more aggs over THAT table, rejoined broadcast.
    Per-cell contribution (O−E)²/E is evaluated with the exact-bigint
    counts converted to double in a FIXED expression shape —
    d = O·N − R·C computed in doubles (bigint products overflow at
    corpus scale, double rounding is deterministic and identical in
    both engines) — then floored to fixed-point so the grand total is
    an order-insensitive exact bigint SUM (the PSI contract)."""
    cells = persist_latest(
        "quality.chi2.cells",
        documents.groupBy(
            F.col(row_col).alias("r"), F.col(col_col).alias("c")
        ).agg(F.count(F.lit(1)).alias("o")),
    )
    rmarg = cells.groupBy("r").agg(F.sum("o").alias("rt"))
    cmarg = cells.groupBy("c").agg(F.sum("o").alias("ct"))
    total = cells.agg(F.sum("o").alias("n"))
    d = (
        F.col("o").cast("double") * F.col("n").cast("double")
        - F.col("rt").cast("double") * F.col("ct").cast("double")
    )
    contrib = (d * d) / (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        * F.col("n").cast("double")
    )
    scored = (
        cells.join(F.broadcast(rmarg), "r")
        .join(F.broadcast(cmarg), "c")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("r").alias(row_col),
            F.col("c").alias(col_col),
            F.col("o").alias("observed"),
            F.floor(contrib * fp).cast("bigint").alias("contrib_fp"),
        )
    )
    total_row = scored.agg(
        F.lit("ALL").alias(row_col),
        F.lit("ALL").alias(col_col),
        F.sum("observed").alias("observed"),
        F.sum("contrib_fp").alias("contrib_fp"),
    )
    return scored.unionByName(total_row).orderBy(row_col, col_col)


def cramers_v_residuals(
    documents: DataFrame,
    row_col: str = "source",
    col_col: str = "lang",
) -> DataFrame:
    """(source, lang, observed, residual_fp, v_fp) per contingency
    cell: the ANALYSIS step past :func:`chi_square_independence` — the
    standardized residual (O−E)/√E says WHICH cells drive the
    association (|resid| ≳ 2 is a cell-level anomaly: "this source is
    unexpectedly heavy in that language"), and Cramér's V
    √(χ²/(N·(min(r,c)−1))) normalizes the χ² into a [0,1] effect size
    comparable across tables.  v_fp is the one global V repeated per
    row (constant column — keeps the grain per-cell).

    Same scale shape as the χ² operator: one combinable count agg to
    the metadata-scale contingency table, margins rejoined broadcast,
    one 1-row (N, chi2_fp, r_cats, c_cats) stats broadcast.  χ² is the
    exact bigint SUM of per-cell floored contributions (the χ² gate's
    order-insensitivity contract), so V derives from exact integers;
    residual and V are each ONE double expression mirrored in the
    oracle."""
    cells = persist_latest(
        "quality.cramers.cells",
        documents.groupBy(
            F.col(row_col).alias("r"), F.col(col_col).alias("c")
        ).agg(F.count(F.lit(1)).alias("o")),
    )
    rmarg = cells.groupBy("r").agg(F.sum("o").alias("rt"))
    cmarg = cells.groupBy("c").agg(F.sum("o").alias("ct"))
    d = (
        F.col("o").cast("double") * F.col("n").cast("double")
        - F.col("rt").cast("double") * F.col("ct").cast("double")
    )
    contrib = (d * d) / (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        * F.col("n").cast("double")
    )
    total = cells.agg(F.sum("o").alias("n"))
    scored = (
        cells.join(F.broadcast(rmarg), "r")
        .join(F.broadcast(cmarg), "c")
        .crossJoin(F.broadcast(total))
        .select(
            "r",
            "c",
            "o",
            "rt",
            "ct",
            "n",
            F.floor(contrib * 1_000_000).cast("bigint").alias("contrib_fp"),
        )
    )
    stats = scored.agg(
        F.first("n").alias("n"),
        F.sum("contrib_fp").alias("chi2_fp"),
        F.countDistinct("r").alias("r_cats"),
        F.countDistinct("c").alias("c_cats"),
    )
    resid = F.expr(
        "(CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
        " / SQRT(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)"
        " / CAST(n AS DOUBLE))"
    )
    # a 1×c or r×1 table has no independence structure — NULL V
    v_fp = F.expr(
        "CASE WHEN LEAST(r_cats, c_cats) > 1 THEN"
        " CAST(FLOOR(SQRT((CAST(chi2_fp AS DOUBLE) / 1000000)"
        " / (CAST(n AS DOUBLE)"
        " * CAST(LEAST(r_cats, c_cats) - 1 AS DOUBLE))) * 1000000)"
        " AS BIGINT) ELSE NULL END"
    )
    return (
        scored.drop("n")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("r").alias(row_col),
            F.col("c").alias(col_col),
            F.col("o").cast("bigint").alias("observed"),
            F.floor(resid * 10_000).cast("bigint").alias("residual_fp"),
            v_fp.alias("v_fp"),
        )
        .orderBy(row_col, col_col)
    )


def quality_dup_calibration(
    documents: DataFrame, text_col: str = "text", n_bins: int = 10
) -> DataFrame:
    """(bin, n_docs, n_dups, dup_rate_fp, mean_q_fp): the reliability
    curve of the heuristic quality score against OBSERVED exact
    duplication — per fixed-width score bin, how often is a doc a
    non-representative copy?  This is the eval harness for the
    curation rule itself (doc_lang_confusion's role, for the quality
    scorer): a well-calibrated scorer shows dup_rate falling as the
    bin rises, and a flat curve says the score is not informative.

    Window-free: is_dup comes from a groupBy(fp).min(doc_id) rejoin
    (the dedup_survivors shape, no per-fp window); bins are fixed-
    width on [0,1] so both engines bin the identical IEEE score; the
    per-bin stats are exact bigints with truncating fixed-point
    division."""
    from lab3_spark.functions.text import tokenize
    from lab3_spark.operators.textstats import quality_expr

    base = persist_latest(
        "quality.calibration.base",
        documents.select(
            "doc_id",
            F.md5(F.concat_ws(" ", tokenize(text_col))).alias("fp"),
            quality_expr(text_col).alias("q"),
        ),
    )
    keep = base.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    flagged = base.join(keep, "fp").select(
        F.least(
            F.floor(F.col("q") * n_bins).cast("bigint"), F.lit(n_bins - 1)
        ).alias("bin"),
        (F.col("doc_id") != F.col("keep_id")).cast("bigint").alias("is_dup"),
        F.floor(F.col("q") * 10_000).cast("bigint").alias("q_fp"),
    )
    return (
        flagged.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").alias("n_dups"),
            F.expr(f"CAST(sum(is_dup) * {10**6} DIV count(*) AS BIGINT)").alias(
                "dup_rate_fp"
            ),
            F.expr("CAST(sum(q_fp) DIV count(*) AS BIGINT)").alias("mean_q_fp"),
        )
        .orderBy("bin")
    )


MI_FP = 1_000_000_000  # nat-scaled fixed point for per-cell MI terms


def mutual_information(
    documents: DataFrame, row_col: str = "source", col_col: str = "lang"
) -> DataFrame:
    """One row (n, mi_fp, h_row_fp, h_col_fp, npmi_like_fp): mutual
    information I(row; col) in nats between two categorical columns —
    the EFFECT-SIZE companion to chi_square_independence (χ² grows
    with N even for trivial dependence; MI measures the dependence
    itself).  npmi_like_fp = 2·I/(H(row)+H(col)) — the symmetric
    redundancy score in [0, 1]-ish.

    Same scale shape as χ²: one combinable count agg to the
    contingency cells, margins broadcast back.  Determinism: one
    ln((o·n)/(r·c)) per CELL, immediately fixed-pointed, then exact
    bigint Σ o·term and ONE integer division by n (the
    source_token_entropy contract); entropies likewise."""
    cells = persist_latest(
        "quality.mi.cells",
        documents.groupBy(
            F.col(row_col).alias("r"), F.col(col_col).alias("c")
        ).agg(F.count(F.lit(1)).alias("o")),
    )
    rmarg = cells.groupBy("r").agg(F.sum("o").alias("rt"))
    cmarg = cells.groupBy("c").agg(F.sum("o").alias("ct"))
    total = cells.agg(F.sum("o").alias("n"))
    joined = (
        cells.join(F.broadcast(rmarg), "r")
        .join(F.broadcast(cmarg), "c")
        .crossJoin(F.broadcast(total))
    )
    # per-cell ln term, fixed-pointed BEFORE any cross-row sum
    term = F.floor(
        F.log(
            (F.col("o").cast("double") * F.col("n").cast("double"))
            / (F.col("rt").cast("double") * F.col("ct").cast("double"))
        )
        * MI_FP
    ).cast("bigint")
    rterm = F.floor(
        F.log(F.col("n").cast("double") / F.col("rt").cast("double")) * MI_FP
    ).cast("bigint")
    cterm = F.floor(
        F.log(F.col("n").cast("double") / F.col("ct").cast("double")) * MI_FP
    ).cast("bigint")
    agg = joined.select(
        "n",
        (F.col("o") * term).alias("mi_c"),
        (F.col("o") * rterm).alias("hr_c"),
        (F.col("o") * cterm).alias("hc_c"),
    ).groupBy("n").agg(
        F.sum("mi_c").alias("mi_s"),
        F.sum("hr_c").alias("hr_s"),
        F.sum("hc_c").alias("hc_s"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.expr("CAST(mi_s DIV n AS BIGINT)").alias("mi_fp"),
        F.expr("CAST(hr_s DIV n AS BIGINT)").alias("h_row_fp"),
        F.expr("CAST(hc_s DIV n AS BIGINT)").alias("h_col_fp"),
        F.expr(
            "CAST(CASE WHEN hr_s + hc_s > 0 THEN"
            f" (2 * (mi_s DIV n) * {MI_FP}) DIV ((hr_s DIV n) + (hc_s DIV n))"
            " ELSE 0 END AS BIGINT)"
        ).alias("npmi_like_fp"),
    )


def source_influence_jackknife(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(source, n_docs, mean_q_fp, loo_mean_fp, influence_fp):
    leave-one-source-out influence of each source on the corpus-wide
    mean quality — the data-ops question "which feed is dragging the
    metric" answered exactly: influence = loo_mean − overall_mean,
    positive ⇒ removing the source RAISES corpus quality.

    Jackknife-by-group needs no re-scan per group: one per-source agg
    (Σq, n) and the grand totals give every leave-one-out mean by
    arithmetic — (S − s_g)/(N − n_g) — so the whole audit is one
    combinable aggregation plus a broadcast of one stats row.  Quality
    is fixed-pointed per doc (·10⁴, the calibration contract) so all
    sums are exact bigints; the final divisions run floor-on-double on
    both sides (the signed-division rule)."""
    from lab3_spark.operators.textstats import quality_expr

    per = documents.select(
        "source",
        F.floor(quality_expr(text_col) * 10_000).cast("bigint").alias("q"),
    )
    grp = per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("q").alias("s")
    )
    tot = grp.agg(F.sum("n").alias("nn"), F.sum("s").alias("ss"))
    j = grp.crossJoin(F.broadcast(tot))
    mean_all = F.col("ss").cast("double") / F.col("nn").cast("double")
    loo = (F.col("ss") - F.col("s")).cast("double") / (
        F.col("nn") - F.col("n")
    ).cast("double")
    return (
        j.where(F.col("nn") > F.col("n"))  # a sole source has no LOO
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.floor(F.col("s").cast("double") / F.col("n").cast("double"))
            .cast("bigint")
            .alias("mean_q_fp"),
            F.floor(loo).cast("bigint").alias("loo_mean_fp"),
            F.floor(loo - mean_all).cast("bigint").alias("influence_fp"),
        )
        .orderBy("source")
    )


_QF_NAMES = ("n_tokens", "punct_ratio", "distinct_ratio", "stop_ratio")


def quality_feature_correlations(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(feat_a, feat_b, corr_fp): Pearson correlation between every
    pair of the quality scorer's input features — the feature-
    engineering audit behind _quality_blend: two features correlating
    near ±1 are redundant weight (the blend double-counts them), and a
    feature uncorrelated with everything carries independent signal.

    One corpus scan projects the four features as ·10⁴ fixed-point
    ints; ONE aggregation collects all 14 moments (4 sums, 4 squares,
    6 cross-products — exact bigints); the 6 correlations are double
    expressions over that single broadcast row, emitted long-form via
    an in-row explode."""
    from lab3_spark.functions.text import tokenize
    from lab3_spark.operators.textstats import _stop_hits

    toks = tokenize(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    punct = F.length(F.regexp_replace(F.col(text_col), r"[a-zA-Z0-9\s]", ""))
    dtoks = F.array_distinct(toks)
    feats = [
        n_tokens.cast("bigint"),
        F.floor(
            F.when(n_chars > 0, punct / n_chars).otherwise(0.0) * 10_000
        ).cast("bigint"),
        F.floor(
            F.when(n_tokens > 0, F.size(dtoks) / n_tokens).otherwise(0.0)
            * 10_000
        ).cast("bigint"),
        F.floor(
            F.when(
                F.size(dtoks) > 0, _stop_hits(dtoks) / F.size(dtoks)
            ).otherwise(0.0)
            * 10_000
        ).cast("bigint"),
    ]
    base = documents.select(
        *[f.alias(f"f{i}") for i, f in enumerate(feats)]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(4):
        aggs.append(F.sum(f"f{i}").alias(f"s{i}"))
        for j in range(i, 4):
            aggs.append(
                F.sum(F.col(f"f{i}") * F.col(f"f{j}")).alias(f"p{i}{j}")
            )
    mom = base.agg(*aggs)

    def corr(i: int, j: int):
        nd = F.col("n").cast("double")
        num = nd * F.col(f"p{i}{j}").cast("double") - F.col(
            f"s{i}"
        ).cast("double") * F.col(f"s{j}").cast("double")
        vi = nd * F.col(f"p{i}{i}").cast("double") - F.col(
            f"s{i}"
        ).cast("double") * F.col(f"s{i}").cast("double")
        vj = nd * F.col(f"p{j}{j}").cast("double") - F.col(
            f"s{j}"
        ).cast("double") * F.col(f"s{j}").cast("double")
        return F.when(
            (vi > 0) & (vj > 0),
            F.floor(num / F.sqrt(vi * vj) * 1_000_000).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))

    pairs = [
        F.struct(
            F.lit(_QF_NAMES[i]).alias("feat_a"),
            F.lit(_QF_NAMES[j]).alias("feat_b"),
            corr(i, j).alias("corr_fp"),
        )
        for i in range(4)
        for j in range(i + 1, 4)
    ]
    return (
        mom.select(F.explode(F.array(*pairs)).alias("pr"))
        .select("pr.feat_a", "pr.feat_b", "pr.corr_fp")
        .orderBy("feat_a", "feat_b")
    )


LOGREG_FEATURES = ("bias", "n_words", "mean_word_len",
                   "top_word_ratio", "alpha_word_frac")


def _logreg_feature_frame(documents: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, label, x0..x4): fixed-point integer features from the
    Gopher signal frame.  The signals arrive as floor(raw·10⁴)/10⁴
    doubles, so ROUND (not floor) recovers the underlying integer
    exactly in both engines; n_words is capped at 1000 so one epic
    document cannot dominate the gradient."""
    from lab3_spark.functions.partitioning import persist_latest
    from lab3_spark.operators.textstats import gopher_quality

    g = gopher_quality(documents, text_col)
    return persist_latest(
        "quality.logreg.features",
        g.select(
            "doc_id",
            F.col("gopher_pass").cast("int").alias("label"),
            F.lit(10000).cast("bigint").alias("x0"),
            (F.least(F.col("n_words"), F.lit(1000)) * 10)
            .cast("bigint")
            .alias("x1"),
            F.round(F.col("mean_word_len") * 10000)
            .cast("bigint")
            .alias("x2"),
            F.round(F.col("top_word_ratio") * 10000)
            .cast("bigint")
            .alias("x3"),
            F.round(F.col("alpha_word_frac") * 10000)
            .cast("bigint")
            .alias("x4"),
        ),
    )


def _logreg_weights(
    documents: DataFrame, text_col: str, rounds: int
) -> tuple[list[int], DataFrame]:
    """Run ``rounds`` of exact-integer batch gradient descent and
    return (final weights ×10⁶, the persisted feature frame).

    The float boundary is ONE sigmoid per row per round, and its
    gradient contribution floor(err · x_i) is fixed-pointed PER ROW
    before the sum — so the five gradient totals are exact bigints in
    any partition order (the paired-permutation discipline).  The
    weight update runs in driver Python on exact ints (the k-means
    collect-per-round pattern: one 1-row collect per round, never
    data):  w_i += sign · (|G_i| · 10) // n   (lr = 0.1 given the
    ×10⁴ feature / ×10⁶ weight scales; truncation toward zero,
    mirrored by the oracle's sign-split CASE)."""
    feats = _logreg_feature_frame(documents, text_col)
    n = feats.count()
    if n == 0:
        # the engine's empty-input contract (kmeans.py:206): fail
        # loudly instead of the raw ZeroDivisionError the step
        # divisor would raise (ADVICE r9) — the oracle's CTE form
        # yields NULL weights on the same degenerate input, so no
        # trained model exists for either engine to agree on
        raise ValueError("empty documents frame: nothing to train on")
    w = [0] * len(LOGREG_FEATURES)
    xs = ["x0", "x1", "x2", "x3", "x4"]
    for _ in range(rounds):
        z_fp = reduce(
            lambda a, b: a + b,
            [F.col(x) * F.lit(int(wi)) for x, wi in zip(xs, w)],
        )
        p = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-(z_fp.cast("double") / F.lit(1e10)))
        )
        err = F.col("label").cast("double") - p
        sums = feats.agg(
            *[
                F.sum(F.floor(err * F.col(x)).cast("bigint")).alias(x)
                for x in xs
            ]
        ).collect()[0]
        for i, x in enumerate(xs):
            g = int(sums[x])
            step = (abs(g) * 10) // n
            w[i] += step if g >= 0 else -step
    return w, feats


def train_quality_logreg(
    documents: DataFrame, text_col: str = "text", rounds: int = 3
) -> DataFrame:
    """(feature, w_fp): a logistic-regression quality scorer TRAINED
    inside the engine — batch gradient descent distilling the Gopher
    rule CONJUNCTION (the label) into a soft linear scorer over the
    rule's own continuous signals (the model-based quality filter of
    the fastText/CCNet lineage, reduced to its linear core so every
    training step is oracle-expressible).

    Scale shape: the feature frame is one Gopher pass (already a
    catalog cost); each GD round is ONE combinable aggregate over it
    (five conditional sums) + a 1-row collect — rounds × one scan,
    the k-means shape, nothing corpus-scaled leaves the executors.
    The oracle unrolls the same rounds as CTEs, weight arithmetic
    sign-split so truncation matches Python's int division."""
    w, feats = _logreg_weights(documents, text_col, rounds)
    spark = feats.sparkSession
    return spark.createDataFrame(
        [(f, int(wi)) for f, wi in zip(LOGREG_FEATURES, w)],
        "feature string, w_fp bigint",
    ).orderBy("feature")


def quality_logreg_accuracy(
    documents: DataFrame, text_col: str = "text", rounds: int = 3
) -> DataFrame:
    """(n_docs, n_correct, accuracy_fp): training-set accuracy of the
    :func:`train_quality_logreg` scorer (predict pass iff z ≥ 0) —
    the one-number acceptance check that the distilled linear model
    actually reproduces the rule conjunction it was trained on.
    Exact integers end-to-end: z_fp is a bigint dot product against
    the collected weights, the comparison is integer, accuracy is
    ·10⁶ DIV."""
    w, feats = _logreg_weights(documents, text_col, rounds)
    xs = ["x0", "x1", "x2", "x3", "x4"]
    z_fp = reduce(
        lambda a, b: a + b,
        [F.col(x) * F.lit(int(wi)) for x, wi in zip(xs, w)],
    )
    pred = (z_fp >= 0).cast("int")
    return feats.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((pred == F.col("label")).cast("int"))
        .cast("bigint")
        .alias("n_correct"),
    ).select(
        "n_docs",
        "n_correct",
        F.expr(
            "CASE WHEN n_docs > 0 THEN CAST(n_correct * 1000000"
            " DIV n_docs AS BIGINT) ELSE NULL END"
        ).alias("accuracy_fp"),
    )
