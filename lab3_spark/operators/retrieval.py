"""Full-text retrieval: BM25 scoring and two-stage rank-then-rerank.

The classic sparse-retrieval ranking function (Robertson & Spärck
Jones / Okapi BM25, public literature), expressed Spark-first:

- The corpus statistics (N, Σdl, per-term df) reduce to ONE scalar row
  via a single tree-aggregated pass — broadcast back, never a shuffle
  of the corpus itself.
- Per-document term frequencies for a FIXED query-term list are array
  folds over the one tokenize() per row (``size(filter(toks, =t))``)
  — no (doc, word) explode, no join: for a q-term query the whole
  scoring pass is q expressions at scan speed.  This matters at
  100 TB: the naive posting-list shape (explode + groupBy + join)
  shuffles every token; this shape shuffles nothing but one stats row.
- Top-k lands in ``TakeOrderedAndProject`` (limit after orderBy), the
  streaming heap — no full sort.

Cross-engine exactness (the catalog oracle hash-compares values): the
per-term BM25 contribution is computed by the IDENTICAL sequence of
IEEE double ops in both engines and fixed-pointed (``floor(x * 1e6)``
→ BIGINT) BEFORE the per-document summation, so the sum is integer
and order-free — the `unigram_surprisal` recipe.

Reference parity note: the reference (Phoenix++,
include/map_reduce.h) has word counting but no ranked retrieval —
SURVEY §2.9 extension row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lab3_spark.functions.partitioning import one_window_partition, spread
from lab3_spark.functions.text import tokenize

K1 = 1.2
B = 0.75
FP = 1_000_000


def _tf(toks: Column, term: str) -> Column:
    return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("bigint")


def bm25_top_docs(
    documents: DataFrame,
    terms: tuple[str, ...] = ("dup", "vector", "spark"),
    k: int = 15,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score_fp, rnk): top-k documents by BM25 for a fixed
    bag-of-terms query.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln((N−df+0.5)/(df+0.5) + 1)  (the Lucene-style
    non-negative variant).  Each term's contribution is floored to a
    1e-6 fixed point before the (integer) sum; ties rank by doc_id.
    """
    toks = tokenize(text_col)
    base = spread(documents).select(
        "doc_id",
        F.size(toks).cast("bigint").alias("dl"),
        *[_tf(toks, t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    contribs = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        df = F.col(f"df_{i}").cast("double")
        idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
        norm = tf + K1 * (1.0 - B + B * (F.col("dl").cast("double") / avgdl))
        part = idf * (tf * (K1 + 1.0)) / norm
        contribs.append(
            F.when(F.col(f"tf_{i}") > 0, F.floor(part * FP).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
        )
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    ranked = (
        scored.select("doc_id", score.alias("score_fp"))
        .where(F.col("score_fp") > 0)
        .orderBy(F.desc("score_fp"), F.asc("doc_id"))
        .limit(k)
    )
    # rnk is derived over the k survivors only (k rows — metadata
    # scale); the corpus-wide ordering already happened in the heap.
    return ranked.select(
        "doc_id",
        "score_fp",
        F.row_number()
        .over(Window.partitionBy(one_window_partition()).orderBy(F.desc("score_fp"), F.asc("doc_id")))
        .alias("rnk"),
    ).orderBy("rnk")


def duck_bm25_sql(
    terms: tuple[str, ...] = ("dup", "vector", "spark"), k: int = 15
) -> str:
    """DuckDB oracle for :func:`bm25_top_docs` — the same op sequence."""
    return f"""
    WITH {duck_bm25_ctes(terms, k, name="bm")}
    SELECT doc_id, score_fp, rnk FROM bm ORDER BY rnk
    """


def duck_bm25_ctes(
    terms: tuple[str, ...] = ("dup", "vector", "spark"),
    k: int = 15,
    name: str = "bm",
) -> str:
    """The BM25 chain as a composable CTE block ending in ``{name}``
    = (doc_id, score_fp, rnk) — shared by the standalone gate and the
    RRF hybrid."""
    from lab3_spark.oracles import DUCK_TOKEN_REGEX, sql_quote

    tf_cols = ", ".join(
        f"CAST(len(list_filter(toks, x -> x = {sql_quote(t)})) AS BIGINT)"
        f" AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(terms))
    )
    contribs = " + ".join(
        f"""CASE WHEN tf_{i} > 0 THEN CAST(floor(
              ln((n_docs - CAST(df_{i} AS DOUBLE) + 0.5)
                 / (CAST(df_{i} AS DOUBLE) + 0.5) + 1.0)
              * (CAST(tf_{i} AS DOUBLE) * ({K1} + 1.0))
              / (CAST(tf_{i} AS DOUBLE)
                 + {K1} * (1.0 - {B} + {B} * (CAST(dl AS DOUBLE)
                     / (CAST(sum_dl AS DOUBLE) / n_docs))))
              * {FP}) AS BIGINT) ELSE 0 END"""
        for i in range(len(terms))
    )
    return f"""base AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS dl, {tf_cols}
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), {DUCK_TOKEN_REGEX}) AS toks
            FROM documents)
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl, {df_cols}
      FROM base
    ),
    scored AS (
      SELECT doc_id, ({contribs}) AS score_fp
      FROM base CROSS JOIN stats
    ),
    {name} AS (
      SELECT doc_id, score_fp,
             CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id ASC)
                  AS INTEGER) AS rnk
      FROM scored WHERE score_fp > 0
      ORDER BY score_fp DESC, doc_id ASC LIMIT {k}
    )"""


RRF_K = 60
RRF_FP = 1_000_000


def hybrid_rrf(
    documents: DataFrame,
    embeddings: DataFrame,
    terms: tuple[str, ...] = ("dup", "vector", "spark"),
    k_each: int = 20,
    topn: int = 10,
) -> DataFrame:
    """(doc_id, rrf, rnk): HYBRID retrieval — BM25 (lexical) and
    dense cosine ANN rankings fused by Reciprocal Rank Fusion
    (Cormack et al. 2009, public): rrf(d) = Σ_lists 1/(K + rank_d),
    K = 60 — the standard production hybrid-search shape (lexical
    recall for exact terms, dense recall for paraphrase; RRF needs no
    score calibration because it consumes only RANKS).

    Identity convention: embeddings are document embeddings keyed by
    doc_id (vec_id ≡ doc_id — the same convention the
    embedding-cosine dedup family uses); the dense list is the
    cosine top-k for the corpus query vector vec_id 0.

    Fixed-point: contributions are floor(1e6/(K+rank)) — exact in
    both engines (numerator constant, divisor ≤ K + k_each ≤ 80, so
    the double quotient is either exactly integral or ≥ 1/80 from
    the floor boundary).  Both input rankings are the engine's own
    audited gates; fusion itself is one full-outer join of two ≤
    k_each-row lists — metadata-scale regardless of corpus size."""
    from lab3_spark.operators.similarity import ann_bruteforce

    bm = bm25_top_docs(documents, terms, k=k_each).select(
        "doc_id", F.col("rnk").alias("r_bm")
    )
    dn = (
        ann_bruteforce(embeddings, n_queries=1, k=k_each)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rnk").alias("r_dn"))
    )
    contrib = lambda r: F.when(  # noqa: E731
        r.isNotNull(), F.floor(F.lit(RRF_FP) / (F.lit(RRF_K) + r))
    ).otherwise(F.lit(0)).cast("bigint")
    fused = (
        bm.join(dn, "doc_id", "full_outer")
        .select(
            "doc_id",
            (contrib(F.col("r_bm")) + contrib(F.col("r_dn"))).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(topn)
    )
    return fused.select(
        "doc_id",
        "rrf",
        F.row_number()
        .over(Window.partitionBy(one_window_partition()).orderBy(F.desc("rrf"), F.asc("doc_id")))
        .alias("rnk"),
    ).orderBy("rnk")


def phrase_search(
    documents: DataFrame, phrase: str, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_occurrences, first_pos): documents containing the
    exact token ``phrase``, via positional-posting intersection — the
    inverted-index phrase query (`invert.cpp:91-105` builds word →
    line-number postings; this is the same structure one level deeper:
    word → (doc, position), reference-parity extension SURVEY §2.9).

    The classic formulation self-joins k posting lists on
    (doc, pos − slot); here all k slots resolve in ONE equi-join + ONE
    aggregation: tokens matching any phrase term join a broadcast
    (slot, term) table, each match votes for anchor position
    pos − slot, and an anchor with all k distinct slots is a phrase
    occurrence.  Scale: the posting stream is filtered to the phrase's
    terms at scan time (predicate on the exploded token — a vanishing
    fraction of the corpus for selective phrases), then one shuffle on
    (doc, anchor).  Repeated words in the phrase are handled by the
    DISTINCT-slot count (a token equal to two slots votes twice)."""
    terms = [t for t in phrase.lower().split() if t]
    k = len(terms)
    if k == 0:
        raise ValueError("empty phrase")
    spark = documents.sparkSession
    slots = F.broadcast(
        spark.createDataFrame(
            list(enumerate(terms)), "slot int, tok string"
        )
    )
    # Document prefilter BEFORE tokenize/posexplode: a doc can contain
    # the phrase only if every term appears as a substring of the
    # lowered text (token presence ⇒ substring presence, so this is a
    # strict superset — never drops a match).  contains() is a cheap
    # scan-local byte scan that prunes the overwhelming majority of a
    # selective phrase's non-candidates before the expensive
    # tokenize → explode; at 100 TB this is the difference between
    # exploding the corpus and exploding the candidate sliver.
    lowered = F.lower(F.col(text_col))
    prefilter = F.lit(True)
    for t in sorted(set(terms)):
        prefilter = prefilter & lowered.contains(t)
    postings = (
        spread(documents.where(prefilter))
        .select("doc_id", F.posexplode(tokenize(text_col)).alias("pos", "tok"))
        .where(F.col("tok").isin(terms))
    )
    anchors = (
        postings.join(slots, "tok")
        .select(
            "doc_id",
            (F.col("pos") - F.col("slot")).cast("bigint").alias("start"),
        )
        .where(F.col("start") >= 0)
        # per (anchor, slot) at most one vote exists (pos = start+slot
        # is unique), so plain count(*) == distinct-slot count and
        # stays map-side combinable
        .groupBy("doc_id", "start")
        .agg(F.count("*").alias("n_slots"))
        .where(F.col("n_slots") == k)
    )
    return (
        anchors.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min("start").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


MU = 200.0  # Dirichlet pseudo-count, ~avg doc length for this corpus


def ql_dirichlet_top_docs(
    documents: DataFrame,
    terms: tuple[str, ...] = ("dup", "vector", "spark"),
    k: int = 15,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, score_fp, rnk): top-k documents by DIRICHLET-smoothed
    query likelihood — the language-modeling ranking family next to
    BM25 (Zhai & Lafferty 2001):

        score(d) = Σ_t ln( (tf_t + μ·ctf_t/T) / (dl + μ) )

    Same scale shape as bm25_top_docs: corpus stats (T, per-term ctf)
    reduce to ONE broadcast row, per-doc tf is an in-row array fold
    (no posting explode), top-k is the TakeOrderedAndProject heap.
    Per-term contributions are floored ·10⁶ BEFORE the per-doc sum
    (order-free integer accumulation); a term absent from the corpus
    contributes 0 instead of ln 0."""
    toks = tokenize(text_col)
    base = spread(documents).select(
        "doc_id",
        F.size(toks).cast("bigint").alias("dl"),
        *[_tf(toks, t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )
    stats = base.agg(
        F.sum("dl").cast("bigint").alias("t_tokens"),
        *[
            F.sum(F.col(f"tf_{i}")).cast("bigint").alias(f"ctf_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    contribs = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        pc = F.col(f"ctf_{i}").cast("double") / F.col("t_tokens").cast("double")
        part = F.log(
            (tf + F.lit(MU) * pc) / (F.col("dl").cast("double") + F.lit(MU))
        )
        contribs.append(
            F.when(
                F.col(f"ctf_{i}") > 0, F.floor(part * FP).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        )
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    ranked = (
        scored.select("doc_id", score.alias("score_fp"))
        .orderBy(F.desc("score_fp"), F.asc("doc_id"))
        .limit(k)
    )
    return ranked.select(
        "doc_id",
        "score_fp",
        F.row_number()
        .over(Window.partitionBy(one_window_partition()).orderBy(F.desc("score_fp"), F.asc("doc_id")))
        .alias("rnk"),
    ).orderBy("rnk")


def rank_agreement(
    documents: DataFrame,
    terms: tuple[str, ...] = ("dup", "vector", "spark"),
    k: int = 15,
) -> DataFrame:
    """One row (k, n_common, jaccard_fp, footrule_fp): agreement
    between the BM25 and query-likelihood top-k for the same query —
    overlap (Jaccard of the two doc sets) and Spearman footrule
    (mean |rank difference| over the COMMON docs, normalized by k) —
    the standard quick check that two rankers see the same head.
    High overlap + low footrule ⇒ the rankers agree and fusion (RRF)
    adds little; divergence is where hybrid retrieval earns its keep.

    Both rankings are k-row frames (TakeOrderedAndProject heads), so
    the whole comparison is metadata-scale joins."""
    bm = bm25_top_docs(documents, terms, k).select(
        "doc_id", F.col("rnk").alias("r1")
    )
    ql = ql_dirichlet_top_docs(documents, terms, k).select(
        "doc_id", F.col("rnk").alias("r2")
    )
    from lab3_spark.functions.partitioning import scoped

    bm = scoped(bm)
    ql = scoped(ql)
    common = bm.join(ql, "doc_id")
    stats = common.agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(F.abs(F.col("r1") - F.col("r2"))).alias("fr_sum"),
    )
    n1 = bm.agg(F.count(F.lit(1)).alias("n1"))
    n2 = ql.agg(F.count(F.lit(1)).alias("n2"))
    j = stats.crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n2))
    union_n = F.col("n1") + F.col("n2") - F.col("n_common")
    jac = F.when(
        union_n > 0,
        F.expr(f"CAST(n_common * {10**6} DIV (n1 + n2 - n_common) AS BIGINT)"),
    ).otherwise(F.lit(0).cast("bigint"))
    fr = F.when(
        F.col("n_common") > 0,
        F.expr(f"CAST(fr_sum * {10**6} DIV (n_common * {k}) AS BIGINT)"),
    ).otherwise(F.lit(0).cast("bigint"))
    return j.select(
        F.lit(k).cast("bigint").alias("k"),
        F.col("n_common").cast("bigint").alias("n_common"),
        jac.alias("jaccard_fp"),
        fr.alias("footrule_fp"),
    )
