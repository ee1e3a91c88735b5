"""Text analysis operators for training-data pipelines.

Language-ID (stop-word-hit heuristic), quality scoring (length/punct/
stop-word ratios), token counting (whitespace + BPE-ish regex pieces),
and document fingerprinting (md5 of normalized token stream).

All pure Catalyst expressions — per-document, embarrassingly
parallel; at 100 TB these run at scan speed over the input splits.
Locally the single-row-group testdata scan arrives as ONE partition,
so the per-doc operators `spread()` it first (round-robins only when
partitions < parallelism — a no-op on a real cluster scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import one_window_partition, spread
from lab3_spark.functions.rounding import trunc
from lab3_spark.functions.text import tokenize
from lab3_spark.stopwords import STOP_WORDS

RATIO = 4

# BPE-ish pre-tokenizer: letter runs | single digits | single
# non-alphanumeric marks (GPT-2-style pre-split, simplified).
BPE_PIECE_REGEX = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def _stop_hits(tokens: Column) -> Column:
    stop = F.array(*[F.lit(w) for w in STOP_WORDS])
    return F.size(F.array_intersect(tokens, stop))


def token_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc token statistics: counts by three tokenizers + length."""
    toks = tokenize(text_col)
    return spread(documents).select(
        "doc_id",
        F.length(text_col).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_PIECE_REGEX), F.lit(0))
        ).alias("n_bpe_pieces"),
    ).orderBy("doc_id")


def _quality_blend(n_tokens: Column, punct_ratio: Column, distinct_ratio: Column) -> Column:
    """THE composite quality formula — the only place the weights and
    terms exist.  Both :func:`quality_expr` (standalone expression for
    dedup keep-rules) and :func:`quality_score` (reporting, with
    hoisted/CSE'd inputs) build their score through this function, so
    the formula structurally cannot drift between them."""
    return (
        0.4 * F.least(n_tokens / F.lit(50.0), F.lit(1.0))
        + 0.3 * (1 - punct_ratio)
        + 0.3 * distinct_ratio
    )


def quality_expr(text_col: str = "text") -> Column:
    """The composite quality score as ONE standalone expression —
    shared by ``dedup.keep_best_duplicates`` / ``dedup_survivors``;
    :func:`quality_score` reports the same formula via the shared
    :func:`_quality_blend` builder (plus a table-scale test pinning
    the two columns equal)."""
    toks = tokenize(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    punct = F.length(F.regexp_replace(F.col(text_col), r"[a-zA-Z0-9\s]", ""))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(0.0)
    distinct_ratio = F.when(
        n_tokens > 0, F.size(F.array_distinct(toks)) / n_tokens
    ).otherwise(0.0)
    return _quality_blend(n_tokens, punct_ratio, distinct_ratio)


def quality_score(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score per document.

    Features (all deterministic ratios, rounded for cross-engine hash
    stability): stop-word ratio, punctuation ratio, mean token length,
    distinct-token ratio.  score = weighted blend in [0,1]-ish.
    """
    d = spread(documents).withColumn("toks", tokenize(text_col)).withColumn(
        # hoisted: array_distinct was evaluated 3× per row (stop_ratio
        # twice, distinct_ratio once) — Catalyst does not CSE repeated
        # non-trivial expressions across projections
        "dtoks",
        F.array_distinct("toks"),
    )
    n_tokens = F.size("toks")
    n_chars = F.length(text_col)
    punct = F.length(F.regexp_replace(F.col(text_col), r"[a-zA-Z0-9\s]", ""))
    stop_ratio = F.when(n_tokens > 0, _stop_hits(F.col("dtoks")) / F.size("dtoks")).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(0.0)
    mean_tok_len = F.when(
        n_tokens > 0,
        F.aggregate("toks", F.lit(0).cast("bigint"), lambda a, t: a + F.length(t))
        / n_tokens,
    ).otherwise(0.0)
    distinct_ratio = F.when(n_tokens > 0, F.size("dtoks") / n_tokens).otherwise(0.0)
    score = _quality_blend(n_tokens, punct_ratio, distinct_ratio)
    return d.select(
        "doc_id",
        trunc(stop_ratio, RATIO).alias("stop_ratio"),
        trunc(punct_ratio, RATIO).alias("punct_ratio"),
        trunc(mean_tok_len, RATIO).alias("mean_tok_len"),
        trunc(distinct_ratio, RATIO).alias("distinct_ratio"),
        trunc(score, RATIO).alias("quality"),
    ).orderBy("doc_id")


def lang_id(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram-free language-ID heuristic: fraction of distinct tokens
    that are English stop words; >= 0.15 → 'en' else 'other'.

    (A real system broadcasts per-language frequency tables; the
    heuristic keeps the operator oracle-checkable.)  Returns the
    labelled `lang` column too, so accuracy is inspectable."""
    d = spread(documents).withColumn("dtoks", F.array_distinct(tokenize(text_col)))
    ratio = F.when(F.size("dtoks") > 0, _stop_hits(F.col("dtoks")) / F.size("dtoks")).otherwise(0.0)
    return d.select(
        "doc_id",
        "lang",
        trunc(ratio, RATIO).alias("en_stop_ratio"),
        F.when(ratio >= 0.15, "en").otherwise("other").alias("pred_lang"),
    ).orderBy("doc_id")


def fingerprint(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the normalized token stream
    (lowercase tokens joined by single spaces) — whitespace/punct/case
    insensitive; the exact-dedup key."""
    norm = F.concat_ws(" ", tokenize(text_col))
    return spread(documents).select(
        "doc_id", F.md5(norm).alias("fp")
    ).orderBy("doc_id")


def ngram_frequencies(
    documents: DataFrame, text_col: str = "text", n: int = 2, k: int = 20
) -> DataFrame:
    """Top-K word n-grams by corpus frequency (ALL occurrences, unlike
    dedup's per-doc-distinct shingles).  One shuffle (the n-gram
    group-by); top-K via TakeOrderedAndProject."""
    toks = tokenize(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return (
        spread(documents)
        .where(F.size(toks) >= n)
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("gram"))
        .limit(k)
    )


def tfidf_top_terms(
    documents: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-K terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1).  Two shuffles: (doc, term) counts and
    the per-term document frequency; N broadcast as a 1-row join."""
    from pyspark.sql.window import Window

    tf = (
        spread(documents)
        .select("doc_id", F.explode(tokenize(text_col)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf_raw",
            F.col("tf")
            * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf_raw"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", "term", trunc(F.col("tfidf_raw"), RATIO).alias("tfidf"), "rnk")
        .orderBy("doc_id", "rnk")
    )


def _longest_equal_run(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a SORTED array — i.e.
    the max element frequency — as one linear fold (no shuffle, no
    explode; the distinct×filter alternative is quadratic in length)."""
    run0 = F.lit(0).cast("bigint")
    zero = F.struct(F.lit("").alias("prev"), run0.alias("run"), run0.alias("best"))

    def _step(a, t):
        run = F.when(t == a["prev"], a["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        return F.struct(
            t.alias("prev"), run.alias("run"), F.greatest(a["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, zero, _step, lambda a: a["best"])


def _word_ngrams(toks: Column, n: int) -> Column:
    """array<string> of space-joined word n-grams (ALL occurrences).
    Guarded: ``sequence(1, stop)`` DESCENDS when stop < 1 (it is not
    empty), so short docs must short-circuit to an empty array."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def ngram_repetition(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc n-gram repetition signals (the Gopher repetition rules
    beyond single tokens): for 2-grams and 3-grams, the duplicate
    fraction (1 − distinct/total) and the top-gram fraction (most
    frequent n-gram / total).  High values flag boilerplate and
    degenerate generations.

    Narrow per-document expressions — the n-gram arrays never leave
    the row, so this runs at scan speed with zero shuffle (contrast
    `ngram_frequencies`, which explodes to a corpus-wide group-by)."""
    toks = tokenize(text_col)
    d = (
        spread(documents)
        .withColumn("g2", _word_ngrams(toks, 2))
        .withColumn("g3", _word_ngrams(toks, 3))
    )

    def feats(col: str):
        n = F.size(col)
        dup = F.when(
            n > 0, F.lit(1) - F.size(F.array_distinct(col)) / n
        ).otherwise(0.0)
        top = F.when(
            n > 0, _longest_equal_run(F.array_sort(F.col(col))) / n
        ).otherwise(0.0)
        return n, trunc(dup, RATIO), trunc(top, RATIO)

    n2, dup2, top2 = feats("g2")
    n3, dup3, top3 = feats("g3")
    return d.select(
        "doc_id",
        n2.alias("n_bigrams"),
        dup2.alias("dup_bigram_frac"),
        top2.alias("top_bigram_frac"),
        n3.alias("n_trigrams"),
        dup3.alias("dup_trigram_frac"),
        top3.alias("top_trigram_frac"),
    ).orderBy("doc_id")


def gopher_quality(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style corpus-filtering signals per document (Rae et al.
    2021, "Scaling Language Models", appendix A — the public rule set
    most LLM data pipelines start from).

    Signals (all deterministic, truncated for cross-engine hashing):

    - ``n_words``             token count (engine tokenizer)
    - ``mean_word_len``       mean token length, rule: in [3, 10]
    - ``top_word_ratio``      most frequent token / tokens — repetition,
                              rule: < 0.2.  Computed as a LINEAR fold
                              over the sorted token array (longest equal
                              run), not distinct×filter (quadratic in
                              doc length) and not an explode+groupBy
                              (a (doc,word) shuffle of the corpus).
    - ``dup_line_frac``       1 − distinct lines / lines, rule: < 0.3
    - ``bullet_line_frac``    lines starting with -, * or •, rule: < 0.9
    - ``ellipsis_line_frac``  lines ending with ... or …, rule: < 0.3
    - ``symbol_word_ratio``   (# + … + ...) per whitespace word, < 0.1
    - ``alpha_word_frac``     whitespace words containing a letter, > 0.8
    - ``gopher_pass``         conjunction of the rules above plus
                              50 ≤ n_words ≤ 100,000

    Pure per-document Catalyst expressions — no shuffle, no UDF; at
    100 TB this runs at scan speed and the pass flag prunes the corpus
    before any downstream dedup shuffle.  The flag is computed from the
    TRUNCATED features so the oracle compares bit-identical doubles.
    """
    text = F.col(text_col)
    d = (
        spread(documents)
        .withColumn("toks", tokenize(text_col))
        .withColumn("wwords", F.split(F.trim(text), r"\s+"))
        .withColumn(
            "lines",
            F.filter(
                F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
                lambda l: F.length(l) > 0,
            ),
        )
    )
    n_toks = F.size("toks")
    n_ww = F.size("wwords")
    n_lines = F.size("lines")

    mean_word_len = F.when(
        n_toks > 0,
        F.aggregate("toks", F.lit(0).cast("bigint"), lambda a, t: a + F.length(t))
        / n_toks,
    ).otherwise(0.0)

    # max token frequency == longest equal run in the sorted array;
    # one O(n log n) per-row pass, no shuffle.
    top_cnt = _longest_equal_run(F.array_sort("toks"))
    top_word_ratio = F.when(n_toks > 0, top_cnt / n_toks).otherwise(0.0)

    dup_line_frac = F.when(
        n_lines > 0, F.lit(1) - F.size(F.array_distinct("lines")) / n_lines
    ).otherwise(0.0)
    bullet_line_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(
                F.col("lines"),
                lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"),
            )
        )
        / n_lines,
    ).otherwise(0.0)
    ellipsis_line_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(F.col("lines"), lambda l: l.endswith("...") | l.endswith("…"))
        )
        / n_lines,
    ).otherwise(0.0)

    n_hash = F.length(text) - F.length(F.expr(f"replace({text_col}, '#', '')"))
    n_dots = (
        F.length(text) - F.length(F.expr(f"replace({text_col}, '...', '')"))
    ) / 3
    n_ell = F.length(text) - F.length(F.expr(f"replace({text_col}, '…', '')"))
    symbol_word_ratio = F.when(
        n_ww > 0, (n_hash + n_dots + n_ell) / n_ww
    ).otherwise(0.0)
    alpha_word_frac = F.when(
        n_ww > 0,
        F.size(F.filter(F.col("wwords"), lambda w: w.rlike("[a-zA-Z]"))) / n_ww,
    ).otherwise(0.0)

    feats = d.select(
        "doc_id",
        n_toks.alias("n_words"),
        trunc(mean_word_len, RATIO).alias("mean_word_len"),
        trunc(top_word_ratio, RATIO).alias("top_word_ratio"),
        trunc(dup_line_frac, RATIO).alias("dup_line_frac"),
        trunc(bullet_line_frac, RATIO).alias("bullet_line_frac"),
        trunc(ellipsis_line_frac, RATIO).alias("ellipsis_line_frac"),
        trunc(symbol_word_ratio, RATIO).alias("symbol_word_ratio"),
        trunc(alpha_word_frac, RATIO).alias("alpha_word_frac"),
    )
    gopher_pass = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("top_word_ratio") < 0.2)
        & (F.col("dup_line_frac") < 0.3)
        & (F.col("bullet_line_frac") < 0.9)
        & (F.col("ellipsis_line_frac") < 0.3)
        & (F.col("symbol_word_ratio") < 0.1)
        & (F.col("alpha_word_frac") > 0.8)
    )
    return feats.withColumn("gopher_pass", gopher_pass).orderBy("doc_id")


# PII patterns restricted to syntax Java regex and RE2 (DuckDB) parse
# and match IDENTICALLY: character classes, bounded quantifiers,
# non-capturing groups, \b word boundaries.  No backrefs, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9][0-9() -]{7,14}[0-9]"


def redact_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_emails, n_ips, n_phones, clean_fp): PII scrubbing —
    emails, IPv4 addresses and international-format phone numbers are
    replaced with typed placeholders; counts per class are reported and
    the redacted text is fingerprinted (md5) so the oracle can verify
    the FULL output without hauling text through the hash gate twice.

    Redaction order is fixed (email → ip → phone) because the classes
    can overlap; both engines apply the identical sequence.  Pure
    per-row regexp expressions — scan-speed, no shuffle, the standard
    pre-training curation pass."""
    text = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), F.lit(0)))
    step1 = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(step1, F.lit(PII_IP), F.lit(0)))
    step2 = F.regexp_replace(step1, PII_IP, "<IP>")
    n_phones = F.size(F.regexp_extract_all(step2, F.lit(PII_PHONE), F.lit(0)))
    step3 = F.regexp_replace(step2, PII_PHONE, "<PHONE>")
    return spread(documents).select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        F.md5(step3).alias("clean_fp"),
    ).orderBy("doc_id")


def feature_hash_embedding(
    documents: DataFrame, dims: int = 16, text_col: str = "text"
) -> DataFrame:
    """(doc_id, dim, w): sparse feature-hashing document embedding —
    every token hashes to a dimension (portable md5 % dims) with a
    ±1 sign from an independent hash bit; w = signed count.  The
    deterministic text→vector bridge (Weinberger et al. 2009): no
    vocabulary table, no training state, embarrassingly parallel.

    Cost: one narrow explode + ONE hash shuffle on (doc_id, dim) with
    map-side combine — the same cost class as per-doc term counting.
    Both hashes are the engine's portable md5 fold, so the oracle
    recomputes identical dimensions and signs."""
    from lab3_spark.functions.text import md5_long

    tok = spread(documents).select(
        "doc_id", F.explode(tokenize(text_col)).alias("word")
    )
    h = tok.select(
        "doc_id",
        (md5_long("word", salt="fh") % dims).alias("dim"),
        F.when(md5_long("word", salt="fhs") % 2 == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    return (
        h.groupBy("doc_id", "dim")
        .agg(F.sum("sgn").cast("bigint").alias("w"))
        .orderBy("doc_id", "dim")
    )


def pmi_collocations(
    documents: DataFrame,
    text_col: str = "text",
    min_pair_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """(w1, w2, pair_cnt, pmi): top-K collocations by pointwise mutual
    information — ln(p(w1,w2) / (p(w1)·p(w2))) over consecutive token
    pairs.  The statistical upgrade of raw bigram counts: frequency
    normalized by how common the words are alone.

    Plan: ONE scan+tokenize pass materializes the per-doc token arrays
    (persisted — the regex tokenize over full text is the expensive
    part; round-2 verdict item 5 caught the docstring claiming a shared
    scan the DAG didn't actually have), then bigram and unigram counts
    both derive from the cached arrays.  The unigram side is tiny
    (vocabulary-sized) so both probability joins broadcast.  The PMI
    expression is arranged with an explicit operation order —
    ln((pair·N·N)/(bi_total·cnt·cnt)) — so the DuckDB oracle computes
    bit-identical doubles, truncated to 4 decimals for the gate."""
    from lab3_spark.functions.partitioning import persist_latest

    tok_arrays = persist_latest(
        "pmi_tok_arrays",
        spread(documents).select(tokenize(text_col).alias("toks")),
    )
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + F.lit(1).cast("int")).alias("w2"),
        ),
    )
    pairs = (
        tok_arrays.where(F.size(toks) >= 2)
        .select(F.explode(grams).alias("g"))
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_cnt"))
    )
    unigrams = (
        tok_arrays.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    n_uni = unigrams.agg(F.sum("cnt").alias("n_uni"))
    n_bi = pairs.agg(F.sum("pair_cnt").alias("n_bi"))
    u1 = unigrams.select(F.col("w").alias("w1"), F.col("cnt").alias("cnt1"))
    u2 = unigrams.select(F.col("w").alias("w2"), F.col("cnt").alias("cnt2"))
    pmi = F.log(
        (F.col("pair_cnt") * F.col("n_uni") * F.col("n_uni"))
        / (F.col("n_bi") * F.col("cnt1") * F.col("cnt2"))
    )
    return (
        pairs.where(F.col("pair_cnt") >= min_pair_count)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select("w1", "w2", "pair_cnt", trunc(pmi, 4).alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


SURPRISAL_SCALE = 1_000_000


def unigram_surprisal(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, mean_surprisal_fp): corpus-unigram-LM
    surprisal per document — the classic cheap "perplexity" quality
    signal for training-data curation (a doc of mostly ultra-common
    tokens scores low; rare-token gibberish scores high; both tails
    are what curators prune).

    Model: p(t) = cnt(t)/N over the corpus's own token occurrences;
    per-token surprisal −log2 p(t) = ln(N/cnt)/ln 2.  The ONLY float
    arithmetic is one expression per DISTINCT vocabulary term,
    immediately fixed-pointed (floor ·1e6 → bigint); per-document
    totals are then exact bigint sums and an exact integer division —
    summation order cannot perturb the result, so the DuckDB oracle
    matches bit-for-bit (the SimHash/PageRank/k-means contract).

    Scale shape: one hash agg over token occurrences for the vocab
    (map-side combine, vocab ≪ corpus), surprisal table BROADCAST back
    onto the token stream (no shuffle of the corpus), one per-doc hash
    agg.  Two keyed shuffles total, both over combine-compressed rows.

    Reference parity note: no LM scoring exists in the reference
    (Phoenix++, include/map_reduce.h) — SURVEY §2.9 extension; the
    vocab count IS the wordCount pipeline (wordCount.cpp:67-86)
    without the stop filter, reused as a model instead of a report.
    """
    toks = spread(documents).select(
        "doc_id", F.explode(tokenize(text_col)).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    n_total = vocab.agg(F.sum("cnt").alias("n_corpus"))
    surprisal = (
        vocab.crossJoin(F.broadcast(n_total))
        .select(
            "term",
            F.floor(
                F.log(F.col("n_corpus").cast("double") / F.col("cnt"))
                / F.log(F.lit(2.0))
                * SURPRISAL_SCALE
            )
            .cast("bigint")
            .alias("s_fp"),
        )
    )
    out = (
        toks.join(F.broadcast(surprisal), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("s_fp").alias("total_fp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("total_fp div n_tokens").alias("mean_surprisal_fp"),
        )
        .orderBy("doc_id")
    )
    # persisted (n_docs rows — metadata-scale) for callers that read
    # the per-doc frame more than once, such as perplexity_buckets'
    # ranking; one registry entry across calls.
    from lab3_spark.functions.partitioning import persist_latest

    return persist_latest("textstats.unigram_surprisal", out)


def perplexity_buckets(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, mean_surprisal_fp, ppl_bucket): CCNet-style corpus
    partition into head / middle / tail thirds by LM "perplexity"
    (Wenzek et al. 2020, public: bucket Common Crawl by LM score,
    train preferentially on the head).

    The LM is the engine's own corpus-unigram model
    (:func:`unigram_surprisal`, bit-exact fixed point); the thirds are
    assigned by the DISTRIBUTED global-order machinery
    (operators/rank.py) — an unpartitioned ``ntile(3) OVER (ORDER BY
    score)`` would move the whole corpus through one partition, the
    canonical 100 TB stall.  Tie-break is doc_id, making the bucket
    assignment a deterministic total order both engines agree on.
    """
    from lab3_spark.operators.rank import with_global_order_stats

    s = unigram_surprisal(documents, text_col).select(
        "doc_id", "mean_surprisal_fp"
    )
    ranked = with_global_order_stats(
        s,
        ["mean_surprisal_fp", "doc_id"],
        ntile=3,
        # own memo key: sharing "rank.global_row_number" with the
        # deciles gate would retire each other's ranged frame on
        # alternating runs (correct, just uncached)
        memo_key="rank.ppl_buckets",
    )
    bucket = (
        F.when(F.col("ntile") == 1, "head")
        .when(F.col("ntile") == 2, "middle")
        .otherwise("tail")
    )
    return ranked.select(
        "doc_id", "mean_surprisal_fp", bucket.alias("ppl_bucket")
    ).orderBy("doc_id")


def bigram_backoff_surprisal(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_bigrams, mean_surprisal_fp): per-document surprisal
    under a stupid-backoff BIGRAM LM (Brants et al. 2007, "Large
    Language Models in Machine Translation") trained on the corpus's
    own CLEAN slice — the documents passing the Gopher rule
    conjunction — and scored over every document.  This is the CCNet
    recipe proper (Wenzek et al. 2020 train a LM on a clean reference
    corpus and score the crawl with it), upgrading
    :func:`unigram_surprisal`'s self-trained unigram model: context
    now matters, and gibberish with a plausible unigram profile but
    improbable transitions scores high.

    Model, per scored bigram (w1, w2):

    - seen in clean:  s = c(w1 w2) / c(w1)
    - backoff:        s = α · (c(w2) + 1) / (N + V + 1),  α = 0.4

    with c(·) clean-slice occurrence counts, N clean token count, V
    clean vocabulary size (the +1s make the backoff Laplace-proof for
    OOV words and an empty clean slice).  Surprisal −log2 s is the
    ONLY float arithmetic, evaluated once per DISTINCT corpus bigram
    TYPE and immediately fixed-pointed (floor ·10⁶ → bigint); per-doc
    totals are exact bigint sums + one integer division, so summation
    order cannot perturb the result (the unigram_surprisal contract).

    Scale shape: clean counts are wordCount-style hash aggs with
    map-side combine; the scoring table is built over bigram TYPES
    (vocabulary-scale) via term-keyed equi-joins; the corpus bigram
    stream then equi-joins the scoring table on the gram — two
    combine-compressed shuffles plus the vocabulary joins, no
    broadcast of anything corpus-scaled.  Docs with < 2 tokens have no
    bigrams and no row, in both engines."""
    from lab3_spark.functions.partitioning import persist_latest

    alpha_inv_fp = F.lit(2.5)  # 1/α, α = 0.4 exactly
    clean_ids = (
        gopher_quality(documents, text_col)
        .where("gopher_pass")
        .select("doc_id")
    )
    # Both intermediate frames fan out (toks → stream + unigram counts;
    # stream → clean bigram counts + type table + final scoring join) —
    # alias differences defeat exchange reuse, so unpersisted each
    # consumer re-ran the whole scan+tokenize(+ngram explode): five
    # corpus passes per action.  Bounded persists cut that to one
    # tokenization and one bigram explode (optimization round 12,
    # guide §5 — the simhash_near_pairs discipline).
    # Storage cost (ADVICE r12): toks is ~corpus-scale and stream
    # ~2×-corpus-scale, both MEMORY_AND_DISK — at the 100 TB design
    # point that is a deliberate spill-heavy trade of multi-pass scan
    # time for cache/disk; a deployment short on scratch disk should
    # drop the toks persist first (stream carries the 3-way fan-out;
    # toks only fans out 2×).
    toks = persist_latest(
        "textstats.bigram_lm.toks",
        spread(documents).select("doc_id", tokenize(text_col).alias("toks")),
    )
    stream = persist_latest(
        "textstats.bigram_lm.stream",
        toks.select(
            "doc_id", F.explode(_word_ngrams(F.col("toks"), 2)).alias("gram")
        ),
    )
    clean_stream = stream.join(clean_ids, "doc_id", "left_semi")
    big = clean_stream.groupBy("gram").agg(F.count(F.lit(1)).alias("c2"))
    uni = (
        toks.join(clean_ids, "doc_id", "left_semi")
        .select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    nv = uni.agg(
        F.coalesce(F.sum("c1"), F.lit(0)).alias("n_clean"),
        F.count(F.lit(1)).alias("v_clean"),
    )
    types = stream.select("gram").distinct()
    w1 = F.element_at(F.split("gram", " "), 1)
    w2 = F.element_at(F.split("gram", " "), 2)
    scored = (
        types.join(big, "gram", "left")
        .select("gram", "c2", w1.alias("w1"), w2.alias("w2"))
        .join(uni.withColumnRenamed("term", "w1"), "w1", "left")
        .join(
            uni.withColumnRenamed("term", "w2").withColumnRenamed(
                "c1", "cw2"
            ),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(nv))
        .select(
            "gram",
            F.floor(
                F.when(
                    F.col("c2").isNotNull(),
                    F.log(F.col("c1").cast("double") / F.col("c2")),
                ).otherwise(
                    F.log(
                        (F.col("n_clean") + F.col("v_clean") + 1).cast(
                            "double"
                        )
                        * alpha_inv_fp
                        / (F.coalesce(F.col("cw2"), F.lit(0)) + 1)
                    )
                )
                / F.log(F.lit(2.0))
                * SURPRISAL_SCALE
            )
            .cast("bigint")
            .alias("s_fp"),
        )
    )
    out = (
        stream.join(scored, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("s_fp").alias("total_fp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("total_fp div n_bigrams").alias("mean_surprisal_fp"),
        )
        .orderBy("doc_id")
    )
    # persisted like unigram_surprisal: the bucket gate reads this
    # n_docs-row frame more than once
    return persist_latest("textstats.bigram_backoff_surprisal", out)


def bigram_ppl_buckets(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, mean_surprisal_fp, ppl_bucket): CCNet head/middle/tail
    thirds under the stupid-backoff bigram LM
    (:func:`bigram_backoff_surprisal`) — the contextual upgrade of
    :func:`perplexity_buckets`, same distributed global-order ntile
    (operators/rank.py), deterministic doc_id tie-break."""
    from lab3_spark.operators.rank import with_global_order_stats

    s = bigram_backoff_surprisal(documents, text_col).select(
        "doc_id", "mean_surprisal_fp"
    )
    ranked = with_global_order_stats(
        s,
        ["mean_surprisal_fp", "doc_id"],
        ntile=3,
        memo_key="rank.bigram_ppl_buckets",
    )
    bucket = (
        F.when(F.col("ntile") == 1, "head")
        .when(F.col("ntile") == 2, "middle")
        .otherwise("tail")
    )
    return ranked.select(
        "doc_id", "mean_surprisal_fp", bucket.alias("ppl_bucket")
    ).orderBy("doc_id")


def kn_bigram_surprisal(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_bigrams, mean_surprisal_fp): per-document surprisal
    under an INTERPOLATED KNESER-NEY bigram LM (Kneser & Ney 1995;
    the Chen & Goodman 1998 interpolated form with fixed discount
    D = 0.75) trained on the Gopher-clean slice — the canonical
    n-gram smoothing, completing the engine's LM ladder above
    :func:`unigram_surprisal` (no context) and
    :func:`bigram_backoff_surprisal` (stupid backoff):

        p(w2 | w1) = (max(c(w1 w2) − D, 0)
                      + D · N1+(w1 ·) · p_cont(w2)) / c_ctx(w1)

    with c_ctx(w1) = Σ_w c(w1 w) (occurrences of w1 AS A CONTEXT —
    doc-final tokens are not contexts), N1+(w1 ·) the number of
    distinct continuations of w1, and the continuation probability
    p_cont(w2) = (N1+(· w2) + 1) / (T + V + 1) over T distinct bigram
    types and V clean vocabulary size (the +1s are the OOV/empty-slice
    floor, the bigram_backoff convention — an unseen continuation
    still scores finitely).  A bigram whose CONTEXT is unseen in
    clean backs off to p_cont(w2) alone.

    Fixed-point discipline as the whole LM family: counts are exact
    integers; the ONLY float arithmetic is one expression per DISTINCT
    corpus bigram type, mirrored operation-for-operation in the
    oracle and floored to ×10⁶ bigint before any per-doc summation.
    Same two-shuffle scale shape as bigram_backoff_surprisal — every
    statistic is a hash agg over the clean bigram stream (type scale),
    scoring is a term-keyed equi-join."""
    from lab3_spark.functions.partitioning import persist_latest

    clean_ids = (
        gopher_quality(documents, text_col)
        .where("gopher_pass")
        .select("doc_id")
    )
    # same fan-out as bigram_backoff_surprisal, same fix (optimization
    # rounds 12/13, guide §5): toks feeds the bigram stream AND the
    # clean-vocab pass; stream feeds the clean semi-join, the type
    # table AND the final scoring join — unpersisted, the cold build
    # re-ran the scan+tokenize(+explode) four to five times.  Same
    # storage trade as the backoff LM: toks ~corpus-scale, stream
    # ~2×-corpus-scale, both bounded MEMORY_AND_DISK; drop the toks
    # persist first if scratch disk is short (stream carries the 3-way
    # fan-out).
    toks = persist_latest(
        "textstats.kn_bigram.toks",
        spread(documents).select("doc_id", tokenize(text_col).alias("toks")),
    )
    stream = persist_latest(
        "textstats.kn_bigram.stream",
        toks.select(
            "doc_id", F.explode(_word_ngrams(F.col("toks"), 2)).alias("gram")
        ),
    )
    clean_stream = persist_latest(
        "textstats.kn_bigram.clean_stream",
        stream.join(clean_ids, "doc_id", "left_semi"),
    )
    w1 = F.element_at(F.split("gram", " "), 1)
    w2 = F.element_at(F.split("gram", " "), 2)
    big = clean_stream.groupBy("gram").agg(
        F.count(F.lit(1)).alias("c2")
    )
    ctx = (
        clean_stream.select(w1.alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cctx"))
    )
    n1f = (
        big.select(w1.alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("n1f"))
    )
    n1r = (
        big.select(w2.alias("w2"))
        .groupBy("w2")
        .agg(F.count(F.lit(1)).alias("n1r"))
    )
    vocab = (
        toks.join(clean_ids, "doc_id", "left_semi")
        .select(F.explode("toks").alias("term"))
        .distinct()
    )
    tv = big.agg(F.count(F.lit(1)).alias("t_types")).crossJoin(
        F.broadcast(vocab.agg(F.count(F.lit(1)).alias("v_clean")))
    )
    types = stream.select("gram").distinct()
    d_disc = F.lit(0.75)
    pc = (F.coalesce(F.col("n1r"), F.lit(0)) + 1).cast("double") / (
        F.col("t_types") + F.col("v_clean") + 1
    )
    p_seen_ctx = (
        F.greatest(
            F.coalesce(F.col("c2"), F.lit(0)).cast("double") - d_disc,
            F.lit(0.0),
        )
        + d_disc * F.coalesce(F.col("n1f"), F.lit(0)).cast("double") * pc
    ) / F.col("cctx")
    p = F.when(F.col("cctx").isNotNull(), p_seen_ctx).otherwise(pc)
    scored = (
        types.select("gram", w1.alias("w1"), w2.alias("w2"))
        .join(big, "gram", "left")
        .join(ctx, "w1", "left")
        .join(n1f, "w1", "left")
        .join(n1r, "w2", "left")
        .crossJoin(F.broadcast(tv))
        .select(
            "gram",
            F.floor(-F.log(p) / F.log(F.lit(2.0)) * SURPRISAL_SCALE)
            .cast("bigint")
            .alias("s_fp"),
        )
    )
    out = (
        stream.join(scored, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("s_fp").alias("total_fp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            # s_fp >= 0 provably (p < 1 strictly: even a deterministic
            # continuation keeps 1 - D(1-pc)/cctx < 1), so truncating
            # div == floor div in both engines
            F.expr("total_fp div n_bigrams").alias("mean_surprisal_fp"),
        )
        .orderBy("doc_id")
    )
    return persist_latest("textstats.kn_bigram_surprisal", out)


def bigram_ppl_filter_by_source(
    documents: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """(source, n_docs, n_kept, kept_rate_fp): the CCNet filtering
    ACTION per source — keep the head and middle perplexity thirds,
    drop the tail (Wenzek et al. 2020 train preferentially on
    head/middle; the tail is the gibberish bucket).  The per-source
    keep rate is the mixture-shift report a curator reads before
    enabling the filter: a source whose documents land mostly in the
    tail is about to shrink.

    Documents with < 2 tokens have no bigram and no LM score — CCNet
    cannot rate them, so they count in n_docs but never in n_kept
    (identically in the oracle).  One broadcast-joinable n_docs-row
    bucket frame against the per-source totals; all integers."""
    buckets = bigram_ppl_buckets(documents, text_col).where(
        F.col("ppl_bucket") != "tail"
    )
    per_doc = spread(documents).select(
        "doc_id", F.col(group_col).alias("source")
    )
    kept = (
        per_doc.join(buckets.select("doc_id"), "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    return (
        per_doc.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.expr(
                "CASE WHEN n_docs > 0 THEN CAST(n_kept * 1000000"
                " DIV n_docs AS BIGINT) ELSE NULL END"
            ).alias("kept_rate_fp"),
        )
        .orderBy("source")
    )


IDF_SCALE = 1_000


def sparse_tfidf_pairs(
    documents: DataFrame,
    text_col: str = "text",
    min_cosine: float = 0.5,
    max_df_frac: float = 0.2,
    max_df_abs: int = 10_000,
) -> DataFrame:
    """(doc_a, doc_b, cos): document-pair cosine similarity over
    SPARSE TF-IDF vectors of 3-gram shingles, via an inverted-index
    (term-at-a-time) join — the classic sparse retrieval shape, and
    the weighted upgrade of `ngram_jaccard_pairs` (cosine over tf·idf
    instead of set Jaccard).

    Why shingles, not words: shingle vocabulary grows with the corpus
    so document frequency actually discriminates (the synthetic
    corpus's WORD vocabulary is ~29 terms — every doc would share
    every term and the "sparse" join would be dense).

    The scale story is DF PRUNING: a term kept only if
    2 ≤ df ≤ min(max_df_frac·N, max_df_abs).  df < 2 cannot create a
    pair; df above the cap creates up to df² pair rows — one
    ubiquitous shingle turns the inverted-index join quadratic, so the
    cap is the degenerate-key guard (same role as minhash_candidates'
    max_bucket).  The ABSOLUTE ceiling (round-5 hardening) is what
    holds at corpus scale: at 100 TB, 0.2·N is billions — a fraction
    alone re-admits quadratic terms; 10k² pair rows per term is the
    actual worst-case bound a cluster absorbs.  Everything else is term-keyed equi-joins: the idf
    table is NOT broadcast — shingle vocab scales with the corpus, so
    tf→idf is a shuffle join on term, exactly co-partitioned with the
    pair join that follows.

    ALL-INTEGER accumulation (the SimHash/PageRank/k-means contract):
    idf is fixed-pointed per DISTINCT term (floor ·1e3, the only
    float op), weights w = tf·idf_fp are exact bigints, dot products
    and squared norms are exact bigint sums, and the single float
    division cos = dot / sqrt(ssq_a·ssq_b) is one IEEE op from exact
    integers — bit-identical across engines, no summation-order risk.

    Reference parity note: no similarity join exists in the reference
    (Phoenix++, include/map_reduce.h) — SURVEY §2.9 extension row.
    """
    toks = tokenize(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
    )
    # ONE term-keyed exchange feeds the whole build (optimization round
    # 13, guide §2.4): hash-partitioning the exploded shingle stream by
    # term up front means the (doc, term) tf agg, the df agg, the
    # tf⋈idf weight join AND the a⋈b pair join below are all already
    # clustered on term — zero further term exchanges (HashPartitioning
    # on term satisfies every ClusteredDistribution whose keys include
    # term), and the two consumers of the stream (tf feeding idf and
    # tf feeding w) share the one shuffle via ReusedExchange, so the
    # tokenize→shingle-explode pass runs ONCE instead of twice.  Cost:
    # the shuffle moves raw gram occurrences instead of map-side
    # combined (doc, term) partials — 3-gram shingles almost never
    # repeat within a document, so the combining loss is ~nil.
    par = documents.sparkSession.sparkContext.defaultParallelism
    tf = (
        spread(documents)
        .where(F.size(toks) >= 3)
        .select("doc_id", F.explode(grams).alias("term"))
        .repartition(par, "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = documents.select(F.count("*").alias("n_docs"))
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .where(
            (F.col("df") >= 2)
            & (F.col("df") <= F.floor(F.lit(max_df_frac) * F.col("n_docs")))
            & (F.col("df") <= F.lit(int(max_df_abs)))
        )
        .select(
            "term",
            F.floor(
                (
                    F.log(
                        (F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)
                    )
                    + 1
                )
                * IDF_SCALE
            )
            .cast("bigint")
            .alias("idf_fp"),
        )
    )
    from lab3_spark.functions.partitioning import persist_latest

    # the pruned weight frame feeds THREE consumers (ssq, both pair
    # sides) — without the persist the tokenize→shingle→tf scan runs
    # 3×; post-pruning it is the compact inverted index, the right
    # frame to hold (the ngram_jaccard shared-shingle pattern)
    w = persist_latest(
        "textstats.sparse_tfidf.w",
        tf.join(idf, "term").select(
            "term", "doc_id", (F.col("tf") * F.col("idf_fp")).alias("w")
        ),
    )
    ssq = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("ssq"))
    a, b = w.alias("a"), w.alias("b")
    dot = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    sa = ssq.select(F.col("doc_id").alias("doc_a"), F.col("ssq").alias("ssq_a"))
    sb = ssq.select(F.col("doc_id").alias("doc_b"), F.col("ssq").alias("ssq_b"))
    cos = F.col("dot") / F.sqrt(
        F.col("ssq_a").cast("double") * F.col("ssq_b").cast("double")
    )
    return (
        dot.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", trunc(cos, 4).alias("cos"))
        .where(F.col("cos") >= min_cosine)
        .orderBy("doc_a", "doc_b")
    )


DSIR_DIMS = 1024


def dsir_log_ratio_weights(
    documents: DataFrame,
    text_col: str = "text",
    target_col: str = "lang",
    target_value: str = "en",
    dims: int = DSIR_DIMS,
) -> DataFrame:
    """(doc_id, n_feats, dsir_fp, mean_fp): DSIR-style importance
    weights — how much each document "looks like" a TARGET slice of
    the corpus under hashed n-gram language models.

    The Data Selection via Importance Resampling recipe (Xie et al.
    2023, public): fit two bag-of-hashed-ngram LMs — target (here:
    docs with ``target_col == target_value``) and background (the
    rest) — and weight every document by Σ_feats log p_tgt(f) −
    log p_bg(f).  High weight = resample into training; the standard
    cheap alternative to classifier-based selection.

    Features are HASHED (md5 % dims over unigrams + bigrams), which is
    the load-bearing scale choice: the feature space is bounded at
    ``dims`` regardless of corpus size, so the log-ratio table is
    metadata-scale and its join back onto the token stream is a
    BROADCAST — the corpus is never shuffled, only per-doc aggregated.
    (A raw-vocabulary variant would force a term-keyed shuffle join —
    see sparse_tfidf_pairs for that shape.)

    Fixed-point contract (SimHash/PageRank/k-means): the two ln's per
    DISTINCT feature are floored to ·1e6 bigints; per-doc sums and the
    mean's integer division are exact, so the DuckDB oracle matches
    bit-for-bit regardless of summation order.

    Reference parity note: no scoring/selection exists in the
    reference (Phoenix++, include/map_reduce.h) — SURVEY §2.9
    extension; the per-side feature count is the wordCount dataflow
    (wordCount.cpp:67-86) over hashed grams.
    """
    from lab3_spark.functions.text import md5_long

    toks = tokenize(text_col)
    grams = F.concat(toks, _word_ngrams(toks, 2))
    feats = spread(documents).select(
        "doc_id",
        (F.col(target_col) == target_value).alias("is_tgt"),
        F.explode(grams).alias("gram"),
    ).select("doc_id", "is_tgt", (md5_long("gram", salt="dsir") % dims).alias("feat"))

    one = F.lit(1).cast("bigint")
    zero = F.lit(0).cast("bigint")
    cnts = feats.groupBy("feat").agg(
        F.sum(F.when(F.col("is_tgt"), one).otherwise(zero)).alias("cnt_t"),
        F.sum(F.when(F.col("is_tgt"), zero).otherwise(one)).alias("cnt_b"),
    )
    totals = cnts.agg(
        F.sum("cnt_t").alias("n_t"), F.sum("cnt_b").alias("n_b")
    )
    ratio = cnts.crossJoin(F.broadcast(totals)).select(
        "feat",
        F.floor(
            (
                F.log(
                    (F.col("cnt_t") + 1).cast("double")
                    / (F.col("n_t") + dims).cast("double")
                )
                - F.log(
                    (F.col("cnt_b") + 1).cast("double")
                    / (F.col("n_b") + dims).cast("double")
                )
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("r_fp"),
    )
    out = (
        feats.join(F.broadcast(ratio), "feat")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_feats"), F.sum("r_fp").alias("dsir_fp"))
        .select(
            "doc_id",
            "n_feats",
            "dsir_fp",
            # floor of a double division, NOT integer `div`: dsir_fp is
            # often NEGATIVE and Spark's `div` truncates toward zero
            # while floor rounds toward -inf — an exact cross-engine
            # mismatch for every negative weight.  The double quotient
            # is exact (|dsir_fp| ≪ 2^53), so floor agrees everywhere.
            F.floor(F.col("dsir_fp").cast("double") / F.col("n_feats"))
            .cast("bigint")
            .alias("mean_fp"),
        )
        .orderBy("doc_id")
    )
    # persisted for consumers that read this per-doc frame more than
    # once (a final orderBy samples its input, then reads it again) —
    # the unigram_surprisal recipe (n_docs-row cache, bounded).
    from lab3_spark.functions.partitioning import persist_latest

    return persist_latest("textstats.dsir_weights", out)


def robust_quality_zscore(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, source, quality, med, mad, robust_z): per-source
    median/MAD normalization of the quality score — the outlier-proof
    alternative to mean/std (one spam blob in a source drags a mean
    but not a median), used to compare documents ACROSS sources whose
    quality distributions differ.

    Exact distributed medians WITHOUT a per-source row window: the
    quality grid is truncated to 4 decimals, so the per-source VALUE
    HISTOGRAM is bounded (≤ ~10k rows per source regardless of corpus
    size) — the median is read off the histogram's cumulative counts
    (smallest value whose cumulative reaches the one/two middle
    positions, averaged; the positional rule, identical in both
    engines — no engine-native ``median()`` whose interpolation could
    differ), and MAD repeats the same machinery on |x − med|.  The
    round-11 skew audit removed the earlier row-level
    Window.partitionBy(source) rank pass: it sorted corpus/|sources|
    rows in ONE task per source (the orders_mannwhitney
    histogram-rank trick applied here); the only window now runs over
    the bounded histogram.
    """
    from pyspark.sql.window import Window

    from lab3_spark.functions.partitioning import persist_latest
    from lab3_spark.functions.rounding import trunc

    # the scored frame feeds four branches (median rank pass + its
    # counts, the med join, the MAD rank pass) — without a persist the
    # tokenize+quality scan re-executes per branch (the shared-scan
    # convention: ngram_jaccard/sparse_tfidf do the same)
    q = persist_latest(
        "textstats.robust_zscore.q",
        spread(documents).select(
            "doc_id",
            "source",
            trunc(quality_expr(text_col), 4).alias("quality"),
        ),
    )

    def _median_of(df: DataFrame, val: str, out: str) -> DataFrame:
        # bounded value histogram (map-side combined) + cumulative
        # over ≤ |value grid| rows per source — skew-immune
        h = df.groupBy("source", val).agg(F.count(F.lit(1)).alias("_c"))
        w = (
            Window.partitionBy("source")
            .orderBy(val)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = h.withColumn("_cum", F.sum("_c").over(w))
        counts = df.groupBy("source").agg(F.count("*").alias("_n"))
        j = cum.join(F.broadcast(counts), "source")
        k1 = F.floor((F.col("_n") + 1) / 2)
        k2 = F.floor((F.col("_n") + 2) / 2)
        # value at rank k = smallest value whose cumulative count
        # reaches k; median = mean of the two middle positions (odd n
        # picks the same value twice — (v+v)/2 == v exactly in FP)
        v1 = F.min(F.when(F.col("_cum") >= k1, F.col(val)))
        v2 = F.min(F.when(F.col("_cum") >= k2, F.col(val)))
        return j.groupBy("source").agg(((v1 + v2) / 2).alias(out))

    med = _median_of(q, "quality", "med")
    withmed = q.join(F.broadcast(med), "source").withColumn(
        "_dev", F.abs(F.col("quality") - F.col("med"))
    )
    mad = _median_of(
        withmed.select("doc_id", "source", F.col("_dev").alias("quality")),
        "quality",
        "mad",
    )
    z = F.when(
        F.col("mad") > 0, (F.col("quality") - F.col("med")) / F.col("mad")
    ).otherwise(0.0)
    return (
        withmed.join(F.broadcast(mad), "source")
        .select(
            "doc_id",
            "source",
            "quality",
            trunc(F.col("med"), 4).alias("med"),
            trunc(F.col("mad"), 4).alias("mad"),
            trunc(z, 4).alias("robust_z"),
        )
        .orderBy("doc_id")
    )


def bigram_surprisal(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_bigrams, mean_surprisal_fp): corpus-BIGRAM-LM
    conditional surprisal per document — the Markov-chain upgrade of
    :func:`unigram_surprisal`: per-token surprisal is −log2
    P(w_i | w_{i−1}) = ln(cnt(w_{i−1}·) / cnt(w_{i−1} w_i)) / ln 2,
    which scores REPEATED fluent sequences low and locally improbable
    transitions high (closer to real LM perplexity than the unigram
    bag).  No smoothing needed: every document bigram exists in the
    corpus model by construction (the model IS the corpus).

    Same exactness contract as the unigram form: ONE float expression
    per DISTINCT bigram type, fixed-pointed to bigint before any
    per-document summation; integer sums and division — bit-exact
    oracle regardless of order.

    Scale shape: bigram-type agg (map-side combine over token
    transitions), context-count agg derived FROM the bigram frame
    (no second corpus scan), surprisal table joined back onto the
    per-doc bigram stream.  The bigram-type table can exceed broadcast
    size at 100 TB — this join is keyed (shuffle) rather than
    broadcast, the honest cost of a conditional model; the unigram
    form remains the broadcast-cheap variant.
    """
    from lab3_spark.functions.partitioning import persist_latest

    toks = tokenize(text_col)
    grams = spread(documents).where(F.size(toks) >= 2).select(
        "doc_id",
        F.explode(_word_ngrams(toks, 2)).alias("bg"),
    )
    bg_counts = persist_latest(
        "textstats.bigram_counts",
        grams.groupBy("bg").agg(F.count("*").alias("cnt_bg")).withColumn(
            "w1", F.split("bg", " ")[0]
        ),
    )
    ctx = bg_counts.groupBy("w1").agg(F.sum("cnt_bg").alias("cnt_ctx"))
    surprisal = bg_counts.join(ctx, "w1").select(
        "bg",
        F.floor(
            F.log(F.col("cnt_ctx").cast("double") / F.col("cnt_bg"))
            / F.log(F.lit(2.0))
            * SURPRISAL_SCALE
        )
        .cast("bigint")
        .alias("s_fp"),
    )
    return (
        grams.join(surprisal, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("s_fp").alias("total_fp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("total_fp div n_bigrams").alias("mean_surprisal_fp"),
        )
        .orderBy("doc_id")
    )


def benchmark_decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """(doc_id, n_hit_grams, contaminated): training-set documents
    flagged by word n-gram collision with a benchmark/eval set — the
    decontamination step every serious LLM training pipeline runs
    before training (the GPT-3 appendix-C / Llama recipe, public):
    a training document sharing any length-``n`` token span with an
    evaluation document leaks test data, so it is flagged (and
    typically dropped or span-scrubbed).

    Scale shape: the benchmark side is TINY relative to a 100 TB
    corpus (eval suites are thousands of documents, fixed), so its
    distinct n-gram set builds once and BROADCASTS; the corpus side
    is one scan → explode → broadcast-hash semi-join — no shuffle
    ever touches corpus-scale data, and the gram explode prunes to
    (doc_id, gram) only.  `contaminated` is an exact-integer 0/1 flag
    (n_hit_grams > 0) — no float anywhere.

    Reference parity note: no decontamination exists in the reference
    (Phoenix++, include/map_reduce.h) — SURVEY §2.9 extension row.
    """
    toks = tokenize(text_col)
    bench_grams = benchmark.select(
        F.explode(_word_ngrams(tokenize(text_col), n)).alias("gram")
    ).distinct()
    doc_grams = documents.select(
        "doc_id", F.explode(_word_ngrams(toks, n)).alias("gram")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hit_grams"))
    )
    n_hits = F.coalesce(F.col("n_hit_grams"), F.lit(0)).cast("bigint")
    return (
        documents.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n_hits.alias("n_hit_grams"),
            (n_hits > 0).cast("bigint").alias("contaminated"),
        )
    )


# BPE-ish pre-tokenizer: contractions, letter runs, digit runs,
# punctuation runs (whitespace dropped) — the GPT-2 pre-tokenization
# shape (public), ASCII-restricted so Java regex and RE2 agree
# byte-for-byte.  Alternation order matters (contractions before
# letter runs); both engines use leftmost-first alternation.
BPE_TOKEN_REGEX = r"'s|'t|'re|'ve|'m|'ll|'d|[a-z]+|[0-9]+|[^a-z0-9\s']+"


def bpe_token_counts(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, chars_per_bpe): token
    counting under a BPE-ish pre-tokenizer regex vs naive whitespace
    split — the budget signal a training pipeline uses to price
    documents in tokens rather than characters (context windows,
    token budgets, $/token costs are all in BPE-ish units; whitespace
    counts underestimate code/punctuation-heavy text).

    Pure per-doc expressions at scan speed — two regexp_extract_all +
    sizes, no shuffle at all (the Gopher-rules cost shape).
    chars_per_bpe is one float division truncated at 4 decimals."""
    lowered = F.lower(F.col(text_col))
    bpe = F.regexp_extract_all(lowered, F.lit(BPE_TOKEN_REGEX), F.lit(0))
    ws = F.split(F.trim(F.col(text_col)), r"\s+")
    n_ws = F.when(
        F.length(F.trim(F.col(text_col))) > 0, F.size(ws)
    ).otherwise(F.lit(0))
    n_bpe = F.size(bpe)
    cpb = F.when(
        n_bpe > 0,
        F.floor(F.length(text_col).cast("double") / n_bpe * 10_000) / 10_000,
    ).otherwise(F.lit(0.0))
    return documents.select(
        "doc_id",
        n_ws.cast("bigint").alias("n_ws_tokens"),
        n_bpe.cast("bigint").alias("n_bpe_tokens"),
        cpb.alias("chars_per_bpe"),
    )


def quality_quantile_by_source(
    documents: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """(doc_id, source, quality, quantile_fp): each document's quality
    score plus its WITHIN-SOURCE quantile — rank-based (quantile)
    normalization, the cross-source-comparable form of the quality
    signal.  A single global threshold over raw scores keeps whole
    easy sources and drops whole hard ones; cutting each source at the
    same PERCENTILE ("drop every source's bottom 20%") needs exactly
    this column.

    rank = the GROUPED distributed row number (operators/rank.py)
    ordered by (quality, doc_id) — deterministic under quality ties,
    one ranged shuffle, per-group offsets broadcast back, never a
    per-group single-partition window; quantile_fp = rank·10⁶ DIV
    group_n, exact bigint.  quality is :func:`quality_expr` — the same
    truncated expression every other quality gate shares, so both
    engines sort identical doubles."""
    from lab3_spark.operators.rank import (
        drop_rank_internals,
        group_rows_col,
        with_grouped_row_number,
    )

    scored = spread(documents).select(
        "doc_id",
        F.col(group_col),
        # truncated like every other quality gate (quality_expr is the
        # raw blend; the 4-decimal floor is what the oracle sorts)
        trunc(quality_expr(text_col), RATIO).alias("quality"),
    )
    ranked = with_grouped_row_number(
        scored,
        [group_col],
        ["quality", "doc_id"],
        out_col="rn",
        memo_key="textstats.quality_quantile",
    ).withColumn("_gn", group_rows_col())
    return (
        drop_rank_internals(ranked)
        .select(
            "doc_id",
            group_col,
            "quality",
            F.expr("CAST(rn * 1000000 DIV _gn AS BIGINT)").alias(
                "quantile_fp"
            ),
        )
        .orderBy("doc_id")
    )


def source_token_fertility(
    documents: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """(source, n_docs, ws_tokens, bpe_tokens, fertility_fp,
    chars_per_bpe_fp): per-source tokenizer fertility — BPE-ish pieces
    per whitespace word (fertility_fp = bpe·10⁶ DIV ws) and characters
    per piece (chars·10⁶ DIV bpe) — the "which sources tokenize
    poorly" diagnostic behind per-source token budgeting (a source
    whose fertility spikes is code/punctuation-heavy and costs more
    context window per word than its character share suggests).

    Same pre-tokenizer expressions as :func:`bpe_token_counts`, folded
    per source: ONE scan, one |sources|-row shuffle, every aggregate
    combinable map-side; the divisions are exact bigint DIV (no
    doubles anywhere).  A source with zero whitespace or BPE tokens
    → NULL ratio."""
    lowered = F.lower(F.col(text_col))
    bpe = F.size(
        F.regexp_extract_all(lowered, F.lit(BPE_TOKEN_REGEX), F.lit(0))
    )
    ws = F.when(
        F.length(F.trim(F.col(text_col))) > 0,
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")),
    ).otherwise(F.lit(0))
    return (
        documents.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(ws).cast("bigint").alias("ws_tokens"),
            F.sum(bpe).cast("bigint").alias("bpe_tokens"),
            F.sum(F.length(text_col)).cast("bigint").alias("_chars"),
        )
        .select(
            group_col,
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            F.expr(
                "CASE WHEN ws_tokens > 0 THEN"
                " CAST(bpe_tokens * 1000000 DIV ws_tokens AS BIGINT)"
                " ELSE NULL END"
            ).alias("fertility_fp"),
            F.expr(
                "CASE WHEN bpe_tokens > 0 THEN"
                " CAST(_chars * 1000000 DIV bpe_tokens AS BIGINT)"
                " ELSE NULL END"
            ).alias("chars_per_bpe_fp"),
        )
        .orderBy(group_col)
    )


def split_fertility_drift(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """(split, n_docs, ws_tokens, bpe_tokens, fertility_fp, drift_fp):
    tokenizer fertility per train/val/test split plus each split's
    delta vs TRAIN — "does the held-out data tokenize like the
    training data?".  A val/test split whose fertility drifts from
    train's means held-out perplexity is measured on text with a
    different tokens-per-word economy than the model was trained on —
    a split-construction artifact worth catching at release time.

    Same pre-tokenizer expressions as :func:`source_token_fertility`,
    grouped by the pure md5 90/5/5 split expression; the train
    reference is a 1-row broadcast.  All ratios exact bigint DIV;
    drift is an exact bigint difference (NULL if either side has no
    whitespace tokens).  Result is empty when no train split exists
    (both engines agree — the split always exists on real data)."""
    from lab3_spark.functions.text import md5_long

    h = md5_long(F.col(id_col).cast("string"), salt=salt) % 100
    split = F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    lowered = F.lower(F.col(text_col))
    bpe = F.size(
        F.regexp_extract_all(lowered, F.lit(BPE_TOKEN_REGEX), F.lit(0))
    )
    ws = F.when(
        F.length(F.trim(F.col(text_col))) > 0,
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")),
    ).otherwise(F.lit(0))
    per = (
        documents.select(split.alias("split"), ws.alias("ws"), bpe.alias("bpe"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("ws").cast("bigint").alias("ws_tokens"),
            F.sum("bpe").cast("bigint").alias("bpe_tokens"),
        )
        .select(
            "split",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            F.expr(
                "CASE WHEN ws_tokens > 0 THEN"
                " CAST(bpe_tokens * 1000000 DIV ws_tokens AS BIGINT)"
                " ELSE NULL END"
            ).alias("fertility_fp"),
        )
    )
    train = per.where(F.col("split") == "train").select(
        F.col("fertility_fp").alias("_train_fert")
    )
    return (
        per.crossJoin(F.broadcast(train))
        .select(
            "split",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            "fertility_fp",
            (F.col("fertility_fp") - F.col("_train_fert"))
            .cast("bigint")
            .alias("drift_fp"),
        )
        .orderBy("split")
    )


WINNOW_K = 3  # k-gram length (tokens) per hash
WINNOW_W = 4  # winnowing window (hashes)


def winnowing_fingerprints(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, fp): the document's WINNOWING fingerprint set — the
    rolling-hash selection scheme of Schleimer/Wilkerson/Aiken 2003
    (MOSS, public): hash every k-gram of tokens, slide a w-hash
    window, keep each window's MINIMUM, emit the distinct survivors.
    Guarantees any shared token run of length ≥ w + k − 1 produces at
    least one shared fingerprint, while storing ~2/(w+1) of the
    hashes — the sublinear sketch for substring-level duplicate and
    plagiarism detection (the positional companion to MinHash's
    set-level sketch).

    Shape: TOKENS explode to (doc_id, idx, w) rows and the k-gram is
    assembled by ``lead()`` over the per-doc window — fully codegen'd
    string concat, no higher-order functions — then the rolling
    minimum is a second frame (ROWS CURRENT..w−1 FOLLOWING) over the
    SAME partitioning, so both windows share one Exchange+Sort.
    Measured ladder at sf0.1: the all-in-row `transform` slicing a
    `transform`-built hash array re-evaluates the array per window
    (Catalyst expressions are trees) — O(m²·md5), minutes; exploding
    PRE-BUILT gram strings from a `transform` is linear but pays the
    interpreted-HOF toll (~3.2 s); the lead() form is 0.72 s — the
    HOFs, not the hashes, were the cost.  Hashes are the engine's
    portable 60-bit md5 fold, so the DuckDB oracle recomputes the
    exact integers.  Docs shorter than k tokens emit nothing; docs
    with fewer than w hashes emit the single global minimum (the
    standard short-document degeneration).
    """
    from pyspark.sql.window import Window

    from lab3_spark.functions.text import md5_long

    toks = tokenize(text_col)
    g = documents.select("doc_id", F.posexplode(toks).alias("idx", "w"))
    wdoc = Window.partitionBy("doc_id").orderBy("idx")
    per_doc = Window.partitionBy("doc_id")
    lead_cols = [F.lead("w", j).over(wdoc) for j in range(1, WINNOW_K)]
    gr = g.select(
        "doc_id",
        "idx",
        F.concat_ws(" ", "w", *lead_cols).alias("gram"),
        F.count("*").over(per_doc).alias("_n"),
    )
    gr = gr.where(F.col("idx") <= F.col("_n") - WINNOW_K).select(
        "doc_id",
        "idx",
        md5_long("gram").alias("h"),
        (F.col("_n") - (WINNOW_K - 1)).alias("_m"),  # k-gram count
    )
    fwd = (
        Window.partitionBy("doc_id")
        .orderBy("idx")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    gg = gr.select(
        "doc_id", "idx", "_m", F.min("h").over(fwd).alias("winmin")
    )
    # full windows exist at the first m−w+1 gram rows; short docs
    # (m < w) emit their global min from the one frame starting at
    # the first gram (the surviving idx values are consecutive, so
    # the ROWS frame spans exactly the next w−1 gram rows)
    fps = gg.where(
        (F.col("idx") <= F.col("_m") - WINNOW_W)
        | ((F.col("_m") < WINNOW_W) & (F.col("idx") == 0))
    )
    from lab3_spark.functions.partitioning import persist_latest

    return persist_latest(
        "textstats.winnow_fps",
        fps.select("doc_id", F.col("winmin").cast("bigint").alias("fp"))
        .distinct(),
    )


def winnowing_candidates(
    documents: DataFrame,
    text_col: str = "text",
    min_shared: int = 2,
    max_bucket: int = 50,
) -> DataFrame:
    """(doc_a, doc_b, n_shared): document pairs sharing ≥
    ``min_shared`` winnowing fingerprints — MOSS-style substring-level
    near-duplicate CANDIDATES (two docs sharing any ≥ w+k−1-token run
    share a fingerprint, so co-derivative docs surface without any
    all-pairs comparison).

    Scale shape: one equi-join on fp — the LSH-candidate pattern
    (`minhash_candidates`) applied to the positional sketch.
    ``max_bucket`` drops DEGENERATE fingerprints first (a boilerplate
    run shared by thousands of docs would contribute O(bucket²)
    pairs; dropping it costs only candidates that other, rarer shared
    runs still surface — the same symmetric cap the MinHash/SimHash
    joins carry).  The fingerprint frame is persisted, so the bucket
    count and both join sides read one winnowing pass."""
    fps = winnowing_fingerprints(documents, text_col)
    ok = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") <= max_bucket)
        .select("fp")
    )
    fx = fps.join(ok, "fp")
    a = fx.alias("a")
    b = fx.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )


def dataset_card(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(metric, value): the corpus-level DATASET CARD — the statistics
    block a curation pipeline publishes with a training corpus
    (document/token counts, exact-duplicate rate, source/language
    breadth, mean length; the dataset-report practice of public corpus
    releases): one scan builds per-doc facts, one 1-row aggregate
    derives every metric, and a stack unpivots it to a long
    (metric, value) frame — driver-hashable, all-bigint (rates as
    exact parts-per-million via integer division).

    Scale shape: the scan is per-row expressions at scan speed; the
    aggregate's distinct counts are the only shuffles (three keyed
    exchanges over narrow columns); the stack runs on ONE row."""
    from lab3_spark.functions.text import md5_long

    toks = tokenize(text_col)
    base = spread(documents).select(
        F.col("doc_id"),
        F.size(toks).cast("bigint").alias("n_toks"),
        F.col("lang"),
        F.col("source"),
        F.md5(F.concat_ws(" ", toks)).alias("fp"),
    )
    # order-insensitive corpus manifest: modular SUM of per-(doc,
    # content) hashes (mod 2^61-1; each hash < 2^60, summed in decimal
    # so no bigint overflow).  A sum — unlike XOR — is multiset-
    # faithful to multiplicity (an even number of copies of the same
    # hash does not cancel to zero).  Checksum equality is strong
    # EVIDENCE of (doc_id, fingerprint)-multiset equality, not proof:
    # hash collisions remain possible, so it is a necessary check for
    # a reproducible export, not a sufficient one.
    h = md5_long(
        F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("fp"))
    )
    agg = base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("tot"),
        F.countDistinct("fp").cast("bigint").alias("nfp"),
        F.countDistinct("source").cast("bigint").alias("nsrc"),
        F.countDistinct("lang").cast("bigint").alias("nlang"),
        (
            F.sum(h.cast("decimal(28,0)")) % F.lit(2305843009213693951)
        )
        .cast("bigint")
        .alias("cksum"),
    )
    return agg.selectExpr(
        """stack(9,
            'content_checksum_modsum', cksum,
            'dup_rate_ppm', ((n_docs - nfp) * 1000000) div n_docs,
            'distinct_fingerprints', nfp,
            'exact_dup_docs', n_docs - nfp,
            'mean_doc_tokens_ppm', (tot * 1000000) div n_docs,
            'n_docs', n_docs,
            'n_langs', nlang,
            'n_sources', nsrc,
            'total_tokens', tot
        ) as (metric, value)"""
    ).orderBy("metric")


def corpus_snapshot_diff(
    old: DataFrame, new: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(status, n_fps, docs_old, docs_new): content-level diff of two
    corpus snapshots by normalized-content fingerprint — the release
    note next to `dataset_card`'s manifest: how much of the new
    snapshot is genuinely new content ('added'), how much content was
    dropped ('removed'), and how much carries over ('common'), with
    doc multiplicities on both sides.

    One fingerprint aggregation per side, then a full outer join on
    the fp — the metadata-scale frames (distinct fingerprints), never
    the corpora, meet in the join.  status is derived per fp and
    reduced to three rows."""
    from lab3_spark.functions.partitioning import spread
    from lab3_spark.functions.text import tokenize

    def fps(df: DataFrame) -> DataFrame:
        return (
            spread(df)
            .select(
                F.md5(F.concat_ws(" ", tokenize(text_col))).alias("fp")
            )
            .groupBy("fp")
            .agg(F.count("*").alias("n"))
        )

    o = fps(old).withColumnRenamed("n", "n_old")
    n = fps(new).withColumnRenamed("n", "n_new")
    status = (
        F.when(F.col("n_old").isNull(), F.lit("added"))
        .when(F.col("n_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("common"))
    )
    return (
        o.join(n, "fp", "full_outer")
        .select(
            status.alias("status"),
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .groupBy("status")
        .agg(
            F.count("*").alias("n_fps"),
            F.sum("n_old").alias("docs_old"),
            F.sum("n_new").alias("docs_new"),
        )
        .orderBy("status")
    )


def forget_propagation(
    documents: DataFrame, forget_ids: DataFrame, chunk_tokens: int = 32
) -> DataFrame:
    """(artifact, n_before, n_after, n_deleted): right-to-be-forgotten
    delete propagation across a corpus AND its derived artifacts — the
    compliance op every stored pipeline needs: removing a document
    must also remove its chunks and retire fingerprints no other
    document holds.

    ``forget_ids`` is broadcast (deletion lists are human-scale vs a
    100 TB corpus); every propagation is a broadcast ANTI-join — no
    derived table is ever shuffled to honor a deletion.  The
    fingerprint row shows the subtlety the naive per-table delete
    misses: a fingerprint survives if ANY remaining doc carries it,
    so its delta is computed on the post-anti-join DISTINCT set, not
    by subtracting the deleted docs' fingerprints."""
    from lab3_spark.functions.text import tokenize
    from lab3_spark.operators.sampling import chunk_documents_unordered

    fid = F.broadcast(forget_ids.select("doc_id"))
    survivors = documents.join(fid, "doc_id", "left_anti")

    def row(name: str, before: DataFrame, after: DataFrame) -> DataFrame:
        b = before.agg(F.count("*").alias("n_before"))
        a = after.agg(F.count("*").alias("n_after"))
        return b.crossJoin(a).select(
            F.lit(name).alias("artifact"),
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("n_deleted"),
        )

    fp = F.md5(F.concat_ws(" ", tokenize("text")))
    docs_row = row("documents", documents, survivors)
    chunks = chunk_documents_unordered(documents, chunk_tokens)
    chunks_row = row(
        "chunks", chunks, chunks.join(fid, "doc_id", "left_anti")
    )
    fp_row = row(
        "fingerprints",
        documents.select(fp.alias("fp")).distinct(),
        survivors.select(fp.alias("fp")).distinct(),
    )
    return docs_row.unionByName(chunks_row).unionByName(fp_row).orderBy(
        "artifact"
    )


def source_token_entropy(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, n_tokens, n_types, entropy_fp): Shannon entropy of
    each source's token distribution (bits, fixed-point ·1e6) — the
    corpus-diversity diagnostic next to `source_mixing_weights`: a
    low-entropy source is templated/boilerplate mass that mixing
    weights alone won't reveal.

    H(s) = Σ_t (cnt/N_s)·log2(N_s/cnt), computed the
    `unigram_surprisal` way: the ONLY float arithmetic is one log2
    expression per DISTINCT (source, term), immediately fixed-pointed;
    the per-source total is an exact bigint Σ cnt·s_fp and one integer
    division — order-free, so the oracle matches bit-for-bit.

    Scale: one (source, term) hash agg over token occurrences
    (map-side combined), per-source totals broadcast back onto the
    vocab-sized frame, one final per-source agg.  The corpus itself
    shuffles once, combine-compressed."""
    tt = (
        spread(documents)
        .select("source", F.explode(tokenize(text_col)).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("cnt"))
    )
    totals = tt.groupBy("source").agg(
        F.sum("cnt").alias("n_s"), F.count("*").alias("n_types")
    )
    s_fp = (
        F.floor(
            F.log(F.col("n_s").cast("double") / F.col("cnt"))
            / F.log(F.lit(2.0))
            * SURPRISAL_SCALE
        )
    ).cast("bigint")
    return (
        tt.join(F.broadcast(totals), "source")
        .select("source", "n_s", "n_types", (F.col("cnt") * s_fp).alias("c_fp"))
        .groupBy("source", "n_s", "n_types")
        .agg(F.sum("c_fp").alias("tot_fp"))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            "n_types",
            F.expr("tot_fp div n_s").alias("entropy_fp"),
        )
        .orderBy("source")
    )


def textrank_cooccurrence_edges(
    documents: DataFrame, text_col: str = "text", max_dist: int = 2
) -> DataFrame:
    """(w_a, w_b): distinct undirected co-occurrence edges between
    non-stop words within ``max_dist`` token positions anywhere in the
    corpus — the TextRank graph (Mihalcea & Tarau 2004, public).

    Positions come from one posexplode of the tokenizer array; the
    pair enumeration is a self-EQUI-join on (doc, pos+offset) — per
    token at most ``max_dist`` partners, so the edge stream is a
    bounded multiple of the token stream, never vocabulary².  The
    distinct collapses corpus-wide repeats (unweighted graph — the
    simplest published TextRank variant)."""
    toks = spread(documents).select(
        "doc_id", F.posexplode(tokenize(text_col)).alias("pos", "w")
    )
    lhs = toks.select(
        "doc_id",
        F.col("w").alias("_wa"),
        F.explode(
            F.sequence(F.col("pos") + 1, F.col("pos") + max_dist)
        ).alias("pos"),
    )
    rhs = toks.select("doc_id", "pos", F.col("w").alias("_wb"))
    stop = F.array(*[F.lit(s) for s in STOP_WORDS])
    return (
        lhs.join(rhs, ["doc_id", "pos"])
        .where(
            (F.col("_wa") != F.col("_wb"))
            & ~F.array_contains(stop, F.col("_wa"))
            & ~F.array_contains(stop, F.col("_wb"))
        )
        .select(
            F.least("_wa", "_wb").alias("w_a"),
            F.greatest("_wa", "_wb").alias("w_b"),
        )
        .distinct()
    )


def textrank_keywords(
    documents: DataFrame, text_col: str = "text", n_iter: int = 5, k: int = 20
) -> DataFrame:
    """(word, rank_fp): corpus-level TextRank keyword extraction —
    fixed-point PageRank (operators/pagerank.py, all-bigint) over the
    word co-occurrence graph, top-k by rank.  Reuses the iterative
    engine verbatim: words are just string-typed nodes; the oracle
    unrolls the identical iterations over the identical edge CTEs."""
    from lab3_spark.operators.pagerank import (
        pagerank_fixed_point,
        symmetrize,
    )

    edges = textrank_cooccurrence_edges(documents, text_col)
    ranks = pagerank_fixed_point(
        symmetrize(edges, "w_a", "w_b"), n_iter=n_iter, input_from_symmetrize=True
    )
    return (
        ranks.orderBy(F.desc("rank_fp"), F.asc("node"))
        .limit(k)
        .select(F.col("node").alias("word"), "rank_fp")
    )


def lang_confusion_matrix(documents: DataFrame) -> DataFrame:
    """(lang, pred_lang, n_docs, share_fp): confusion matrix of the
    stop-word-ratio language detector against the labeled lang column
    — the evaluation harness every classifier-shaped curation rule
    needs (share_fp = row-conditional rate, bigint fixed-point).

    One corpus scan (the lang_id expressions), one combinable pair
    count; per-label totals ride back broadcast.  The pair-count frame
    is persisted — it feeds both the totals and the final join, and
    alias differences defeat exchange reuse."""
    from lab3_spark.functions.partitioning import persist_latest

    cm = persist_latest(
        "textstats.lang_confusion.cm",
        lang_id(documents)
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs")),
    )
    tot = cm.groupBy("lang").agg(F.sum("n_docs").alias("_tot"))
    return (
        cm.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.expr(f"CAST(n_docs * {10**6} DIV _tot AS BIGINT)").alias(
                "share_fp"
            ),
        )
        .orderBy("lang", "pred_lang")
    )


ZIPF_LOG_FP = 10_000  # log fixed-point: small enough that Σ xf·yf
# stays in int64 even at a 10^8-type vocabulary (xf,yf ≤ 2·10^5)


def zipf_fit(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row (n_types, n_tokens, slope_fp, r2_fp): least-squares fit
    of ln(count) against ln(rank) over the corpus vocabulary — Zipf's
    law says natural text lands near slope −1, so the slope is a
    corpus-health diagnostic (templated/synthetic text bends it) next
    to source_token_entropy.

    Determinism contract (the entropy/OLS patterns composed): the ONLY
    float step is one ln() per DISTINCT term for x = ln(rank) and
    y = ln(cnt), each immediately floored to ·10⁴ fixed point; the
    five regression moments are then exact bigint sums, and slope/R²
    are assembled from them in ONE double expression (moments cast to
    double BEFORE multiplying — the ab_ztest overflow contract).

    Scale: the corpus shuffles once into the (term, cnt) hash agg
    (map-side combined); ranking the vocab-sized frame uses the
    distributed range-partitioned row number (operators/rank.py) —
    no single-partition window even at web-scale vocabularies."""
    from lab3_spark.operators.rank import (
        drop_rank_internals,
        with_global_row_number,
    )

    wc = (
        spread(documents)
        .select(F.explode(tokenize(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .withColumn("neg", -F.col("cnt"))
    )
    ranked = drop_rank_internals(
        with_global_row_number(
            wc, ["neg", "term"], out_col="rank", memo_key="textstats.zipf"
        )
    )
    xf = F.floor(F.log(F.col("rank").cast("double")) * ZIPF_LOG_FP).cast("bigint")
    yf = F.floor(F.log(F.col("cnt").cast("double")) * ZIPF_LOG_FP).cast("bigint")
    mom = ranked.select(
        xf.alias("x"), yf.alias("y"), F.col("cnt")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("n_tokens"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    denx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    deny = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    slope_fp = F.when(
        denx > 0, F.floor(num / denx * 1_000_000).cast("bigint")
    ).otherwise(F.lit(0).cast("bigint"))
    r2_fp = F.when(
        (denx > 0) & (deny > 0),
        F.floor(num * num / (denx * deny) * 1_000_000).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return mom.select(
        F.col("n").alias("n_types"),
        "n_tokens",
        slope_fp.alias("slope_fp"),
        r2_fp.alias("r2_fp"),
    )


def source_token_gini(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """One row (n_sources, total_tokens, gini_fp): Gini coefficient of
    token mass across sources — the corpus-concentration audit ("is
    the training mix dominated by two crawls?") next to the mixture
    weights (prescriptive) and source entropy (per-source internal
    diversity).  G = Σ_i (2i − n − 1)·m_i / (n · Σm) over sources
    sorted ascending by mass; 0 = perfectly even, → 1 = one source
    holds everything.

    One token-count agg to the |sources|-row frame; the rank window is
    over that metadata-scale frame; the Gini numerator is an exact
    bigint sum (masses ≤ total tokens; (2i−n−1) ≤ 2·|sources|), and
    the single division runs floor-on-double."""
    masses = (
        spread(documents)
        .select("source", F.size(tokenize(text_col)).cast("bigint").alias("m"))
        .groupBy("source")
        .agg(F.sum("m").alias("m"))
    )
    from pyspark.sql.window import Window

    ranked = masses.withColumn(
        "i",
        F.row_number().over(
            Window.partitionBy(one_window_partition()).orderBy("m", "source")
        ),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("m").alias("t"),
        F.sum(
            (2 * F.col("i") - F.lit(1)) * F.col("m")
        ).alias("wsum"),  # Σ(2i−1)m_i; subtract n·Σm below
    )
    gini = (
        (F.col("wsum") - F.col("n") * F.col("t")).cast("double")
        / (F.col("n") * F.col("t")).cast("double")
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_sources"),
        F.col("t").cast("bigint").alias("total_tokens"),
        F.floor(gini * 1_000_000).cast("bigint").alias("gini_fp"),
    )


def vocab_coverage_curve(
    documents: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (1, 2, 4, 8, 16, 32, 64, 128, 256),
) -> DataFrame:
    """(k, words_used, coverage_fp): fraction of all token OCCURRENCES
    covered by the top-k most frequent words — the vocabulary-
    truncation curve a tokenizer designer reads before fixing a vocab
    size ("how much of the corpus do the first k types buy me?").

    One tokenize scan folds to the vocabulary-scale count table; the
    rank window and the k-ladder cross join run over that metadata-
    scale frame only (|V| × |ks| rows), so at 100 TB the cost is the
    scan + one word-count shuffle — the word_count plan with a curve
    on top.  coverage_fp is an exact bigint ratio (Σ top-k counts ·
    10⁶ DIV Σ all counts)."""
    from pyspark.sql.window import Window

    counts = (
        spread(documents)
        .select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from lab3_spark.functions.partitioning import persist_latest

    # vocabulary-scale; probed once per ladder step + once for the total
    ranked = persist_latest(
        "textstats.vocab_curve.ranked",
        counts.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy(one_window_partition()).orderBy(
                    F.desc("cnt"), F.asc("word")
                )
            ),
        ),
    )
    total = ranked.agg(F.sum("cnt").alias("t"))
    ladder = F.explode(F.array(*[F.lit(k) for k in ks])).alias("k")
    return (
        ranked.select("rk", "cnt", ladder)
        .where(F.col("rk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("words_used"),
            F.sum("cnt").alias("s"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            F.col("k").cast("bigint").alias("k"),
            F.col("words_used").cast("bigint").alias("words_used"),
            F.expr(f"CAST(s * {10**6} DIV t AS BIGINT)").alias(
                "coverage_fp"
            ),
        )
        .orderBy("k")
    )


def bpe_merge_candidates(
    documents: DataFrame, text_col: str = "text", k: int = 20
) -> DataFrame:
    """(pair, cnt, rnk): the top-k adjacent CHARACTER pairs by corpus
    frequency — the ranking the first BPE merge iteration (Sennrich et
    al. 2016) is chosen from, weighted by word occurrence counts.

    The corpus scan folds to the vocabulary-scale word-count table
    FIRST; the char-pair explode runs over vocabulary types (weighted
    by their counts), never over token occurrences — at 100 TB the
    pair stage is metadata-scale no matter how big the corpus.  Words
    are pre-filtered to length ≥ 2 BEFORE the pair transform: Spark's
    sequence(1, 0) yields a DESCENDING [1, 0] rather than an empty
    array, so 1-char words would fabricate pairs."""
    from pyspark.sql.window import Window

    words = (
        spread(documents)
        .select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .where(F.length("word") >= 2)
    )
    pairs = (
        words.select(
            "wcnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> substring(word, i, 2))"
                )
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("wcnt").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(k)
    )
    # rnk over the k survivors only (post-limit, metadata scale)
    return pairs.select(
        "pair",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.row_number()
        .over(
            Window.partitionBy(one_window_partition()).orderBy(
                F.desc("cnt"), F.asc("pair")
            )
        )
        .alias("rnk"),
    ).orderBy("rnk")


def bpe_merges(
    documents: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """(it, pair, cnt): the merge chosen at each of ``k`` BPE rounds
    (Sennrich et al. 2016) — ``pair`` is the space-separated symbol
    pair ("t h", then later e.g. "th e") and ``cnt`` its corpus
    frequency at selection time, weighted by word occurrence counts.
    Iterates the full algorithm, not just the first round that
    :func:`bpe_merge_candidates` seeds.

    Scale design: the corpus folds ONCE to the vocabulary-scale
    (word, wcnt) type table; every round's pair count and merge apply
    run over word TYPES — metadata-scale regardless of corpus size,
    the same argument as :func:`bpe_merge_candidates`.  Per round: one
    groupBy over the type table plus a 1-ROW driver collect of the
    argmax pair (the kmeans-centroid pattern — bounded, documented).

    Segmentations are strings of WRAPPED symbols — ``|a||b||c|``, each
    symbol carrying its own leading AND trailing delimiter ('|' cannot
    occur in [a-z']+ tokens).  That encoding makes ONE plain
    ``replace(seg, '|a||b|', '|ab|')`` pass exactly the standard
    greedy left-to-right merge: a match can only start at a symbol
    boundary, and consuming a match never eats the next symbol's
    leading delimiter (the failure mode of space-separated encodings,
    where " a a " steals the middle space and odd runs under-merge).
    Identical `replace` semantics in Spark and DuckDB — the oracle
    runs the same algorithm.  Pinned against a pure-Python greedy
    reference in tests, pathological same-char runs included.  Each
    round's frame is persisted under a per-iteration key (the
    components.py discipline), so the next round's pair count and
    merge read it without re-running the earlier rounds.

    Ties break (cnt DESC, pair ASC) — deterministic, mirrored in the
    oracle.  Stops early if no pair remains (every word fully merged).
    """
    rows, _ = _bpe_loop(documents, text_col, k)
    return documents.sparkSession.createDataFrame(
        rows, "it bigint, pair string, cnt bigint"
    )


def _bpe_loop(
    documents: DataFrame, text_col: str, k: int
) -> tuple[list[tuple[int, str, int]], DataFrame]:
    """The shared BPE engine behind :func:`bpe_merges` and
    :func:`bpe_apply_compression`: returns (chosen merges, the FINAL
    (wcnt, seg) segmentation frame after all of them applied)."""
    from lab3_spark.functions.partitioning import persist_latest

    words = (
        spread(documents)
        .select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .where(F.length("word") >= 2)
    )
    seg = words.select(
        "wcnt",
        F.concat(
            F.lit("|"), F.array_join(F.split("word", ""), "||"), F.lit("|")
        ).alias("seg"),
    )
    rows: list[tuple[int, str, int]] = []
    for it in range(1, k + 1):
        seg = persist_latest(f"textstats.bpe.seg_k{k}_it{it}", seg)
        pairs = (
            seg.select(
                "wcnt",
                F.split(F.expr("trim(BOTH '|' FROM seg)"), "\\|\\|").alias(
                    "syms"
                ),
            )
            .where(F.size("syms") >= 2)
            .select(
                "wcnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> concat(syms[i-1], ' ', syms[i]))"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("wcnt").cast("bigint").alias("cnt"))
        )
        # 1-row argmax collect per round — metadata-scale by design
        best = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).collect()
        if not best:
            break
        pair, cnt = best[0]["pair"], int(best[0]["cnt"])
        rows.append((it, pair, cnt))
        a, b = pair.split(" ")
        seg = seg.select(
            "wcnt",
            F.replace(
                F.col("seg"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")
            ).alias("seg"),
        )
    return rows, seg


def _grouped_pair_argmax(pairs: DataFrame) -> DataFrame:
    """(source, pair, cnt): per-source best merge pair — max cnt, ties
    to the lexicographically smallest pair — as a single COMBINABLE
    ``min_by`` aggregate over the (source, pair, cnt) frame.  The
    struct ordering (-cnt, pair) encodes (cnt DESC, pair ASC) so one
    declarative agg replaces the row_number window; min_by partials
    combine map-side, so a hot source collapses to one row per input
    partition before the shuffle (the skew property the window
    lacked).  Plan-pinned window-free by tests/test_round12_plans."""
    return (
        pairs.groupBy("source")
        .agg(
            F.min_by(
                F.struct("pair", "cnt"),
                F.struct(
                    (-F.col("cnt")).alias("neg_cnt"),
                    F.col("pair").alias("pair"),
                ),
            ).alias("_best")
        )
        .select(
            "source",
            F.col("_best.pair").alias("pair"),
            F.col("_best.cnt").alias("cnt"),
        )
    )


def grouped_bpe_merges(
    documents: DataFrame,
    text_col: str = "text",
    k: int = 4,
    group_col: str = "source",
) -> DataFrame:
    """(source, it, pair, cnt): :func:`bpe_merges` PER SOURCE — each
    source learns its own merge table, k rounds of the same wrapped-
    symbol greedy loop.  The per-domain vocabulary-induction view: two
    sources whose first merges diverge tokenize differently enough
    that a shared vocabulary taxes one of them (the fertility
    diagnostic's upstream cause).

    Scale: the corpus folds once to the (source, word TYPE) table;
    every round's pair count and argmax run over that vocabulary-scale
    frame (per-source pair tables are type-bounded regardless of
    corpus size — the scalar loop's argument, once per group).  Per
    round: ONE #sources-row driver collect (the kmeans-centroid
    pattern, metadata-scale) and one broadcast merges join; the
    per-source argmax is a ``min_by(struct(pair, cnt), struct(-cnt,
    pair))`` COMBINABLE aggregate — NOT a row_number window.  A window
    partitioned by source would send every pair row of a hot source to
    one unsplittable task each round (the iterated cousin of the
    exact-dedup hot-fingerprint window retired in round 11); the agg
    map-side combines each partition to one candidate per source
    before the shuffle, so a source with a billion-token vocabulary
    costs the shuffle one row per input partition (VERDICT r11 item
    3).  Ties break (cnt DESC, pair ASC) via the (-cnt, pair) struct
    ordering, mirrored in the oracle's unrolled per-source CTE rounds.
    A source whose words are fully merged simply stops contributing
    rows (LEFT join keeps its segmentation frozen), identically in
    both engines."""
    from lab3_spark.functions.partitioning import persist_latest

    spark = documents.sparkSession
    words = (
        spread(documents)
        .select(
            F.col(group_col).alias("source"),
            F.explode(tokenize(text_col)).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .where(F.length("word") >= 2)
    )
    seg = words.select(
        "source",
        "wcnt",
        F.concat(
            F.lit("|"), F.array_join(F.split("word", ""), "||"), F.lit("|")
        ).alias("seg"),
    )
    out_rows: list[tuple[str, int, str, int]] = []
    for it in range(1, k + 1):
        seg = persist_latest(f"textstats.bpe_grouped.seg_k{k}_it{it}", seg)
        pairs = (
            seg.select(
                "source",
                "wcnt",
                F.split(F.expr("trim(BOTH '|' FROM seg)"), "\\|\\|").alias(
                    "syms"
                ),
            )
            .where(F.size("syms") >= 2)
            .select(
                "source",
                "wcnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> concat(syms[i-1], ' ', syms[i]))"
                    )
                ).alias("pair"),
            )
            .groupBy("source", "pair")
            .agg(F.sum("wcnt").cast("bigint").alias("cnt"))
        )
        best = _grouped_pair_argmax(pairs)
        # #sources-row argmax collect per round — metadata-scale
        rows = best.collect()
        if not rows:
            break
        out_rows += [
            (r["source"], it, r["pair"], int(r["cnt"])) for r in rows
        ]
        merges = spark.createDataFrame(
            [
                (r["source"], *r["pair"].split(" ", 1))
                for r in rows
            ],
            "source string, a string, b string",
        )
        seg = seg.join(F.broadcast(merges), "source", "left").select(
            "source",
            "wcnt",
            F.when(
                F.col("a").isNotNull(),
                F.replace(
                    F.col("seg"),
                    F.concat(
                        F.lit("|"), F.col("a"), F.lit("||"), F.col("b"),
                        F.lit("|"),
                    ),
                    F.concat(F.lit("|"), F.col("a"), F.col("b"), F.lit("|")),
                ),
            )
            .otherwise(F.col("seg"))
            .alias("seg"),
        )
    return spark.createDataFrame(
        sorted(out_rows), "source string, it bigint, pair string, cnt bigint"
    ).orderBy("source", "it")


def bpe_apply_compression(
    documents: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """One row (n_merges, n_tokens, total_chars, total_symbols,
    chars_per_symbol_fp): apply the ``k`` learned BPE merges back to
    the corpus and measure the compression a tokenizer built from this
    vocabulary would achieve — the acceptance metric of vocabulary
    induction (more merges → fewer, longer symbols → higher
    chars/symbol).

    Runs the same metadata-scale type-table loop as :func:`bpe_merges`
    (shared ``_bpe_loop``), then ONE aggregate over the final
    segmentation frame: symbols per word = size(split(seg)), weighted
    by word occurrence counts; 1-char words (excluded from merge
    LEARNING — they have no pairs) re-enter the corpus totals as
    single-symbol tokens.  chars_per_symbol_fp = total_chars·10⁶ DIV
    total_symbols."""
    merges, seg = _bpe_loop(documents, text_col, k)
    words1 = (
        spread(documents)
        .select(F.explode(tokenize(text_col)).alias("word"))
        .where(F.length("word") == 1)
        .agg(
            F.coalesce(F.sum(F.lit(1)), F.lit(0)).cast("bigint").alias("n1"),
        )
    )
    stats = seg.select(
        "wcnt",
        F.size(
            F.split(F.expr("trim(BOTH '|' FROM seg)"), "\\|\\|")
        ).alias("n_syms"),
        (F.length(F.expr("replace(seg, '|', '')"))).alias("n_chars"),
    ).agg(
        F.sum("wcnt").cast("bigint").alias("nw"),
        F.sum(F.col("wcnt") * F.col("n_syms")).cast("bigint").alias("ns"),
        F.sum(F.col("wcnt") * F.col("n_chars")).cast("bigint").alias("nc"),
    )
    return (
        stats.crossJoin(F.broadcast(words1))
        .select(
            F.lit(len(merges)).cast("bigint").alias("n_merges"),
            (F.col("nw") + F.col("n1")).alias("n_tokens"),
            (F.col("nc") + F.col("n1")).alias("total_chars"),
            (F.col("ns") + F.col("n1")).alias("total_symbols"),
            F.expr(
                "CAST((nc + n1) * 1000000 DIV (ns + n1) AS BIGINT)"
            ).alias("chars_per_symbol_fp"),
        )
    )


def quality_kappa(
    documents: DataFrame, text_col: str = "text", threshold: float = 0.5
) -> DataFrame:
    """One row (n11, n10, n01, n00, po_fp, pe_fp, kappa_fp): Cohen's
    kappa between the engine's two independent quality raters — the
    composite heuristic score (rater A: quality ≥ threshold) and the
    Gopher rule conjunction (rater B: gopher_pass) — chance-corrected
    agreement, the standard answer to "do my filters even agree, or is
    their overlap what coin flips would give?".

    Everything integer-exact from the 2×2 contingency counts:
    kappa = (N·(n11+n00) − (a1·b1 + a0·b0)) / (N² − (a1·b1 + a0·b0)),
    fixed-pointed with sign-symmetric truncation (Spark DIV truncates
    toward zero, DuckDB // floors — they differ on negatives, so the
    negative branch divides the negated numerator; kappa CAN be
    negative when raters disagree more than chance).  Two scan-speed
    feature passes joined on doc_id (co-partitioned corpus-scale
    equi-join), then one 1-row agg."""
    a = quality_score(documents, text_col).select(
        "doc_id", (F.col("quality") >= threshold).alias("ra")
    )
    b = gopher_quality(documents, text_col).select(
        "doc_id", F.col("gopher_pass").alias("rb")
    )
    t = a.join(b, "doc_id")
    c = t.agg(
        F.sum(F.when(F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
        F.sum(F.when(F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when(~F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
        F.sum(F.when(~F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
    )
    n = F.col("n11") + F.col("n10") + F.col("n01") + F.col("n00")
    a1 = F.col("n11") + F.col("n10")
    b1 = F.col("n11") + F.col("n01")
    a0 = F.col("n01") + F.col("n00")
    b0 = F.col("n10") + F.col("n00")
    agree = F.col("n11") + F.col("n00")
    chance = a1 * b1 + a0 * b0
    num = n * agree - chance
    den = n * n - chance
    fp = F.lit(1_000_000).cast("bigint")
    # sign-symmetric fixed-point division, mirrored in the oracle
    kappa_fp = F.when(den == 0, fp).otherwise(
        F.when(
            num >= 0,
            F.expr(
                "CAST(((n11+n10+n01+n00)*(n11+n00)"
                " - ((n11+n10)*(n11+n01)+(n01+n00)*(n10+n00)))"
                " * 1000000 DIV ((n11+n10+n01+n00)*(n11+n10+n01+n00)"
                " - ((n11+n10)*(n11+n01)+(n01+n00)*(n10+n00)))"
                " AS BIGINT)"
            ),
        ).otherwise(
            -F.expr(
                "CAST((((n11+n10)*(n11+n01)+(n01+n00)*(n10+n00))"
                " - (n11+n10+n01+n00)*(n11+n00))"
                " * 1000000 DIV ((n11+n10+n01+n00)*(n11+n10+n01+n00)"
                " - ((n11+n10)*(n11+n01)+(n01+n00)*(n10+n00)))"
                " AS BIGINT)"
            )
        )
    )
    po_fp = F.expr(
        "CAST((n11+n00) * 1000000 DIV (n11+n10+n01+n00) AS BIGINT)"
    )
    pe_fp = F.expr(
        "CAST(((n11+n10)*(n11+n01)+(n01+n00)*(n10+n00)) * 1000000"
        " DIV ((n11+n10+n01+n00)*(n11+n10+n01+n00)) AS BIGINT)"
    )
    return c.select(
        "n11",
        "n10",
        "n01",
        "n00",
        po_fp.alias("po_fp"),
        pe_fp.alias("pe_fp"),
        kappa_fp.alias("kappa_fp"),
    )


def source_vocab_overlap(
    documents: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(source_a, source_b, v_a, v_b, v_inter, jaccard_fp): vocabulary
    Jaccard between every source pair — the redundancy audit a mixture
    designer reads next to the mixing weights ("are crawl-7 and
    crawl-12 the same corpus wearing two names?").

    The corpus folds to the (source, word) DISTINCT table first (one
    shuffle, vocabulary×sources scale); the pair join is a word-keyed
    self-equi-join of that metadata-scale table (never corpus²), and
    the |sources|² result is tiny.  jaccard_fp is exact bigint."""
    sv = (
        spread(documents)
        .select("source", F.explode(tokenize(text_col)).alias("word"))
        .distinct()
    )
    from lab3_spark.functions.partitioning import persist_latest

    sv = persist_latest("textstats.vocab_overlap.sv", sv)
    sizes = sv.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = sv.select(F.col("source").alias("source_a"), "word")
    b = sv.select(F.col("source").alias("source_b"), "word")
    inter = (
        a.join(b, "word")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("v_inter"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("v").alias("v_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("v").alias("v_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("v_a").cast("bigint").alias("v_a"),
            F.col("v_b").cast("bigint").alias("v_b"),
            F.col("v_inter").cast("bigint").alias("v_inter"),
            F.expr(
                f"CAST(v_inter * {10**6} DIV (v_a + v_b - v_inter)"
                " AS BIGINT)"
            ).alias("jaccard_fp"),
        )
        .orderBy("source_a", "source_b")
    )


def length_ks_test(
    documents: DataFrame,
    source_a: str = "src0",
    source_b: str = "src1",
    value_col: str = "n_chars",
) -> DataFrame:
    """One row (n_a, n_b, d_num, d_fp): two-sample Kolmogorov-Smirnov
    distance between the ``value_col`` distributions of two sources —
    the distribution-drift audit ("is crawl A's length profile the
    same population as crawl B's?") next to the mean-level tests
    (ANOVA, Mann-Whitney).

    Exact integers: D = max_v |F_a(v) − F_b(v)| over the pooled value
    grid = max |cum_a(v)·n_b − cum_b(v)·n_a| / (n_a·n_b) — numerator
    and denominator kept separately, d_fp = d_num·10⁶ DIV (n_a·n_b).
    One groupBy to the distinct-value histogram; document lengths are
    a BOUNDED domain (hundreds of distinct values at any corpus size),
    so the cumulative window over that frame is metadata-scale — the
    literal partitionBy keeps the single-task plan without the
    all-to-one-partition warning.  (For an unbounded value domain use
    the mannwhitney_u shape: distributed running sum.)"""
    from pyspark.sql.window import Window

    hist = (
        documents.where(F.col("source").isin(source_a, source_b))
        .groupBy(value_col)
        .agg(
            F.sum(F.when(F.col("source") == source_a, 1).otherwise(0))
            .cast("bigint")
            .alias("ca"),
            F.sum(F.when(F.col("source") == source_b, 1).otherwise(0))
            .cast("bigint")
            .alias("cb"),
        )
    )
    from lab3_spark.functions.partitioning import persist_latest

    w = (
        Window.partitionBy(one_window_partition())
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # persisted: probed once for the totals and once for the deviation
    cum = persist_latest(
        "textstats.ks.cum",
        hist.select(
            F.sum("ca").over(w).alias("cum_a"),
            F.sum("cb").over(w).alias("cum_b"),
        ),
    )
    totals = cum.agg(
        F.max("cum_a").alias("ta"), F.max("cum_b").alias("tb")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max("cum_a").cast("bigint").alias("n_a"),
            F.max("cum_b").cast("bigint").alias("n_b"),
            F.max(
                F.abs(
                    F.col("cum_a") * F.col("tb")
                    - F.col("cum_b") * F.col("ta")
                )
            )
            .cast("bigint")
            .alias("d_num"),
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            # an empty side makes D undefined — NULL, not a zero-division
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.expr("CAST(d_num * 1000000 DIV (n_a * n_b) AS BIGINT)"),
            ).alias("d_fp"),
        )
    )


def ngram_novelty(
    documents: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """One row (n_test_grams, n_novel, novelty_fp): fraction of the
    TEST split's distinct word n-grams never seen in the TRAIN split —
    the memorization/generalization audit run before trusting held-out
    perplexity (a test set whose n-grams are all in train measures
    recall, not generalization).  Splits are the engine's deterministic
    90/5/5 md5 split (sampling.dataset_split_manifest), so the audit
    is re-derivable anywhere.

    Shape: ONE scan and ONE shuffle — each gram occurrence carries its
    split flag, a single groupBy(gram) folds to (gram, in_train,
    in_test) with map-side partial max (the shuffle carries distinct
    grams only), and the novelty counts are one combinable agg over
    that table.  The per-side-distinct + anti-join alternative costs
    two corpus tokenizations and three shuffles (local[32] wall-time
    is shuffle-latency-bound so the gap barely shows at sf0.1, but at
    cluster scale the saved scan + two shuffles are the dominant
    cost)."""
    from lab3_spark.functions.text import md5_long

    h = md5_long(F.col("doc_id").cast("string"), salt="split") % 100
    grams = documents.select(
        h.alias("h"),
        F.explode(_word_ngrams(tokenize(text_col), n)).alias("gram"),
    )
    flags = grams.groupBy("gram").agg(
        F.max(F.when(F.col("h") < 90, 1).otherwise(0)).alias("in_train"),
        F.max(F.when(F.col("h") >= 95, 1).otherwise(0)).alias("in_test"),
    )
    counts = flags.agg(
        F.sum("in_test").alias("n_test_grams"),
        F.sum(
            F.when((F.col("in_test") == 1) & (F.col("in_train") == 0), 1)
            .otherwise(0)
        ).alias("n_novel"),
    )
    return counts.select(
        F.col("n_test_grams").cast("bigint").alias("n_test_grams"),
        F.col("n_novel").cast("bigint").alias("n_novel"),
        F.when(F.col("n_test_grams") > 0, F.expr(
            "CAST(n_novel * 1000000 DIV n_test_grams AS BIGINT)"
        )).otherwise(F.lit(0).cast("bigint")).alias("novelty_fp"),
    )


def substring_contamination(
    documents: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, n_grams, n_hit, max_run_tokens) per TEST-split doc:
    the exact-substring contamination audit — the longest CONSECUTIVE
    run of positional word n-grams that all appear somewhere in TRAIN,
    reported in tokens (run_len + n − 1).  ngram_novelty answers "what
    fraction of test grams are novel" corpus-wide; this answers the
    per-document question an eval-decontamination pass actually asks:
    "does this test document share a ≥13-token verbatim span with
    training data?" (the classic 13-gram rule is max_run_tokens ≥ 13).

    Shape: positional grams for the 5% test slice, a map-side-distinct
    TRAIN gram table, one semi-join on the gram (the irreducible
    membership probe), then the gaps-and-islands fold (pos −
    row_number per doc) to maximal runs.  The islands window is
    per-document — bounded by document length, the per-entity window
    class (sessionize, rolling revenue), never corpus-wide.  Docs with
    fewer than n tokens have no grams and no row, in both engines."""
    from pyspark.sql.window import Window

    from lab3_spark.functions.text import md5_long

    h = md5_long(F.col("doc_id").cast("string"), salt="split") % 100
    base = spread(documents).select(
        "doc_id",
        h.alias("h"),
        F.posexplode(_word_ngrams(tokenize(text_col), n)).alias(
            "pos", "gram"
        ),
    )
    from lab3_spark.functions.partitioning import persist_latest

    train_grams = base.where(F.col("h") < 90).select("gram").distinct()
    # persist the 5% TEST slice: its positional grams feed both the
    # membership probe and the per-doc totals — without the persist
    # each consumer re-tokenizes the corpus (the slice is 5% of token
    # occurrences, cheap to hold; the 90% train side stays one
    # straight scan into the map-side-distinct aggregate)
    test_grams = persist_latest(
        "textstats.substr_contam.test_grams",
        base.where(F.col("h") >= 95).select("doc_id", "pos", "gram"),
    )
    hits = test_grams.join(train_grams, "gram", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    per = test_grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    hs = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    mr = runs.groupBy("doc_id").agg(F.max("run_len").alias("max_run"))
    return (
        per.join(hs, "doc_id", "left")
        .join(mr, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
            F.coalesce(F.col("max_run") + (n - 1), F.lit(0))
            .cast("bigint")
            .alias("max_run_tokens"),
        )
        .orderBy("doc_id")
    )


def quality_pr_curve(
    documents: DataFrame,
    text_col: str = "text",
    thresholds_fp: tuple[int, ...] = (
        3000, 3500, 4000, 4500, 5000, 5500, 6000, 6500, 7000,
    ),
) -> DataFrame:
    """(t_fp, n_tp, n_fp, n_fn, n_tn, precision_fp, recall_fp): the
    precision/recall sweep of the composite quality score (≥ t)
    against the Gopher rule conjunction as ground truth — the curve
    behind quality_kappa's single point, read before picking a
    filtering threshold.  Thresholds are fixed-point (×10⁴, matching
    the truncated score).

    One pass computes both raters (the kappa join), the ladder explode
    multiplies only the tiny (doc, bool, score) projection, and each
    threshold folds to one row — corpus-scan + |ladder| combinable
    aggs.  Degenerate denominators (no predicted / no actual
    positives) emit 10⁶ by the same convention as kappa.

    The score is fixed-pointed as floor(raw_blend · 10⁴) DIRECTLY —
    not trunc-to-4-decimals then re-multiply, whose float round trip
    (m/10⁴·10⁴ can land at m − ulp) truncates differently under
    Spark's cast (toward zero) vs DuckDB's (round-to-nearest)."""
    q = spread(documents).select(
        "doc_id",
        F.floor(quality_expr(text_col) * 10_000).cast("bigint").alias("qfp"),
    )
    g = gopher_quality(documents, text_col).select(
        "doc_id", F.col("gopher_pass").alias("actual")
    )
    ladder = F.explode(
        F.array(*[F.lit(t) for t in thresholds_fp])
    ).alias("t_fp")
    t = q.join(g, "doc_id").select("qfp", "actual", ladder)
    pred = F.col("qfp") >= F.col("t_fp")
    c = t.groupBy("t_fp").agg(
        F.sum(F.when(pred & F.col("actual"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_tp"),
        F.sum(F.when(pred & ~F.col("actual"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_fp"),
        F.sum(F.when(~pred & F.col("actual"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_fn"),
        F.sum(F.when(~pred & ~F.col("actual"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_tn"),
    )
    million = F.lit(1_000_000).cast("bigint")
    return c.select(
        F.col("t_fp").cast("bigint").alias("t_fp"),
        "n_tp",
        "n_fp",
        "n_fn",
        "n_tn",
        F.when(
            F.col("n_tp") + F.col("n_fp") > 0,
            F.expr("CAST(n_tp * 1000000 DIV (n_tp + n_fp) AS BIGINT)"),
        ).otherwise(million).alias("precision_fp"),
        F.when(
            F.col("n_tp") + F.col("n_fn") > 0,
            F.expr("CAST(n_tp * 1000000 DIV (n_tp + n_fn) AS BIGINT)"),
        ).otherwise(million).alias("recall_fp"),
    ).orderBy("t_fp")


def source_ks_matrix(
    documents: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
) -> DataFrame:
    """(src_a, src_b, n_a, n_b, d_num, d_fp) for every UNORDERED source
    pair (src_a < src_b): the two-sample Kolmogorov-Smirnov distance
    between each pair's value distributions — the full drift MATRIX
    behind length_ks_test's single pair, the "which pairs of my 20
    sources disagree" screen.

    All m·(m−1)/2 statistics priced by ONE corpus scan: the (value,
    source) histogram densifies to a |Y|×m CDF grid (distinct values ×
    broadcast m-row source list, zeros filled), per-source CDFs come
    from the GROUPED distributed prefix sum, and the pairwise max
    deviation is a y-equi self-join of the grid (|Y|·m² rows — linear
    in distinct values, quadratic only in the metadata-scale source
    count) into one groupBy(src_a, src_b) max.  Exact integers
    throughout: d_num = max|cum_a·n_b − cum_b·n_a|, one division at
    the end (cum·n ≤ n² — bigint-safe)."""
    from lab3_spark.functions.partitioning import persist_latest
    from lab3_spark.operators.rank import with_grouped_running_sum

    hist = persist_latest(
        "textstats.ks_matrix.hist",
        documents.select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("bigint").alias("y"),
        )
        .groupBy("y", "grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt")),
    )
    ys = hist.select("y").distinct()
    srcs = hist.select("grp").distinct()
    grid = (
        ys.crossJoin(F.broadcast(srcs))  # m-row side: metadata-scale
        .join(hist, ["y", "grp"], "left")
        .select(
            "y", "grp", F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt")
        )
    )
    cum = persist_latest(
        "textstats.ks_matrix.cum",
        with_grouped_running_sum(
            grid, ["grp"], ["y"], "cnt", out_col="cum",
            memo_key="textstats.ks_matrix",
        ).select("y", "grp", "cum"),
    )
    tot = hist.groupBy("grp").agg(F.sum("cnt").cast("bigint").alias("n"))
    a = cum.select(
        "y", F.col("grp").alias("src_a"), F.col("cum").alias("ca")
    )
    b = cum.select(
        "y", F.col("grp").alias("src_b"), F.col("cum").alias("cb")
    )
    ta = tot.select(F.col("grp").alias("src_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("grp").alias("src_b"), F.col("n").alias("n_b"))
    return (
        a.join(b, "y")
        .where(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .groupBy("src_a", "src_b")
        .agg(
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
            F.max(
                F.abs(
                    F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
                )
            )
            .cast("bigint")
            .alias("d_num"),
        )
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "d_num",
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.expr("CAST(d_num * 1000000 DIV (n_a * n_b) AS BIGINT)"),
            ).alias("d_fp"),
        )
        .orderBy("src_a", "src_b")
    )


def source_importance_ess(
    documents: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """(grp, n, ess_ratio_fp): the EFFECTIVE SAMPLE SIZE ratio of each
    source under DSIR importance weights — (Σw)²/(n·Σw²), the standard
    diagnostic for "if I importance-resample this source, how many
    docs do I effectively keep?" (1 = uniform weights, →0 = the weight
    mass sits on a few documents and resampling will collapse the
    source).  The go/no-go check before trusting any reweighted
    mixture.

    Weights are exp(mean log-ratio) from
    :func:`dsir_log_ratio_weights`, fixed-pointed per document
    (floor(exp(·)·10⁶) — one identical double op in both engines) so
    the group sums are EXACT integers (decimal(38,0)/HUGEINT; Σw² is
    the overflow risk a double sum would hide order-dependence in).
    Only documents with ≥1 hashed feature carry weights (empty docs
    drop, both engines).  One corpus scan via the dsir machinery + one
    doc_id equi-join + one combinable agg."""
    w = dsir_log_ratio_weights(documents, text_col=text_col)
    per = documents.select(
        "doc_id", F.col(group_col).alias("grp")
    ).join(w.select("doc_id", "mean_fp"), "doc_id")
    w_fp = F.floor(
        F.exp(F.col("mean_fp").cast("double") / 1_000_000) * 1_000_000
    ).cast("bigint")
    d38 = "decimal(38,0)"
    agg = per.select("grp", w_fp.alias("w")).groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("w").cast(d38)).alias("sw"),
        F.sum((F.col("w").cast(d38) * F.col("w"))).alias("sww"),
    )
    ess = F.expr(
        "CASE WHEN sww > 0 THEN CAST(FLOOR(CAST(sw * sw AS DOUBLE)"
        " * 1000000 / (CAST(n AS DOUBLE) * CAST(sww AS DOUBLE)))"
        " AS BIGINT) ELSE NULL END"
    )
    return agg.select("grp", "n", ess.alias("ess_ratio_fp")).orderBy("grp")
