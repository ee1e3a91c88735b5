"""Deterministic sampling and sequence packing for training pipelines.

Random sampling (`df.sample`) is non-reproducible across runs/engines —
useless for a data pipeline that must be audited or re-run to the same
result.  Everything here derives its randomness from the portable md5
hash (functions/text.py), so:

- the same row always lands in the same sample/split/bin,
- the DuckDB oracle recomputes the identical selection,
- at scale the decision is a pure per-row expression: no shuffle, no
  state, embarrassingly parallel (the sampling predicate pushes into
  the scan's data filters).

Sequence packing is the pretraining-batch shape: assign documents to
fixed token-budget bins greedily in a deterministic order.  One window
cumsum per group — a single shuffle on the group key, the same cost
class as any per-source aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lab3_spark.functions.partitioning import one_window_partition, spread
from lab3_spark.functions.text import md5_long, tokenize

SAMPLE_MOD = 1_000_000


def hash_keep(id_col: Column | str, fraction: float, salt: str = "sample") -> Column:
    """Deterministic keep-predicate: md5_long(salt|id) % 1e6 < fraction·1e6.

    Uniform because md5 is; deterministic because nothing else is
    involved.  The SQL oracle states the same arithmetic."""
    h = md5_long(F.col(id_col).cast("string") if isinstance(id_col, str) else id_col.cast("string"), salt=salt)
    return (h % SAMPLE_MOD) < int(fraction * SAMPLE_MOD)


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Reproducible row sample: WHERE on the hash predicate — a narrow
    per-row filter, no shuffle, no RNG state."""
    return df.where(hash_keep(id_col, fraction, salt))


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    salt: str = "strata",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (`sampleBy`'s reproducible
    twin): each stratum value gets its own keep-fraction; unlisted
    strata get `default_fraction`.  The per-row decision stays a pure
    expression — a CASE over the stratum column against the hash."""
    h = md5_long(F.col(id_col).cast("string"), salt=salt) % SAMPLE_MOD
    thresh: Column = F.lit(int(default_fraction * SAMPLE_MOD))
    for value, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == value, F.lit(int(frac * SAMPLE_MOD))
        ).otherwise(thresh)
    return df.where(h < thresh)


def pack_sequences(
    documents: DataFrame,
    budget: int = 512,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
    shard_width: int | None = None,
) -> DataFrame:
    """(doc_id, group, n_tokens, bin_id): greedy fixed-budget packing.

    Documents are laid end-to-end per group in deterministic id order;
    a document starts in bin floor(tokens_before_it / budget).  (A doc
    longer than the budget overflows its bin — the real pipeline would
    split it; bin assignment stays by start offset, the standard greedy
    approximation.)

    Scale contract (VERDICT r11 item 4).  Default path: one window
    cumsum per group = one shuffle on the group key; a group's whole
    doc list sorts in ONE task, fine while groups are modest (the
    sf catalogs' sources) but corpus/|groups| rows per task at 100 TB.
    ``shard_width`` is the sharded variant real pipelines use: ids are
    bucketed into MONOTONE ranges (shard = floor(id / shard_width) —
    order-preserving, so prefix sums decompose exactly), the running
    total becomes (sum of all EARLIER shards in the group, a
    #shards-row window joined back broadcast) + (within-shard window
    cumsum, ≤ shard_width docs per task).  Identical bin_ids to the
    default path — pinned by tests/test_round12_batch1 — with the hot
    task capped at shard_width rows regardless of corpus size.  Pick
    shard_width so one shard's docs fit a task comfortably (1e6 is a
    sane production default for dense ids)."""
    n_tokens = F.size(tokenize(text_col))
    base = documents.select(
        id_col, group_col, n_tokens.alias("n_tokens")
    )
    if shard_width is None:
        w = Window.partitionBy(group_col).orderBy(id_col)
        before = F.coalesce(
            F.sum("n_tokens").over(w) - F.col("n_tokens"), F.lit(0)
        )
        return base.withColumn("bin_id", F.floor(before / budget)).orderBy(
            group_col, id_col
        )
    # two-level exact prefix sum: monotone id-range shards.  The
    # bucketing needs a NUMERIC id (floor(id/width) on a string id
    # yields null shards under non-ANSI — and null keys never
    # equi-join, which would silently drop every row): fail loudly.
    from pyspark.sql.types import NumericType

    if int(shard_width) <= 0:
        raise ValueError(f"shard_width must be positive, got {shard_width}")
    id_type = documents.schema[id_col].dataType
    if not isinstance(id_type, NumericType):
        raise ValueError(
            f"shard_width requires a numeric {id_col!r} (got "
            f"{id_type.simpleString()}); use the default single-window "
            "path or a numeric surrogate id"
        )
    sharded = base.withColumn(
        "_shard", F.floor(F.col(id_col) / F.lit(int(shard_width)))
    )
    # per-(group, shard) totals -> running total of strictly-earlier
    # shards: #shards rows per group, metadata-scale window
    shard_tot = sharded.groupBy(group_col, "_shard").agg(
        F.sum("n_tokens").alias("_shard_tokens")
    )
    w_shard = Window.partitionBy(group_col).orderBy("_shard")
    shard_prefix = shard_tot.select(
        group_col,
        "_shard",
        F.coalesce(
            F.sum("_shard_tokens").over(w_shard) - F.col("_shard_tokens"),
            F.lit(0),
        ).alias("_before_shards"),
    )
    # within-shard cumsum: partitions bounded by shard_width docs
    w_in = Window.partitionBy(group_col, "_shard").orderBy(id_col)
    before = (
        F.col("_before_shards")
        + F.coalesce(
            F.sum("n_tokens").over(w_in) - F.col("n_tokens"), F.lit(0)
        )
    )
    return (
        sharded.join(
            F.broadcast(shard_prefix), [group_col, "_shard"]
        )
        .withColumn("bin_id", F.floor(before / budget))
        .select(id_col, group_col, "n_tokens", "bin_id")
        .orderBy(group_col, id_col)
    )


def stratified_fixed_sample(
    documents: DataFrame,
    n_per_stratum: int = 10,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "fixed",
) -> DataFrame:
    """(stratum, doc_id, rk): EXACTLY n rows per stratum (or all rows
    for smaller strata) — the balanced-evaluation-set allocation that
    fractional hash sampling can't promise.  Rows are ranked inside
    each stratum by portable hash of the id (tie → id), so membership
    is deterministic, engine-independent, and stable under
    repartitioning.  Cost: one window shuffle on the stratum key;
    strata are assumed many/modest-sized (eval sets) — a single giant
    stratum would hot-task the window, at which point fractional
    hash_sample is the right tool."""
    hv = md5_long(F.col(id_col).cast("string"), salt=salt)
    w = Window.partitionBy("stratum").orderBy(hv, F.col(id_col))
    return (
        spread(documents)
        .select(F.col(stratum_col).alias("stratum"), F.col(id_col))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n_per_stratum)
        .orderBy("stratum", "rk")
    )


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, chunk_id, n_chunk_tokens, chunk_text): split every
    document into consecutive fixed-token-count windows — the
    context-window pre-chunking step that feeds sequence packing (a
    doc longer than the training context must be CUT, not overflowed).

    Pure per-row explode of an in-row sequence: token array → chunk
    index range → slice + re-join.  No shuffle, scales at scan speed;
    output rows ≈ corpus tokens / chunk_tokens.  Empty documents yield
    no chunks.  The last chunk keeps the remainder (n_chunk_tokens ≤
    chunk_tokens)."""
    return chunk_documents_unordered(
        documents, chunk_tokens, text_col, id_col
    ).orderBy(id_col, "chunk_id")


def chunk_documents_unordered(
    documents: DataFrame,
    chunk_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`chunk_documents` without the presentation sort — the
    composition form for consumers that immediately aggregate or join
    (dedup.dedup_reassemble): a global sort feeding a shuffle is a
    wasted range exchange."""
    toks = tokenize(text_col)
    c = F.lit(chunk_tokens)
    n_chunks = F.ceil(F.size("toks") / c)
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(0).cast("bigint"), n_chunks - 1),
            lambda i: F.struct(
                i.alias("chunk_id"),
                F.least(c.cast("bigint"), F.size("toks") - i * c).alias(
                    "n_chunk_tokens"
                ),
                F.concat_ws(
                    " ", F.slice(F.col("toks"), (i * c + 1).cast("int"), chunk_tokens)
                ).alias("chunk_text"),
            ),
        )
    )
    return (
        spread(documents)
        .withColumn("toks", toks)
        .where(F.size("toks") > 0)
        .select(id_col, chunk.alias("ch"))
        .select(id_col, "ch.chunk_id", "ch.n_chunk_tokens", "ch.chunk_text")
    )


def token_budget_select(
    documents: DataFrame, budget: int = 10_000, text_col: str = "text"
) -> DataFrame:
    """(doc_id, quality, n_tokens, cum_tokens): the quality-ranked
    prefix of the corpus that fits a global token budget — "spend my
    n-token training budget on the best documents first", the
    selection step between scoring and packing in a curation pipeline.

    A document is kept iff the running token total INCLUDING it stays
    ≤ budget, walking docs by quality DESC (tie: doc_id ASC).  The
    running total is the DISTRIBUTED prefix sum
    (rank.with_global_running_sum) — the naive ``sum() OVER (ORDER BY
    quality)`` is a single-partition window, the 100 TB stall.  The
    quality score is truncated to the catalog's 1e-4 fixed point
    BEFORE ordering, so both engines walk the identical total order.
    """
    from lab3_spark.functions.rounding import trunc
    from lab3_spark.operators.rank import with_global_running_sum
    from lab3_spark.operators.textstats import quality_expr

    base = spread(documents).select(
        "doc_id",
        trunc(quality_expr(text_col), 4).alias("quality"),
        F.size(tokenize(text_col)).cast("bigint").alias("n_tokens"),
    ).withColumn("_negq", -F.col("quality"))
    cum = with_global_running_sum(
        base,
        ["_negq", "doc_id"],
        "n_tokens",
        out_col="cum_tokens",
        memo_key="sampling.token_budget_select",
    )
    return (
        cum.where(F.col("cum_tokens") <= budget)
        .select("doc_id", "quality", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    )


def source_mixing_weights(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, n_docs, n_tokens, raw_share, mix_weight, boost):
    temperature-scaled domain-mixture weights — the "how much of each
    source goes into the training mix" step (the public multinomial-
    smoothing recipe from GPT/LLaMA-style pipelines: sample source s
    with p(s) ∝ tokens(s)^α, α = 0.5, which up-weights small domains
    relative to raw token share).

    Exactness: tokens^0.5 is ONE IEEE sqrt per SOURCE (metadata
    scale), immediately fixed-pointed to bigint, so the normalizer Z
    is an integer sum — summation order cannot perturb it (the
    unigram_surprisal contract).  raw_share, mix_weight and the
    boost = mix_weight/raw_share are then identical double sequences
    in both engines, truncated for the hash.

    Scale shape: one combine-friendly groupBy(source) over the corpus;
    everything after operates on #sources rows.
    """
    from lab3_spark.functions.rounding import trunc

    per = (
        spread(documents)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(tokenize(text_col)).cast("bigint")).alias("n_tokens"),
        )
        .withColumn(
            "_s_fp",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000)
            .cast("bigint"),
        )
    )
    totals = per.agg(
        F.sum("n_tokens").alias("_tot_tokens"), F.sum("_s_fp").alias("_z")
    )
    raw_share = F.col("n_tokens").cast("double") / F.col("_tot_tokens")
    mix_weight = F.col("_s_fp").cast("double") / F.col("_z")
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            trunc(raw_share, 6).alias("raw_share"),
            trunc(mix_weight, 6).alias("mix_weight"),
            trunc(mix_weight / raw_share, 4).alias("boost"),
        )
        .orderBy("source")
    )


def per_source_token_budget(
    documents: DataFrame, budget: int = 500, text_col: str = "text"
) -> DataFrame:
    """(source, doc_id, quality, n_tokens, cum_tokens): quota
    selection — each SOURCE independently keeps its best-quality
    documents until its own token budget fills.  The stratified
    complement of :func:`token_budget_select`'s single global budget
    (domain caps are how real mixes prevent one giant crawl source
    from swallowing the whole budget).

    Scale shape (round-11 skew audit): the running sum is TWO-LEVEL,
    never a whole-source window — a whole-source ordered window puts
    corpus/|sources| rows in one task.  Level 1: per-(source, quality)
    token totals prefix-cumulated over the BOUNDED quality histogram
    (4-decimal grid → ≤ ~10k rows per source regardless of corpus
    size).  Level 2: a within-(source, quality) window ordered by
    doc_id adds the same-quality prefix — partitions are the quality
    CELLS, corpus/(|sources|·|grid|) in the worst case and tiny in
    practice.  cum = strictly-better-quality total + same-quality
    prefix, exactly the (quality DESC, doc_id ASC) walk, all bigint.
    """
    from lab3_spark.functions.rounding import trunc
    from lab3_spark.operators.textstats import quality_expr

    base = spread(documents).select(
        "doc_id",
        "source",
        trunc(quality_expr(text_col), 4).alias("quality"),
        F.size(tokenize(text_col)).cast("bigint").alias("n_tokens"),
    )
    per_val = base.groupBy("source", "quality").agg(
        F.sum("n_tokens").alias("_vt")
    )
    w_hist = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = per_val.select(
        "source",
        "quality",
        F.coalesce(F.sum("_vt").over(w_hist), F.lit(0)).alias("_prior"),
    )
    w_in = (
        Window.partitionBy("source", "quality")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        base.join(prior, ["source", "quality"])
        .withColumn(
            "cum_tokens",
            (F.col("_prior") + F.sum("n_tokens").over(w_in)).cast("bigint"),
        )
        .where(F.col("cum_tokens") <= budget)
        .select("source", "doc_id", "quality", "n_tokens", "cum_tokens")
        .orderBy("source", "doc_id")
    )


SPS_HASH_MOD = 1 << 30  # uniform u = (h30+1) / 2^30
SPS_SCALE = 1 << 48  # w_fp·2^48 ≤ 10001·2^48 < 2^63 — no int64 overflow


def weighted_sample_docs(
    documents: DataFrame, n: int = 50, text_col: str = "text"
) -> DataFrame:
    """(doc_id, quality_fp, priority, rnk): n documents sampled
    WITHOUT replacement with probability ∝ quality — Sequential
    Poisson sampling (Ohlsson 1998, public): priority q_i = w_i / u_i
    with u_i uniform in (0,1], keep the top n priorities.

    ALL-INTEGER: u_i derives from the portable md5 hash reduced to 30
    bits (deterministic, re-runnable, identical in the oracle), and
    the priority is the exact integer ``w_fp · 2^48 div (h30+1)`` —
    the scale chosen so the product fits int64 (w_fp ≤ 10001) while
    keeping ≥ 2^18 resolution at the low end.  No float anywhere, so
    rank boundaries cannot wobble on engine-libm differences; ties
    break by doc_id.  Weight = fixed-point quality + 1 (strictly
    positive).  Top-n plans as TakeOrderedAndProject.

    This is the weighted companion to `hash_sample`'s uniform
    deterministic sampling: quality-proportional subset selection for
    a training mix, auditable and reproducible by construction.
    """
    from pyspark.sql.window import Window

    from lab3_spark.functions.text import md5_long
    from lab3_spark.operators.textstats import quality_expr

    w_fp = (F.floor(quality_expr(text_col) * 10_000) + 1).cast("bigint")
    h1 = (
        md5_long(F.col("doc_id").cast("string"), salt="sps") % SPS_HASH_MOD
    ) + 1
    base = (
        spread(documents)
        .select("doc_id", w_fp.alias("quality_fp"), h1.alias("_h1"))
        .select(
            "doc_id",
            "quality_fp",
            F.expr(f"(quality_fp * CAST({SPS_SCALE} AS BIGINT)) div _h1")
            .cast("bigint")
            .alias("priority"),
        )
    )
    top = base.orderBy(F.desc("priority"), F.asc("doc_id")).limit(n)
    # The rank window runs over the post-limit frame — ≤ n rows by
    # construction, so a single-partition window is the CORRECT plan,
    # not a scale hazard.  partitionBy on a constant states that
    # intent to WindowExec (same execution, non-empty partition spec),
    # silencing the "No Partition Defined" warning every future
    # reader would otherwise have to re-audit.
    return top.select(
        "doc_id",
        "quality_fp",
        "priority",
        F.row_number()
        .over(
            Window.partitionBy(one_window_partition()).orderBy(
                F.desc("priority"), F.asc("doc_id")
            )
        )
        .alias("rnk"),
    ).orderBy("rnk")


def cluster_balanced_sample(
    embeddings: DataFrame,
    n_per_cell: int = 10,
    k: int = 8,
    n_iter: int = 3,
    salt: str = "cellbal",
) -> DataFrame:
    """(cl, vec_id, rk): EXACTLY ``n_per_cell`` vectors per TRAINED
    k-means cell, ranked by portable hash (tie → vec_id) — the
    cluster-diversity subsample: a topic-balanced eval/train subset
    where strata come from the corpus's own embedding geometry instead
    of a metadata column (the curation step after SemDeDup prunes
    within cells).

    Scale shape: with small k each cell is a HUGE fraction of the
    corpus, so the `stratified_fixed_sample` window would hot-task on
    every cell; `rank.top_n_per_key`'s salted two-stage ranking bounds
    every task at ~cell/n_salts rows while staying row-for-row equal
    to the single-window form (which is what the oracle runs).  The
    quantizer is `kmeans_assign` — the same trained cells as the
    IVF/SemDeDup gate family."""
    from lab3_spark.operators.kmeans import kmeans_assign
    from lab3_spark.operators.rank import top_n_per_key

    cells = kmeans_assign(embeddings, k, n_iter).select("vec_id", "cl")
    hv = md5_long(F.col("vec_id").cast("string"), salt=salt)
    return (
        top_n_per_key(
            cells.withColumn("hv", hv), ["cl"], ["hv", "vec_id"], n_per_cell
        )
        .select("cl", "vec_id", "rk")
        .orderBy("cl", "rk")
    )


def corpus_shuffle_shards(
    documents: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> DataFrame:
    """(doc_id, rn, shard): deterministic GLOBAL SHUFFLE + sharding —
    the training-export step: documents are ordered by portable hash
    (the shuffle: decorrelates any source/crawl/time locality in the
    ingest order), given a stable global position, and cut into
    ``n_shards`` contiguous rank ranges (SQL-standard ntile split) so
    every shard is the same size ±1 and a training job can read shard
    k as one slice.

    Determinism is the point: re-running the export reproduces the
    exact same order and shard assignment (resumable exports,
    byte-identical re-materialization — the same md5 contract as the
    sampling family).

    Scale shape: rank.with_global_order_stats — ONE ranged shuffle on
    the hash + broadcast per-partition offsets, never a
    single-partition window; the ntile is pure arithmetic on
    (rn, N)."""
    from lab3_spark.functions.text import md5_long
    from lab3_spark.operators.rank import with_global_order_stats

    hv = md5_long(F.col(id_col).cast("string"), salt=salt)
    d = with_global_order_stats(
        spread(documents).select(F.col(id_col), hv.alias("hv")),
        ["hv", id_col],
        ntile=n_shards,
        memo_key="sampling.corpus_shuffle",
    )
    return (
        d.select(id_col, "rn", F.col("ntile").alias("shard"))
        .orderBy("rn")
    )



def mixture_apportionment(
    documents: DataFrame, budget: int = 100_000, text_col: str = "text"
) -> DataFrame:
    """(source, n_tokens, weight_fp, n_draws): turn the α=0.5
    temperature mixture (`source_mixing_weights`) into EXACT integer
    draw counts for a fixed budget via largest-remainder (Hamilton)
    apportionment — Σ n_draws == budget exactly, the property
    float-rounding per source cannot give.

    All integer once the per-source sqrt is fixed-pointed (the
    source_mixing_weights contract): floor shares = (budget·w_fp) div
    Z, the deficit (≤ #sources) goes to the largest remainders
    (ties → source name).  The remainder rank runs over #sources rows
    under a constant partition — metadata scale by construction, not
    a data window."""
    from pyspark.sql.window import Window

    per = (
        spread(documents)
        .groupBy("source")
        .agg(
            F.sum(F.size(tokenize(text_col)).cast("bigint")).alias("n_tokens")
        )
        .withColumn(
            "weight_fp",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000)
            .cast("bigint"),
        )
    )
    z = per.agg(F.sum("weight_fp").alias("z"))
    shares = per.crossJoin(F.broadcast(z)).select(
        "source",
        "n_tokens",
        "weight_fp",
        F.expr(f"(weight_fp * {budget}) div z").alias("base"),
        F.expr(f"(weight_fp * {budget}) % z").alias("rem"),
    )
    deficit = shares.agg(
        (F.lit(budget) - F.sum("base")).alias("deficit")
    )
    w = Window.partitionBy(one_window_partition()).orderBy(
        F.desc("rem"), F.asc("source")
    )
    return (
        shares.crossJoin(F.broadcast(deficit))
        .withColumn("rn", F.row_number().over(w))
        .select(
            "source",
            "n_tokens",
            "weight_fp",
            (
                F.col("base")
                + (F.col("rn") <= F.col("deficit")).cast("bigint")
            ).alias("n_draws"),
        )
        .orderBy("source")
    )


def leakage_safe_split(
    documents: DataFrame,
    candidates: DataFrame,
    salt: str = "gsplit",
) -> DataFrame:
    """Group-aware train/val/test split: near-duplicate documents NEVER
    straddle a split boundary.

    A plain per-doc hash split (train_val_test_split) leaks evaluation
    data whenever a near-duplicate of a test doc lands in train — the
    standard benchmark-contamination failure mode.  The fix is to hash
    the DUPLICATE GROUP, not the doc: group_id = the connected-component
    label of the near-dup candidate graph (min doc_id of the component),
    falling back to the doc's own id for singletons.  Every member of a
    component therefore shares one hash and one split, by construction.

    ``candidates`` is the (doc_a, doc_b, ...) near-dup pair frame (e.g.
    dedup.minhash_candidates) — the dedup family's candidate
    generator.  Scale shape: the
    component closure is the iterative min-label propagation
    (operators/components.py, bounded persists); the split itself is a
    pure per-row expression after ONE left join of documents against
    the (tiny relative to the corpus) clustered-node frame.

    Returns (doc_id, group_id, split) ordered by doc_id.
    """
    from lab3_spark.operators.components import connected_components

    comps = connected_components(candidates, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("comp").alias("group_id")
    )
    h = md5_long(F.col("group_id").cast("string"), salt=salt)
    split = (
        F.when(h % 100 < 80, "train").when(h % 100 < 90, "val").otherwise("test")
    )
    return (
        documents.select("doc_id")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("group_id", F.col("doc_id")).alias("group_id"),
        )
        .select("doc_id", "group_id", split.alias("split"))
        .orderBy("doc_id")
    )


def systematic_sample(
    df: DataFrame, id_col: str = "doc_id", k: int = 10, salt: str = "sys"
) -> DataFrame:
    """(id, rn): every k-th row of the hash-ordered corpus (rows with
    rn ≡ 1 mod k) — systematic sampling, the third classical design
    next to stratified (per-group fractions) and Sequential Poisson
    (weighted fixed-n).  Ordering by the portable md5 hash makes the
    frame effectively randomly ordered, so the 1-in-k grid is an
    unbiased uniform sample with exactly ceil(N/k) rows — a GUARANTEED
    cadence (every window of k consecutive hash-ordered rows yields
    exactly one pick) that Bernoulli hash_sample cannot give.

    The rank is the distributed range-partitioned row number
    (operators/rank.py) over the (hash, id) total order — no
    single-partition window; the pick filter is a pure modulus."""
    from lab3_spark.functions.text import md5_long
    from lab3_spark.operators.rank import (
        drop_rank_internals,
        with_global_row_number,
    )

    hashed = df.select(
        F.col(id_col),
        md5_long(F.col(id_col).cast("string"), salt=salt).alias("_h"),
    )
    ranked = drop_rank_internals(
        with_global_row_number(
            hashed, ["_h", id_col], out_col="rn",
            memo_key=f"sampling.systematic.{salt}",
        )
    )
    # (rn - 1) % k == 0 picks rows 1, k+1, 2k+1, … for ALL k >= 1;
    # the naive rn % k == 1 form returns an EMPTY frame at k=1
    # (1 % 1 == 0, never 1) instead of the documented ceil(N/k)=N rows.
    return (
        ranked.where(((F.col("rn") - 1) % k) == 0)
        .select(id_col, "rn")
        .orderBy("rn")
    )


def dataset_split_manifest(
    documents: DataFrame,
    id_col: str = "doc_id",
    stratum_col: str = "source",
    salt: str = "split",
) -> DataFrame:
    """(source, split, n, pct_fp): the release manifest of a
    deterministic 90/5/5 train/val/test hash split, bucketed by
    stratum — the table a dataset card publishes and a training run
    re-derives to assert it reads the same split ("is val really 5%
    of every source, or did the hash skew a small stratum?").

    The split is a pure per-row expression over the portable md5
    (re-runnable anywhere, no stored assignment file); the manifest is
    ONE groupBy over (stratum, split) plus a broadcast join of the
    |sources|-row totals.  pct_fp = n·10⁶ DIV stratum_total, exact
    bigint."""
    h = md5_long(F.col(id_col).cast("string"), salt=salt) % 100
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    )
    per = (
        documents.select(F.col(stratum_col), split.alias("split"))
        .groupBy(stratum_col, "split")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = per.groupBy(stratum_col).agg(F.sum("n").alias("t"))
    return (
        per.join(F.broadcast(totals), stratum_col)
        .select(
            stratum_col,
            "split",
            F.col("n").cast("bigint").alias("n"),
            F.expr(f"CAST(n * {10**6} DIV t AS BIGINT)").alias("pct_fp"),
        )
        .orderBy(stratum_col, "split")
    )


def padding_waste_by_bucket(
    documents: DataFrame,
    text_col: str = "text",
    granularity: int = 64,
) -> DataFrame:
    """(bucket_len, n_docs, real_tokens, padded_tokens, waste_fp): the
    PADDING-regime batching economics — the complement of
    :func:`packing_fragmentation_curve`'s concat packing.  Under
    length bucketing every document pads up to its bucket's length
    (buckets at ``granularity``-token granularity, the production
    trick that bounds per-doc padding waste to < granularity instead
    of max_len − len); this table prices that waste per bucket so a
    pipeline can choose bucket granularity — or decide packing beats
    padding for its length distribution.

    bucket_len = ceil(n_tok / g)·g in pure integer arithmetic
    ((n_tok + g − 1) DIV g · g); waste_fp = (padded − real)·10⁶ DIV
    padded, exact bigint.  ONE scan + one ≤(max_len/g)-row shuffle,
    both aggregates combinable; empty documents pad nothing and are
    excluded (identically in the oracle)."""
    from lab3_spark.functions.text import tokenize

    g = granularity
    n_tok = F.size(tokenize(text_col))
    bucket = F.expr(f"CAST((n_tok + {g - 1}) DIV {g} * {g} AS BIGINT)")
    return (
        documents.select(n_tok.alias("n_tok"))
        .where(F.col("n_tok") > 0)
        .select(bucket.alias("bucket_len"), "n_tok")
        .groupBy("bucket_len")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("real_tokens"),
        )
        .select(
            "bucket_len",
            "n_docs",
            "real_tokens",
            (F.col("n_docs") * F.col("bucket_len"))
            .cast("bigint")
            .alias("padded_tokens"),
            F.expr(
                "CAST((n_docs * bucket_len - real_tokens) * 1000000"
                " DIV (n_docs * bucket_len) AS BIGINT)"
            ).alias("waste_fp"),
        )
        .orderBy("bucket_len")
    )


def packing_fragmentation_curve(
    documents: DataFrame,
    budgets: tuple[int, ...] = (128, 256, 512, 1024),
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """(budget, n_docs, n_split_docs, n_fragments, frag_rate_fp,
    n_bins, fill_rate_fp): how concat-style sequence packing behaves
    across a context-length ladder — the packing diagnostic a training
    pipeline reads before choosing max_len.  Under :func:`pack_sequences`'
    offset model (documents laid end-to-end per group, bins of
    ``budget`` tokens), a document crossing a bin boundary is SPLIT:
    n_fragments counts its pieces (floor((before+len−1)/L) −
    floor(before/L) + 1), frag_rate_fp the fraction of documents split,
    fill_rate_fp = total_tokens·10⁶ DIV (n_bins·L) the capacity
    utilization (per-group tails are the only slack in the offset
    model).

    ONE corpus scan + one RANGED cumsum shuffle prices the whole
    ladder: the 'before' offsets come from rank.with_grouped_running_sum
    (one global ranged prefix sum + broadcast per-group starting
    totals) — NOT a per-group single-partition window, which would
    move a skewed source entirely onto one partition (ADVICE r8); the
    |budgets|-row ladder then explodes per document (|L|× row
    amplification of the id/offset projection only, not the text),
    then two combinable aggs.  Empty documents pack zero fragments.
    All integers; truncating division both engines."""
    from lab3_spark.operators.rank import with_grouped_running_sum

    n_tokens = F.size(tokenize(text_col))
    base = (
        with_grouped_running_sum(
            documents.select(
                F.col(group_col).alias("grp"),
                F.col(id_col).alias("k"),
                n_tokens.alias("nt"),
            ),
            ["grp"],
            ["k"],
            "nt",
            out_col="_cum",
            memo_key="sampling.packing_curve.cum",
        )
        .withColumn("before", F.col("_cum") - F.col("nt"))
        .select(
            "grp",
            "nt",
            "before",
            F.explode(
                F.array(*[F.lit(b) for b in budgets])
            ).alias("budget"),
        )
    )
    frag = F.when(
        F.col("nt") > 0,
        F.expr("(before + nt - 1) DIV budget - before DIV budget + 1"),
    ).otherwise(F.lit(0))
    per_doc = base.select(
        "budget",
        "grp",
        "nt",
        "before",
        frag.cast("bigint").alias("frag"),
    )
    per_group = per_doc.groupBy("budget", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum(F.when(F.col("frag") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nsplit"),
        F.sum("frag").cast("bigint").alias("nfrag"),
        F.sum("nt").cast("bigint").alias("toks"),
        # bins this group occupies = last fragment index of its final
        # token + 1 (0 for an all-empty group)
        F.max(
            F.when(
                F.col("nt") > 0,
                F.expr("(before + nt - 1) DIV budget + 1"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("bins"),
    )
    return (
        per_group.groupBy("budget")
        .agg(
            F.sum("nd").cast("bigint").alias("n_docs"),
            F.sum("nsplit").cast("bigint").alias("n_split_docs"),
            F.sum("nfrag").cast("bigint").alias("n_fragments"),
            F.sum("toks").alias("_toks"),
            F.sum("bins").cast("bigint").alias("n_bins"),
        )
        .select(
            F.col("budget").cast("bigint").alias("budget"),
            "n_docs",
            "n_split_docs",
            "n_fragments",
            F.expr(
                "CASE WHEN n_docs > 0 THEN CAST(n_split_docs * 1000000"
                " DIV n_docs AS BIGINT) ELSE NULL END"
            ).alias("frag_rate_fp"),
            "n_bins",
            F.expr(
                "CASE WHEN n_bins > 0 THEN CAST(_toks * 1000000"
                " DIV (n_bins * budget) AS BIGINT) ELSE NULL END"
            ).alias("fill_rate_fp"),
        )
        .orderBy("budget")
    )


def packing_bfd_bound(
    documents: DataFrame,
    budgets: tuple[int, ...] = (128, 256, 512, 1024),
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """(budget, total_tokens, n_bins, lb_bins, extra_bins,
    efficiency_fp): the bin-packing LOWER BOUND next to the offset
    model's actual bin count, per budget-ladder rung — so
    :func:`packing_fragmentation_curve`'s packing efficiency is judged
    against an oracle-expressible optimum instead of read in a vacuum.

    lb_bins = ceil(Σlen / L) is the capacity (size) bound: no packer —
    first-fit, best-fit-decreasing, or optimal — can emit fewer bins
    than the token mass requires, and because :func:`pack_sequences`'
    offset model SPLITS documents at bin boundaries, the size bound is
    the exact optimum for it (splitting removes the item-indivisibility
    slack that makes classical BFD exceed the bound).  n_bins =
    Σ_groups ceil(toks_g / L) is what the per-group offset model
    actually uses (each group packs contiguously from offset 0), so
    extra_bins = n_bins − lb_bins is EXACTLY the per-group tail waste
    — bounded by #groups − 1 rungwise, independent of corpus size.
    efficiency_fp = lb_bins·10⁶ DIV n_bins.

    ONE corpus scan folds to #groups token totals; the |budgets|-row
    ladder explodes over that metadata-scale frame only.  All integer
    arithmetic (ceil(a/b) = (a + b − 1) DIV b); truncating division
    both engines."""
    from lab3_spark.functions.text import tokenize

    per_group = (
        documents.select(
            F.col(group_col).alias("grp"),
            F.size(tokenize(text_col)).alias("nt"),
        )
        .groupBy("grp")
        .agg(F.sum("nt").cast("bigint").alias("toks"))
    )
    return packing_bound_ladder(per_group, budgets)


def packing_bound_ladder(
    per_group: DataFrame, budgets: tuple[int, ...] = (128, 256, 512, 1024)
) -> DataFrame:
    """The budget-ladder bound arithmetic of :func:`packing_bfd_bound`
    over ANY (grp, toks) token-total frame — factored out so cleaned
    corpora (e.g. dedup.apply_span_removal's survivors) price their
    packing against the same oracle-expressible optimum."""
    ladder = F.explode(
        F.array(*[F.lit(b) for b in budgets])
    ).alias("budget")
    return (
        per_group.select("toks", ladder)
        .groupBy("budget")
        .agg(
            F.sum("toks").cast("bigint").alias("total_tokens"),
            F.sum(F.expr("(toks + budget - 1) DIV budget"))
            .cast("bigint")
            .alias("n_bins"),
        )
        .select(
            F.col("budget").cast("bigint").alias("budget"),
            "total_tokens",
            "n_bins",
            F.expr(
                "CAST((total_tokens + budget - 1) DIV budget AS BIGINT)"
            ).alias("lb_bins"),
        )
        .select(
            "budget",
            "total_tokens",
            "n_bins",
            "lb_bins",
            (F.col("n_bins") - F.col("lb_bins"))
            .cast("bigint")
            .alias("extra_bins"),
            F.expr(
                "CASE WHEN n_bins > 0 THEN CAST(lb_bins * 1000000"
                " DIV n_bins AS BIGINT) ELSE NULL END"
            ).alias("efficiency_fp"),
        )
        .orderBy("budget")
    )
