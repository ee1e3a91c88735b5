"""Fixed-point PageRank — the second iterative DataFrame algorithm
(alongside operators/components.py), run over the MinHash candidate
graph: rank near-duplicate clusters by centrality so the KEPT
representative is the best-connected document, not merely min(doc_id).

ALL-INTEGER arithmetic (the same cross-engine contract as SimHash and
the LSH codes): ranks are bigint fixed-point (RANK_SCALE = 1e12),
per-edge contribution is `rank div degree` (integer division — exact),
the damping step is `base + (85 * sum) div 100` — every operation is
associative/exact, so a SQL oracle unrolling the same iterations
reproduces the ranks bit-for-bit.  Float PageRank would hash-mismatch:
summation order differs between engines (the round-1
`ann_lsh_buckets` lesson).

Scale shape per iteration: one equi-join of the ONCE-partitioned,
cached edge table with the node-scale rank table on src (degree rides
along, pre-joined once) and one groupBy(dst) — the edge table never
re-shuffles after its initial hash-partition by src, so each iteration
moves only node-scale rows plus the per-edge contribution shuffle; no
broadcast of anything data-sized, no driver collect.  The iteration
chain is purely lazy (plan depth linear in n_iter over the cached edge
table, periodic truncation past 8 rounds) and ONE eager localCheckpoint
materializes the final ranks."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RANK_SCALE = 10**12
DAMPING_NUM = 85
DAMPING_DEN = 100
BASE_FP = (DAMPING_DEN - DAMPING_NUM) * RANK_SCALE // DAMPING_DEN


def symmetrize(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Undirected candidate pairs (a < b, unique) → directed edge list
    with both orientations."""
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    rev = pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    return fwd.unionAll(rev)


def pagerank_fixed_point(
    edges: DataFrame, n_iter: int = 5, input_from_symmetrize: bool = False
) -> DataFrame:
    """(node, rank_fp): integer fixed-point PageRank after ``n_iter``
    synchronous iterations from a uniform RANK_SCALE start.

    ``edges`` is a directed (src, dst) list; a symmetrized graph (every
    node has out-degree ≥ 1) has no dangling-mass problem by
    construction.  ``input_from_symmetrize=True`` asserts the input
    came from :func:`symmetrize` (every node has at least one IN-edge
    too — named after the contract, ADVICE r12: a non-symmetrized
    input under this flag would silently drop zero-in-degree nodes
    instead of giving them the base rank), which
    lets each iteration skip the nodes-left-join: the contribution agg
    already emits every node, so ``s`` is never NULL and the key set is
    exactly the node set — values identical, one join fewer per
    iteration (optimization round 12, guide §2.4)."""
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # degree rides with the edge list from the start: one narrow join
    # now instead of a second join every iteration.  The edge table is
    # hash-partitioned by src ONCE before caching (optimization round
    # 12, guide §2.4/§8): every iteration's join probes it on src, so
    # the cached partitioning means only the node-scale rank table
    # moves per iteration — without it the edge table (the heavy side
    # at 100 TB) re-shuffles n_iter times.
    from lab3_spark.functions.partitioning import (
        free_checkpoint,
        persist_latest,
        retire_latest,
    )

    par = edges.sparkSession.sparkContext.defaultParallelism
    edeg = (
        edges.join(deg, "src")
        .select("src", "dst", "deg")
        .repartition(par, "src")
    )
    edeg = persist_latest("pagerank.edeg", edeg)

    if input_from_symmetrize:
        nodes = None
        ranks = edeg.select(F.col("src").alias("node")).distinct().withColumn(
            "rank_fp", F.lit(RANK_SCALE).cast("bigint")
        )
    else:
        nodes = persist_latest(
            "pagerank.nodes",
            edges.select(F.col("src").alias("node")).distinct(),
        )
        ranks = nodes.withColumn("rank_fp", F.lit(RANK_SCALE).cast("bigint"))
    damp = (
        F.lit(BASE_FP)
        + F.expr(
            f"({DAMPING_NUM} * coalesce(s, CAST(0 AS BIGINT)))"
            f" div {DAMPING_DEN}"
        )
    ).cast("bigint")
    prev_trunc = None
    for it in range(n_iter):
        summed = (
            edeg.join(ranks, edeg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fp div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        if input_from_symmetrize:
            ranks = summed.select("node", damp.alias("rank_fp"))
        else:
            ranks = nodes.join(summed, "node", "left").select(
                "node", damp.alias("rank_fp")
            )
        # The loop is PURELY LAZY: no per-iteration action, the whole
        # n_iter chain pipelines into the single eager checkpoint below
        # (optimization round 12 — the former per-iteration eager
        # localCheckpoint cost one full materialization job per round;
        # the plan depth is linear in n_iter over a cached edge table,
        # so analysis stays cheap).  Long horizons still truncate
        # periodically so plan depth stays bounded; each truncation
        # frees its predecessor once the new one is materialized
        # (ADVICE r12: the intermediates otherwise stay pinned until
        # the ContextCleaner happens to collect them).
        if n_iter > 8 and (it + 1) % 8 == 0 and (it + 1) < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
            if prev_trunc is not None:
                free_checkpoint(prev_trunc)
            prev_trunc = ranks
    # the final checkpoint outlives this call (the caller reads it);
    # the NEXT call retires it
    final = ranks.localCheckpoint(eager=True)
    if prev_trunc is not None:
        free_checkpoint(prev_trunc)
    return retire_latest("pagerank.ranks", final)


def ppr_fixed_point(
    edges: DataFrame, n_iter: int = 5, n_seeds: int = 3
) -> DataFrame:
    """(node, rank_fp): PERSONALIZED PageRank — restart mass goes to a
    SEED SET instead of uniformly (TrustRank / topic-sensitive
    PageRank, Gyöngyi et al. 2004 / Haveliwala 2002, public): ranks
    measure proximity to the seeds, the curation primitive for
    propagating trust from vetted documents (or suspicion from known
    spam) through the near-duplicate graph.

    Seeds are the ``n_seeds`` smallest node ids (deterministic,
    scale-free); each seed carries restart mass RANK_SCALE (a constant
    factor vs the normalized 1/|S| convention — rankings identical,
    arithmetic stays all-bigint).  r0 = RANK_SCALE on seeds, 0
    elsewhere; each iteration adds BASE_FP restart only on seeds.
    Same per-iteration shape and bounded checkpointing as
    `pagerank_fixed_point`; the oracle unrolls identical CTEs with a
    CASE base term."""
    from lab3_spark.functions.partitioning import (
        free_checkpoint,
        persist_latest,
        retire_latest,
    )

    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # hash-partition by src once before caching — the per-iteration
    # join then moves only the node-scale rank table (guide §2.4)
    par = edges.sparkSession.sparkContext.defaultParallelism
    edeg = persist_latest(
        "pagerank.ppr_edeg",
        edges.join(deg, "src")
        .select("src", "dst", "deg")
        .repartition(par, "src"),
    )
    seeds = nodes.orderBy("node").limit(n_seeds).select(
        "node", F.lit(1).alias("is_seed")
    )
    nflag = persist_latest(
        "pagerank.ppr_nodes",
        nodes.join(F.broadcast(seeds), "node", "left").select(
            "node", F.coalesce("is_seed", F.lit(0)).alias("is_seed")
        ),
    )
    base = (F.col("is_seed") * F.lit(BASE_FP)).cast("bigint")
    ranks = nflag.select(
        "node",
        (F.col("is_seed") * F.lit(RANK_SCALE)).cast("bigint").alias("rank_fp"),
    )
    prev_trunc = None
    for it in range(n_iter):
        summed = (
            edeg.join(ranks, edeg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fp div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nflag.join(summed, "node", "left").select(
            "node",
            (
                base
                + F.expr(
                    f"({DAMPING_NUM} * coalesce(s, CAST(0 AS BIGINT)))"
                    f" div {DAMPING_DEN}"
                )
            )
            .cast("bigint")
            .alias("rank_fp"),
        )
        # purely lazy loop; one eager checkpoint at the end (see
        # pagerank_fixed_point) — periodic truncation for long horizons,
        # each freeing its predecessor (ADVICE r12)
        if n_iter > 8 and (it + 1) % 8 == 0 and (it + 1) < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
            if prev_trunc is not None:
                free_checkpoint(prev_trunc)
            prev_trunc = ranks
    final = ranks.localCheckpoint(eager=True)
    if prev_trunc is not None:
        free_checkpoint(prev_trunc)
    return retire_latest("pagerank.ppr_ranks", final)


# 10^6 (not the rank family's 10^12): raw = Σ scores over in-edges ≤
# SCALE·max_degree, and the renormalization multiplies raw·SCALE again
# — SCALE²·degree must stay under 2^63, so 10^6 holds to degree ~9e6.
HITS_SCALE = 10**6


def hits_scores(edges: DataFrame, n_iter: int = 2, k: int = 10) -> DataFrame:
    """(role, node, score_fp): HITS hubs & authorities (Kleinberg 1999,
    public) over a DIRECTED edge list after ``n_iter`` mutual-
    reinforcement rounds — auth(v) = Σ hub(u) over u→v, hub(u) =
    Σ auth(v) over u→v, each side renormalized so its max is
    HITS_SCALE.  Max-normalization (instead of the textbook L2) keeps
    every value a bigint and the truncating DIV identical across
    engines; rankings are unchanged (positive scale factor).

    Per round: two keyed equi-joins of the edge list with the current
    score table and two combinable aggregations, plus a 1-row max
    broadcast for the normalizer — no all-pairs, no driver data.  The
    top-k per role is a TakeOrderedAndProject heap.

    Edge layout (optimization round 12, guide §2.4): the rounds probe
    the edge list alternately on src (hub join) and dst (auth join) —
    the naive cached list re-shuffles AND re-sorts per probe, 2·n_iter
    edge-scale exchanges.  Two sorted, hash-partitioned caches (one per
    probe key), built once off a shared base cache, make every round's
    join move only the node-scale score table."""
    from lab3_spark.functions.partitioning import persist_latest

    if n_iter < 1:  # auths is only bound inside the loop
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")

    par = edges.sparkSession.sparkContext.defaultParallelism
    base = persist_latest("pagerank.hits.edges", edges)
    e_src = persist_latest(
        "pagerank.hits.edges_src",
        base.repartition(par, "src").sortWithinPartitions("src"),
    )
    e_dst = persist_latest(
        "pagerank.hits.edges_dst",
        base.repartition(par, "dst").sortWithinPartitions("dst"),
    )
    src_nodes = e_src.select(F.col("src").alias("node")).distinct()
    hubs = src_nodes.select(
        "node", F.lit(HITS_SCALE).cast("bigint").alias("score")
    )
    auths = None
    for i in range(n_iter):
        # each raw frame is persisted: it feeds BOTH its 1-row max
        # normalizer and the normalized projection, and the rounds
        # chain — unpersisted, every consumer re-derives the whole
        # prior-round subtree and the duplication compounds per round
        # (measured 13 s → ~3 s at sf0.1).  Keys are per-round, so the
        # registry holds a fixed 2·n_iter entries.
        a_raw = persist_latest(
            f"pagerank.hits.a_raw{i}",
            e_src.join(hubs, e_src.src == hubs.node)
            .groupBy("dst")
            .agg(F.sum("score").alias("_raw")),
        )
        auths = (
            a_raw.crossJoin(F.broadcast(a_raw.agg(F.max("_raw").alias("_m"))))
            .select(
                F.col("dst").alias("node"),
                F.expr(f"CAST(_raw * {HITS_SCALE} DIV _m AS BIGINT)").alias(
                    "score"
                ),
            )
        )
        h_raw = persist_latest(
            f"pagerank.hits.h_raw{i}",
            e_dst.join(auths, e_dst.dst == auths.node)
            .groupBy("src")
            .agg(F.sum("score").alias("_raw")),
        )
        hubs = (
            h_raw.crossJoin(F.broadcast(h_raw.agg(F.max("_raw").alias("_m"))))
            .select(
                F.col("src").alias("node"),
                F.expr(f"CAST(_raw * {HITS_SCALE} DIV _m AS BIGINT)").alias(
                    "score"
                ),
            )
        )
    top_h = (
        hubs.orderBy(F.desc("score"), F.asc("node"))
        .limit(k)
        .select(F.lit("hub").alias("role"), "node", F.col("score").alias("score_fp"))
    )
    top_a = (
        auths.orderBy(F.desc("score"), F.asc("node"))
        .limit(k)
        .select(
            F.lit("authority").alias("role"),
            "node",
            F.col("score").alias("score_fp"),
        )
    )
    return top_h.unionAll(top_a).orderBy("role", F.desc("score_fp"), "node")
