"""Connected components over candidate-pair graphs.

The dedup pipeline's last mile: MinHash/SimHash candidate pairs say
"these two docs are near-dups", but near-duplication is transitive in
practice (A≈B, B≈C → one cluster {A,B,C} keeps ONE representative).
That closure is a connected-components problem — inherently ITERATIVE,
the one operator family Catalyst can't express in a single plan.

Implementation: min-label propagation to fixpoint, driven by a
driver-side loop (each iteration is a join + groupBy-min; the
per-iteration `.count()` is the convergence check — the canonical
Spark shape for iterative graph algorithms, cf. GraphX Pregel), PLUS a
pointer-doubling shortcut on late rounds (comp ← comp(comp), i.e. path
compression, the same label-shortcutting the small-star/large-star
family of Kiveris et al., "Connected Components in MapReduce and
Beyond", builds on).  Plain propagation moves the min label ONE hop
per iteration — a pathological chain of length d needs d rounds; with
the per-round jump the label distance halves, so convergence is
O(log d).  Dedup graphs are piles of tiny dense clusters where both
finish in 2-3 rounds; the shortcut is insurance for degenerate
near-dup chains (e.g. sliding-window crawl dups) at 100 TB, costing
one extra (node, comp) shuffle per round — O(log d) extra shuffles
total versus O(d) extra ROUNDS without it.

Lineage is truncated with localCheckpoint every few rounds — iterative
self-joins otherwise grow the plan tree exponentially and analysis
time dominates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHECKPOINT_EVERY = 4
# rounds per convergence check — see the batching note in connected_components
CHECK_EVERY = 2


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    shortcut: bool = True,
    shortcut_after: int = 3,
) -> DataFrame:
    """(node, comp): component id = MIN node id reachable via `edges`
    (treated undirected).  Only nodes appearing in `edges` are labeled
    — isolated nodes are their own trivial component and carry no
    information for dedup.

    `shortcut` adds the pointer-doubling jump (see module docstring)
    from round `shortcut_after` on: dedup graphs — piles of tiny dense
    clusters — converge in 2-3 plain rounds, so the jump's extra join
    would be pure overhead there (measured 1.8x on dedup_clusters);
    only a graph still unconverged by round 3 (long chains) pays for
    and profits from compression.  Disable to observe plain
    propagation in tests.

    Exact fixpoint: terminates when an iteration changes no label, or
    raises after `max_iter` (never silently returns a half-converged
    labeling)."""
    from lab3_spark.functions.partitioning import (
        persist_latest,
        retire_latest,
        retire_prefix,
    )

    # Free the PREVIOUS run's checkpoint frames at entry (not mid-run):
    # a checkpoint-backed result returned to a caller stays valid until
    # the next call (round-4 advice: mid-run single-key retirement
    # freed an RDD other cached frames were rooted at).
    retire_prefix("components.ckpt")

    und = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    # hash-partitioned by the probe key ONCE before caching
    # (optimization round 12, guide §2.4): every iteration joins
    # und.b == labels.node, so the cached layout means only the
    # node-scale label table moves per round — un-partitioned, the
    # edge table (the heavy side at 100 TB) re-shuffled every round.
    par = und.sparkSession.sparkContext.defaultParallelism
    und = persist_latest(
        "components.und",
        und.union(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .repartition(par, "b")
        .sortWithinPartitions("b"),
    )

    labels = persist_latest(
        "components.labels0",
        und.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp")),
    )

    # Convergence is checked every CHECK_EVERY rounds, not every round
    # (optimization round 13, VERDICT r12 item 5): the per-round count
    # was the materializing action, and each one paid a full job
    # schedule plus a persist.  The check itself is unchanged — "did
    # the LAST executed round change any label" (the propagation step is a deterministic function T; T(L) = L
    # means L is the fixpoint regardless of what earlier rounds in the
    # batch did) — so the returned labeling is IDENTICAL to the
    # check-every-round form and convergence is detected at the same
    # round or at most CHECK_EVERY − 1 no-op rounds later, against
    # half the actions and half the driver-side persist bookkeeping.
    # Within a batch the steps chain lazily over the cached edge table
    # (the pagerank lazy-loop discipline, bounded at CHECK_EVERY plan
    # depth).
    it = 0
    while it < max_iter:
        n_steps = min(CHECK_EVERY, max_iter - it)
        cur = labels.select("node", F.col("comp"))
        for j in range(n_steps):
            neighbor_min = (
                und.join(cur, und.b == cur.node)
                .groupBy(F.col("a").alias("node"))
                .agg(F.min("comp").alias("ncomp"))
            )
            # the last step of the batch keeps its pre-step label as
            # comp0 so the convergence count below compares exactly
            # what the unbatched loop compared
            keep_prev = ["comp0"] if j == n_steps - 1 else []
            cur = cur.select(
                "node", F.col("comp").alias("comp0")
            ).join(neighbor_min, "node", "left").select(
                "node",
                *keep_prev,
                F.least(
                    F.col("comp0"), F.coalesce("ncomp", F.col("comp0"))
                ).alias("comp"),
            )
            if shortcut and it >= shortcut_after:
                # comp is itself a node id — jump to ITS label (labels
                # are monotone non-increasing, so parent_comp ≤ comp
                # always and the min-label fixpoint is unchanged;
                # distance-to-root halves each round).
                parents = cur.select(
                    F.col("node").alias("comp"),
                    F.col("comp").alias("parent_comp"),
                )
                cur = cur.join(parents, "comp", "left").select(
                    "node",
                    *keep_prev,
                    F.coalesce("parent_comp", "comp").alias("comp"),
                )
            it += 1
        new_labels = cur.select(
            "node", "comp", (F.col("comp") < F.col("comp0")).alias("_chg")
        )
        if it % CHECKPOINT_EVERY == 0:
            # register the checkpoint under a PER-ITERATION key and
            # let the NEXT call's entry retire_prefix free the whole
            # set.  Bound: at most
            # max_iter/CHECKPOINT_EVERY label-scale checkpoint RDDs
            # pinned between calls; freeing them mid-run instead would
            # invalidate cached frames rooted at them (round-4 advice).
            new_labels = retire_latest(
                f"components.ckpt.{it}", new_labels.localCheckpoint(eager=True)
            )
        else:
            # Bound: #batches × label-scale (node, comp) rows — for
            # the O(log d) pointer-doubled convergence this is a handful
            # of frames, each ≪ corpus size.
            new_labels = persist_latest(f"components.iter{it}", new_labels)
        changed = new_labels.where(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def _oriented(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient each undirected edge (x, y) low→high under the total
    order (degree, id): (u, v, dv) with ord(u) < ord(v).  The degree
    table is node-scale; two equi-joins attach both endpoint degrees.
    Exposed separately so tests can measure the wedge fan-out bound
    directly."""
    dx = deg.select(F.col("node").alias("x"), F.col("degree").alias("_dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("degree").alias("_dy"))
    ed = e.join(dx, "x").join(dy, "y")
    fwd = (F.col("_dx") < F.col("_dy")) | (
        (F.col("_dx") == F.col("_dy")) & (F.col("x") < F.col("y"))
    )
    return ed.select(
        F.when(fwd, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(fwd, F.col("y")).otherwise(F.col("x")).alias("v"),
        F.when(fwd, F.col("_dy")).otherwise(F.col("_dx")).alias("dv"),
    )


def triangle_stats(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """(node, degree, n_tri, clustering): per-node triangle counts and
    local clustering coefficient over a unique undirected edge list
    (``a < b``) — the graph-density companion to
    :func:`connected_components`: a near-dup cluster whose members all
    pairwise match (high clustering) is a true duplicate pile, while a
    low-clustering hub pattern flags chained/borderline matches worth
    re-verifying before dropping documents.

    Algorithm: DEGREE-ORDERED wedge enumeration (the MPC-standard
    refinement, round-5 upgrade from the id-ordered triple form).
    Each undirected edge is oriented low→high by the total order
    (degree, id); every triangle then has exactly ONE vertex with two
    out-edges inside it (its minimum under that order), so it is
    counted exactly once as the wedge (u→v, u→w) closed by the
    oriented edge v→w.  The wedge join fans out only on OUT-degree,
    which degree-orientation bounds by O(√m) amortized — a hub with
    degree h contributes ZERO wedges (all its edges point in), where
    id-ordering could blow up O(h²) on an unlucky id placement.
    Pinned by tests/test_components.py: a mid-id hub graph yields a
    wedge count of 0 vs h²/4 for the id-ordered form, with identical
    triangle output.  clustering = 2·tri / (deg·(deg−1)), exact
    integers into one truncated double — cross-engine stable.
    """
    from lab3_spark.functions.partitioning import persist_latest

    e = persist_latest(
        "components.triangle_edges",
        pairs.select(F.col(a).alias("x"), F.col(b).alias("y")),
    )
    deg = (
        e.select(F.col("x").alias("node"))
        .unionAll(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    o = persist_latest("components.triangle_oriented", _oriented(e, deg))
    o1 = o.select("u", "v", F.col("dv").alias("_d1"))
    o2 = o.select("u", F.col("v").alias("w"), F.col("dv").alias("_d2"))
    wedges = o1.join(o2, "u").where(
        (F.col("_d1") < F.col("_d2"))
        | ((F.col("_d1") == F.col("_d2")) & (F.col("v") < F.col("w")))
    )
    closing = o.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedges.join(closing, ["v", "w"])
    tri_nodes = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    n_tri = F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint")
    coeff = F.when(
        F.col("degree") > 1,
        2.0 * n_tri / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(0.0)
    return deg.join(tri_nodes, "node", "left").select(
        "node",
        "degree",
        n_tri.alias("n_tri"),
        (F.floor(coeff * 10000) / 10000).alias("clustering"),
    )


def label_propagation(
    edges: DataFrame, a_col: str = "a", b_col: str = "b", n_iter: int = 3
) -> DataFrame:
    """(node, label): SYNCHRONOUS label-propagation communities
    (Raghavan et al. 2007, public) — the community-detection
    complement to `connected_components`: components give
    connectivity, LPA converges toward DENSELY-connected groups
    (label[v] ← the most frequent label among v's neighbors, ties →
    smallest label).

    Determinism contract: classic LPA is asynchronous and
    order-dependent; this is the synchronous variant with a TOTAL tie
    order (max count, then min label), so every engine computes the
    identical labeling and the oracle unrolls the same iterations as
    plain CTEs.

    Scale shape: each iteration is one edges⋈labels equi-join + one
    (node, label) count aggregation + one max_by struct aggregation —
    shuffle rows bounded by |E|, no driver loop, no collect; the
    ``n_iter``-deep plan is a linear chain (each label frame feeds
    exactly the next iteration), exactly like the unrolled oracle.
    Fixed iteration count rather than convergence detection: LPA label
    counts can oscillate on bipartite-ish structures, and a fixed
    synchronous horizon is the standard deterministic cut."""
    sym = edges.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).unionAll(edges.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(n_iter):
        nbr = sym.join(
            labels, sym["v"] == labels["node"]
        ).select(sym["u"].alias("node"), "label")
        counts = nbr.groupBy("node", "label").agg(F.count("*").alias("cnt"))
        labels = (
            counts.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"), (-F.col("label")).alias("nl")
                    )
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("label"))
        )
    # community_modularity joins the labels three times
    from lab3_spark.functions.partitioning import persist_latest

    return persist_latest(f"components.lpa_i{n_iter}", labels)


def community_modularity(
    edges: DataFrame,
    labels: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """(community, n_nodes, e_in, d_sum, q_num): per-community
    modularity contributions for an undirected graph — the standard
    partition-quality metric (Newman 2004, public):
    Q = Σ_c (e_c/m − (d_c/2m)²).

    ALL-INTEGER: reported as q_num = 4·m·e_c − d_c², i.e. the
    contribution scaled by 4m² (m = |E|, e_c = intra-community edges,
    d_c = community degree sum) — Q = Σ q_num / 4m², so comparisons
    and regression gates work on exact bigints and the oracle matches
    bit-for-bit.  Magnitudes: 4·m·e_c ≤ 4m², inside int64 for any
    graph with < ~1.5e9 edges per community pair — beyond that the
    metric itself is per-community and m is global metadata.

    Scale shape: degree sums and intra-edge counts are two equi-joins
    against the (node, label) frame plus bounded aggregations; the
    single global m is a 1-row aggregate broadcast back (the audited
    broadcast-scalar crossJoin pattern)."""
    sym = edges.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).unionAll(edges.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("deg")
    )
    lab = labels.select("node", "label")
    dsum = (
        deg.join(lab, "node")
        .groupBy("label")
        .agg(F.count("*").alias("n_nodes"), F.sum("deg").alias("d_sum"))
    )
    la = lab.select(F.col("node").alias("_a"), F.col("label").alias("la"))
    lb = lab.select(F.col("node").alias("_b"), F.col("label").alias("lb"))
    ein = (
        edges.join(la, F.col(a_col) == F.col("_a"))
        .join(lb, F.col(b_col) == F.col("_b"))
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").alias("e_in"))
    )
    m = edges.agg(F.count("*").alias("m"))
    return (
        dsum.join(ein, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("label").alias("community"),
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).cast("bigint").alias("e_in"),
            F.col("d_sum").cast("bigint").alias("d_sum"),
            (
                4 * F.col("m") * F.coalesce("e_in", F.lit(0))
                - F.col("d_sum") * F.col("d_sum")
            ).cast("bigint").alias("q_num"),
        )
        .orderBy("community")
    )


def bfs_hops(
    edges: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    n_seeds: int = 3,
    max_depth: int = 3,
) -> DataFrame:
    """(node, hops): multi-source breadth-first hop distance from the
    ``n_seeds`` smallest node ids through the undirected graph, capped
    at ``max_depth`` — "how far is every document from the vetted
    set", the hop-bounded companion to PPR's continuous proximity.

    Frontier iteration: each depth is one equi-join of the edge list
    with the PREVIOUS frontier plus one anti-join against the settled
    set — per-round shuffle is O(frontier edges), never all nodes, and
    the depth cap bounds the rounds.  Lineage truncated per round
    (eager localCheckpoint + free-prev, the pagerank.py discipline)."""
    from lab3_spark.functions.partitioning import free_checkpoint

    from lab3_spark.functions.partitioning import persist_latest

    # persisted: probed once per depth round plus the node/seed scan
    und = persist_latest(
        "components.bfs.und",
        edges.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionAll(
            edges.select(F.col(b).alias("src"), F.col(a).alias("dst"))
        ),
    )
    nodes = und.select(F.col("src").alias("node")).distinct()
    dist = (
        nodes.orderBy("node")
        .limit(n_seeds)
        .select("node", F.lit(0).cast("bigint").alias("hops"))
        .localCheckpoint(eager=True)
    )
    prev_ckpt = dist
    for d in range(1, max_depth + 1):
        frontier = dist.where(F.col("hops") == d - 1).select("node")
        nxt = (
            und.join(frontier, und.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(d).cast("bigint").alias("hops"))
        )
        dist = dist.unionAll(nxt).localCheckpoint(eager=True)
        free_checkpoint(prev_ckpt)
        prev_ckpt = dist
    return dist.orderBy("hops", "node")


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    rounds: int | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """(node, core_degree): the k-core of the undirected graph —
    repeatedly delete nodes of degree < k; what survives is the
    maximal subgraph where every node keeps ≥ k neighbors.

    Dedup reading: the candidate graph's 2-core separates *mutually
    corroborated* near-dup groups from pendant one-off collisions — a
    band-collision FP usually attaches by a single edge and peels off,
    while a genuine duplicate cluster is near-clique and survives.
    Core membership is the standard cheap robustness score before
    spending verify-join budget on a candidate (same role the triangle
    count plays, one rung cheaper).

    ``rounds=None`` peels to the exact fixpoint (count-checked per
    round, ≤ ``max_iter``); a fixed ``rounds`` runs exactly that many
    peels — the engine-identical form the DuckDB oracle unrolls, and a
    documented PREFIX of the fixpoint (peeling is monotone: each round
    only removes nodes).

    Scale shape: each round is one combinable degree agg + two
    semi-joins on the SHRINKING edge frame — no all-pairs, no windows;
    every frame partitions on the node key.  Rounds needed equal the
    peel depth: near-clique dedup graphs finish in 1-2, only a long
    pendant chain pays O(chain) (k=2 dissolves it one end-pair per
    round) — the same degenerate-input caveat bfs_hops documents.
    Lineage: each round references the prior edge frame THREE times
    (degree agg + both semi-join probes), so an unpersisted loop grows
    the plan 3^rounds — analysis time dominates long before execution
    does.  Every round is therefore eagerly localCheckpoint-ed and the
    superseded checkpoint freed once its successor is materialized
    (the bfs_hops/pagerank discipline).
    """
    from lab3_spark.functions.partitioning import free_checkpoint

    und = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .union(
            edges.select(
                F.col(dst).cast("long").alias("a"),
                F.col(src).cast("long").alias("b"),
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = und.count() if rounds is None else -1
    n_rounds = rounds if rounds is not None else max_iter
    converged = rounds is not None
    for _it in range(n_rounds):
        keep = (
            und.groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("a")
        )
        prev = und
        und = (
            und.join(keep, "a", "semi")
            .join(keep.select(F.col("a").alias("b")), "b", "semi")
            .localCheckpoint(eager=True)
        )
        free_checkpoint(prev)
        if rounds is None:
            # convergence check only on the fixpoint path — the
            # fixed-rounds form needs no count job per round (the
            # eager checkpoint already materialized the frame)
            now = und.count()
            if now == n_edges:
                converged = True
                break
            n_edges = now
    if not converged:
        raise RuntimeError(f"kcore did not converge in {max_iter} rounds")
    return (
        und.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("node")
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """One row (n_edges, r_fp): Pearson correlation of endpoint
    degrees over the undirected edges — Newman's degree assortativity.
    Dedup reading: r > 0 (hubs join hubs) says the candidate graph has
    a boilerplate CORE that LSH band capping should target; r < 0
    (hub-and-spoke) says near-dup mass hangs off single templates.

    Each edge contributes both orientations (the standard symmetric
    formulation).  Degrees come from one count agg joined back twice
    on the node key; the five moments are exact bigints (degree ≤ N
    ⇒ Σd² ≤ N·N² = N³ — document the 2·10⁶-node bound per gate input);
    r is ONE double expression, floored ·10⁶."""
    und = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ).union(
        edges.select(
            F.col(dst).cast("long").alias("a"),
            F.col(src).cast("long").alias("b"),
        )
    )
    from lab3_spark.functions.partitioning import persist_latest

    und = persist_latest("components.assort.und", und)
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    pairs = (
        und.join(deg, "a")
        .select("b", F.col("d").alias("dx"))
        .join(deg.select(F.col("a").alias("b"), F.col("d").alias("dy")), "b")
        .select("dx", "dy")
    )
    mom = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    md = F.col("m").cast("double")
    num = md * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    vx = md * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    vy = md * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    r_fp = F.when(
        (vx > 0) & (vy > 0),
        F.floor(num / F.sqrt(vx * vy) * 1_000_000).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return mom.select(
        (F.col("m") / 2).cast("bigint").alias("n_edges"), r_fp.alias("r_fp")
    )


def ktruss(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """(a, b) with a < b: the k-truss after ``rounds`` support peels —
    every surviving edge closes ≥ k−2 triangles WITHIN the surviving
    subgraph.  The EDGE analog of :func:`kcore`, one rung stronger:
    a 3-truss edge is corroborated by a common neighbor, so pendant
    band-collision FPs (no triangle) drop even when both endpoints
    look busy.  Fixed ``rounds`` is the unrolled-oracle form — a
    documented prefix of the fixpoint (support peeling is monotone).

    Per round: edge support = one two-hop self-join on the SYMMETRIC
    edge list (|N(a) ∩ N(b)| via wedge closing — the triangle_stats
    join shape, never all-pairs), one left join back, one filter.
    Each round references the prior edge frame three times ⇒ eager
    localCheckpoint per round (the kcore lineage discipline)."""
    from lab3_spark.functions.partitioning import free_checkpoint

    und = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .union(
            edges.select(
                F.col(dst).cast("long").alias("a"),
                F.col(src).cast("long").alias("b"),
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = None
    for _ in range(rounds):
        x = und.select(F.col("a").alias("xa"), F.col("b").alias("w"))
        y = und.select(F.col("a").alias("ya"), F.col("b").alias("w"))
        support = (
            und.join(x, F.col("xa") == F.col("a"))
            .join(y, (F.col("ya") == F.col("b")) & (y.w == x.w))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        nxt = (
            und.join(support, ["a", "b"], "left")
            .where(F.coalesce("c", F.lit(0)) >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            free_checkpoint(prev)
        prev = und
        und = nxt
    return (
        und.where(F.col("a") < F.col("b")).orderBy("a", "b")
    )
