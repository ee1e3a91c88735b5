"""Fixed-point PageRank (operators/pagerank.py): hand-computed small
graphs; integer arithmetic must match an exact Python re-computation."""

from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import cache_scope
from lab3_spark.operators.pagerank import (
    BASE_FP,
    DAMPING_DEN,
    DAMPING_NUM,
    RANK_SCALE,
    pagerank_fixed_point,
    symmetrize,
)


def python_pagerank(edges, n_iter):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {n: RANK_SCALE for n in nodes}
    for _ in range(n_iter):
        s = {n: 0 for n in nodes}
        for src, dst in edges:
            s[dst] += rank[src] // deg[src]
        rank = {n: BASE_FP + (DAMPING_NUM * s[n]) // DAMPING_DEN for n in nodes}
    return rank


def test_matches_python_on_path_graph(spark):
    # path 1-2-3 plus pendant 4-1: asymmetric degrees
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4)], "doc_a long, doc_b long"
    )
    edges = symmetrize(pairs)
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixed_point(edges, n_iter=4).collect()
    }
    edge_list = [(r["src"], r["dst"]) for r in edges.collect()]
    assert got == python_pagerank(edge_list, 4)
    # center node 1 (degree 2) outranks the leaves
    assert got[1] == max(got.values())


def test_uniform_on_regular_graph(spark):
    # triangle: every node symmetric -> equal ranks, mass conserved-ish
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "doc_a long, doc_b long"
    )
    got = [
        r["rank_fp"]
        for r in pagerank_fixed_point(symmetrize(pairs), n_iter=3).collect()
    ]
    assert len(set(got)) == 1
    # uniform start is the fixpoint of a regular graph (up to div floor)
    assert abs(got[0] - RANK_SCALE) <= DAMPING_DEN


def test_ppr_mass_stays_in_seed_component(spark):
    """Restart mass goes only to the 3 smallest-id seeds, so nodes in
    a component disjoint from the seeds end with rank exactly 0,
    while every seed-component node is positive."""
    from pyspark.sql import functions as F

    from lab3_spark.operators.pagerank import ppr_fixed_point, symmetrize

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    got = {
        r.node: r.rank_fp
        for r in ppr_fixed_point(symmetrize(pairs), n_iter=5, n_seeds=3).collect()
    }
    assert set(got) == {1, 2, 3, 10, 11}
    for n in (1, 2, 3):
        assert got[n] > 0, (n, got)
    for n in (10, 11):
        assert got[n] == 0, (n, got)


def test_long_horizon_truncation_branch(spark, settled_persistent_rdds):
    """n_iter > 8 exercises the periodic lineage-truncation branch
    (pagerank.py: localCheckpoint every 8 rounds) — ADVICE r12: the
    branch was dead code under every n_iter=5 caller.  Values must be
    exact straight through a truncation boundary, and superseded
    truncation checkpoints must be FREED (bounded storage across
    rebuilds on different inputs)."""
    from lab3_spark.operators.pagerank import pagerank_fixed_point

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (3, 5)], "doc_a long, doc_b long"
    )
    edges = symmetrize(pairs)
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixed_point(edges, n_iter=10).collect()
    }
    edge_list = [(r["src"], r["dst"]) for r in edges.collect()]
    assert got == python_pagerank(edge_list, 10)

    # storage bound: rebuilding on a DIFFERENT input (forces the loop,
    # including two truncations at n_iter=20), each build in its own
    # scope, must not grow the set of pinned RDDs — each truncation
    # frees its predecessor, the final checkpoint frees the last one
    # (the prev_trunc discipline) and the scope frees the final one.
    pairs2 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    with cache_scope():
        pagerank_fixed_point(symmetrize(pairs2), n_iter=20).collect()
    n_after_first = settled_persistent_rdds()
    pairs3 = spark.createDataFrame(
        [(5, 6), (6, 7), (7, 8)], "doc_a long, doc_b long"
    )
    with cache_scope():
        pagerank_fixed_point(symmetrize(pairs3), n_iter=20).collect()
    n_after_second = settled_persistent_rdds()
    assert n_after_second <= n_after_first, (
        n_after_first,
        n_after_second,
    )
