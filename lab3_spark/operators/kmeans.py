"""Fixed-point k-means (Lloyd) over embedding columns.

The canonical distributed iterative algorithm, shaped the way MLlib's
KMeans shapes it on a cluster:

- **assignment** is a narrow per-row argmin against the centroids,
  which are metadata-scale (k×d integers) and travel to executors as
  broadcast literal arrays — zero shuffle, scan-speed;
- **update** is ONE hash aggregation keyed by (cluster, position):
  map-side partial sums reduce each partition's contribution to k×d
  rows before the exchange, so the shuffle is k×d×partitions rows no
  matter how big the corpus is;
- between iterations the k×d centroid table is collected to the
  driver (the same collect-and-rebroadcast loop MLlib runs) — the ONLY
  driver-side data is the centroids themselves.

ALL-INTEGER arithmetic (the LSH/SimHash/PageRank contract — round-1's
float-sign lesson): embeddings are fixed-pointed to bigint
(floor(x·1e6), shared constant with operators/similarity.py), squared
distances are exact bigint sums (|xi| ≤ 1e6 ⇒ Σd (2e6)² ≤ 2.6e14, far
inside int64), and the centroid update is floor(sum/count) — every
engine computes the identical centroid, so the DuckDB oracle unrolls
the same synchronous iterations as plain CTEs and matches bit-for-bit.
Ties in the argmin break to the smallest cluster id (struct ordering).

Empty clusters drop out of the update (no members → no rows), exactly
as in the SQL GROUP BY — both engines shrink k identically.

Reference parity note: the reference (Phoenix++ MapReduce,
include/map_reduce.h) ships no clustering; this is a SURVEY §2.9
engine extension.  Its historical sibling is the k-means sample that
shipped with original Phoenix — the map/combine/reduce decomposition
here (per-row assign = map, partial sums = combine, centroid rebuild =
reduce) is the same dataflow expressed as DataFrame operators.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import spread
from lab3_spark.operators.similarity import FIXED_SCALE

DEFAULT_K = 8
DEFAULT_ITERS = 3


def fixed_point(col: Column) -> Column:
    """array<bigint> fixed-point embedding: floor(x·1e6) per component
    (floor, not round — HALF_UP vs nearbyint disagree across engines)."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(float(FIXED_SCALE))).cast("bigint")
    )


def _flat_matrix(emb_chunk, dims: int):
    """Flatten an Arrow list column to an (n, dims) float64 matrix,
    failing LOUDLY on shape violations: ``flatten()`` silently DROPS
    null lists, and a ragged row (len != dims) shifts every subsequent
    vector — either would corrupt all later assignments in the batch
    with no error.  numpy ``reshape`` only catches totals that don't
    divide evenly, so the exact size check is the real guard."""
    import numpy as np

    n = len(emb_chunk)
    flat = emb_chunk.flatten().to_numpy(zero_copy_only=False)
    if flat.size != n * dims:
        raise ValueError(
            f"embedding column shape violation: {n} rows x {dims} dims "
            f"expected {n * dims} values, flattened to {flat.size} "
            "(null or ragged embedding in batch)"
        )
    return flat.astype(np.float64).reshape(-1, dims)


def _sql_bigint_array(arr: list[int]) -> str:
    """SQL text of a literal array<bigint> — centroid metadata rendered
    as ONE parseable string.  Building these k×d literal trees with
    nested F.lit()/.cast() Column calls cost THOUSANDS of py4j round
    trips per expression (round-11 profiling: the ivfpq gates spent
    6–15 s per call in plan CONSTRUCTION, ~85% of their bench cost,
    and py4j latency amplifies under host steal); one F.expr() parse
    of the equivalent SQL is a single round trip.  Semantics are
    pinned identical by tests/test_kmeans.py::test_sql_builders_match
    _column_builders."""
    return "array(" + ",".join(f"{int(v)}L" for v in arr) + ")"


def _dist_struct_sql(cl: int, arr: list[int], code_field: str) -> str:
    """named_struct('dist', Σ(xi−c)², '<code_field>', cl) — the exact
    int64 squared distance from the fixed-point vector in column
    ``xi`` to ONE literal centroid, as SQL text."""
    return (
        "named_struct('dist', aggregate(zip_with(xi, "
        + _sql_bigint_array(arr)
        + ", (a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v), "
        + f"'{code_field}', {int(cl)}L)"
    )


def _assign_expr(cents: list[tuple[int, list[int]]]) -> Column:
    """argmin_cl Σ (xi − c_cl)² as a pure expression over broadcast
    literal centroid arrays; ties → smallest cl via struct ordering."""
    structs = ",".join(_dist_struct_sql(cl, arr, "cl") for cl, arr in cents)
    return F.expr(f"array_min(array({structs}))")["cl"]


def _iter_partials(
    embeddings: DataFrame,
    cents: list[tuple[int, list[int]]],
    prescaled: bool = False,
) -> DataFrame:
    """One Lloyd iteration as a single ``mapInArrow`` pass: per-batch
    assignment (exact int64 distances, argmin ties → lowest cl) fused
    with per-batch (cluster, pos) partial sums — each Arrow batch
    contributes at most k×d rows to the update shuffle regardless of
    batch size.  Bit-identical to the expression fold (`_assign_expr`):
    numpy int64 arithmetic == JVM bigint arithmetic, the same
    equivalence tests/test_similarity_impls.py pins for LSH.

    ``prescaled``: the embedding column already holds fixed-point
    bigints (e.g. IVF-PQ residuals) — skip the floor(x·1e6); the
    float64 round-trip through Arrow is exact (|values| ≤ ~4e6 ≪
    2^53)."""
    import numpy as np
    import pyarrow as pa

    cls = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([arr for _, arr in cents], dtype=np.int64)
    k, dims = cmat.shape

    def batches(it):
        for batch in it:
            x = _flat_matrix(batch.column(0), dims)
            n = x.shape[0]
            if n == 0:
                continue
            if prescaled:
                xi = x.astype(np.int64)
            else:
                xi = np.floor(x * float(FIXED_SCALE)).astype(np.int64)
            d2 = np.empty((n, k), dtype=np.int64)
            for j in range(k):
                diff = xi - cmat[j]
                d2[:, j] = (diff * diff).sum(axis=1)
            a = d2.argmin(axis=1)
            counts = np.bincount(a, minlength=k)
            out_cl, out_pos, out_s, out_n = [], [], [], []
            for j in range(k):
                if counts[j] == 0:
                    continue
                out_cl.append(np.full(dims, cls[j], dtype=np.int64))
                out_pos.append(np.arange(dims, dtype=np.int64))
                out_s.append(xi[a == j].sum(axis=0))
                out_n.append(np.full(dims, counts[j], dtype=np.int64))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_cl), type=pa.int64()),
                    pa.array(np.concatenate(out_pos), type=pa.int64()),
                    pa.array(np.concatenate(out_s), type=pa.int64()),
                    pa.array(np.concatenate(out_n), type=pa.int64()),
                ],
                names=["cl", "pos", "s", "n"],
            )

    return (
        spread(embeddings)
        .select("embedding")
        .mapInArrow(batches, "cl bigint, pos bigint, s bigint, n bigint")
    )


def kmeans_fixed(
    embeddings: DataFrame,
    k: int = DEFAULT_K,
    n_iter: int = DEFAULT_ITERS,
    prescaled: bool = False,
) -> DataFrame:
    """(cluster_id, pos, c, n_members): centroids after `n_iter` Lloyd
    iterations, one row per (cluster, dimension position), plus the
    cluster population.

    Init: the k lowest vec_ids seed the centroids (deterministic — no
    RNG state to reconcile across engines; k-means++ would need a
    portable RNG for no oracle benefit).

    Stateless by design: each iteration re-reads the input (narrow
    columnar scan) rather than holding a persisted fixed-point frame —
    a cached frame whose projection coincides with other operators'
    (LSH shares the floor(x·1e6) transform) gets silently substituted
    into THEIR plans by the cache manager, which round 3 measured as a
    cross-query plan-pollution bug.  Callers looping many more
    iterations can persist `embeddings` themselves."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    xi0 = (
        F.col("embedding") if prescaled else fixed_point(F.col("embedding"))
    )
    init = (
        spread(embeddings)
        .where(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cl"), xi0.alias("xi"))
    )
    cents = sorted((int(r["cl"]), list(r["xi"])) for r in init.collect())
    if not cents:
        raise ValueError("empty embeddings table")

    out: DataFrame | None = None
    for it in range(n_iter):
        upd = (
            _iter_partials(embeddings, cents, prescaled)
            .groupBy("cl", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .select(
                "cl",
                "pos",
                F.floor(F.col("s") / F.col("n")).cast("bigint").alias("c"),
                "n",
            )
        )
        if it < n_iter - 1:
            bycl: dict[int, dict[int, int]] = {}
            for r in upd.collect():
                bycl.setdefault(int(r["cl"]), {})[int(r["pos"])] = int(r["c"])
            cents = sorted(
                (cl, [m[p] for p in sorted(m)]) for cl, m in bycl.items()
            )
        else:
            out = upd.select(
                F.col("cl").alias("cluster_id"),
                "pos",
                "c",
                F.col("n").alias("n_members"),
            ).orderBy("cluster_id", "pos")
    assert out is not None
    return out


def assign_expr_frame(
    embeddings: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """(vec_id, embedding, cl) via the Catalyst expression fold — the
    zero-Python reference implementation tests pin `_assign_arrow`
    against."""
    xi = spread(embeddings).select(
        "vec_id", F.col("embedding"), fixed_point(F.col("embedding")).alias("xi")
    )
    return xi.select("vec_id", "embedding", _assign_expr(cents).alias("cl"))


def _assign_arrow(
    embeddings: DataFrame,
    cents: list[tuple[int, list[int]]],
    prescaled: bool = False,
) -> DataFrame:
    """(vec_id, embedding, cl): batch argmin assignment — same int64
    arithmetic as `_assign_expr` (equality pinned in tests), one numpy
    pass per Arrow batch with the embedding column passed through
    zero-copy.  ``prescaled``: embedding is already fixed-point bigint
    (residual frames) — no floor, and the passthrough column keeps its
    bigint element type."""
    import numpy as np
    import pyarrow as pa

    cls = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([arr for _, arr in cents], dtype=np.int64)
    k, dims = cmat.shape

    def batches(it):
        for batch in it:
            vec_id, emb = batch.column(0), batch.column(1)
            x = _flat_matrix(emb, dims)
            if x.shape[0] == 0:
                continue
            if prescaled:
                xi = x.astype(np.int64)
            else:
                xi = np.floor(x * float(FIXED_SCALE)).astype(np.int64)
            d2 = np.empty((x.shape[0], k), dtype=np.int64)
            for j in range(k):
                diff = xi - cmat[j]
                d2[:, j] = (diff * diff).sum(axis=1)
            a = d2.argmin(axis=1)
            yield pa.RecordBatch.from_arrays(
                [vec_id, emb, pa.array(cls[a], type=pa.int64())],
                names=["vec_id", "embedding", "cl"],
            )

    etype = "array<bigint>" if prescaled else "array<float>"
    return (
        spread(embeddings)
        .select("vec_id", "embedding")
        .mapInArrow(batches, f"vec_id bigint, embedding {etype}, cl bigint")
    )


def _codebook_store_path(
    embeddings: DataFrame,
    k: int,
    n_iter: int,
    prescaled: bool,
    store_key: str,
) -> str | None:
    """Disk location of a trained codebook under the shared
    ``.materialized`` root, or None when the store is disabled or the
    input's backing files can't be enumerated.

    The store is the TRAIN-ONCE index lifecycle (FAISS's: train the
    quantizer offline, persist codebooks, serve many sessions) applied
    the same way sources/layout.py persists bucketed tables: a
    deterministic artifact paid for once.  It is OFF by default —
    one-shot correctness runs must retrain so the oracle checks the
    whole training path — and enabled via
    ``SPARK_GRAFT_CODEBOOK_STORE=1`` by the long-lived bench/serving
    session (bench.py sets it; VERDICT r10 item 3).

    Key = sha256 of (sorted backing parquet files WITH their
    size+mtime, caller store_key, k, n_iter, prescaled) — folding the
    stat into the key means regenerating test data in place under the
    same paths invalidates the artifact instead of silently serving a
    stale codebook (ADVICE r11).  The caller's store_key must encode
    every derivation between the raw files and the training input
    (subspace index, slice width, coarse-quantizer params …) —
    training is a pure deterministic function of those, so equal keys
    imply equal codebooks.  Delete ``.materialized/codebooks`` to
    force retrain."""
    import hashlib

    if os.environ.get("SPARK_GRAFT_CODEBOOK_STORE") != "1":
        return None
    try:
        files = sorted(embeddings.inputFiles())
    except Exception:
        return None
    if not files:
        return None
    from lab3_spark.sources.layout import MATERIALIZED_ROOT

    def _stamp(uri: str) -> str:
        # inputFiles() returns file: URIs in local mode ('file:///x'
        # here, 'file:/x' from some Hadoop paths — urlparse handles
        # both); stat the path when reachable, else fall back to the
        # bare URI (remote FS — the path string still keys the
        # artifact deterministically).  st_mtime_ns, not whole
        # seconds: a same-second same-size in-place regeneration must
        # still change the key (round-12 review).
        if uri.startswith("file:"):
            from urllib.parse import urlparse

            path = urlparse(uri).path
        else:
            path = uri
        try:
            st = os.stat(path)
            return f"{uri}#{st.st_size}#{st.st_mtime_ns}"
        except OSError:
            return uri

    tag = hashlib.sha256(
        "|".join(
            [_stamp(f) for f in files]
            + [store_key, f"k{k}", f"i{n_iter}", f"p{int(prescaled)}"]
        ).encode()
    ).hexdigest()[:24]
    return os.path.join(MATERIALIZED_ROOT, "codebooks", f"{tag}.json")


def trained_centroids(
    embeddings: DataFrame,
    k: int = DEFAULT_K,
    n_iter: int = DEFAULT_ITERS,
    prescaled: bool = False,
    store_key: str | None = None,
    store_base: DataFrame | None = None,
) -> list[tuple[int, list[int]]]:
    """Train and collect the final centroids as (cl, components).

    Every call trains (one Lloyd run, ~15 Spark jobs); a caller that
    needs the same quantizer twice trains once and passes the list on.
    ``store_key`` keys the codebook into the env-gated DISK store
    (:func:`_codebook_store_path`): the store is consulted before
    training, and a fresh training is persisted for the next session.
    A corrupt/unreadable artifact falls through to retraining and is
    overwritten."""
    # store_base: a PERSISTED training input (InMemoryRelation) hides
    # its file scan from inputFiles(), so derived frames pass the raw
    # base frame for key derivation; store_key must then also encode
    # the base->input derivation (it always must -- see above).
    path = (
        _codebook_store_path(
            store_base if store_base is not None else embeddings,
            k,
            n_iter,
            prescaled,
            store_key,
        )
        if store_key is not None
        else None
    )
    if path is not None and os.path.exists(path):
        import json as _json

        try:
            loaded = [
                (int(cl), [int(c) for c in comps])
                for cl, comps in _json.load(open(path))
            ]
        except Exception:
            loaded = None  # corrupt artifact — retrain and overwrite
        if loaded:
            return loaded
    bycl: dict[int, dict[int, int]] = {}
    for r in kmeans_fixed(embeddings, k, n_iter, prescaled).collect():
        bycl.setdefault(int(r["cluster_id"]), {})[int(r["pos"])] = int(r["c"])
    cents = sorted((cl, [m[p] for p in sorted(m)]) for cl, m in bycl.items())
    if path is not None:
        import json as _json

        try:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tmp = f"{path}.tmp.{os.getpid()}"
            with open(tmp, "w") as fh:
                _json.dump(cents, fh)
            os.replace(tmp, path)  # atomic — concurrent writers both win
        except OSError:
            pass  # store is best-effort: a read-only/full .materialized
            # must never fail the training path that just succeeded
    return cents


def kmeans_assign(
    embeddings: DataFrame, k: int = DEFAULT_K, n_iter: int = DEFAULT_ITERS
) -> DataFrame:
    """(vec_id, embedding, cl): every vector's cluster under the
    trained centroids — one extra narrow assignment pass over the
    corpus (Arrow batch argmin).  This is the coarse quantizer a
    TRAINED IVF index probes (vs. ann_ivf's label stand-in)."""
    return _assign_arrow(embeddings, trained_centroids(embeddings, k, n_iter))


def _nearest_cells_expr(cents: list[tuple[int, list[int]]], nprobe: int) -> Column:
    """array<bigint> of the ``nprobe`` nearest cell ids for the vector
    in column ``xi`` — the per-query ADC distance table
    (:func:`_dist_table_expr`, the ONE place the exact int64 distance
    structs are built) sorted lexicographically (ties → lowest cell,
    identical to the argmin), sliced to P, projected to the cell id."""
    return F.expr(
        f"transform(slice(array_sort({_dist_table_sql(cents)}), 1, "
        f"{int(nprobe)}), s -> s.code)"
    )


def ann_ivf_trained(
    embeddings: DataFrame,
    n_queries: int = 20,
    topk: int = 5,
    k: int = DEFAULT_K,
    n_iter: int = DEFAULT_ITERS,
    nprobe: int = 1,
    train_limit: int | None = None,
) -> DataFrame:
    """IVF top-k over TRAINED k-means cells: the coarse quantizer is
    kmeans_fixed instead of ann_ivf's `label` stand-in.  Same probe
    shape — queries broadcast, only the probed cells scanned
    (nprobe/nlist of the corpus at scale), exact cosine within cells.

    ``nprobe`` is the standard IVF recall knob: probe the query's
    ``nprobe`` nearest cells instead of only its own.  The probe list
    is a per-QUERY expression against the k×d literal centroids (the
    query side is tiny and broadcast — computing top-P cells there
    costs nothing), exploded to (query, cell) rows; the corpus-side
    join stays the same equi-join on cell id, and since cells
    partition the corpus no pair can appear twice.  Recall lift is
    gated by `ann_recall_vs_bruteforce` (the nprobe=2 ≥ nprobe=1
    assertion lives in tests).

    ``train_limit``: train the quantizer on ``vec_id < train_limit``
    ONLY and leave it FROZEN — the production index-append story: new
    vectors (vec_id ≥ limit) enter the index through one narrow
    assignment pass against the existing centroids, never a retrain
    (FAISS ``add`` after ``train``, public); queries see the whole
    corpus immediately.  Retraining cadence becomes an offline policy
    decision measured by the recall gates, not an ingest cost."""
    from lab3_spark.functions.partitioning import persist_latest
    from lab3_spark.functions.vectors import dot_product, unit_vector
    from lab3_spark.operators.similarity import _topk_per_query

    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    train = (
        embeddings
        if train_limit is None
        else embeddings.where(F.col("vec_id") < train_limit)
    )
    cents = trained_centroids(train, k, n_iter)
    assigned = persist_latest(
        f"ann_ivf_trained_assigned_t{train_limit}",
        _assign_arrow(embeddings, cents),
    )
    corpus = assigned.select(
        "cl", F.col("vec_id").alias("neighbor_id"), unit_vector("embedding").alias("u_n")
    )
    if nprobe == 1:
        queries = assigned.where(F.col("vec_id") < n_queries).select(
            F.col("cl").alias("qcl"),
            F.col("vec_id").alias("query_id"),
            unit_vector("embedding").alias("u_q"),
        )
    else:
        queries = (
            embeddings.where(F.col("vec_id") < n_queries)
            .select(
                F.col("vec_id").alias("query_id"),
                unit_vector("embedding").alias("u_q"),
                fixed_point(F.col("embedding")).alias("xi"),
            )
            .select(
                "query_id",
                "u_q",
                F.explode(_nearest_cells_expr(cents, nprobe)).alias("qcl"),
            )
        )
    pairs = (
        F.broadcast(queries)
        .join(corpus, F.col("qcl") == F.col("cl"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", dot_product(F.col("u_q"), F.col("u_n")))
    )
    return _topk_per_query(pairs, topk)


def kmeans_silhouette(
    embeddings: DataFrame,
    k: int = DEFAULT_K,
    n_iter: int = DEFAULT_ITERS,
) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette (Hruschka et al. — centroid
    distances instead of the classic O(n²) mean pairwise distances,
    the only silhouette a 100 TB corpus can afford): for each vector,
    a = distance to its own (nearest) centroid, b = distance to the
    second-nearest, s = (b − a) / b ∈ [0, 1] (with assignment = argmin
    the own centroid IS the nearest, so the simplified score is
    nonnegative — boundary points → 0, well-separated points → 1).

    One narrow pass over the corpus: the exact int64 squared-distance
    table to all k literal centroids (:func:`_dist_table_sql` — ONE
    SQL parse, no py4j literal trees), ``array_sort`` picks (a², cl)
    and b² lexicographically (ties → lowest cell, the argmin rule),
    then one shared-shape double expression
    ``floor((sqrt(b2) - sqrt(a2)) / sqrt(b2) * 1e6)`` fixed-points the
    score so the unrolled-CTE oracle matches bit-for-bit; b² = 0
    (duplicate centroids on a coincident vector) scores 0.  Per-cluster
    mean is an integer DIV of nonnegative sums — combinable, exact at
    any corpus size (no double accumulation).

    This is the clustering-quality companion the trained-quantizer
    family (IVF / SemDeDup / cluster_balanced_sample) reads before
    trusting its cells: low mean silhouette in a cell = the coarse
    quantizer is splitting a natural cluster there."""
    cents = trained_centroids(embeddings, k, n_iter)
    st = embeddings.select(
        "vec_id", fixed_point(F.col("embedding")).alias("xi")
    ).withColumn("_st", F.expr(f"array_sort({_dist_table_sql(cents)})"))
    sil = st.select(
        F.expr("_st[0].code").alias("cluster_id"),
        F.expr(
            "CASE WHEN _st[1].dist > 0 THEN CAST(FLOOR((SQRT(_st[1].dist)"
            " - SQRT(_st[0].dist)) / SQRT(_st[1].dist) * 1000000)"
            " AS BIGINT) ELSE 0L END"
        ).alias("s"),
    )
    return (
        sil.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.expr("CAST(sum(s) DIV count(1) AS BIGINT)").alias(
                "mean_sil_fp"
            ),
            F.min("s").alias("min_sil_fp"),
            F.max("s").alias("max_sil_fp"),
        )
        .orderBy("cluster_id")
    )


def ann_recall_vs_bruteforce(
    embeddings: DataFrame,
    n_queries: int = 20,
    topk: int = 5,
    k: int = DEFAULT_K,
    n_iter: int = DEFAULT_ITERS,
    nprobe: int = 1,
) -> DataFrame:
    """(query_id, n_true, n_hit, recall): per-query recall@topk of the
    trained-IVF probe against the exact brute-force baseline.

    THE regression gate for quantizer quality: IVF trades recall for
    probing 1/nlist of the corpus, and without this measurement a
    k-means regression (bad seeds, broken update) would silently
    degrade results while every other gate stayed green.  Pure
    DataFrame join+agg over the two result sets — the oracle runs the
    identical computation over the two oracle CTE chains."""
    ivf = ann_ivf_trained(embeddings, n_queries, topk, k, n_iter, nprobe)
    return recall_vs_bruteforce(ivf, embeddings, n_queries, topk)


def ndcg_weight_sql(i: int) -> str:
    """Fixed-point DCG discount at rank ``i``: floor(10^6 / log2(i+1))
    — ONE shared SQL text for both engines (the unigram-surprisal
    float contract: a single ln-ratio expression, immediately
    floored)."""
    return (
        f"CAST(floor(1000000 / (ln({i + 1}.0) / ln(2.0))) AS BIGINT)"
    )


def ann_ivf_ndcg(
    embeddings: DataFrame,
    n_queries: int = 20,
    topk: int = 5,
    k: int = DEFAULT_K,
    n_iter: int = DEFAULT_ITERS,
) -> DataFrame:
    """(query_id, n_hit, dcg_fp, ndcg_fp): nDCG@topk of the trained-
    IVF ranking against the exact brute-force baseline — the RANK-
    QUALITY companion to recall@k (recall counts set overlap; nDCG
    also scores whether the index puts the best neighbors FIRST,
    which is what a retrieval consumer actually experiences).

    Graded relevance of a returned neighbor = topk+1 − its exact
    rank (5..1 for top-5 truth, 0 otherwise); DCG = Σ rel·w(rank)
    with w(i) = floor(10^6/log2(i+1)) — integer weights from
    :func:`ndcg_weight_sql`, so DCG sums are exact bigints; nDCG
    fixed-points against the constant ideal (all truth in order).
    Pure joins + aggregation over the two ≤ n_queries·topk result
    sets — metadata scale after the index probes."""
    from lab3_spark.operators.similarity import ann_bruteforce

    ivf = ann_ivf_trained(embeddings, n_queries, topk, k, n_iter).select(
        "query_id", "neighbor_id", "rnk"
    )
    bf = ann_bruteforce(embeddings, n_queries, topk).select(
        "query_id", "neighbor_id", F.col("rnk").alias("brnk")
    )
    j = ivf.join(bf, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "rnk",
        F.coalesce(F.lit(topk + 1) - F.col("brnk"), F.lit(0))
        .cast("bigint")
        .alias("rel"),
    )
    wcase = (
        "CASE rnk "
        + " ".join(
            f"WHEN {i} THEN {ndcg_weight_sql(i)}"
            for i in range(1, topk + 1)
        )
        + " ELSE CAST(0 AS BIGINT) END"
    )
    idcg = " + ".join(
        f"({topk + 1 - r} * {ndcg_weight_sql(r)})"
        for r in range(1, topk + 1)
    )
    per = j.groupBy("query_id").agg(
        F.sum((F.col("rel") > 0).cast("bigint")).alias("n_hit"),
        F.sum(F.col("rel") * F.expr(wcase)).alias("dcg_fp"),
    )
    return per.select(
        "query_id",
        "n_hit",
        F.col("dcg_fp").cast("bigint").alias("dcg_fp"),
        F.expr(
            f"CAST(dcg_fp * 1000000 DIV ({idcg}) AS BIGINT)"
        ).alias("ndcg_fp"),
    ).orderBy("query_id")


def recall_vs_bruteforce(
    approx: DataFrame,
    embeddings: DataFrame,
    n_queries: int = 20,
    topk: int = 5,
    baseline: DataFrame | None = None,
) -> DataFrame:
    """(query_id, n_true, n_hit, recall): recall@topk of ANY
    approximate result frame (columns query_id, neighbor_id) against
    an exact baseline — shared by the IVF and PQ recall gates.

    ``baseline`` defaults to the cosine brute force; pass a different
    ground-truth frame (e.g. `ann_bruteforce_l2` for the same-metric
    PQ gate) to measure against another exact metric — the truth/hits/
    recall join exists ONCE here for every gate."""
    from lab3_spark.functions.rounding import trunc
    from lab3_spark.operators.similarity import ann_bruteforce

    bf = (
        baseline
        if baseline is not None
        else ann_bruteforce(embeddings, n_queries, topk)
    ).select("query_id", "neighbor_id")
    ap = approx.select("query_id", "neighbor_id")
    truth = bf.groupBy("query_id").agg(F.count("*").alias("n_true"))
    hits = (
        bf.join(ap, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint")
    return (
        truth.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            n_hit.alias("n_hit"),
            trunc(n_hit / F.col("n_true"), 4).alias("recall"),
        )
        .orderBy("query_id")
    )


def semantic_near_duplicates(
    embeddings: DataFrame,
    min_cosine: float = 0.35,
    k: int = DEFAULT_K,
    n_iter: int = DEFAULT_ITERS,
) -> DataFrame:
    """(vec_a, vec_b, cos): SemDeDup-style semantic near-duplicate
    pairs, blocked by TRAINED k-means cells.

    The SemDeDup recipe (Abbas et al. 2023, public): cluster the
    embedding space, then compare pairs only WITHIN a cluster — two
    documents whose embeddings land in different cells are far apart
    by construction, so the O(n²) corpus self-join collapses to
    Σ_cells O(|cell|²).  This upgrades `dedup_embedding_cosine`'s
    `label` stand-in blocking to the engine's own Lloyd quantizer
    (`kmeans_fixed`): blocking quality is now a trained property of
    the data, not a pre-existing column, and the recall knob is k.

    Scale shape: train (k×d driver round-trips), ONE narrow Arrow
    assignment pass, then per-cell self-joins on the cell-id equi-join
    key — never all-pairs.  Cells partition the corpus, so no pair is
    seen twice and the join parallelizes per cell.  Cosine is an exact
    double dot of once-normalized unit vectors (`unit_vector` runs
    before the join — one fold per PAIR, not three).

    Reference parity note: no clustering/dedup exists in the reference
    (Phoenix++, include/map_reduce.h) — SURVEY §2.9 extension row.
    """
    from lab3_spark.functions.rounding import trunc
    from lab3_spark.functions.vectors import dot_product, unit_vector

    cents = trained_centroids(embeddings, k, n_iter)
    e = _assign_arrow(embeddings, cents).select(
        "vec_id", "cl", unit_vector("embedding").alias("u")
    )
    a = e.alias("a")
    b = e.alias("b")
    cos = dot_product(F.col("a.u"), F.col("b.u"))
    return (
        a.join(
            b,
            (F.col("a.cl") == F.col("b.cl"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            trunc(cos, 4).alias("cos"),
        )
        .where(F.col("cos") >= min_cosine)
        .orderBy("vec_a", "vec_b")
    )


def _dist_table_sql(cents: list[tuple[int, list[int]]]) -> str:
    """SQL text of `_dist_table_expr`'s array — shared with
    `_nearest_cells_expr` so the probe list parses as ONE expression
    too."""
    return (
        "array("
        + ",".join(_dist_struct_sql(cl, arr, "code") for cl, arr in cents)
        + ")"
    )


def _dist_table_expr(cents: list[tuple[int, list[int]]]) -> Column:
    """array<struct<dist,code>> of the EXACT int64 squared distance
    from the fixed-point vector in column ``xi`` to every centroid —
    `_assign_expr`'s structs without the argmin: the per-query ADC
    distance table."""
    return F.expr(_dist_table_sql(cents))


def ann_pq_adc(
    embeddings: DataFrame,
    n_queries: int = 20,
    topk: int = 5,
    m: int = 2,
    k: int = DEFAULT_K,
    n_iter: int = 2,
    dims: int = 64,
) -> DataFrame:
    """(query_id, neighbor_id, adist, rnk): top-k by PRODUCT-
    QUANTIZATION asymmetric distance (ADC) — the memory-bound scale
    path of ANN (Jégou et al. 2011, public).

    PQ splits each d-dim vector into ``m`` subvectors and trains an
    independent k-codeword quantizer per subspace (the engine's own
    `kmeans_fixed`, via `trained_centroids`); a vector is
    stored as m SMALL CODES (here 2×3 bits instead of 64×32-bit
    floats — the compression that lets a 100 TB corpus's index live
    in executor memory).  Query time: compute the m×k table of exact
    distances from the query's subvectors to every codeword
    (metadata-scale, broadcast), then every corpus vector's
    approximate distance is m TABLE LOOKUPS + a sum — an equi-join on
    code, never a per-pair vector fold.

    ALL-INTEGER end to end: fixed-point subvectors, exact int64
    squared distances, integer sums — zero floats anywhere, so the
    unrolled-CTE oracle matches bit-for-bit (ties rank by neighbor
    id).  Accuracy is the PQ trade (codes quantize); the recall gate
    family (`ann_recall_vs_bruteforce`) measures such trades rather
    than hiding them.

    Reference parity note: no ANN in the reference (Phoenix++,
    include/map_reduce.h) — SURVEY §2.9 extension row.
    """
    codes, dts = _pq_codes_and_tables(
        embeddings, n_queries, m, k, n_iter, dims
    )
    # one broadcast table of all (query, code_0..code_{m-1}) distance
    # combinations: m*k rows per query per subspace joined into k^m
    # combos — still metadata-scale (20 queries × 64 combos here)
    pairs = codes.join(
        F.broadcast(dts), [f"code_{s}" for s in range(m)]
    ).where(F.col("vec_id") != F.col("query_id"))
    adist = sum(F.col(f"dist_{s}") for s in range(m))
    from pyspark.sql.window import Window

    ranked = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        adist.cast("bigint").alias("adist"),
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.asc("adist"), F.asc("neighbor_id")
            )
        ),
    )
    # persisted: the final orderBy's range-sampling job and its result
    # job both read the ranked frame (one entry per (m,k,i,d,q) key)
    from lab3_spark.functions.partitioning import persist_latest

    ranked = persist_latest(
        f"kmeans.pq_ranked_m{m}_k{k}_i{n_iter}_d{dims}_q{n_queries}", ranked
    )
    return ranked.where(F.col("rnk") <= topk).orderBy("query_id", "rnk")


def _pq_codes_and_tables(
    embeddings: DataFrame,
    n_queries: int,
    m: int,
    k: int,
    n_iter: int,
    dims: int,
) -> tuple[DataFrame, DataFrame]:
    """(codes, dts): the PQ INDEX — one m-code bigint row per corpus
    vector — and the per-query subspace distance tables
    (metadata-scale, broadcastable).  Factored out of the flat ADC so IVF-PQ reuses
    the identical codebooks/codes."""
    if dims % m != 0:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    w = dims // m
    dts = None
    codes = None
    for s in range(m):
        sub = embeddings.select(
            "vec_id", F.slice("embedding", s * w + 1, w).alias("embedding")
        )
        cents = trained_centroids(
            sub, k, n_iter, store_key=f"pq.m{m}.s{s}.w{w}"
        )
        a = _assign_arrow(sub, cents).select(
            "vec_id", F.col("cl").alias(f"code_{s}")
        )
        codes = a if codes is None else codes.join(a, "vec_id")
        dt = (
            sub.where(F.col("vec_id") < n_queries)
            .select(
                F.col("vec_id").alias("query_id"),
                fixed_point(F.col("embedding")).alias("xi"),
            )
            .select(
                "query_id", F.explode(_dist_table_expr(cents)).alias("dc")
            )
            .select(
                "query_id",
                F.col("dc.code").alias(f"code_{s}"),
                F.col("dc.dist").alias(f"dist_{s}"),
            )
        )
        dts = dt if dts is None else dts.join(dt, "query_id")
    from lab3_spark.functions.partitioning import persist_latest

    codes = persist_latest(f"kmeans.pq_codes_m{m}_k{k}_i{n_iter}_d{dims}", codes)
    return codes, dts


def ann_ivf_pq(
    embeddings: DataFrame,
    n_queries: int = 20,
    topk: int = 5,
    m: int = 2,
    pq_k: int = DEFAULT_K,
    pq_iter: int = 2,
    coarse_k: int = DEFAULT_K,
    coarse_iter: int = DEFAULT_ITERS,
    dims: int = 64,
    nprobe: int = 2,
) -> DataFrame:
    """(query_id, neighbor_id, adist, rnk): the IVF-PQ COMPOSITE — the
    production ANN index shape (FAISS IVFPQ, Jégou et al. 2011,
    public): a trained coarse quantizer partitions the corpus into
    cells, each query probes only its ``nprobe`` nearest cells, and
    ranking inside the candidate set is PQ asymmetric distance over
    the compressed codes — never a full-corpus distance pass AND
    never raw vectors at query time.

    Composition of the engine's own certified parts: coarse cells =
    `trained_centroids` + `_assign_arrow` (Lloyd, trained once per
    call), probes = `_nearest_cells_expr` (the multi-probe expression
    `ann_ivf_probe2` gates), codes/tables = `_pq_codes_and_tables`
    (the exact frames `ann_pq_adc` ranks with).  This variant
    quantizes RAW vectors (IVF as a candidate restriction); the
    residual-quantized refinement is the documented next step.

    Scale shape: cells and codes are one narrow bigint row per corpus
    vector; the probe join touches nprobe/k of the corpus per query;
    the ADC join is candidate-rows ⋈ broadcast distance tables — all
    equi-joins, zero per-pair vector folds, index memory is m codes +
    one cell id per vector.  ALL-INTEGER like the PQ family, so the
    composed DuckDB oracle matches bit-for-bit."""
    from pyspark.sql.window import Window

    cents = trained_centroids(embeddings, coarse_k, coarse_iter)
    cells = _assign_arrow(embeddings, cents).select("vec_id", "cl")
    probes = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            fixed_point(F.col("embedding")).alias("xi"),
        )
        .select(
            "query_id",
            F.explode(_nearest_cells_expr(cents, nprobe)).alias("cl"),
        )
    )
    cand = (
        probes.join(cells, "cl")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    codes, dts = _pq_codes_and_tables(
        embeddings, n_queries, m, pq_k, pq_iter, dims
    )
    pairs = cand.join(codes, "vec_id").join(
        F.broadcast(dts),
        ["query_id"] + [f"code_{s}" for s in range(m)],
    )
    adist = sum(F.col(f"dist_{s}") for s in range(m))
    ranked = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        adist.cast("bigint").alias("adist"),
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.asc("adist"), F.asc("neighbor_id")
            )
        ),
    )
    return ranked.where(F.col("rnk") <= topk).orderBy("query_id", "rnk")


def _cent_lookup_expr(cents: list[tuple[int, list[int]]]) -> Column:
    """array<bigint> centroid for the cell id in column ``cl`` — a
    literal map (k×d ints, metadata-scale) so the residual subtraction
    is a pure broadcast expression, no join."""
    keys = "array(" + ",".join(f"{int(cl)}L" for cl, _ in cents) + ")"
    vals = (
        "array(" + ",".join(_sql_bigint_array(arr) for _, arr in cents) + ")"
    )
    return F.expr(f"element_at(map_from_arrays({keys}, {vals}), cl)")


def ann_ivf_pq_residual(
    embeddings: DataFrame,
    n_queries: int = 20,
    topk: int = 5,
    m: int = 2,
    pq_k: int = DEFAULT_K,
    pq_iter: int = 2,
    coarse_k: int = DEFAULT_K,
    coarse_iter: int = DEFAULT_ITERS,
    dims: int = 64,
    nprobe: int = 2,
) -> DataFrame:
    """(query_id, neighbor_id, adist, rnk): RESIDUAL-quantized IVF-PQ —
    the full FAISS IVFPQ shape (Jégou et al. 2011 §IV, public): the PQ
    codebooks are trained on RESIDUALS (vector minus its coarse-cell
    centroid), which concentrates the quantizer's codewords on the
    within-cell distribution instead of the global one — the standard
    accuracy refinement over `ann_ivf_pq`'s raw-vector variant.

    Query time is the asymmetric part: the query's residual is
    computed PER PROBED CELL (q − c_cell), so the subspace distance
    tables are keyed (query, cell, code) — still metadata-scale
    (n_queries × nprobe × m × k rows) and broadcast.  Each corpus
    vector is stored once, in its own cell, as m codes over its own
    residual; candidates therefore join their stored cell's table
    entry — exactly FAISS's per-list ADC.

    All-integer end to end: residuals are exact bigint differences of
    fixed-point values, Lloyd on residuals runs the same prescaled
    int64 arithmetic (``prescaled=True`` threads through
    `trained_centroids`/`_assign_arrow`), so the chained DuckDB oracle
    (coarse CTEs → residual CTE → per-subspace Lloyd CTEs over it)
    matches bit-for-bit.

    Scale shape: identical to `ann_ivf_pq` — narrow bigint code rows,
    probe equi-join touches nprobe/k of the corpus, ADC is a broadcast
    table join; the only addition is one scan-speed residual
    projection (zip_with against a k×d literal map) before training/
    encoding."""
    from pyspark.sql.window import Window

    from lab3_spark.functions.partitioning import persist_latest

    if dims % m != 0:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    w = dims // m
    cents = trained_centroids(
        embeddings,
        coarse_k,
        coarse_iter,
        store_key=f"coarse.ck{coarse_k}.ci{coarse_iter}",
    )
    lookup = _cent_lookup_expr(cents)
    # residual frame: one narrow (vec_id, cl, rxi) projection over the
    # assigned corpus — exact bigint xi − centroid, scan-speed
    rx = persist_latest(
        f"kmeans.ivfpq_residuals_k{coarse_k}_i{coarse_iter}",
        _assign_arrow(embeddings, cents).select(
            "vec_id",
            "cl",
            F.zip_with(
                fixed_point(F.col("embedding")), lookup, lambda a, b: a - b
            ).alias("rxi"),
        ),
    )
    # per-probed-cell query residuals: (query_id, cl, rxi) — the
    # asymmetric side, nprobe rows per query
    probes = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            fixed_point(F.col("embedding")).alias("xi"),
        )
        .select(
            "query_id",
            "xi",
            F.explode(_nearest_cells_expr(cents, nprobe)).alias("cl"),
        )
        .select(
            "query_id",
            "cl",
            F.zip_with(F.col("xi"), lookup, lambda a, b: a - b).alias("rxi"),
        )
    )
    codes = None
    dts = None
    for s in range(m):
        sub = rx.select(
            "vec_id", F.slice("rxi", s * w + 1, w).alias("embedding")
        )
        scents = trained_centroids(
            sub,
            pq_k,
            pq_iter,
            prescaled=True,
            store_key=f"ivfpq_res.m{m}.s{s}.w{w}.ck{coarse_k}.ci{coarse_iter}",
            store_base=embeddings,
        )
        a = _assign_arrow(sub, scents, prescaled=True).select(
            "vec_id", F.col("cl").alias(f"code_{s}")
        )
        codes = a if codes is None else codes.join(a, "vec_id")
        dt = probes.select(
            "query_id",
            "cl",
            F.slice("rxi", s * w + 1, w).alias("xi"),
        ).select(
            "query_id",
            "cl",
            F.explode(_dist_table_expr(scents)).alias("dc"),
        ).select(
            "query_id",
            "cl",
            F.col("dc.code").alias(f"code_{s}"),
            F.col("dc.dist").alias(f"dist_{s}"),
        )
        dts = dt if dts is None else dts.join(dt, ["query_id", "cl"])
    codes = persist_latest(
        f"kmeans.ivfpq_res_codes_m{m}_k{pq_k}_i{pq_iter}_d{dims}", codes
    )
    # candidates: the probe equi-join (nprobe/k of the corpus per
    # query), then m-code lookup against the (query, cell)-keyed
    # broadcast distance tables
    cand = (
        probes.select("query_id", "cl")
        .join(rx.select("vec_id", "cl"), "cl")
        .where(F.col("vec_id") != F.col("query_id"))
    )
    pairs = cand.join(codes, "vec_id").join(
        F.broadcast(dts),
        ["query_id", "cl"] + [f"code_{s}" for s in range(m)],
    )
    adist = sum(F.col(f"dist_{s}") for s in range(m))
    ranked = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        adist.cast("bigint").alias("adist"),
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.asc("adist"), F.asc("neighbor_id")
            )
        ),
    )
    return ranked.where(F.col("rnk") <= topk).orderBy("query_id", "rnk")


def ann_bruteforce_l2(
    embeddings: DataFrame, n_queries: int = 20, topk: int = 5
) -> DataFrame:
    """(query_id, neighbor_id, dist, rnk): EXACT top-k by fixed-point
    squared L2 distance — the ALL-INTEGER brute-force baseline (the
    cosine baseline lives in similarity.ann_bruteforce; this one is
    the ground truth PQ approximates, same metric, zero floats
    anywhere).  Queries broadcast, corpus scanned once — O(Q·N) folds,
    the correct-but-unscalable baseline the quantized paths are
    measured against."""
    from pyspark.sql.window import Window

    e = embeddings.select("vec_id", fixed_point(F.col("embedding")).alias("xi"))
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("xi").alias("xq")
    )
    d = F.aggregate(
        F.zip_with("xq", "xi", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    ranked = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), d.alias("dist")
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.asc("dist"), F.asc("neighbor_id")
                )
            ),
        )
    )
    # persisted like the PQ ranked frame: the final orderBy reads it
    # twice (range sampling + result)
    from lab3_spark.functions.partitioning import persist_latest

    ranked = persist_latest(f"kmeans.bf_l2_ranked_q{n_queries}", ranked)
    return ranked.where(F.col("rnk") <= topk).orderBy("query_id", "rnk")


def ann_pq_recall(
    embeddings: DataFrame,
    n_queries: int = 20,
    topk: int = 5,
    m: int = 2,
    k: int = DEFAULT_K,
    n_iter: int = 2,
    dims: int = 64,
) -> DataFrame:
    """Recall@topk of the PQ-ADC result against the EXACT same-metric
    (squared-L2) brute force — the PQ quantizer's regression gate.

    Context for the pinned numbers: the synthetic embeddings are
    near-random, where distances concentrate and ANY quantizer's
    recall is modest (measured ~0.13-0.15 here vs ~0.01 for random
    guessing — the gate guards the 13× gap, which collapses if
    training or encoding breaks).  On real (clustered) embeddings the
    same code recalls far higher; the gate's job is regression
    visibility, not absolute quality."""
    pq = ann_pq_adc(embeddings, n_queries, topk, m, k, n_iter, dims)
    return recall_vs_bruteforce(
        pq,
        embeddings,
        n_queries,
        topk,
        baseline=ann_bruteforce_l2(embeddings, n_queries, topk),
    )


def ann_pq_rerank(
    embeddings: DataFrame,
    n_queries: int = 20,
    topk: int = 5,
    shortlist: int = 20,
    m: int = 2,
    k: int = DEFAULT_K,
    n_iter: int = 2,
    dims: int = 64,
) -> DataFrame:
    """(query_id, neighbor_id, dist, rnk): the production two-stage
    ANN shape — PQ-ADC shortlists ``shortlist`` candidates per query
    from the COMPRESSED codes, then the exact fixed-point L2 reranks
    only that shortlist (IVFADC + re-ranking, Jégou et al. 2011 §V,
    public).

    Why this is the 100 TB answer: stage 1 touches only m-byte codes
    (the whole index fits in executor memory — no vector I/O); stage 2
    fetches full vectors for shortlist·Q rows, an equi-join on vec_id
    against the corpus — the expensive exact fold runs on a
    vanishingly small fraction of the data.  Recall can only improve
    over raw ADC at the same k: any true neighbor that survives into
    the shortlist is exact-closest there, so the rerank keeps it
    (pinned by the recall test).

    All-integer end to end (fixed-point subvectors → int64 codes/
    distances → exact int64 L2), so the oracle extends the PQ CTE
    chain mechanically and matches bit-for-bit."""
    cand = ann_pq_adc(
        embeddings, n_queries, shortlist, m, k, n_iter, dims
    ).select("query_id", "neighbor_id")
    return _exact_rerank(cand, embeddings, n_queries, topk)


def _exact_rerank(
    cand: DataFrame, embeddings: DataFrame, n_queries: int, topk: int
) -> DataFrame:
    """Stage-2 exact fixed-point L2 over a (query_id, neighbor_id)
    shortlist: fetch full vectors for shortlist·Q rows via an equi-join
    on vec_id, broadcast the Q query vectors, rank by exact int64
    distance (ties → lowest neighbor id).  The shared tail of every
    two-stage ANN composite."""
    from pyspark.sql.window import Window

    e = embeddings.select("vec_id", fixed_point(F.col("embedding")).alias("xi"))
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("xi").alias("xq")
    )
    d = F.aggregate(
        F.zip_with("xq", "xi", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    ranked = (
        cand.join(e, cand.neighbor_id == e.vec_id)
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", d.alias("dist"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.asc("dist"), F.asc("neighbor_id")
                )
            ),
        )
    )
    return ranked.where(F.col("rnk") <= topk).orderBy("query_id", "rnk")


def ann_ivfpq_recall(
    embeddings: DataFrame,
    n_queries: int = 20,
    topk: int = 5,
    m: int = 2,
    pq_k: int = DEFAULT_K,
    pq_iter: int = 2,
    coarse_k: int = DEFAULT_K,
    coarse_iter: int = DEFAULT_ITERS,
    dims: int = 64,
    nprobe: int = 2,
) -> DataFrame:
    """Recall@topk of residual IVF-PQ against the exact same-metric
    L2 brute force — the composite's regression gate: the IVF
    restriction (only nprobe/k of the corpus is even ranked) and the
    PQ code quantization BOTH cost recall, and this gate makes the
    combined trade visible the same way `ann_ivf_recall` /
    `ann_pq_recall` do for each part alone (a collapse means the
    probe, residual, or coding path broke)."""
    ivfpq = ann_ivf_pq_residual(
        embeddings, n_queries, topk, m, pq_k, pq_iter,
        coarse_k, coarse_iter, dims, nprobe,
    )
    return recall_vs_bruteforce(
        ivfpq,
        embeddings,
        n_queries,
        topk,
        baseline=ann_bruteforce_l2(embeddings, n_queries, topk),
    )


def ann_ivfpq_rerank(
    embeddings: DataFrame,
    n_queries: int = 20,
    topk: int = 5,
    shortlist: int = 20,
    m: int = 2,
    pq_k: int = DEFAULT_K,
    pq_iter: int = 2,
    coarse_k: int = DEFAULT_K,
    coarse_iter: int = DEFAULT_ITERS,
    dims: int = 64,
    nprobe: int = 2,
) -> DataFrame:
    """(query_id, neighbor_id, dist, rnk): IVFADC + exact re-ranking —
    the COMPLETE production ANN pipeline (FAISS IVFPQ + refine, Jégou
    et al. 2011 §V): residual IVF-PQ shortlists ``shortlist``
    candidates per query from probed cells' compressed codes, then the
    exact fixed-point L2 reranks only that shortlist.

    100 TB shape: stage 1 never touches raw vectors (cell ids + m-byte
    codes, probe equi-join over nprobe/k of the corpus, broadcast
    distance tables); stage 2 fetches full vectors for shortlist·Q
    rows only — the expensive exact fold runs on a vanishing fraction.
    All-integer, so the oracle appends a rerank CTE to the residual
    chain and matches bit-for-bit."""
    cand = ann_ivf_pq_residual(
        embeddings, n_queries, shortlist, m, pq_k, pq_iter,
        coarse_k, coarse_iter, dims, nprobe,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(cand, embeddings, n_queries, topk)
