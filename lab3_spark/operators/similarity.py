"""Similarity search over embedding columns (array<float>).

Two paths, mirroring what a production vector pipeline runs:

- brute-force cosine top-k: exact, O(Q·N) — the correctness baseline.
  Q queries broadcast against the corpus; per-pair math is a JVM-side
  higher-order-function fold (zip_with + aggregate), no UDF.
- IVF-style blocked top-k: the scale path — a coarse quantizer assigns
  each vector to a bucket (here the `label` column stands in for a
  centroid id); queries probe only their own bucket.  At 100 TB this
  turns a full-corpus scan into a per-bucket scan (1/nlist of the
  data), the classic recall/cost trade.
- random-hyperplane LSH code: deterministic md5-derived planes — a
  portable signed projection whose oracle is expressible in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from lab3_spark.functions.partitioning import spread
from lab3_spark.functions.rounding import trunc
from lab3_spark.functions.vectors import dot_product, unit_vector


def _topk_per_query(pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            trunc(F.col("cos_raw"), 4).alias("cos"),
            "rnk",
        )
        .orderBy("query_id", "rnk")
    )


def ann_bruteforce(
    embeddings: DataFrame, n_queries: int = 20, k: int = 5
) -> DataFrame:
    """Exact cosine top-k: vec_id < n_queries as the query set, ranked
    against the whole corpus (self excluded).

    The query side is tiny → broadcast; Catalyst plans
    BroadcastNestedLoopJoin so the corpus is scanned once, partitions
    in parallel, no shuffle of the big side.  Both sides are
    unit-normalized before the join: one fold per pair."""
    corpus = spread(embeddings).select(
        F.col("vec_id").alias("neighbor_id"), unit_vector("embedding").alias("u_n")
    )
    queries = embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), unit_vector("embedding").alias("u_q")
    )
    pairs = F.broadcast(queries).crossJoin(corpus).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    pairs = pairs.withColumn("cos_raw", dot_product(F.col("u_q"), F.col("u_n")))
    return _topk_per_query(pairs, k)


def ann_ivf(
    embeddings: DataFrame, n_queries: int = 20, k: int = 5
) -> DataFrame:
    """IVF-style approximate top-k: probe only the query's own coarse
    bucket (label = centroid id stand-in).  Same output schema as
    ann_bruteforce; recall < 1 when true neighbors live in other
    buckets — that is the documented trade."""
    corpus = spread(embeddings).select(
        "label", F.col("vec_id").alias("neighbor_id"), unit_vector("embedding").alias("u_n")
    )
    queries = embeddings.where(F.col("vec_id") < n_queries).select(
        "label", F.col("vec_id").alias("query_id"), unit_vector("embedding").alias("u_q")
    )
    pairs = (
        F.broadcast(queries.withColumnRenamed("label", "qlabel"))
        .join(corpus, F.col("qlabel") == F.col("label"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", dot_product(F.col("u_q"), F.col("u_n")))
    )
    return _topk_per_query(pairs, k)


N_PLANES = 16
PLANE_MOD = 2001  # integer numerator ∈ [-1000, 1000] (denominator 1000)
FIXED_SCALE = 1_000_000  # embedding fixed-point scale: floor(x * 1e6)


def plane_numerators(n_planes: int, dims: int) -> list[list[int]]:
    """The deterministic hyperplane matrix as INTEGER numerators.

    Component (p, d) = (md5_long(f"{p},{d}") % 2001) - 1000, computed
    driver-side with hashlib — `hex_to_long` of a hex prefix IS
    ``int(hex[:15], 16)``, so this reproduces the portable md5 fold
    (functions/text.py:69-92) bit-for-bit.  The matrix is tiny
    (16 × dims ints) and becomes array literals in the plan — no join,
    no shuffle, no per-row hashing."""
    import hashlib

    return [
        [
            (int(hashlib.md5(f"{p},{d}".encode()).hexdigest()[:15], 16) % PLANE_MOD)
            - (PLANE_MOD - 1) // 2
            for d in range(dims)
        ]
        for p in range(n_planes)
    ]


def _embedding_dims(embeddings: DataFrame, dims: int | None = None) -> int:
    """Dimensionality: the caller-supplied value when known (zero Spark
    jobs), else probed from one row (an O(1) driver action, but still
    one extra Spark job per call — callers that know their corpus
    should pass ``dims``)."""
    if dims is not None:
        return int(dims)
    row = embeddings.select(F.size("embedding").alias("d")).first()
    if row is None:
        raise ValueError("empty embeddings table")
    return int(row["d"])


def lsh_codes_arrow(embeddings: DataFrame, dims: int | None = None) -> DataFrame:
    """(vec_id, code): the SAME integer signature as :func:`lsh_codes`,
    via ``mapInArrow`` — the lowest-overhead Python path: RecordBatches
    cross the Arrow boundary with NO pandas materialization, the list
    column is flattened zero-copy into one numpy matrix per batch, and
    the int64 matmul is identical to the JVM fold (tests pin both
    against a pure-Python reference).

    When to choose which (SCALE.md): expression fold = no Python at
    all (small dims); mapInArrow = BLAS throughput at minimum
    serialization — the right shape for wide embeddings at 100 TB."""
    import numpy as np
    import pyarrow as pa

    dims = _embedding_dims(embeddings, dims)
    planes = np.array(plane_numerators(N_PLANES, dims), dtype=np.int64)
    bits = np.int64(1) << np.arange(N_PLANES, dtype=np.int64)

    def batches(it):
        for batch in it:
            vec_id = batch.column(0)
            emb = batch.column(1)
            flat = emb.flatten().to_numpy(zero_copy_only=False)
            x = flat.astype(np.float64).reshape(-1, dims)
            xi = np.floor(x * float(FIXED_SCALE)).astype(np.int64)
            codes = ((xi @ planes.T > 0) * bits).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [vec_id, pa.array(codes, type=pa.int64())],
                names=["vec_id", "code"],
            )

    return (
        spread(embeddings)
        .select("vec_id", "embedding")
        .mapInArrow(batches, "vec_id bigint, code bigint")
    )


def lsh_codes(embeddings: DataFrame, dims: int | None = None) -> DataFrame:
    """(vec_id, code): N_PLANES-bit random-hyperplane signature.

    code bit p = sign(v · plane_p).  Buckets with equal codes hold
    likely-similar vectors; at scale the code is the shuffle key that
    replaces all-pairs search.

    ALL-INTEGER arithmetic (same contract as SimHash, dedup.py): the
    embedding is fixed-pointed to bigint (floor(x·1e6) — floor, not
    round: HALF_UP vs nearbyint disagree across engines), plane
    components stay integer numerators, and the dot product is a bigint
    sum — associative, so aggregation order can't flip a sign the way
    float summation did near zero.

    Plan shape: a single narrow projection — per-row zip_with/aggregate
    folds against literal plane arrays.  No explode, no shuffle, no
    aggregation at all; the previous form shuffled dims × N_PLANES rows
    per vector (a 1024× amplifier at 100 TB)."""
    dims = _embedding_dims(embeddings, dims)
    planes = plane_numerators(N_PLANES, dims)

    xi = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(float(FIXED_SCALE))).cast("bigint"),
    )
    zero = F.lit(0).cast("bigint")

    def dot_int(plane: list[int]) -> F.Column:
        lits = F.array(*[F.lit(n).cast("bigint") for n in plane])
        return F.aggregate(
            F.zip_with(F.col("xi"), lits, lambda a, b: a * b),
            zero,
            lambda acc, v: acc + v,
        )

    code = None
    for p, plane in enumerate(planes):
        bit = F.when(dot_int(plane) > 0, F.lit(1 << p).cast("bigint")).otherwise(zero)
        code = bit if code is None else code + bit

    return (
        spread(embeddings)
        .select("vec_id", xi.alias("xi"))
        .select("vec_id", code.alias("code"))
    )


def ann_hash_embedding(
    documents: DataFrame, n_queries: int = 20, k: int = 5, dims: int = 16
) -> DataFrame:
    """Text-only ANN: brute-force cosine top-k over the engine's OWN
    feature-hash embeddings (textstats.feature_hash_embedding) — the
    end-to-end text → vector → similarity path with no pretrained
    embedder.  Sparse (doc_id, dim, w) rows densify to a dims-vector
    via a map lookup (per-row, no join); zero-norm documents (no
    tokens that survive hashing) are excluded on BOTH sides; the probe
    is the same broadcast-queries fold as ann_bruteforce."""
    from lab3_spark.operators.textstats import feature_hash_embedding

    sparse = feature_hash_embedding(documents, dims=dims)
    zero = F.lit(0).cast("bigint")
    dense = (
        sparse.groupBy("doc_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("dim", "w"))).alias("m"))
        .select(
            "doc_id",
            F.transform(
                F.sequence(zero, F.lit(dims - 1).cast("bigint")),
                lambda d: F.coalesce(F.col("m")[d], zero),
            ).alias("v"),
        )
    )
    norm2 = F.aggregate("v", zero, lambda acc, x: acc + x * x)
    nonzero = dense.where(norm2 > 0)
    corpus = nonzero.select(
        F.col("doc_id").alias("neighbor_id"), unit_vector("v").alias("u_n")
    )
    queries = nonzero.where(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), unit_vector("v").alias("u_q")
    )
    pairs = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_raw", dot_product(F.col("u_q"), F.col("u_n")))
    )
    return _topk_per_query(pairs, k)


def lsh_bucket_sizes(embeddings: DataFrame, dims: int | None = None) -> DataFrame:
    """(code, n_vecs): LSH bucket histogram — the partition-balance
    diagnostic for the ANN scale path.

    Uses the mapInArrow code path: both implementations are
    bit-identical (pinned by tests/test_arrow_python.py), and the
    measured ladder at sf0.1 was expression fold 2.5 s vs arrow
    0.48 s — 16 interpreted Catalyst `aggregate` folds per row lose to
    one BLAS matmul per Arrow batch by ~5× even at 64 dims, and the
    gap widens with dimension."""
    return (
        lsh_codes_arrow(embeddings, dims)
        .groupBy("code")
        .agg(F.count("*").alias("n_vecs"))
        .orderBy("code")
    )


def sq8_minmax(embeddings: DataFrame) -> list[tuple[int, int, int]]:
    """[(pos, mn, mx)] per-dimension fixed-point min/max over the
    corpus — the scalar quantizer's entire training state (2·d
    bigints, collected to the driver like k-means centroids; the
    MLlib collect-and-rebroadcast pattern).  One posexplode + d-group
    aggregation: map-side partials reduce each partition to d rows
    before the exchange."""
    from lab3_spark.operators.kmeans import fixed_point

    rows = (
        spread(embeddings)
        .select(F.posexplode(fixed_point(F.col("embedding"))).alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .collect()
    )
    return sorted((int(r["pos"]), int(r["mn"]), int(r["mx"])) for r in rows)


def ann_sq8(
    embeddings: DataFrame, n_queries: int = 20, topk: int = 5
) -> DataFrame:
    """(query_id, neighbor_id, adist, rnk): top-k by SCALAR-quantized
    asymmetric distance — the third compression family next to PQ and
    LSH (FAISS ScalarQuantizer QT_8bit, public): each dimension is
    quantized independently to an 8-bit code against the corpus's
    per-dimension [min, max] range, and queries rank EXACT vectors
    against the integer RECONSTRUCTION (min + code·range/255).

    Why it matters at 100 TB: unlike IVF/LSH this is still a full
    scan, but over 1 byte/dim instead of 4-8 — a 4-8× scan-IO
    reduction with zero recall machinery (no cells to probe, no
    training loop beyond one min/max pass), the standard first rung
    of index compression.

    ALL-INTEGER: code = floor((xi−mn)·255/range) and reconstruction
    rq = mn + floor(code·range/255) are computed as exact integer
    floor divisions — `(a − pmod(a, r)) / r` makes the numerator a
    multiple of r so the double division is exact (DuckDB mirrors
    with `//`) — and the distance is the exact int64 fold, so the
    oracle matches bit-for-bit.  Everything stays in-row (chained
    binary `zip_with`s against d-length literal arrays); the only
    shuffles are the d-row min/max aggregation and the final
    per-query rank."""
    from lab3_spark.operators.kmeans import fixed_point

    mm = sq8_minmax(embeddings)
    mn_arr = F.array(*[F.lit(mn).cast("bigint") for _, mn, _ in mm])
    rng_arr = F.array(*[F.lit(mx - mn).cast("bigint") for _, mn, mx in mm])

    def floordiv(a, r):
        return ((a - F.pmod(a, r)) / r).cast("bigint")

    xi = spread(embeddings).select(
        "vec_id", fixed_point(F.col("embedding")).alias("xi")
    )
    diff = F.zip_with("xi", mn_arr, lambda a, b: a - b)
    code = F.zip_with(
        diff.alias("_d"),
        rng_arr,
        lambda a, r: F.when(r > 0, floordiv(a * 255, r)).otherwise(
            F.lit(0).cast("bigint")
        ),
    )
    cr = F.zip_with(code, rng_arr, lambda c, r: c * r)
    rq = F.zip_with(
        mn_arr, F.transform(cr, lambda x: floordiv(x, F.lit(255))), lambda a, b: a + b
    )
    recon = xi.select("vec_id", rq.alias("xi"))
    q = xi.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("xi").alias("xq")
    )
    d = F.aggregate(
        F.zip_with("xq", "xi", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    ranked = (
        F.broadcast(q)
        .join(recon, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), d.alias("adist")
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.asc("adist"), F.asc("neighbor_id")
                )
            ),
        )
    )
    return ranked.where(F.col("rnk") <= topk).orderBy("query_id", "rnk")
