"""Scalar-quantization (SQ8) ANN invariants."""


def test_sq8_reconstruction_bounds_and_recall(spark, sf_dir):
    """SQ8 invariants: quantization error per dimension is bounded by
    one quantization step (range/255 rounded up), and the 8-bit
    ranking recovers most of the exact-L2 top-5 (8 bits is a FINE
    quantizer — a collapse here means coding or reconstruction
    broke)."""
    from pyspark.sql import functions as F

    from lab3_spark.operators.kmeans import ann_bruteforce_l2, fixed_point
    from lab3_spark.operators.similarity import ann_sq8, sq8_minmax
    from lab3_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    mm = sq8_minmax(emb)
    assert all(mn <= mx for _, mn, mx in mm)
    # exact per-dim check on a handful of vectors, driver-side
    rows = (
        emb.where(F.col("vec_id") < 5)
        .select("vec_id", fixed_point(F.col("embedding")).alias("xi"))
        .collect()
    )
    for r in rows:
        for (pos, mn, mx), x in zip(mm, r.xi):
            rng = mx - mn
            code = ((x - mn) * 255) // rng if rng > 0 else 0
            assert 0 <= code <= 255
            recon = mn + (code * rng) // 255
            step = -(-rng // 255)  # ceil
            assert abs(x - recon) <= step + 1, (pos, x, recon, step)
    sq = ann_sq8(emb, n_queries=10, topk=5).collect()
    exact = ann_bruteforce_l2(emb, n_queries=10, topk=5).collect()
    sq_set = {(r.query_id, r.neighbor_id) for r in sq}
    ex_set = {(r.query_id, r.neighbor_id) for r in exact}
    assert len(sq_set & ex_set) / len(ex_set) >= 0.6
