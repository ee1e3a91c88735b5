"""Scaling-curve bench: the heaviest operators on ×k replicated corpora.

The 100 TB question is not "how fast at sf0.1" but "what's the growth
curve".  This harness replicates the sf0.1 documents table k× (doc_ids
offset so every copy is distinct — no accidental dedup collapse) and
times the operator families whose cost shape matters most.  ~Linear
growth = the equi-join/bucketing designs hold; super-linear growth
exposes quadratic pair blowup or shuffle amplification.

Prints one JSON line: {"metric": "scale_curve", "sizes": {...}}.
Each timing min-of-N (CPU-steal host).

Usage: python tools/bench_scale.py [max_k] [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import cache_scope
from lab3_spark.operators.dedup import (
    minhash_candidates,
    simhash_near_pairs,
)
from lab3_spark.operators.textstats import tfidf_top_terms
from lab3_spark.operators.wordcount import word_count
from lab3_spark.session import get_spark
from lab3_spark.sources.tables import load_table

MAX_K = int(sys.argv[1]) if len(sys.argv) > 1 else 8
PASSES = int(sys.argv[2]) if len(sys.argv) > 2 else 2
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate(docs, k: int):
    """k distinct copies: doc_id offset by i·10^9 per copy."""
    out = None
    for i in range(k):
        c = docs.select(
            (F.col("doc_id") + F.lit(i * 1_000_000_000)).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
        out = c if out is None else out.unionAll(c)
    return out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    best = float("inf")
    for _ in range(PASSES):
        t0 = time.time()
        with cache_scope():
            fn()
        best = min(best, time.time() - t0)
    return round(best, 2)


def main() -> None:
    spark = get_spark("bench_scale")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, SF_DIR, "documents")
    base.count()  # warm

    ops = {
        "word_count": lambda d: noop(word_count(d)),
        "minhash_candidates": lambda d: noop(minhash_candidates(d)),
        "simhash_pairs": lambda d: noop(simhash_near_pairs(d)),
        "tfidf": lambda d: noop(tfidf_top_terms(d)),
    }

    sizes: dict[str, dict[str, float]] = {}
    k = 1
    while k <= MAX_K:
        docs = replicate(base, k).persist()
        n = docs.count()
        sizes[str(k)] = {"n_docs": n}
        for name, fn in ops.items():
            sizes[str(k)][name] = timed(lambda: fn(docs))
            print(f"[k={k}] {name}: {sizes[str(k)][name]}s", file=sys.stderr)
        docs.unpersist()
        k *= 2

    # k-means over replicated embeddings: the iterative-operator curve
    # (assignment+partial-sum arrow pass per iteration; centroids are
    # k×d metadata, so growth should be the scan cost alone).
    from lab3_spark.operators.kmeans import kmeans_fixed

    ebase = load_table(spark, SF_DIR, "embeddings")
    ebase.count()
    k = 1
    while k <= MAX_K:
        emb = None
        for i in range(k):
            c = ebase.select(
                (F.col("vec_id") + F.lit(i * 1_000_000_000)).alias("vec_id"),
                "embedding",
                "label",
            )
            emb = c if emb is None else emb.unionAll(c)
        emb = emb.persist()
        n = emb.count()
        sizes.setdefault(str(k), {})["n_vecs"] = n
        sizes[str(k)]["kmeans"] = timed(lambda: noop(kmeans_fixed(emb)))
        print(f"[k={k}] kmeans: {sizes[str(k)]['kmeans']}s", file=sys.stderr)
        emb.unpersist()
        k *= 2

    print(json.dumps({"metric": "scale_curve", "sf_base": SF_DIR,
                      "passes": PASSES, "unit": "sec", "sizes": sizes}))


if __name__ == "__main__":
    main()
