"""sf1 scaling point: run the heaviest catalog queries on a 10×-sf0.1
materialized snapshot (~sf1: 6M lineitem rows, 50k docs, 20k vectors).

SCALE.md's curve (tools/bench_scale.py) stops at ×8 in-memory
replication of documents; this harness closes the verdict's gap by
materializing an sf1-scale directory of REAL parquet files (multi
row-group — so scans parallelize like production input splits, no
`spread` crutch) and running the unmodified catalog queries against
it, exactly as the driver would run them at a bigger scale factor.

Replication semantics (each copy self-contained, joins consistent):
- documents/embeddings: id offset by i·10^9 per copy (dedup worst
  case: every doc gains 9 extra identical copies);
- lineitem/orders: orderkey offset by the same constant per copy —
  customer/supplier/part/nation/region stay single-copy, so each
  customer simply has 10× the orders (fact grows, dims don't — the
  realistic shape);
- events: event id/ts untouched, user_id offset per copy.

Prints one JSON line:
  {"metric": "sf1_point", "sf": 1.0, "queries": {name: sec}, ...}
Each timing is min-of-N (CPU-steal host).

Usage: python tools/bench_sf1.py [passes] [--keep]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lab3_spark.session import get_spark

PASSES = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 2
KEEP = "--keep" in sys.argv
# non-flag, non-digit args = run only these queries (subset re-measure)
ONLY = [a for a in sys.argv[1:] if not a.startswith("-") and not a.isdigit()]
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale_sf1")
K = 10
OFFSET = 1_000_000_000

# the 10 most expensive r3/r4 bench queries (all documents/embeddings
# family) + TPC-H joins/rank so the fact-table side is on the curve too
QUERIES = [
    "dedup_simhash",
    "ann_ivf_trained",
    "dedup_ngram_jaccard",
    "kmeans_centroids",
    "ann_hash_embedding_top5",
    "cross_source_contamination",
    "pipeline_gopher_prune",
    "pmi_collocations",
    "dedup_clusters",
    "doc_ngram_repetition",
    # round-4 late additions: new families on the curve
    "bm25_top_docs",
    "doc_ppl_buckets",
    "token_budget_select",
    "dedup_graph_triangles",
    "robust_quality_zscore",
    "ann_pq_adc_top5",
    "ann_pq_rerank",
    "dedup_containment",
    # round-5 additions: IVF-PQ family, third compression family,
    # salted per-cell sampling, CMS, winnowing
    "ann_ivf_pq_top5",
    "ann_ivfpq_rerank_top5",
    "ann_sq8_top5",
    "cluster_balanced_sample",
    "events_cms_heavy_hitters",
    "doc_winnowing_fingerprints",
    # round-6 additions: sketch/dedup/join/pattern families
    "events_kmv_daily_users",
    "dedup_bloom_prefilter",
    "events_attribution_window",
    "dedup_reassemble",
    "phrase_search_docs",
    "events_ohlc_hourly",
    "events_cms_verified_hh",
    "dedup_threshold_curve",
    "multimodal_phash_near_dup",
    "events_type_islands",
    "source_token_entropy",
    # round-6 second wave
    "events_transition_matrix",
    "orders_cdc_apply",
    "frequent_brand_pairs",
    "nation_revenue_ols",
    "dedup_sorted_neighborhood",
    "dedup_bfs_hops",
    "supplier_hits_scores",
    "textrank_keywords",
    "events_ewma",
    "events_funnel_within",
    "orders_price_skyline",
    "events_kmv_value_quantiles",
    "events_top_paths",
    # round-6 third wave
    "dedup_kcore",
    "embedding_top_direction",
    "mmr_diverse_select",
    "events_xcorr_lag",
    "source_lang_chi2",
    "zipf_fit",
    "join_skew_report",
    "orders_cdc_asof",
    "user_activity_bitmap",
    "quality_dup_calibration",
    # dedup_ppjoin_exact deliberately NOT on the sf1 curve: the
    # synthetic corpus's ~29-word vocabulary makes every shingle hot,
    # which is the documented adversarial case for prefix filtering
    # (its selectivity comes from Zipfian rare-shingle prefixes; real
    # corpora have them, this generator does not).  Running it here
    # would measure the generator's degeneracy, not the operator.
    # round-8 additions (streaming_incremental_pagerank excluded with
    # the other StreamingQuery gates — checkpoint machinery, and its
    # dataflow is priced via pagerank_candidates)
    "bpe_merges_k",
    "bpe_apply_compression",
    "source_winsorized_stats",
    "orders_mannwhitney_by_status",
    "lineitem_spearman",
    "orders_kendall_tau",
    "orders_paired_permutation",
    "source_drift_bh_screen",
    "source_ks_matrix",
    "source_mean_bootstrap_ci",
    "packing_fragmentation_curve",
    "source_importance_ess",
    "pagerank_candidates",
    # round-9: the standing slowest-10 without a measured ×10 point
    # (VERDICT r8 item 6) + the round-9 additions
    "ann_ivfpq_residual_top5",
    "benchmark_decontamination",
    "events_approx_dau",
    "dedup_cluster_representatives",
    "dedup_exact_substring_spans",
    "doc_bigram_logprob",
    "doc_bigram_ppl_buckets",
    "packing_bfd_bound",
    "dedup_span_removal_by_source",
    "pipeline_bigram_ppl_filter",
    "fuzzy_name_value_pairs",
    "doc_kn_bigram_logprob",
    "quality_logreg_train",
    # round-10 additions: the two APPLY capstones, paragraph LSH, and
    # the decoded-surface dHash
    "pipeline_span_removal",
    "dedup_paragraph_minhash",
    "pipeline_paragraph_dedup",
    "multimodal_phash_dedup",
    "pipeline_decontaminate_spans",
    "pipeline_span_removal_packing",
    # round-11 additions: the planner pair rides the minhash candidate
    # machinery, contamination severity rides the gram scan
    "lsh_band_planner",
    "lsh_planner_measured_quality",
    "contamination_max_span",
    "mapreduce_facade_one_combiner",
    "pipeline_line_dedup",
    # round-12 additions: the mergeable quantile digest (two
    # applyInPandas levels + exact-count rank gate) and the zone-map
    # pruning audit (two ranged shuffles + metadata overlap join)
    "events_kll_daily_quantiles",
    "orders_zorder_pruning",
    "kmeans_silhouette",
    "linkage_fs_scores",
    "events_attribution_markov",
    "l_diversity_report",
    "source_length_digest",
    "ann_ivf_ndcg",
    "events_attribution_heuristics",
    "customer_revenue_lorenz",
    "session_survival_km",
    # fact-table shapes
    "q1_pricing_summary",
    "q9_profit_by_nation_year",
    "q18_large_volume_customer",
    "order_total_deciles",
    "word_count",
    "events_sliding_10m",
    "orders_rolling_7d_revenue",
]


def replicate(df, id_cols: list[str], k: int = K):
    out = None
    for i in range(k):
        c = df
        for col in id_cols:
            c = c.withColumn(col, F.col(col) + F.lit(i * OFFSET))
        out = c if out is None else out.unionAll(c)
    return out


def build(spark) -> None:
    os.makedirs(DST, exist_ok=True)
    # documents/embeddings/events: REAL fresh-key generation (round-5
    # fix — ×10 replication made every doc a 10-clique for the
    # near-dup families and distorted their growth; see tools/gen_sf1)
    if not os.path.exists(f"{DST}/documents.parquet"):
        from tools.gen_sf1 import generate

        generate(DST, scale=float(K))
    # fact tables: replication IS the realistic shape for joins —
    # each customer simply has K× the orders; dims stay single-copy
    plans = {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey"],
    }
    for table in ("region", "nation", "customer", "supplier", "part"):
        plans[table] = []
    for table, id_cols in plans.items():
        dst = f"{DST}/{table}.parquet"
        if os.path.exists(dst):
            continue
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        big = replicate(df, id_cols) if id_cols else df
        # repartition → multiple row groups/files: scans split like
        # cluster input splits instead of one giant single-group file
        n_out = 16 if id_cols else 1
        big.repartition(n_out).write.mode("overwrite").parquet(dst)
        print(f"built {table}: x{K if id_cols else 1}", file=sys.stderr)


def main() -> None:
    spark = get_spark("bench_sf1")
    t0 = time.time()
    build(spark)
    build_sec = round(time.time() - t0, 1)

    from lab3_spark.queries_catalog import QUERIES as CATALOG

    names = list(ONLY or QUERIES)
    passes: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(PASSES):
        for name in names:
            t = time.time()
            CATALOG[name](spark, DST).collect()
            dt = time.time() - t
            passes[name].append(dt)
            print(f"{name}: {dt:.2f}s", file=sys.stderr)
    times = {n: round(min(ts), 3) for n, ts in passes.items()}

    print(
        json.dumps(
            {
                "metric": "sf1_point",
                "sf": 1.0,
                "k": K,
                "build_sec": build_sec,
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "cold": {n: round(ts[0], 3) for n, ts in passes.items()},
                "queries": times,
            }
        )
    )
    if not KEEP:
        shutil.rmtree(DST, ignore_errors=True)


if __name__ == "__main__":
    main()
