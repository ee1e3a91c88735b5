"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Protocol (BASELINE.md): per-query wall-clock in a warm session — the
session/JVM startup and the first parquet-footer reads are excluded by
a warmup pass, mirroring the reference's self-timing which measures
the map-reduce phase, not process startup
(phoenixLab/wordCount/wordCount.cpp:138-164).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lab3_spark.functions.partitioning import cache_scope
from lab3_spark.queries_catalog import QUERIES
from lab3_spark.session import get_spark
from lab3_spark.sources.tables import TABLES, load_table

# Headline set: the parity pipelines + one of each operator family.
# streaming_tumbling_5min is excluded: its wall-clock is dominated by
# StreamingQuery checkpoint machinery, not dataflow (see its own test).
HEADLINE = [
    "word_count",
    "top50_words",
    "inverted_index",
    "word_count_parity",
    "mapreduce_facade_wordcount",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "top_customers_per_nation",
    "events_tumbling_5min",
    "events_sessionize",
    "doc_quality",
    "doc_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "ann_bruteforce_top5",
    "ann_ivf_top5",
    "multimodal_features",
    "events_asof_join",
    "events_session_window_native",
    "tfidf_top_terms",
    "top_bigrams",
    "events_funnel",
    "q6_forecast_revenue",
    "q10_returned_customers",
    "q7_nation_volume",
    "pipeline_clean_corpus",
    "cross_source_contamination",
    # round 2 additions
    "ann_lsh_buckets",
    "dedup_clusters",
    "bucketed_fact_join",
    "q8_market_share",
    "q17_small_qty_revenue",
    "orders_above_cust_avg",
    "pmi_collocations",
    "events_gapfill_locf",
    "events_daily_anomalies",
    "doc_length_distribution",
    "grouped_minmax_normalize",
    "stratified_sample_documents",
    "pack_training_sequences",
    "profile_orders",
    # round 2, second half
    "q15_top_supplier",
    "q18_large_volume_customer",
    "q19_bracket_revenue",
    "q22_idle_rich_customers",
    "lineitem_grouping_sets",
    "order_total_deciles",
    "events_zorder_cells",
    # round 3 additions
    "doc_gopher_quality",
    "kmeans_centroids",
    "ann_ivf_trained",
    "doc_ngram_repetition",
    "doc_chunks",
    "dedup_keep_best",
    "dedup_repeated_chunks",
    "doc_hash_embeddings",
    "ann_hash_embedding_top5",
    "pipeline_gopher_prune",
    "doc_redact_pii",
    "stratified_fixed_n_sample",
    # round 4 additions
    "dedup_survivors",
    "ann_ivf_probe2",
    "ann_ivf_recall",
    "dedup_semantic",
    "doc_unigram_logprob",
    "sparse_tfidf_pairs",
    "doc_dsir_weights",
    "dedup_containment",
    "pipeline_dsir_select",
    "ann_pq_adc_top5",
    "ann_bruteforce_l2_top5",
    "ann_pq_recall",
    "bm25_top_docs",
    "doc_ppl_buckets",
    "token_budget_select",
    "source_mixing_weights",
    "events_sliding_10m",
    "orders_rolling_7d_revenue",
    "ann_pq_rerank",
    "dedup_graph_triangles",
    "robust_quality_zscore",
    "events_value_histogram",
    "orders_priority_unpivot",
    "orders_scd_upsert",
    "per_source_token_budget",
    "dedup_cluster_representatives",
    "weighted_sample_docs",
    "multimodal_byte_chunks",
    "dedup_method_agreement",
    "doc_bigram_surprisal",
    "events_top_type_per_hour",
    "dedup_rate_by_source",
    "events_by_customer_segment",
    # round 5 additions
    "benchmark_decontamination",
    "doc_bpe_token_counts",
    "doc_winnowing_fingerprints",
    "ann_ivf_pq_top5",
    "ann_ivfpq_residual_top5",
    "ann_ivfpq_rerank_top5",
    "cluster_balanced_sample",
    "ann_sq8_top5",
    "events_cms_heavy_hitters",
    "ann_ivfpq_recall",
    "dedup_winnowing",
    "corpus_shuffle_shards",
    "dedup_lpa_communities",
    "dedup_community_modularity",
    "ann_ivf_frozen_append",
    "hybrid_retrieval_rrf",
    "ppr_seed_proximity",
    "dataset_card",
    # round 6 additions
    "events_kmv_daily_users",
    "dedup_bloom_prefilter",
    "events_attribution_window",
    "dedup_reassemble",
    "phrase_search_docs",
    "events_ohlc_hourly",
    "events_cms_verified_hh",
    "corpus_snapshot_diff",
    "pipeline_forget_docs",
    "dedup_threshold_curve",
    "multimodal_phash_near_dup",
    "events_type_islands",
    "events_cohort_retention",
    "source_token_entropy",
    "mixture_apportionment",
    "dedup_ppjoin_exact",
    "events_seasonal_anomalies",
    "events_transition_matrix",
    "orders_cdc_apply",
    "frequent_brand_pairs",
    "nation_revenue_ols",
    "dedup_sorted_neighborhood",
    "dedup_bfs_hops",
    "supplier_hits_scores",
    "textrank_keywords",
    "k_anonymity_report",
    "events_ewma",
    "compaction_bins",
    "events_funnel_within",
    "orders_price_skyline",
    "events_kmv_value_quantiles",
    "events_top_paths",
    "events_kmv_rolling_users",
    "events_ab_ztest",
    "customer_rfm_segments",
    "doc_lang_confusion",
    "events_weekly_churn",
    "ship_latency_percentiles",
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
    "customers_every_year",
    "orders_scd2_history",
    "systematic_sample_docs",
    "events_kmv_type_overlap",
    "dedup_cdc_chunks",
    "source_lang_mutual_info",
    "region_price_anova",
    "orders_benford_audit",
    "events_cusum_changepoint",
    "embedding_projection_by_label",
    "orders_mean_bootstrap_ci",
    "source_influence_jackknife",
    "embedding_top2_directions",
    "dedup_graph_assortativity",
    "dedup_ktruss",
    "dedup_blocking_quality",
    "ql_dirichlet_top_docs",
    "retrieval_rank_agreement",
    "orders_holt_forecast",
    "nation_trend_robust",
    "source_token_gini",
    "quality_feature_correlations",
    "events_hourly_acf",
    "events_decayed_leaderboard",
    "events_seasonal_decomposition",
    "customer_order_cadence",
    # round-7 additions (incl. the 3 sketch gates, oracled and
    # bench-priced now that they compute exact+approx sides)
    "events_approx_dau",
    "events_hll_daily_merge",
    "events_value_percentiles_approx",
    "dedup_simhash_blocking",
    "dedup_cross_source",
    "dataset_split_manifest",
    "quality_kappa",
    "vocab_coverage_curve",
    "bpe_merge_candidates",
    "source_vocab_overlap",
    "orders_winsorized_stats",
    "orders_mannwhitney",
    "source_length_ks",
    "corpus_ngram_novelty",
    "quality_pr_curve",
    # round-8 additions
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
    "source_spearman",
    "split_leakage_neardup",
    "decontaminate_train",
    "dedup_similarity_histogram",
    "source_token_fertility",
    "quality_quantile_by_source",
    "dedup_copy_spectrum",
    "lang_source_residuals",
    "split_fertility_drift",
    "source_length_percentiles_approx",
    "test_substring_contamination",
    "padding_waste_by_bucket",
    "source_bpe_merges",
    # round-8 rotation: previously never-benched gates, one per family
    # (VERDICT r7 item 8) — the standing exclusion list and rotation
    # policy now live in BASELINE.md §bench-coverage
    "pagerank_candidates",
    "salted_wordcount",
    "q9_profit_by_nation_year",
    "q13_order_count_distribution",
    "q21_sole_latest_supplier",
    "train_val_test_split",
    "leakage_safe_split",
    "source_drift_psi",
    "data_expectations",
    "events_props_from_json",
    "top_words_per_source",
    "hourly_spine_recursive",
    # round-9 additions
    "dedup_exact_substring_spans",
    "doc_bigram_logprob",
    "doc_bigram_ppl_buckets",
    "packing_bfd_bound",
    "dedup_span_removal_by_source",
    "pipeline_bigram_ppl_filter",
    "fuzzy_name_value_pairs",
    "doc_kn_bigram_logprob",
    "quality_logreg_train",
    "quality_logreg_accuracy",
    # round-9 rotation: the FINAL never-benched batch (VERDICT r8
    # item 1) — every catalog gate is now priced except the 18
    # documented exclusions in BASELINE.md §bench-coverage
    # (15 streaming_* + udtf_token_positions + pysource_synthetic_docs
    # + inverted_index_parity)
    "order_priority_check",
    "monthly_revenue_trend",
    "mktsegment_rollup",
    "nations_without_suppliers",
    "distinct_part_types",
    "events_daily_active_users",
    "events_props_stats",
    "doc_token_stats",
    "doc_lang_id",
    "jsonl_roundtrip_docs",
    "multimodal_frame_sample",
    "order_status_cube",
    "nation_status_pivot",
    "events_value_percentiles",
    "nations_with_both",
    "parties_per_nation",
    "events_geomean_value",
    "events_retention",
    "supplier_coverage",
    "fuzzy_part_names",
    "posting_pairs_scale_form",
    "promo_revenue_share",
    "above_avg_spenders",
    "word_count_antijoin",
    "customers_without_orders",
    "events_props_variant",
    "user_running_totals",
    "events_weekday_hour_profile",
    "data_quality_report",
    "pipeline_dedup_to_packing",
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q12_latency_priority",
    "q16_supplier_variety",
    "q20_excess_shippers",
    "orc_roundtrip_events",
    # round 10 additions
    "pipeline_span_removal",
    "dedup_paragraph_minhash",
    "multimodal_phash_dedup",
    "pipeline_paragraph_dedup",
    "pipeline_decontaminate_spans",
    "pipeline_span_removal_packing",
    # round 11 additions
    "lsh_band_planner",
    "lsh_planner_measured_quality",
    "contamination_max_span",
    "mapreduce_facade_one_combiner",
    "pipeline_line_dedup",
    # round 12 additions
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
]
assert len(HEADLINE) == len(set(HEADLINE)), "duplicate headline entries"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("lab3_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: JVM, parquet footers, codegen for a trivial job.
    for t in TABLES:
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass
    # ... and the Python worker pool (mapInPandas forks one worker per
    # partition on first use; under host CPU steal those forks can cost
    # seconds each — one-time setup, not dataflow, so spawn them here)
    import pandas as _pd

    spark.range(256).repartition(8).mapInPandas(
        lambda it: ( _pd.DataFrame({"id": p["id"]}) for p in it ),
        "id long",
    ).write.format("noop").mode("overwrite").save()

    # Multiple passes, keep the per-query MIN: pass 1 pays one-time
    # codegen compilation; later passes absorb this host's severe CPU
    # steal (the same query varies 4s↔100s across runs); the min is
    # the reproducible dataflow cost (the reference's self-timing
    # likewise measures the compute phase, not program setup).
    def run_once(name: str) -> float:
        t0 = time.time()
        # noop sink: full computation of every column, zero driver
        # transfer (count() would let Catalyst prune projections)
        with cache_scope():
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    # Every call computes from its input (the engine keeps no
    # cross-call memo) and frees what it cached when its scope exits,
    # so each pass measures the full computation.
    passes: dict[str, list[float]] = {n: [] for n in HEADLINE}
    for rnd in (1, 2):
        for name in HEADLINE:
            dt = run_once(name)
            passes[name].append(dt)
            print(f"[pass {rnd}] {name} took: {dt:.3f} seconds", file=sys.stderr)
    timings: dict[str, float] = {}
    for name, ts in passes.items():
        best = min(ts)
        # wildly disagreeing passes = the host stole CPU mid-run;
        # take one tie-breaker measurement
        if max(ts) > 2 * best + 0.5:
            extra = run_once(name)
            print(f"[pass 3] {name} took: {extra:.3f} seconds", file=sys.stderr)
            passes[name].append(extra)
            best = min(best, extra)
        timings[name] = best

    # cold = pass 1 (adds first-use codegen), warm = best later pass.
    cold = {n: ts[0] for n, ts in passes.items()}
    warm = {n: min(ts[1:]) for n, ts in passes.items()}

    total = round(sum(timings.values()), 3)
    # The costliest queries must survive the driver's ~2 KB tail
    # truncation (VERDICT r7 item 1: textrank_keywords and
    # supplier_hits_scores — the two most expensive gates — were
    # invisible in BENCH_r07.json): a top-10 "slowest" map sits
    # immediately before the final scalars.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    # VERDICT r9 item 8: the full cold/warm maps above are truncated
    # out of the driver's ~2 KB tail — so the 10 largest COLD times
    # ride inside the tail too: cold_slowest keeps the first-pass cost
    # visible in every BENCH_rN artifact next to the min-of-passes
    # headline.
    cold_slowest = dict(
        sorted(cold.items(), key=lambda kv: -kv[1])[:10]
    )
    # Key order matters: the driver archives only the LAST ~2 KB of this
    # line, so the headline scalars (value/metric/unit/sf) must come
    # AFTER the bulky per-query maps or they are truncated away from
    # every BENCH_rN.json (r1-r6 all lost the total this way).
    payload = {
        "queries": timings,
        "cold": cold,
        "warm": warm,
        "slowest": slowest,
        "cold_slowest": cold_slowest,
        "unit": "sec",
        "metric": "headline_queries_total_wall_sec",
        "sf": float(sf),
        "value": total,
    }
    # Self-archive the full result to a repo file as well (VERDICT r12
    # item 2: BENCH_r11 printed its JSON line with rc=0 but the
    # driver's stdout capture failed to parse it, losing the whole
    # round-over-round comparison — a file survives a stdout flake and
    # lets the next round's PERF be reconstructed).  Best-effort: the
    # bench result is the printed line; the archive must never fail it.
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        os.makedirs(os.path.join(here, "plans"), exist_ok=True)
        with open(
            os.path.join(here, "plans", "bench_latest.json"), "w"
        ) as f:
            json.dump(
                {"cpus": os.environ.get("SPARK_GRAFT_CPUS"), **payload},
                f,
                indent=1,
            )
    except Exception:
        pass
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
