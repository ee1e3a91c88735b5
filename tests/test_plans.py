"""Physical-plan shape assertions (SURVEY.md §4: the optimizations the
reference hand-rolls must actually be engaged in our Catalyst plans)."""

from pyspark.sql import functions as F

from lab3_spark.operators.relational import (
    q1_pricing_summary,
    q3_shipping_priority,
)
from lab3_spark.operators.topk import top_k_words
from lab3_spark.operators.wordcount import word_count, word_count_antijoin
from lab3_spark.plans.explain import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    has_pushed_filters,
    has_take_ordered,
)


def _tables(spark, sf_dir, *names):
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    (li,) = _tables(spark, sf_dir, "lineitem")
    df = q1_pricing_summary(li)
    assert has_pushed_filters(df, "l_shipdate"), formatted_plan(df)


def test_q1_column_pruning(spark, sf_dir):
    (li,) = _tables(spark, sf_dir, "lineitem")
    plan = formatted_plan(q1_pricing_summary(li))
    # the scan must not read columns the query never touches
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_q3_broadcasts_customer(spark, sf_dir):
    c, o, li = _tables(spark, sf_dir, "customer", "orders", "lineitem")
    df = q3_shipping_priority(c, o, li)
    assert has_broadcast_join(df), formatted_plan(df)


def test_topk_avoids_global_sort(spark, corpus):
    df = top_k_words(corpus, k=10)
    assert has_take_ordered(df), formatted_plan(df)


def test_word_count_single_shuffle_before_sort(spark, corpus):
    # unordered word count = exactly ONE hash shuffle (the group-by);
    # the reference's dataflow likewise has exactly one repartition
    # point (container bucketing, container.h:185)
    df = word_count(corpus, ordered=False)
    assert count_exchanges(df) == 1, formatted_plan(df)


def test_stop_filter_stays_above_aggregate(spark, corpus):
    """The stop-word filter must evaluate on DISTINCT words (post-agg),
    not per token occurrence: Catalyst pushes grouping-key predicates
    through aggregates, which turns parity mode's per-word substring
    search into a per-corpus-token scan (measured 3× the whole query).
    word_count blocks the pushdown with an OR-barrier on cnt."""
    for mode in ("idiomatic", "parity"):
        plan = formatted_plan(word_count(corpus, mode=mode, ordered=False))
        tree = plan.split("\n\n")[0]  # the numbered operator tree
        filt = min(
            i for i, ln in enumerate(tree.splitlines()) if "Filter" in ln
        )
        aggs = [i for i, ln in enumerate(tree.splitlines()) if "HashAggregate" in ln]
        # tree prints top-down: the Filter row must sit ABOVE both
        # aggregate rows (earlier line = later in execution)
        assert filt < min(aggs), plan


def test_antijoin_stop_filter_is_broadcast(spark, corpus):
    df = word_count_antijoin(corpus)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_wordcount_pipeline_has_partial_agg(spark, corpus):
    # map-side combine (the reference's combiner, combiner.h:230-235)
    # = HashAggregate appears in partial then final mode
    plan = formatted_plan(word_count(corpus, ordered=False))
    assert plan.count("HashAggregate") >= 2, plan


def test_q6_all_predicates_pushed(spark, sf_dir):
    from lab3_spark.queries_catalog import QUERIES

    df = QUERIES["q6_forecast_revenue"](spark, sf_dir)
    # every Q6 predicate is scan-pushable
    assert has_pushed_filters(df, "l_shipdate", "l_discount", "l_quantity"), (
        formatted_plan(df)
    )
    # a global agg needs only the final single-partition exchange
    assert count_exchanges(df) <= 1, formatted_plan(df)


def test_q10_topk_and_broadcast(spark, sf_dir):
    from lab3_spark.queries_catalog import QUERIES

    df = QUERIES["q10_returned_customers"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_simhash_single_aggregation_no_bit_explode(spark, corpus):
    # round-2 contract: ONE hash aggregate over 60 sum buffers, no
    # 60-rows-per-token explode (plan shows exactly one groupBy chain:
    # partial + final HashAggregate, one Exchange)
    from lab3_spark.operators.dedup import simhash_signatures

    df = simhash_signatures(corpus)
    plan = formatted_plan(df)
    # formatted plans list each node twice (tree + detail): one
    # partial+final pair = 4 occurrences, and no second groupBy chain
    assert plan.count("HashAggregate") == 4, plan
    # one data shuffle (the doc_id agg) + the explicit repartition
    assert count_exchanges(df) <= 2, plan


def test_lsh_codes_zero_shuffle_projection(spark, sf_dir):
    from lab3_spark.operators.similarity import lsh_codes_arrow
    from lab3_spark.sources.tables import load_table

    df = lsh_codes_arrow(load_table(spark, sf_dir, "embeddings"))
    plan = formatted_plan(df)
    # one narrow Arrow pass: no aggregation at all, only the explicit
    # spread-the-scan repartition
    assert "MapInArrow" in plan, plan
    assert "HashAggregate" not in plan, plan
    assert count_exchanges(df) <= 1, plan


def test_profile_approx_is_single_scan_no_expand(spark, sf_dir):
    from lab3_spark.operators.profile import profile_table
    from lab3_spark.sources.tables import load_table

    df = profile_table(load_table(spark, sf_dir, "orders"))
    plan = formatted_plan(df)
    # ONE scan node (listed twice: tree + detail section); and no
    # multi-distinct Expand replicating the input per profiled column
    assert plan.count("Scan parquet") == 2, plan
    assert "Expand" not in plan, plan


def test_profile_exact_has_no_expand(spark, sf_dir):
    """The exact path pays a second scan (melt) but must never plan the
    multi-distinct Expand — the N× row amplifier verdict r2 item 4
    flagged (grows with table width; a scale-killer on wide tables)."""
    from lab3_spark.operators.profile import profile_table
    from lab3_spark.sources.tables import load_table

    df = profile_table(load_table(spark, sf_dir, "orders"), distinct="exact")
    plan = formatted_plan(df)
    assert "Expand" not in plan, plan
    # wide agg scan + melt scan, each listed twice
    assert plan.count("Scan parquet") == 4, plan
    # the melt's distinct-pair dedup must partial-aggregate map-side
    assert "HashAggregate" in plan, plan


def test_q8_dimension_joins_broadcast(spark, sf_dir):
    from lab3_spark.queries_catalog import QUERIES

    df = QUERIES["q8_market_share"](spark, sf_dir)
    plan = formatted_plan(df)
    # 4 dimension joins broadcast (each node listed twice); at test
    # scale the fact-fact join may broadcast too - the invariant is
    # that NO dimension join shuffles
    assert plan.count("BroadcastHashJoin") >= 8, plan


def test_pack_sequences_one_shuffle(spark, sf_dir):
    from lab3_spark.operators.sampling import pack_sequences
    from lab3_spark.sources.tables import load_table

    df = pack_sequences(load_table(spark, sf_dir, "documents"))
    # the window over (source, doc_id) is the only exchange; the final
    # orderBy adds a range partitioning
    assert count_exchanges(df) <= 2, formatted_plan(df)


def test_gopher_and_chunks_are_aggregation_free(spark, sf_dir):
    """The per-doc quality/chunking operators must stay narrow: zero
    aggregation, no Expand; only spread + the output sort exchange."""
    from lab3_spark.operators.sampling import chunk_documents
    from lab3_spark.operators.textstats import gopher_quality, ngram_repetition
    from lab3_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for df in (gopher_quality(docs), chunk_documents(docs), ngram_repetition(docs)):
        plan = formatted_plan(df)
        assert "HashAggregate" not in plan, plan
        assert "Expand" not in plan, plan
        assert count_exchanges(df) <= 2, plan


def test_repeated_chunks_no_expand(spark, sf_dir):
    """count_distinct alongside other aggs must not plan a row-
    replicating Expand (the profile_orders lesson)."""
    from lab3_spark.operators.dedup import repeated_chunks
    from lab3_spark.sources.tables import load_table

    df = repeated_chunks(load_table(spark, sf_dir, "documents"))
    assert "Expand" not in formatted_plan(df), formatted_plan(df)


def test_hash_embedding_single_combine_shuffle(spark, sf_dir):
    """Feature hashing = one partial/final aggregation pair on
    (doc_id, dim) plus spread and the output sort."""
    from lab3_spark.operators.textstats import feature_hash_embedding
    from lab3_spark.sources.tables import load_table

    df = feature_hash_embedding(load_table(spark, sf_dir, "documents"))
    plan = formatted_plan(df)
    # at least one aggregate, and no more than one partial+final pair
    # (formatted plans may list each node twice; exact node duplication
    # varies across Spark versions/AQE, so pin bounds, not equality) —
    # but the PARTIAL phase must exist: dropping map-side combine would
    # shuffle every (doc, feature) row, the exact regression this test
    # was written to catch
    assert 1 <= plan.count("HashAggregate") <= 4, plan
    assert "partial_" in plan, plan
    assert count_exchanges(df) <= 3, plan


def test_dedup_survivors_partial_agg_no_window(spark, sf_dir):
    """The survivors-only dedup must plan as partial+final aggregation
    (map-side combine — a degenerate fingerprint reduces to one row
    per map partition before the shuffle) with NO Window operator:
    the window form would land a degenerate fp's whole group on one
    task, which is exactly what this variant exists to avoid."""
    from lab3_spark.operators.dedup import dedup_survivors
    from lab3_spark.sources.tables import load_table

    df = dedup_survivors(load_table(spark, sf_dir, "documents"))
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    # max_by over a struct buffer plans as (Object)HashAggregate or
    # SortAggregate depending on version — any aggregate counts, but
    # there must be a partial ("partial_max_by") phase before the
    # fp exchange
    assert "Aggregate" in plan, plan
    assert "partial" in plan.lower(), plan


def test_sparse_tfidf_pairs_no_cartesian(spark, sf_dir):
    """The pair join must be the term equi-join (SMJ/SHJ), never a
    cartesian/nested-loop over documents; the only nested-loop allowed
    is the 1-row n_docs scalar broadcast."""
    from lab3_spark.operators.textstats import sparse_tfidf_pairs

    import re

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(sparse_tfidf_pairs(docs))
    assert "CartesianProduct" not in plan, plan
    # count DISTINCT nested-loop nodes: the formatted tree prints a
    # node once per referencing branch (the weight frame feeds three
    # consumers), so raw substring counts overcount shared subtrees
    nlj_ids = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(nlj_ids) <= 1, plan
    # tf aggregation partial+final (map-side combine before shuffle)
    assert "HashAggregate" in plan, plan


def test_dedup_semantic_no_cartesian(spark, sf_dir):
    """SemDeDup's pair join is the cell-id equi-join — never all-pairs."""
    from lab3_spark.operators.kmeans import semantic_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = formatted_plan(semantic_near_duplicates(emb, k=4, n_iter=1))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dsir_ratio_join_is_broadcast(spark, sf_dir):
    """The hashed-feature ratio table is metadata-scale (<= dims rows)
    and must broadcast — the corpus-side token stream is never
    shuffled for the join."""
    from lab3_spark.operators.textstats import dsir_log_ratio_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(dsir_log_ratio_weights(docs))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bm25_no_token_explode_single_stats_row(spark, sf_dir):
    """BM25's per-doc tf must be array folds — NO Generate (explode)
    node, no (doc, word) shuffle; the only aggregation is the 1-row
    corpus-stats reduce, and top-k plans as TakeOrderedAndProject."""
    from lab3_spark.operators.retrieval import bm25_top_docs
    from lab3_spark.sources.tables import load_table

    df = bm25_top_docs(load_table(spark, sf_dir, "documents"))
    plan = formatted_plan(df)
    assert "Generate" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_sliding_window_single_aggregation(spark, sf_dir):
    """The hopping window is an in-row generator feeding ONE
    partial+final hash agg — no self-join, no second groupBy chain."""
    from lab3_spark.operators.events import sliding_counts
    from lab3_spark.sources.tables import load_table

    df = sliding_counts(load_table(spark, sf_dir, "events"))
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    # one partial+final pair (nodes may print twice in formatted plans)
    assert 2 <= plan.count("HashAggregate") <= 4, plan


def test_token_budget_no_unpartitioned_window_over_corpus(spark, sf_dir):
    """The prefix sum must come from the range-partitioned machinery:
    every Window node over data columns is partitioned (by the range
    partition id); rangepartitioning appears on the order keys."""
    from lab3_spark.operators.sampling import token_budget_select
    from lab3_spark.sources.tables import load_table

    df = token_budget_select(load_table(spark, sf_dir, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(_negq" in plan.lower(), plan
    for line in plan.splitlines():
        if "Window [" in line and "n_tokens" in line:
            # the running-sum window must carry a partition spec
            assert "_gos_pid" in line, line


def test_triangle_stats_equi_joins_only(spark, sf_dir):
    """Triangle enumeration must plan as equi-joins (SortMerge or
    BroadcastHash) — never a cartesian/BroadcastNestedLoop."""
    from lab3_spark.operators.components import triangle_stats
    from lab3_spark.operators.dedup import minhash_candidates
    from lab3_spark.sources.tables import load_table

    cands = minhash_candidates(load_table(spark, sf_dir, "documents")).select(
        "doc_a", "doc_b"
    )
    plan = formatted_plan(triangle_stats(cands))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_cms_estimate_join_is_broadcast(spark, sf_dir):
    """The CMS estimate lookup joins the d·w-row counter matrix as a
    BROADCAST — the sketch is metadata-scale by construction and must
    never shuffle the key universe against it."""
    from lab3_spark.operators.events import cms_estimates

    (ev,) = _tables(spark, sf_dir, "events")
    plan = formatted_plan(cms_estimates(ev))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_winnowing_candidates_equi_join_only(spark, sf_dir):
    """The winnowing pair surface is a hash equi-join on fp — never a
    nested-loop/cartesian pair enumeration."""
    from lab3_spark.operators.textstats import winnowing_candidates

    (docs,) = _tables(spark, sf_dir, "documents")
    plan = formatted_plan(winnowing_candidates(docs))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan, plan
