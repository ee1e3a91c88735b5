"""Query catalog: every driver-checkable query + its DuckDB oracle.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` registered in
``QUERIES``; its DuckDB-equivalent SQL (same column names, driver
hash-compares values) lives in ``ORACLES``.  Queries without an oracle
(genuinely non-SQL-expressible ops) are registered with ``oracle=None``
and get the driver's weaker rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab3_spark import oracles as OR
from lab3_spark.functions.partitioning import one_window_partition
from lab3_spark.operators import events as EV
from lab3_spark.operators import relational as REL
from lab3_spark.operators import textstats as TS
from lab3_spark.operators.inverted_index import inverted_index
from lab3_spark.operators.topk import top_k_words
from lab3_spark.operators.wordcount import word_count
from lab3_spark.sources.tables import ensure_nanos_as_long, normalize_event_time, table_schema

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from lab3_spark.sources.tables import load_table

    return load_table(spark, sf_dir, name)


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a parquet file stream with ``ts`` normalized
    as in :func:`load_table`: the source lists the data directory itself
    and the glob admits only ``events.parquet``, so nothing is staged
    on disk."""
    ensure_nanos_as_long(spark)  # self-sufficient on the driver's session
    return normalize_event_time(
        spark.readStream.schema(table_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _scratch_dir(prefix: str) -> str:
    """A fresh mkdtemp for gates that WRITE state (stores, checkpoints,
    round-trip files): removed when the caller's innermost
    ``cache_scope()`` exits, or at interpreter exit outside any scope."""
    import atexit
    import functools
    import shutil
    import tempfile

    from lab3_spark.functions.partitioning import on_scope_exit

    d = tempfile.mkdtemp(prefix=prefix)
    remove = functools.partial(shutil.rmtree, d, ignore_errors=True)
    if not on_scope_exit(remove):
        atexit.register(remove)
    return d


def _drain(q, what: str) -> None:
    """Wait for an availableNow query to finish.  ``awaitTermination``
    returns False on timeout WITHOUT raising, and an incomplete sink
    would silently corrupt the comparison, so a timeout stops the query
    and raises."""
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(f"{what} availableNow run timed out")


def _staged_batches(df: DataFrame, root: str, preds: list) -> str:
    """Write ``df.where(p)`` for each predicate in ``preds`` as one
    single-file parquet, mtimes pinned ascending so FileStreamSource
    (ordered by modification time) drains them in that order.  Returns
    the incoming directory path."""
    import time

    flat = os.path.join(root, "incoming")
    os.makedirs(flat)
    now = time.time()
    for b, pred in enumerate(preds):
        part_dir = os.path.join(root, f"part{b}")
        df.where(pred).coalesce(1).write.parquet(part_dir)
        (pf,) = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        dst = os.path.join(flat, f"{b:02d}.parquet")
        os.rename(os.path.join(part_dir, pf), dst)
        os.utime(dst, (now + b * 10, now + b * 10))
    return flat


def _mod3(col: str) -> list:
    """Three batches by ``col % 3``."""
    return [F.col(col) % 3 == b for b in range(3)]


def _time_terciles(df: DataFrame) -> list:
    """Three batches by global (ts, event_id) rank terciles: batches
    partition the stream in TIME order, the delivery shape the
    journey-stitching attribution store requires.  The cut keys come
    from a driver-side sort of the (ts, event_id) projection at verify
    scale."""
    rows = df.select("ts", "event_id").orderBy("ts", "event_id").collect()
    lo, hi = (rows[(b * len(rows)) // 3] for b in (1, 2))

    def ge(r):
        return (F.col("ts") > F.lit(r["ts"])) | (
            (F.col("ts") == F.lit(r["ts"]))
            & (F.col("event_id") >= F.lit(r["event_id"]))
        )

    return [~ge(lo), ge(lo) & ~ge(hi), ge(hi)]


def _drain_store(
    spark: SparkSession,
    prefix: str,
    df: DataFrame,
    schema: str,
    preds: list,
    start: Callable,
    **opts,
) -> str:
    """Stage ``df`` as one file per predicate in a fresh scratch
    directory, drain it one file per micro-batch through
    ``start(stream, store, checkpoint, **opts)`` and return the store
    path."""
    root = _scratch_dir(prefix)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_staged_batches(df, root, preds))
    )
    store = os.path.join(root, "store")
    q = start(stream, store, os.path.join(root, "ckpt"), **opts)
    _drain(q, start.__name__)
    return store


# ---------------------------------------------------------------------------
# §1 Parity surface: the reference's three text pipelines (SURVEY.md §3)
# run over the `documents` table (doc_id BIGINT, text, lang, source, n_chars).
# ---------------------------------------------------------------------------


@query(
    "word_count",
    f"""
    WITH {OR.duck_tokens_cte()}
    SELECT word, count(*) AS cnt
    FROM toks
    WHERE word NOT IN ({OR.STOP_WORDS_IN_LIST})
    GROUP BY word
    ORDER BY cnt ASC, word DESC
    """,
)
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wordCount pipeline, idiomatic stop-filter (SURVEY §3.1)."""
    return word_count(_t(spark, sf_dir, "documents"), mode="idiomatic")


@query(
    "word_count_parity",
    f"""
    WITH {OR.duck_tokens_cte()}
    SELECT word, count(*) AS cnt
    FROM toks
    WHERE strpos({OR.STOP_LINE_SQL}, word) = 0
    GROUP BY word
    ORDER BY cnt ASC, word DESC
    """,
)
def q_word_count_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wordCount with the reference's substring stop-filter semantics
    (wordCount.cpp:152 — drops any word that is a substring of the
    stop line)."""
    return word_count(_t(spark, sf_dir, "documents"), mode="parity")


@query(
    "top50_words",
    f"""
    WITH {OR.duck_tokens_cte()}
    SELECT word, count(*) AS cnt
    FROM toks
    WHERE word NOT IN ({OR.STOP_WORDS_IN_LIST})
    GROUP BY word
    ORDER BY cnt DESC, word DESC
    LIMIT 50
    """,
)
def q_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top50 pipeline (SURVEY §3.2): K most frequent non-stop-words;
    planned as TakeOrderedAndProject, not a full sort."""
    return top_k_words(_t(spark, sf_dir, "documents"), k=50)


@query(
    "inverted_index",
    f"""
    WITH {OR.duck_tokens_cte()}
    SELECT word,
           array_to_string(list_sort(list(DISTINCT id)), ',') AS ids,
           count(DISTINCT id) AS n_docs
    FROM toks
    WHERE word NOT IN ({OR.STOP_WORDS_IN_LIST})
    GROUP BY word
    ORDER BY word
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """invert pipeline (SURVEY §3.3), idiomatic mode: word → sorted
    distinct posting list (rendered as CSV string for stable hashing)."""
    idx = inverted_index(_t(spark, sf_dir, "documents"), id_col="doc_id")
    return idx.select(
        "word",
        F.concat_ws(",", F.transform("ids", lambda x: x.cast("string"))).alias("ids"),
        F.size("ids").cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# §2 Relational analytics (joins / aggs / windows / set ops) — engine
# extensions beyond the reference (SURVEY.md §2.5 policy).
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)       AS sum_qty,
           round(sum(l_extendedprice), 2)  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)       AS avg_qty,
           round(avg(l_extendedprice), 4)  AS avg_price,
           round(avg(l_discount), 4)       AS avg_disc,
           count(*)                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_q1(spark, sf_dir):
    return REL.q1_pricing_summary(_t(spark, sf_dir, "lineitem"))


@query(
    "q3_shipping_priority",
    """
    SELECT o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey ASC
    LIMIT 10
    """,
)
def q_q3(spark, sf_dir):
    df = REL.q3_shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )
    return df.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
        "revenue",
    )


@query(
    "q5_region_revenue",
    """
    SELECT n.n_name AS n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name ASC
    """,
)
def q_q5(spark, sf_dir):
    return REL.q5_region_revenue(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
    )


@query(
    "order_priority_check",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_q4(spark, sf_dir):
    return REL.order_priority_check(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@query(
    "top_customers_per_nation",
    """
    WITH spend AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
      FROM orders GROUP BY o_custkey
    )
    SELECT n_name, c_custkey, c_name, spend,
           row_number() OVER (PARTITION BY n_name
                              ORDER BY spend DESC, c_custkey ASC) AS rnk
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN spend s ON c.c_custkey = s.o_custkey
    QUALIFY rnk <= 3
    ORDER BY n_name, rnk
    """,
)
def q_top_cust(spark, sf_dir):
    return REL.top_customers_per_nation(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"),
    )


@query(
    "monthly_revenue_trend",
    """
    WITH monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY 1
    )
    SELECT month, total,
           lag(total) OVER (ORDER BY month) AS prev_total,
           round(avg(total) OVER (ORDER BY month
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS ma3
    FROM monthly
    ORDER BY month
    """,
)
def q_trend(spark, sf_dir):
    return REL.monthly_revenue_trend(_t(spark, sf_dir, "orders"))


@query(
    "mktsegment_rollup",
    """
    SELECT n_name, c_mktsegment,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST
    """,
)
def q_rollup(spark, sf_dir):
    return REL.mktsegment_rollup(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation")
    )


@query(
    "nations_without_suppliers",
    """
    SELECT n_name FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    EXCEPT
    SELECT n_name FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY n_name
    """,
)
def q_except(spark, sf_dir):
    return REL.nations_without_suppliers(
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
    )


@query(
    "distinct_part_types",
    """
    SELECT DISTINCT p_brand, p_type FROM part ORDER BY p_brand, p_type
    """,
)
def q_distinct(spark, sf_dir):
    return REL.distinct_part_types(_t(spark, sf_dir, "part"))


# ---------------------------------------------------------------------------
# §3 Event analytics (batch forms; streaming twins in lab3_spark/streaming)
# ---------------------------------------------------------------------------


@query(
    "events_tumbling_5min",
    """
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def q_tumbling(spark, sf_dir):
    return EV.tumbling_counts(_t(spark, sf_dir, "events"))


@query(
    "events_daily_active_users",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(DISTINCT user_id) AS dau
    FROM events GROUP BY 1 ORDER BY day
    """,
)
def q_dau(spark, sf_dir):
    return EV.daily_active_users(_t(spark, sf_dir, "events"))


@query(
    "events_props_stats",
    r"""
    SELECT event_type,
           count(*) AS n_events,
           floor((avg(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT))) * 10000) / 10000 AS avg_k,
           min(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS min_k,
           max(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_props(spark, sf_dir):
    return EV.props_stats(_t(spark, sf_dir, "events"))


@query(
    "events_sessionize",
    """
    WITH e AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1, 0)
                    OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_break
      FROM events
    ), s AS (
      SELECT user_id, ts,
             sum(is_break) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM e
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def q_sessionize(spark, sf_dir):
    return EV.sessionize(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# §4 Text analysis (training-data pipeline operators over `documents`)
# ---------------------------------------------------------------------------

_DUCK_TOKS = f"regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX})"
_DUCK_STOP_ARR = "[" + OR.STOP_WORDS_IN_LIST + "]"


@query(
    "doc_token_stats",
    f"""
    SELECT doc_id,
           length(text) AS n_chars,
           len({_DUCK_TOKS}) AS n_tokens,
           len(list_distinct({_DUCK_TOKS})) AS n_distinct_tokens,
           len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS n_bpe_pieces
    FROM documents ORDER BY doc_id
    """,
)
def q_token_stats(spark, sf_dir):
    return TS.token_stats(_t(spark, sf_dir, "documents"))


@query(
    "doc_quality",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS toks, length(text) AS n_chars,
             len({_DUCK_TOKS}) AS n_tokens
      FROM documents
    )
    SELECT doc_id,
      floor((CASE WHEN n_tokens > 0 THEN
        len(list_intersect(list_distinct(toks), {_DUCK_STOP_ARR}))
          / len(list_distinct(toks)) ELSE 0.0 END) * 10000) / 10000 AS stop_ratio,
      floor((CASE WHEN n_chars > 0 THEN
        length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / n_chars
        ELSE 0.0 END) * 10000) / 10000 AS punct_ratio,
      floor((CASE WHEN n_tokens > 0 THEN
        list_sum(list_transform(toks, x -> length(x))) / n_tokens
        ELSE 0.0 END) * 10000) / 10000 AS mean_tok_len,
      floor((CASE WHEN n_tokens > 0 THEN
        len(list_distinct(toks)) / n_tokens ELSE 0.0 END) * 10000) / 10000 AS distinct_ratio,
      floor((0.4 * least(n_tokens / 50.0, 1.0)
          + 0.3 * (1 - CASE WHEN n_chars > 0 THEN
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / n_chars
              ELSE 0.0 END)
          + 0.3 * (CASE WHEN n_tokens > 0 THEN
              len(list_distinct(toks)) / n_tokens ELSE 0.0 END)) * 10000) / 10000 AS quality
    FROM t ORDER BY doc_id
    """,
)
def q_quality(spark, sf_dir):
    return TS.quality_score(_t(spark, sf_dir, "documents"))


@query(
    "doc_lang_id",
    f"""
    WITH t AS (
      SELECT doc_id, lang, list_distinct({_DUCK_TOKS}) AS dtoks FROM documents
    )
    SELECT doc_id, lang,
      floor((CASE WHEN len(dtoks) > 0 THEN
        len(list_intersect(dtoks, {_DUCK_STOP_ARR})) / len(dtoks)
        ELSE 0.0 END) * 10000) / 10000 AS en_stop_ratio,
      CASE WHEN (CASE WHEN len(dtoks) > 0 THEN
        len(list_intersect(dtoks, {_DUCK_STOP_ARR})) / len(dtoks)
        ELSE 0.0 END) >= 0.15 THEN 'en' ELSE 'other' END AS pred_lang
    FROM t ORDER BY doc_id
    """,
)
def q_lang_id(spark, sf_dir):
    return TS.lang_id(_t(spark, sf_dir, "documents"))


@query(
    "doc_fingerprint",
    f"""
    SELECT doc_id, md5(array_to_string({_DUCK_TOKS}, ' ')) AS fp
    FROM documents ORDER BY doc_id
    """,
)
def q_fingerprint(spark, sf_dir):
    return TS.fingerprint(_t(spark, sf_dir, "documents"))


# Shared Gopher-feature CTEs (gf = per-doc truncated features) and the
# pass predicate — interpolated by doc_gopher_quality AND the
# pipeline_gopher_prune capstone so the two oracles cannot drift.
_DUCK_GOPHER_CTES = f"""gt AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS toks,
             string_split_regex(trim(text), '\\s+') AS wwords,
             list_filter(list_transform(string_split(text, chr(10)),
                                        l -> trim(l)),
                         l -> length(l) > 0) AS lines
      FROM documents
    ),
    gtf AS (
      SELECT doc_id, word, count(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS word FROM gt) u
      GROUP BY doc_id, word
    ),
    gtop AS (SELECT doc_id, max(c) AS topc FROM gtf GROUP BY doc_id),
    gf AS (
      SELECT gt.doc_id,
        len(toks) AS n_words,
        floor((CASE WHEN len(toks) > 0 THEN
          list_sum(list_transform(toks, x -> length(x))) / len(toks)
          ELSE 0.0 END) * 10000) / 10000 AS mean_word_len,
        floor((CASE WHEN len(toks) > 0 THEN
          coalesce(gtop.topc, 0) / len(toks)
          ELSE 0.0 END) * 10000) / 10000 AS top_word_ratio,
        floor((CASE WHEN len(lines) > 0 THEN
          1 - (len(list_distinct(lines)) / len(lines))
          ELSE 0.0 END) * 10000) / 10000 AS dup_line_frac,
        floor((CASE WHEN len(lines) > 0 THEN
          len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%'
                                      OR l LIKE '•%')) / len(lines)
          ELSE 0.0 END) * 10000) / 10000 AS bullet_line_frac,
        floor((CASE WHEN len(lines) > 0 THEN
          len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…'))
            / len(lines)
          ELSE 0.0 END) * 10000) / 10000 AS ellipsis_line_frac,
        floor((CASE WHEN len(wwords) > 0 THEN
          ((length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) / 3
           + (length(text) - length(replace(text, '…', '')))) / len(wwords)
          ELSE 0.0 END) * 10000) / 10000 AS symbol_word_ratio,
        floor((CASE WHEN len(wwords) > 0 THEN
          len(list_filter(wwords, w -> regexp_matches(w, '[a-zA-Z]')))
            / len(wwords)
          ELSE 0.0 END) * 10000) / 10000 AS alpha_word_frac
      FROM gt LEFT JOIN gtop ON gt.doc_id = gtop.doc_id
    )"""

_DUCK_GOPHER_PASS = """(n_words >= 50 AND n_words <= 100000
       AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
       AND top_word_ratio < 0.2 AND dup_line_frac < 0.3
       AND bullet_line_frac < 0.9 AND ellipsis_line_frac < 0.3
       AND symbol_word_ratio < 0.1 AND alpha_word_frac > 0.8)"""


@query(
    "doc_gopher_quality",
    f"""
    WITH {_DUCK_GOPHER_CTES}
    SELECT *, {_DUCK_GOPHER_PASS} AS gopher_pass
    FROM gf ORDER BY doc_id
    """,
)
def q_gopher_quality(spark, sf_dir):
    """Gopher corpus-filtering rules (textstats.gopher_quality)."""
    return TS.gopher_quality(_t(spark, sf_dir, "documents"))


@query(
    "doc_ngram_repetition",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id,
        list_transform(range(1, len(toks)),
                       i -> array_to_string(toks[i:i+1], ' ')) AS g2,
        list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(toks[i:i+2], ' ')) AS g3
      FROM t
    ),
    f2 AS (
      SELECT doc_id, max(c) AS topc FROM (
        SELECT doc_id, gram, count(*) AS c
        FROM (SELECT doc_id, unnest(g2) AS gram FROM g) u
        GROUP BY doc_id, gram) cg
      GROUP BY doc_id
    ),
    f3 AS (
      SELECT doc_id, max(c) AS topc FROM (
        SELECT doc_id, gram, count(*) AS c
        FROM (SELECT doc_id, unnest(g3) AS gram FROM g) u
        GROUP BY doc_id, gram) cg
      GROUP BY doc_id
    )
    SELECT g.doc_id,
      len(g2) AS n_bigrams,
      floor((CASE WHEN len(g2) > 0 THEN
        1 - (len(list_distinct(g2)) / len(g2)) ELSE 0.0 END)
        * 10000) / 10000 AS dup_bigram_frac,
      floor((CASE WHEN len(g2) > 0 THEN
        coalesce(f2.topc, 0) / len(g2) ELSE 0.0 END)
        * 10000) / 10000 AS top_bigram_frac,
      len(g3) AS n_trigrams,
      floor((CASE WHEN len(g3) > 0 THEN
        1 - (len(list_distinct(g3)) / len(g3)) ELSE 0.0 END)
        * 10000) / 10000 AS dup_trigram_frac,
      floor((CASE WHEN len(g3) > 0 THEN
        coalesce(f3.topc, 0) / len(g3) ELSE 0.0 END)
        * 10000) / 10000 AS top_trigram_frac
    FROM g LEFT JOIN f2 ON g.doc_id = f2.doc_id
           LEFT JOIN f3 ON g.doc_id = f3.doc_id
    ORDER BY g.doc_id
    """,
)
def q_ngram_repetition(spark, sf_dir):
    """Per-doc n-gram repetition (textstats.ngram_repetition)."""
    return TS.ngram_repetition(_t(spark, sf_dir, "documents"))


_CHUNK_TOKENS = 64


@query(
    "doc_chunks",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    ch AS (
      SELECT doc_id, toks,
             unnest(range(0, CAST(ceil(len(toks) / {_CHUNK_TOKENS}.0)
                                  AS BIGINT))) AS chunk_id
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, chunk_id,
           least({_CHUNK_TOKENS}, len(toks) - chunk_id * {_CHUNK_TOKENS})
             AS n_chunk_tokens,
           array_to_string(
             toks[chunk_id * {_CHUNK_TOKENS} + 1
                  : chunk_id * {_CHUNK_TOKENS} + {_CHUNK_TOKENS}],
             ' ') AS chunk_text
    FROM ch ORDER BY doc_id, chunk_id
    """,
)
def q_doc_chunks(spark, sf_dir):
    """Fixed-token-window chunking (sampling.chunk_documents) — the
    context-window pre-cut that feeds pack_training_sequences."""
    from lab3_spark.operators.sampling import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=_CHUNK_TOKENS
    )


# ---------------------------------------------------------------------------
# §5 Deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
# embedding-cosine) — SURVEY.md north-star operators.
# The oracles recompute the identical portable-hash pipelines in SQL
# (md5-based minhash & hyperplanes, integer simhash) — see
# functions/text.py hex_to_long for the shared arithmetic.
# ---------------------------------------------------------------------------

_H2L = (
    "list_reduce(list_transform(string_split({h}, ''), "
    "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
    "(a, b) -> a * 16 + b)"
)


def _h2l(expr: str) -> str:
    return _H2L.format(h=expr)


# unit-normalized vectors (same formulation as the Spark side:
# functions/vectors.unit_vector) so cos = one dot-product fold per pair
_DUCK_VEC = """
    ev AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, label,
             list_transform(v, x -> x /
               sqrt(list_reduce(list_transform(v, q -> q * q),
                                (acc, q) -> acc + q))) AS u
      FROM ev
    )"""

_DUCK_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)
_DUCK_NORM = "sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"


_DUCK_SHINGLE_CTES = f"""
    toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
                    i -> array_to_string(t[i:i+2], ' ')))) AS shingle
      FROM toks WHERE len(t) >= 3
    )"""

_DUCK_MINHASH_CTES = f"""{_DUCK_SHINGLE_CTES},
    mh AS (
      SELECT doc_id, salt, min(md5(concat(salt, '|', shingle))) AS mh
      FROM sh, (SELECT unnest(range(0, 16)) AS salt) salts
      GROUP BY doc_id, salt
    ),
    sig AS (SELECT doc_id, list(mh ORDER BY salt) AS sig FROM mh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b, md5(array_to_string(sig[b*4+1:b*4+4], ',')) AS band_key
      FROM sig, (SELECT unnest(range(0, 4)) AS b) bb
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
      FROM bands a
      JOIN bands b ON a.b = b.b AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )"""


@query(
    "dedup_exact",
    f"""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(regexp_extract_all(lower(text),
                 {OR.DUCK_TOKEN_REGEX}), ' ')) AS fp
      FROM documents
    )
    SELECT doc_id, fp,
           count(*) OVER (PARTITION BY fp) AS n_copies,
           CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY fp)
                THEN 1 ELSE 0 END AS is_dup
    FROM fp ORDER BY doc_id
    """,
)
def q_dedup_exact(spark, sf_dir):
    from lab3_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_t(spark, sf_dir, "documents"))


@query(
    "dedup_keep_best",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS toks, length(text) AS n_chars,
             len({_DUCK_TOKS}) AS n_tokens,
             md5(array_to_string({_DUCK_TOKS}, ' ')) AS fp
      FROM documents
    ),
    q AS (
      SELECT doc_id, fp,
        floor((0.4 * least(n_tokens / 50.0, 1.0)
          + 0.3 * (1 - CASE WHEN n_chars > 0 THEN
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / n_chars
              ELSE 0.0 END)
          + 0.3 * (CASE WHEN n_tokens > 0 THEN
              len(list_distinct(toks)) / n_tokens ELSE 0.0 END))
          * 10000) / 10000 AS quality
      FROM t
    )
    SELECT doc_id, fp, quality,
           count(*) OVER (PARTITION BY fp) AS n_copies,
           CASE WHEN row_number() OVER (PARTITION BY fp
                ORDER BY quality DESC, doc_id ASC) = 1
                THEN 1 ELSE 0 END AS keep
    FROM q ORDER BY doc_id
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware exact dedup (dedup.keep_best_duplicates)."""
    from lab3_spark.operators.dedup import keep_best_duplicates

    return keep_best_duplicates(_t(spark, sf_dir, "documents"))


@query(
    "dedup_survivors",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS toks, length(text) AS n_chars,
             len({_DUCK_TOKS}) AS n_tokens,
             md5(array_to_string({_DUCK_TOKS}, ' ')) AS fp
      FROM documents
    ),
    q AS (
      SELECT doc_id, fp,
        floor((0.4 * least(n_tokens / 50.0, 1.0)
          + 0.3 * (1 - CASE WHEN n_chars > 0 THEN
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / n_chars
              ELSE 0.0 END)
          + 0.3 * (CASE WHEN n_tokens > 0 THEN
              len(list_distinct(toks)) / n_tokens ELSE 0.0 END))
          * 10000) / 10000 AS quality
      FROM t
    ),
    ranked AS (
      SELECT fp, doc_id, quality,
             count(*) OVER (PARTITION BY fp) AS n_copies,
             row_number() OVER (PARTITION BY fp
               ORDER BY quality DESC, doc_id ASC) AS rn
      FROM q
    )
    SELECT fp, doc_id, quality, n_copies
    FROM ranked WHERE rn = 1 ORDER BY fp
    """,
)
def q_dedup_survivors(spark, sf_dir):
    """Survivors-only quality dedup — the combine-able max_by form
    (dedup.dedup_survivors): partial-aggregates map-side, no window,
    no degenerate-fingerprint hot task."""
    from lab3_spark.operators.dedup import dedup_survivors

    return dedup_survivors(_t(spark, sf_dir, "documents"))


@query(
    "dedup_repeated_chunks",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    ch AS (
      SELECT doc_id, toks,
             unnest(range(0, CAST(ceil(len(toks) / 64.0) AS BIGINT)))
               AS chunk_id
      FROM t WHERE len(toks) > 0
    ),
    cf AS (
      SELECT doc_id,
             md5(array_to_string(
               toks[chunk_id * 64 + 1 : chunk_id * 64 + 64], ' ')) AS chunk_fp
      FROM ch
    )
    SELECT chunk_fp,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs,
           min(doc_id) AS first_doc_id
    FROM cf
    GROUP BY chunk_fp
    HAVING count(*) > 1
    ORDER BY chunk_fp
    """,
)
def q_dedup_repeated_chunks(spark, sf_dir):
    """Chunk-level repeated-substring detection (dedup.repeated_chunks)."""
    from lab3_spark.operators.dedup import repeated_chunks

    return repeated_chunks(_t(spark, sf_dir, "documents"), chunk_tokens=64)


@query(
    "doc_hash_embeddings",
    f"""
    WITH {OR.duck_tokens_cte()},
    h AS (
      SELECT id AS doc_id,
             {_h2l("substr(md5(concat('fh', '|', word)), 1, 15)")} % 16 AS dim,
             CASE WHEN {_h2l("substr(md5(concat('fhs', '|', word)), 1, 15)")} % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM toks
    )
    SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS w
    FROM h GROUP BY doc_id, dim ORDER BY doc_id, dim
    """,
)
def q_doc_hash_embeddings(spark, sf_dir):
    """Feature-hashing document embedding (textstats.feature_hash_embedding)."""
    return TS.feature_hash_embedding(_t(spark, sf_dir, "documents"), dims=16)


@query(
    "ann_hash_embedding_top5",
    f"""
    WITH {OR.duck_tokens_cte()},
    h AS (
      SELECT id AS doc_id,
             {_h2l("substr(md5(concat('fh', '|', word)), 1, 15)")} % 16 AS dim,
             CASE WHEN {_h2l("substr(md5(concat('fhs', '|', word)), 1, 15)")} % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM toks
    ),
    sw AS (
      SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS w
      FROM h GROUP BY doc_id, dim
    ),
    dims16 AS (SELECT unnest(range(0, 16)) AS dim),
    dv AS (
      SELECT dd.doc_id,
             list(CAST(coalesce(sw.w, 0) AS DOUBLE) ORDER BY dims16.dim) AS v
      FROM (SELECT DISTINCT doc_id FROM sw) dd
      CROSS JOIN dims16
      LEFT JOIN sw ON sw.doc_id = dd.doc_id AND sw.dim = dims16.dim
      GROUP BY dd.doc_id
    ),
    e AS (
      SELECT doc_id,
             list_transform(v, x -> x /
               sqrt(list_reduce(list_transform(v, q -> q * q),
                                (a, b) -> a + b))) AS u
      FROM dv
      WHERE list_reduce(list_transform(v, q -> q * q), (a, b) -> a + b) > 0
    ),
    q AS (SELECT doc_id AS query_id, u AS uq FROM e WHERE doc_id < 20),
    pairs AS (
      SELECT query_id, n.doc_id AS neighbor_id,
             ({_DUCK_DOT.format(a='uq', b='n.u')}) AS cos_raw
      FROM q, e n WHERE n.doc_id != query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id,
           floor(cos_raw * 10000) / 10000 AS cos, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_hash_embedding(spark, sf_dir):
    """Text-only ANN over engine-generated hash embeddings
    (similarity.ann_hash_embedding)."""
    from lab3_spark.operators.similarity import ann_hash_embedding

    return ann_hash_embedding(_t(spark, sf_dir, "documents"))


@query(
    "doc_redact_pii",
    r"""
    WITH s AS (
      SELECT doc_id,
        len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
            '<EMAIL>', 'g') AS t1
      FROM documents
    ),
    s2 AS (
      SELECT doc_id, n_emails,
        len(regexp_extract_all(t1,
            '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ips,
        regexp_replace(t1, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b',
                       '<IP>', 'g') AS t2
      FROM s
    ),
    s3 AS (
      SELECT doc_id, n_emails, n_ips,
        len(regexp_extract_all(t2,
            '\+[0-9][0-9() -]{7,14}[0-9]')) AS n_phones,
        regexp_replace(t2, '\+[0-9][0-9() -]{7,14}[0-9]',
                       '<PHONE>', 'g') AS t3
      FROM s2
    )
    SELECT doc_id, n_emails, n_ips, n_phones, md5(t3) AS clean_fp
    FROM s3 ORDER BY doc_id
    """,
)
def q_doc_redact_pii(spark, sf_dir):
    """PII scrubbing pass (textstats.redact_pii): typed placeholders +
    per-class counts + redacted-text fingerprint, oracle-verified."""
    return TS.redact_pii(_t(spark, sf_dir, "documents"))


@query(
    "stratified_fixed_n_sample",
    f"""
    WITH h AS (
      SELECT source AS stratum, doc_id,
             {_h2l("substr(md5(concat('fixed', '|', CAST(doc_id AS VARCHAR))), 1, 15)")}
               AS hv
      FROM documents
    ),
    r AS (
      SELECT stratum, doc_id,
             row_number() OVER (PARTITION BY stratum
                                ORDER BY hv, doc_id) AS rk
      FROM h
    )
    SELECT stratum, doc_id, rk FROM r
    WHERE rk <= 10 ORDER BY stratum, rk
    """,
)
def q_stratified_fixed_n(spark, sf_dir):
    """Fixed-allocation stratified sample (sampling.
    stratified_fixed_sample): exactly 10 per source, deterministic
    portable-hash order — the balanced-eval-set allocation fractional
    hash sampling can't promise."""
    from lab3_spark.operators.sampling import stratified_fixed_sample

    return stratified_fixed_sample(
        _t(spark, sf_dir, "documents"), n_per_stratum=10
    )


@query(
    "corpus_shuffle_shards",
    f"""
    WITH h AS (
      SELECT doc_id,
             {_h2l("substr(md5(concat('shuffle', '|', CAST(doc_id AS VARCHAR))), 1, 15)")}
               AS hv
      FROM documents
    )
    SELECT doc_id,
           row_number() OVER (ORDER BY hv, doc_id) AS rn,
           CAST(ntile(8) OVER (ORDER BY hv, doc_id) AS INT) AS shard
    FROM h ORDER BY rn
    """,
)
def q_corpus_shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle + sharding for training export
    (sampling.corpus_shuffle_shards): portable-hash order decorrelates
    ingest locality, the distributed global rank gives stable
    positions, ntile(8) cuts contiguous equal shards — one ranged
    shuffle + broadcast offsets, never a single-partition window (the
    oracle's unpartitioned-window form is exactly what rank.py
    replaces)."""
    from lab3_spark.operators.sampling import corpus_shuffle_shards

    return corpus_shuffle_shards(_t(spark, sf_dir, "documents"))


@query(
    "dataset_card",
    f"""
    WITH base AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks, lang, source,
             md5(array_to_string(toks, ' ')) AS fp
      FROM (SELECT doc_id, lang, source,
                   regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS toks
            FROM documents)
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS tot,
             CAST(count(DISTINCT fp) AS BIGINT) AS nfp,
             CAST(count(DISTINCT source) AS BIGINT) AS nsrc,
             CAST(count(DISTINCT lang) AS BIGINT) AS nlang,
             CAST(sum({_h2l("substr(md5(concat(CAST(doc_id AS VARCHAR), '|', fp)), 1, 15)")})
                  % 2305843009213693951 AS BIGINT) AS cksum
      FROM base
    )
    SELECT metric, value FROM (
      SELECT 'content_checksum_modsum' AS metric, cksum AS value FROM s
      UNION ALL SELECT 'dup_rate_ppm',
             ((n_docs - nfp) * 1000000) // n_docs FROM s
      UNION ALL SELECT 'distinct_fingerprints', nfp FROM s
      UNION ALL SELECT 'exact_dup_docs', n_docs - nfp FROM s
      UNION ALL SELECT 'mean_doc_tokens_ppm', (tot * 1000000) // n_docs FROM s
      UNION ALL SELECT 'n_docs', n_docs FROM s
      UNION ALL SELECT 'n_langs', nlang FROM s
      UNION ALL SELECT 'n_sources', nsrc FROM s
      UNION ALL SELECT 'total_tokens', tot FROM s
    ) ORDER BY metric
    """,
)
def q_dataset_card(spark, sf_dir):
    """Corpus-level dataset card (textstats.dataset_card): the
    statistics block a curation pipeline publishes with a corpus —
    doc/token counts, exact-dup rate (ppm, exact integer division),
    source/language breadth, mean length.  One scan, one 1-row
    aggregate, a stack to long form."""
    from lab3_spark.operators.textstats import dataset_card

    return dataset_card(_t(spark, sf_dir, "documents"))


@query(
    "jsonl_roundtrip_docs",
    """
    SELECT doc_id, text, lang, source, n_chars
    FROM documents ORDER BY doc_id
    """,
)
def q_jsonl_roundtrip(spark, sf_dir):
    """JSONL sink → source round trip: documents written as JSON-lines
    (a fresh directory per call) and read back with the DECLARED schema
    (sources/files.read_json — no inference pass).  The oracle
    reads the ORIGINAL parquet, so a green row proves the JSON format
    path is lossless row-for-row, including escaped newlines/quotes in
    `text`."""
    from lab3_spark.sources.files import read_json

    path = os.path.join(_scratch_dir("docs_jsonl_"), "docs")
    _t(spark, sf_dir, "documents").write.json(path)
    out = read_json(
        spark,
        path,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    return out.select("doc_id", "text", "lang", "source", "n_chars").orderBy(
        "doc_id"
    )


@query(
    "pipeline_gopher_prune",
    f"""
    WITH {_DUCK_GOPHER_CTES},
    gp AS (SELECT doc_id FROM gf WHERE {_DUCK_GOPHER_PASS}),
    pd AS (
      SELECT d.doc_id, d.source,
             md5(array_to_string({_DUCK_TOKS}, ' ')) AS fp,
             len({_DUCK_TOKS}) AS n_toks
      FROM documents d JOIN gp USING (doc_id)
    ),
    kept AS (
      SELECT * FROM (
        SELECT pd.*, min(doc_id) OVER (PARTITION BY fp) AS rep FROM pd) x
      WHERE doc_id = rep
    ),
    src AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    ps AS (
      SELECT d.source, count(*) AS n_gopher_pass
      FROM documents d JOIN gp USING (doc_id) GROUP BY d.source
    ),
    ks AS (
      SELECT source, count(*) AS n_kept,
             CAST(sum(CAST(ceil(n_toks / 64.0) AS BIGINT)) AS BIGINT)
               AS n_chunks
      FROM kept GROUP BY source
    )
    SELECT src.source, src.n_docs,
           coalesce(ps.n_gopher_pass, 0) AS n_gopher_pass,
           coalesce(ks.n_kept, 0) AS n_kept,
           coalesce(ks.n_chunks, 0) AS n_chunks
    FROM src
    LEFT JOIN ps ON src.source = ps.source
    LEFT JOIN ks ON src.source = ks.source
    ORDER BY src.source
    """,
)
def q_pipeline_gopher_prune(spark, sf_dir):
    """Corpus-pruning pipeline END-TO-END: Gopher rule filter → exact
    dedup of the survivors (min-id per fingerprint) → context-window
    chunk budget, reported per source.  Composes the round-3 operators
    into one oracled plan: the per-source funnel (raw → rule-passing →
    deduped → chunk count) is the number a data curator actually
    tracks.  Every stage is deterministic so the whole composition
    value-hash-verifies."""
    from lab3_spark.functions.text import tokenize
    from lab3_spark.operators.textstats import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    gp = (
        gopher_quality(docs)
        .where(F.col("gopher_pass"))
        .select("doc_id")
    )
    toks = tokenize("text")
    from lab3_spark.functions.partitioning import scoped

    # persisted (bounded): pd_ fans out three ways — the min-id agg,
    # the semi-join probe, and the per-source pass counts below —
    # and its child is the gopher scorer + a full tokenize+md5 pass;
    # unpersisted, that chain ran twice and the r12 window→agg rewrite
    # REGRESSED this gate 2.0→3.1 s (VERDICT r12 item 4; guide §5)
    pd_ = scoped(
        docs.join(gp, "doc_id").select(
            "doc_id",
            "source",
            F.md5(F.concat_ws(" ", toks)).alias("fp"),
            F.size(toks).alias("n_toks"),
        ),
    )
    # skew-immune exact dedup (optimization round 12, guide §2.5): the
    # min-id representative is a COMBINABLE agg + semi-join on the
    # unique doc_id — the former fp-partitioned window landed a hot
    # fingerprint's whole group on one unsplittable task
    reps = pd_.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    kept = pd_.join(reps, "doc_id", "semi")
    src = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    # row-identical to docs⋈gp grouped by source (pd_ IS that join,
    # projected) — reading the cache instead of re-running the gopher
    # scorer a third time
    ps = pd_.groupBy("source").agg(F.count("*").alias("n_gopher_pass"))
    ks = kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.ceil(F.col("n_toks") / 64.0)).cast("bigint").alias("n_chunks"),
    )
    zero = F.lit(0).cast("bigint")
    return (
        src.join(ps, "source", "left")
        .join(ks, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_gopher_pass", zero).alias("n_gopher_pass"),
            F.coalesce("n_kept", zero).alias("n_kept"),
            F.coalesce("n_chunks", zero).alias("n_chunks"),
        )
        .orderBy("source")
    )


@query(
    "dedup_minhash_lsh",
    f"""
    WITH {_DUCK_MINHASH_CTES}
    SELECT doc_a, doc_b, n_bands FROM cand ORDER BY doc_a, doc_b
    """,
)
def q_dedup_minhash(spark, sf_dir):
    from lab3_spark.operators.dedup import minhash_candidates

    return minhash_candidates(_t(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           floor((n_inter / (na.n_sh + nb.n_sh - n_inter)) * 10000) / 10000
             AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE floor((n_inter / (na.n_sh + nb.n_sh - n_inter)) * 10000) / 10000 >= 0.2
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_jaccard(spark, sf_dir):
    from lab3_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


def _fs_oracle_sql() -> str:
    """Fellegi–Sunter oracle: candidate + verified-truth CTEs (the
    dedup_ngram_jaccard recipe verbatim), per-field marginal u-stats
    in HUGEINT, then the SAME weight templates the operator parses —
    imported, not re-typed, so the one float step is
    character-identical."""
    from lab3_spark.operators.dedup import (
        FS_FIELDS,
        FS_W_AGREE_TMPL,
        FS_W_DISAGREE_TMPL,
    )

    s2 = ",\n    ".join(
        f"""s2_{f} AS (
      SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
      FROM (SELECT count(*) AS c FROM lab GROUP BY {f}) t)"""
        for f in FS_FIELDS
    )
    m_cols = ",\n             ".join(
        f"coalesce(sum(CASE WHEN {f}_a = {f}_b THEN 1 ELSE 0 END), 0)"
        f" AS m_{f}"
        for f in FS_FIELDS
    )
    un_cols = ", ".join(
        f"s2_{f}.s2 - nn.n AS un_{f}" for f in FS_FIELDS
    )
    w_cols = ", ".join(
        FS_W_AGREE_TMPL.format(mn=f"m_{f}", md="m_den", un=f"un_{f}", ud="ud")
        + f" AS wa_{f}, "
        + FS_W_DISAGREE_TMPL.format(
            mn=f"m_{f}", md="m_den", un=f"un_{f}", ud="ud"
        )
        + f" AS wd_{f}"
        for f in FS_FIELDS
    )
    ag = ",\n             ".join(
        f"CASE WHEN la.{'n_chars // 64' if f == 'lenb' else f} ="
        f" lb.{'n_chars // 64' if f == 'lenb' else f} THEN 1 ELSE 0 END"
        f" AS ag_{f}"
        for f in FS_FIELDS
    )
    score = " + ".join(
        f"(CASE WHEN ag_{f} = 1 THEN wa_{f} ELSE wd_{f} END)"
        for f in FS_FIELDS
    )
    nagree = " + ".join(f"ag_{f}" for f in FS_FIELDS)
    return f"""
    WITH {_DUCK_MINHASH_CTES},
    lab AS (SELECT doc_id, source, lang, n_chars // 64 AS lenb
            FROM documents),
    nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM lab),
    {s2},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    truthp AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
      WHERE floor((n_inter / (na.n_sh + nb.n_sh - n_inter)) * 10000)
            / 10000 >= 0.5
    ),
    tr AS (
      SELECT t.doc_a, t.doc_b,
             la.source AS source_a, lb.source AS source_b,
             la.lang AS lang_a, lb.lang AS lang_b,
             la.lenb AS lenb_a, lb.lenb AS lenb_b
      FROM truthp t
      JOIN lab la ON la.doc_id = t.doc_a
      JOIN lab lb ON lb.doc_id = t.doc_b
    ),
    m AS (SELECT count(*) AS m_den,
             {m_cols}
          FROM tr),
    stats AS (SELECT m.*, {un_cols}, nn.n * nn.n - nn.n AS ud
              FROM m, {', '.join(f's2_{f}' for f in FS_FIELDS)}, nn),
    w AS (SELECT {w_cols} FROM stats),
    cagree AS (
      SELECT c.doc_a, c.doc_b,
             {ag}
      FROM cand c
      JOIN documents la ON la.doc_id = c.doc_a
      JOIN documents lb ON lb.doc_id = c.doc_b
    ),
    scored AS (
      SELECT doc_a, doc_b,
             CAST({nagree} AS BIGINT) AS n_agree,
             CAST({score} AS BIGINT) AS score_fp
      FROM cagree, w
    ),
    top AS (
      SELECT *, row_number() OVER (ORDER BY score_fp DESC, doc_a, doc_b)
               AS rnk
      FROM scored
    )
    SELECT doc_a, doc_b, n_agree, score_fp, rnk
    FROM top WHERE rnk <= 20 ORDER BY rnk
    """


@query("linkage_fs_scores", _fs_oracle_sql())
def q_linkage_fs_scores(spark, sf_dir):
    """Fellegi–Sunter probabilistic record linkage
    (dedup.fellegi_sunter_scores): LSH candidate pairs scored by the
    summed log2 likelihood ratio of their (source, lang, 64-char
    length-bucket) agreement pattern — m-probabilities from the
    engine's own verified near-dup truth (exact Jaccard ≥ 0.5),
    u-probabilities from value marginals under random pairing
    ((Σc² − N)/(N² − N), a per-field histogram, never a pair space),
    Laplace-smoothed so every weight is finite.  Six ln() values
    total (floor-fixed ·1e6, the unigram-surprisal contract, shared
    template text on both sides); pair scores are exact bigint sums;
    top-20 by TakeOrderedAndProject.  The classic linkage scorer
    (Splink's core) the dedup family lacked: cross_source_near_dups
    finds pairs, this RANKS them by evidential weight."""
    from lab3_spark.operators.dedup import fellegi_sunter_scores

    return fellegi_sunter_scores(_t(spark, sf_dir, "documents"))


@query(
    "dedup_containment",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a FROM (
      SELECT i.doc_a, i.doc_b,
             floor((n_inter / na.n_sh) * 10000) / 10000 AS cont_a_in_b,
             floor((n_inter / nb.n_sh) * 10000) / 10000 AS cont_b_in_a
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b) t
    WHERE cont_a_in_b >= 0.5 OR cont_b_in_a >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_containment(spark, sf_dir):
    """Asymmetric shingle containment on LSH candidates
    (dedup.containment_pairs): catches the sub-document duplicate —
    a short doc embedded in a longer one — that symmetric Jaccard
    misses; both directions emitted, pair kept when either clears 0.5."""
    from lab3_spark.operators.dedup import containment_pairs

    return containment_pairs(_t(spark, sf_dir, "documents"))


# Shared SimHash CTEs (sigs = per-doc 60-bit signature, pairs = chunk-
# blocked candidate pairs with both signatures) — interpolated by
# dedup_simhash AND dedup_simhash_blocking so the two oracles cannot
# drift.
_DUCK_SIMHASH_CTES = f"""tc AS (
      SELECT doc_id, tok, count(*) AS cnt,
             {_h2l("substr(md5(tok), 1, 15)")} AS h
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX})) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ),
    perbit AS (
      SELECT doc_id, bit, sum(cnt * (2 * ((h >> bit) & 1) - 1)) AS s
      FROM tc, (SELECT unnest(range(0, 60)) AS bit) bits
      GROUP BY doc_id, bit
    ),
    sigs AS (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END) AS sig
      FROM perbit GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id, sig, c, (sig >> (c * 15)) & 32767 AS chunk
      FROM sigs, (SELECT unnest(range(0, 4)) AS c) cs
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sa, b.sig AS sb
      FROM chunks a
      JOIN chunks b ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
    )"""


@query(
    "dedup_simhash",
    f"""
    WITH {_DUCK_SIMHASH_CTES}
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
    FROM pairs
    WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_simhash(spark, sf_dir):
    from lab3_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf_dir, "documents"))


@query(
    "dedup_embedding_cosine",
    f"""
    WITH {_DUCK_VEC}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           floor(({_DUCK_DOT.format(a='a.u', b='b.u')})
                 * 10000) / 10000 AS cos
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE floor(({_DUCK_DOT.format(a='a.u', b='b.u')})
                * 10000) / 10000 >= 0.35
    ORDER BY vec_a, vec_b
    """,
)
def q_dedup_embedding(spark, sf_dir):
    from lab3_spark.operators.dedup import embedding_near_duplicates

    return embedding_near_duplicates(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# §6 Similarity search (ANN) over embeddings
# ---------------------------------------------------------------------------


@query(
    "ann_bruteforce_top5",
    f"""
    WITH {_DUCK_VEC},
    q AS (SELECT vec_id AS query_id, u AS uq FROM e WHERE vec_id < 20),
    pairs AS (
      SELECT query_id, n.vec_id AS neighbor_id,
             ({_DUCK_DOT.format(a='uq', b='n.u')}) AS cos_raw
      FROM q, e n WHERE n.vec_id != query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id,
           floor(cos_raw * 10000) / 10000 AS cos, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_brute(spark, sf_dir):
    from lab3_spark.operators.similarity import ann_bruteforce

    return ann_bruteforce(_t(spark, sf_dir, "embeddings"))


@query(
    "ann_ivf_top5",
    f"""
    WITH {_DUCK_VEC},
    q AS (SELECT vec_id AS query_id, label AS qlabel, u AS uq
          FROM e WHERE vec_id < 20),
    pairs AS (
      SELECT query_id, n.vec_id AS neighbor_id,
             ({_DUCK_DOT.format(a='uq', b='n.u')}) AS cos_raw
      FROM q JOIN e n ON n.label = q.qlabel
      WHERE n.vec_id != query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id,
           floor(cos_raw * 10000) / 10000 AS cos, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_ivf(spark, sf_dir):
    from lab3_spark.operators.similarity import ann_ivf

    return ann_ivf(_t(spark, sf_dir, "embeddings"))


@query(
    "ann_lsh_buckets",
    f"""
    WITH ex AS (
      SELECT vec_id, u.d AS d,
             CAST(floor(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT) AS xi
      FROM (
        SELECT vec_id,
               unnest(list_transform(range(0, len(embedding)),
                      i -> struct_pack(d := i,
                                       x := CAST(embedding[i+1] AS DOUBLE)))) AS u
        FROM embeddings)
    ),
    dots AS (
      -- ALL-BIGINT dot product (mirrors lsh_codes_arrow's fixed-point contract):
      -- integer sums are associative, so aggregation order is irrelevant
      SELECT vec_id, p,
             sum(xi * ((({_h2l("substr(md5(concat(p, ',', d)), 1, 15)")}) % 2001) - 1000)) AS dot
      FROM ex, (SELECT unnest(range(0, 16)) AS p) ps
      GROUP BY vec_id, p
    ),
    codes AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << p)
                           ELSE 0::BIGINT END) AS BIGINT) AS code
      FROM dots GROUP BY vec_id
    )
    SELECT code, count(*) AS n_vecs FROM codes GROUP BY code ORDER BY code
    """,
)
def q_ann_lsh(spark, sf_dir):
    from lab3_spark.operators.similarity import lsh_bucket_sizes

    # dims=64 per TESTDATA.md — threading it skips the one-row dims
    # probe (one fewer Spark job per call); the operator still probes
    # when a caller doesn't know its corpus
    return lsh_bucket_sizes(_t(spark, sf_dir, "embeddings"), dims=64)


# ---------------------------------------------------------------------------
# §7 Multimodal plumbing, Structured Streaming, generic MapReduce facade
# ---------------------------------------------------------------------------


@query(
    "multimodal_features",
    f"""
    WITH h AS (
      SELECT doc_id, text,
             {_h2l("substr(md5(text), 1, 15)")} AS h1,
             {_h2l("substr(md5(text), 16, 15)")} AS h2
      FROM documents
    )
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           h1 % 640 + 1 AS width,
           h2 % 480 + 1 AS height,
           h1 % 30 + 1 AS n_frames,
           (h2 % 25600) / 100.0 AS mean_px
    FROM h ORDER BY doc_id
    """,
)
def q_multimodal(spark, sf_dir):
    """Binary media column → Arrow-batched mapInPandas decode (stubbed
    deterministic fake; real decoder hook raises NotImplementedError —
    see operators/multimodal.py).  The oracle recomputes the fake's
    md5 arithmetic in SQL, so the whole mapInPandas path is
    value-checked."""
    from lab3_spark.operators.multimodal import media_features

    return media_features(_t(spark, sf_dir, "documents"))


@query(
    "multimodal_frame_sample",
    f"""
    WITH h AS (
      SELECT doc_id, {_h2l("substr(md5(text), 1, 15)")} AS h1 FROM documents
    )
    SELECT doc_id, unnest(range(0, h1 % 30 + 1, 10)) AS frame_idx
    FROM h ORDER BY doc_id, frame_idx
    """,
)
def q_frame_sample(spark, sf_dir):
    from lab3_spark.operators.multimodal import attach_media, frame_sample

    return frame_sample(attach_media(_t(spark, sf_dir, "documents")))


@query(
    "mapreduce_facade_wordcount",
    f"""
    WITH {OR.duck_tokens_cte()}
    SELECT word, count(*) AS cnt
    FROM toks GROUP BY word
    ORDER BY cnt ASC, word DESC
    """,
)
def q_facade_wc(spark, sf_dir):
    """The generic Phoenix-style MapReduce facade (split/map/combine/
    reduce/sort registry — SURVEY §2.7) reproducing wordCount."""
    from lab3_spark.operators.mapreduce import word_count_as_mapreduce

    return word_count_as_mapreduce(_t(spark, sf_dir, "documents"))


@query(
    "streaming_tumbling_5min",
    """
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def q_streaming_tumbling(spark, sf_dir):
    """A REAL Structured Streaming run (file source → watermarked
    tumbling-window agg → memory sink, availableNow trigger), returned
    as the final complete-mode table.  Oracle = the batch SQL: with
    all data available, streaming complete mode must equal batch."""
    from lab3_spark.streaming.windowed import streaming_tumbling_counts

    src = _event_stream(spark, sf_dir)
    result = streaming_tumbling_counts(src)
    q = (
        result.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_tumbling_check")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, "streaming_tumbling")
    out = spark.table("stream_tumbling_check")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("window_start", "event_type")


@query(
    "streaming_sliding_10m",
    """
    WITH w AS (
      SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                     time_bucket(INTERVAL '5 minutes', ts)
                       - INTERVAL '5 minutes']) AS ws,
             event_type, value
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM w GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def q_streaming_sliding(spark, sf_dir):
    """REAL Structured Streaming run of the HOPPING window (file
    source → watermarked sliding agg → memory sink, availableNow):
    with all data available, complete mode must equal the batch
    sliding oracle — the events_sliding_10m semantics carried into a
    stream with bounded state."""
    from lab3_spark.streaming.windowed import streaming_sliding_counts

    src = _event_stream(spark, sf_dir)
    result = streaming_sliding_counts(src)
    q = (
        result.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_sliding_check")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, "streaming_sliding")
    out = spark.table("stream_sliding_check")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("window_start", "event_type")


# ---------------------------------------------------------------------------
# §8 Grouping-set lattice, pivot, percentiles, n-grams, TF-IDF, set ops
# ---------------------------------------------------------------------------


def _run_incremental_ingest(spark, sf_dir, prefix: str, pre_filter=None):
    """Shared driver for the incremental-ingest gates: stage 3
    mtime-ordered micro-batches, drain through the foreachBatch
    fingerprint-store dedup, return the accepted store."""
    from lab3_spark.streaming.incremental_dedup import (
        accepted_store,
        start_incremental_dedup,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = _drain_store(
        spark, prefix, docs, "doc_id bigint, text string", _mod3("doc_id"),
        start_incremental_dedup, pre_filter=pre_filter,
    )
    return (
        accepted_store(spark, store)
        .select("doc_id", "fp", F.col("batch_id").cast("bigint").alias("batch_id"))
        .orderBy("fp")
    )


@query(
    "streaming_incremental_dedup",
    f"""
    WITH fps AS (
      SELECT doc_id, doc_id % 3 AS b,
             md5(array_to_string(regexp_extract_all(lower(text),
                 {OR.DUCK_TOKEN_REGEX}), ' ')) AS fp
      FROM documents
    ),
    first_b AS (SELECT fp, min(b) AS batch_id FROM fps GROUP BY fp)
    SELECT min(f.doc_id) AS doc_id, f.fp AS fp,
           CAST(fb.batch_id AS BIGINT) AS batch_id
    FROM fps f JOIN first_b fb ON f.fp = fb.fp AND f.b = fb.batch_id
    GROUP BY f.fp, fb.batch_id
    ORDER BY f.fp
    """,
)
def q_streaming_incremental_dedup(spark, sf_dir):
    """A REAL incremental-ingest run: documents split into three
    micro-batches by doc_id % 3 (file mtimes pin the arrival order),
    drained one file per trigger through the foreachBatch
    fingerprint-store dedup (streaming/incremental_dedup.py).  The
    accepted store must hold exactly one doc per fingerprint — the
    min doc_id within the EARLIEST batch where the fingerprint
    appeared — which the oracle states directly in SQL."""
    return _run_incremental_ingest(spark, sf_dir, "stream_incdedup_")


@query(
    "order_status_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """,
)
def q_cube(spark, sf_dir):
    return REL.order_status_cube(_t(spark, sf_dir, "orders"))


@query(
    "lineitem_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           2 * grouping(l_returnflag) + grouping(l_linestatus) AS gid,
           count(*) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
    ORDER BY gid ASC,
             l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
    """,
)
def q_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS (the general form rollup and cube are
    sugar for): per-(flag,status), per-flag, and grand-total revenue in
    ONE pass over lineitem — Spark expands the sets map-side and
    aggregates once, vs three scans for the UNION ALL equivalent.  The
    explicit grouping-id expression disambiguates real NULL group keys
    from the expanded super-aggregate rows identically in both
    engines."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            (
                2 * F.grouping("l_returnflag") + F.grouping("l_linestatus")
            ).alias("gid"),
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy(
            F.asc("gid"),
            F.asc_nulls_first("l_returnflag"),
            F.asc_nulls_first("l_linestatus"),
        )
    )


@query(
    "nation_status_pivot",
    """
    SELECT n_name,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS total_f,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS total_o,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS total_p
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q_pivot(spark, sf_dir):
    return REL.nation_status_pivot(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


@query(
    "events_value_percentiles",
    """
    SELECT event_type,
           floor(quantile_cont(value, 0.5)  * 10000) / 10000 AS p50,
           floor(quantile_cont(value, 0.9)  * 10000) / 10000 AS p90,
           floor(quantile_cont(value, 0.99) * 10000) / 10000 AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_percentiles(spark, sf_dir):
    return REL.value_percentiles(_t(spark, sf_dir, "events"))


@query(
    "nations_with_both",
    """
    SELECT n_name FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    INTERSECT
    SELECT n_name FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY n_name
    """,
)
def q_intersect(spark, sf_dir):
    return REL.nations_with_both(
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
    )


@query(
    "parties_per_nation",
    """
    WITH both_sides AS (
      SELECT c_nationkey AS nationkey, 'customer' AS role FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey, 'supplier' AS role FROM supplier
    )
    SELECT n_name, role, count(*) AS n_parties
    FROM both_sides b JOIN nation n ON b.nationkey = n.n_nationkey
    GROUP BY n_name, role
    ORDER BY n_name, role
    """,
)
def q_union(spark, sf_dir):
    return REL.parties_per_nation(
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
    )


@query(
    "top_bigrams",
    f"""
    WITH t AS (
      SELECT regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS toks
      FROM documents
    )
    SELECT gram, count(*) AS cnt FROM (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> array_to_string(toks[i:i+1], ' '))) AS gram
      FROM t WHERE len(toks) >= 2)
    GROUP BY gram
    ORDER BY cnt DESC, gram ASC
    LIMIT 20
    """,
)
def q_bigrams(spark, sf_dir):
    return TS.ngram_frequencies(_t(spark, sf_dir, "documents"), n=2, k=20)


@query(
    "tfidf_top_terms",
    f"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX})) AS term
        FROM documents)
      GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * (ln((n.n_docs + 1) / (dfreq.df + 1)) + 1) AS tfidf_raw
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf_raw,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf_raw DESC, term ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, term,
           floor(tfidf_raw * 10000) / 10000 AS tfidf, rnk
    FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk
    """,
)
def q_tfidf(spark, sf_dir):
    return TS.tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


@query(
    "doc_unigram_logprob",
    f"""
    WITH {OR.duck_tokens_cte()},
    vocab AS (SELECT word AS term, count(*) AS cnt FROM toks GROUP BY word),
    n AS (SELECT sum(cnt) AS n_corpus FROM vocab),
    surprisal AS (
      SELECT term,
             CAST(floor(ln(CAST(n.n_corpus AS DOUBLE) / cnt) / ln(2)
                        * 1000000) AS BIGINT) AS s_fp
      FROM vocab CROSS JOIN n
    )
    SELECT t.id AS doc_id,
           count(*) AS n_tokens,
           CAST(sum(s.s_fp) // count(*) AS BIGINT) AS mean_surprisal_fp
    FROM toks t JOIN surprisal s ON t.word = s.term
    GROUP BY t.id
    ORDER BY doc_id
    """,
)
def q_unigram_logprob(spark, sf_dir):
    """Corpus-unigram-LM surprisal per doc (TS.unigram_surprisal): the
    cheap perplexity-style quality signal — one float op per DISTINCT
    vocab term, fixed-pointed before any per-doc summation, so both
    engines produce identical bigint means."""
    return TS.unigram_surprisal(_t(spark, sf_dir, "documents"))


@query(
    "sparse_tfidf_pairs",
    f"""
    WITH t3 AS (
      SELECT doc_id, regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS t
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> array_to_string(t[i:i+2], ' '))) AS term
        FROM t3 WHERE len(t) >= 3)
      GROUP BY doc_id, term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    idf AS (
      SELECT term,
             CAST(floor((ln(CAST(n.n_docs + 1 AS DOUBLE) / (df + 1)) + 1)
                        * 1000) AS BIGINT) AS idf_fp
      FROM (SELECT term, count(*) AS df FROM tf GROUP BY term) d
      CROSS JOIN n
      WHERE d.df >= 2 AND d.df <= floor(0.2 * n.n_docs)
    ),
    w AS (
      SELECT tf.doc_id, tf.term, tf.tf * idf.idf_fp AS w
      FROM tf JOIN idf ON tf.term = idf.term
    ),
    ssq AS (SELECT doc_id, sum(w * w) AS ssq FROM w GROUP BY doc_id),
    dt AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           floor(CAST(dot AS DOUBLE)
                 / sqrt(CAST(sa.ssq AS DOUBLE) * CAST(sb.ssq AS DOUBLE))
                 * 10000) / 10000 AS cos
    FROM dt
    JOIN ssq sa ON sa.doc_id = dt.doc_a
    JOIN ssq sb ON sb.doc_id = dt.doc_b
    WHERE floor(CAST(dot AS DOUBLE)
                / sqrt(CAST(sa.ssq AS DOUBLE) * CAST(sb.ssq AS DOUBLE))
                * 10000) / 10000 >= 0.5
    ORDER BY doc_a, doc_b
    """,
)
def q_sparse_tfidf_pairs(spark, sf_dir):
    """Sparse TF-IDF cosine pairs over 3-gram shingles via the
    inverted-index (term-at-a-time) join with DF pruning
    (TS.sparse_tfidf_pairs) — the weighted upgrade of
    dedup_ngram_jaccard; all-integer accumulation, one IEEE division
    per pair."""
    return TS.sparse_tfidf_pairs(_t(spark, sf_dir, "documents"))


@query(
    "doc_dsir_weights",
    f"""
    WITH td AS (
      SELECT doc_id, lang = 'en' AS is_tgt,
             regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS t
      FROM documents
    ),
    feats AS (
      SELECT doc_id, is_tgt,
             {_h2l("substr(md5(concat('dsir', '|', gram)), 1, 15)")}
               % 1024 AS feat
      FROM (
        SELECT doc_id, is_tgt,
               unnest(list_concat(t,
                      list_transform(range(1, len(t)),
                                     i -> array_to_string(t[i:i+1], ' '))))
                 AS gram
        FROM td)
    ),
    cnts AS (
      SELECT feat,
             CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t,
             CAST(sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
      FROM feats GROUP BY feat
    ),
    totals AS (SELECT sum(cnt_t) AS n_t, sum(cnt_b) AS n_b FROM cnts),
    ratio AS (
      SELECT feat,
             CAST(floor((ln(CAST(cnt_t + 1 AS DOUBLE)
                            / CAST(n_t + 1024 AS DOUBLE))
                         - ln(CAST(cnt_b + 1 AS DOUBLE)
                              / CAST(n_b + 1024 AS DOUBLE)))
                        * 1000000) AS BIGINT) AS r_fp
      FROM cnts CROSS JOIN totals
    )
    SELECT f.doc_id,
           count(*) AS n_feats,
           CAST(sum(r.r_fp) AS BIGINT) AS dsir_fp,
           CAST(floor(CAST(sum(r.r_fp) AS DOUBLE) / count(*)) AS BIGINT)
             AS mean_fp
    FROM feats f JOIN ratio r ON f.feat = r.feat
    GROUP BY f.doc_id
    ORDER BY doc_id
    """,
)
def q_doc_dsir_weights(spark, sf_dir):
    """DSIR importance weights (TS.dsir_log_ratio_weights): hashed
    unigram+bigram LMs for a target slice (lang='en') vs background;
    per-doc Σ log-ratio, fixed-pointed per DISTINCT feature so both
    engines sum identical bigints.  The hashed feature space (1024)
    keeps the ratio table broadcast-scale at any corpus size."""
    return TS.dsir_log_ratio_weights(_t(spark, sf_dir, "documents"))


@query(
    "pipeline_dsir_select",
    f"""
    WITH td AS (
      SELECT doc_id, lang = 'en' AS is_tgt,
             regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS t
      FROM documents
    ),
    feats AS (
      SELECT doc_id, is_tgt,
             {_h2l("substr(md5(concat('dsir', '|', gram)), 1, 15)")}
               % 1024 AS feat
      FROM (
        SELECT doc_id, is_tgt,
               unnest(list_concat(t,
                      list_transform(range(1, len(t)),
                                     i -> array_to_string(t[i:i+1], ' '))))
                 AS gram
        FROM td)
    ),
    cnts AS (
      SELECT feat,
             CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t,
             CAST(sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS BIGINT) AS cnt_b
      FROM feats GROUP BY feat
    ),
    totals AS (SELECT sum(cnt_t) AS n_t, sum(cnt_b) AS n_b FROM cnts),
    ratio AS (
      SELECT feat,
             CAST(floor((ln(CAST(cnt_t + 1 AS DOUBLE)
                            / CAST(n_t + 1024 AS DOUBLE))
                         - ln(CAST(cnt_b + 1 AS DOUBLE)
                              / CAST(n_b + 1024 AS DOUBLE)))
                        * 1000000) AS BIGINT) AS r_fp
      FROM cnts CROSS JOIN totals
    ),
    weights AS (
      SELECT f.doc_id,
             CAST(floor(CAST(sum(r.r_fp) AS DOUBLE) / count(*)) AS BIGINT)
               AS mean_fp
      FROM feats f JOIN ratio r ON f.feat = r.feat
      GROUP BY f.doc_id
    ),
    ranked AS (
      SELECT d.doc_id, d.source,
             len(regexp_extract_all(lower(d.text), {OR.DUCK_TOKEN_REGEX}))
               AS n_tokens,
             w.mean_fp,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY w.mean_fp DESC, d.doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY d.source) AS n_src
      FROM documents d JOIN weights w ON w.doc_id = d.doc_id
    )
    SELECT doc_id, source, n_tokens, mean_fp, rn
    FROM ranked
    WHERE rn <= CAST(ceil(n_src / 2.0) AS BIGINT)
    ORDER BY source, rn
    """,
)
def q_pipeline_dsir_select(spark, sf_dir):
    """Data-SELECTION capstone: DSIR importance weights → keep each
    source's most-target-like HALF (row_number over mean_fp desc,
    doc_id tiebreak — deterministic) → emit with token counts.  The
    curator's targeted-resampling funnel, composed as ONE oracle-
    checked plan: score (broadcast ratio join), rank (per-source
    window — bounded partitions, never a global sort), select."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    w = TS.dsir_log_ratio_weights(docs).select("doc_id", "mean_fp")
    from lab3_spark.functions.text import tokenize

    scored = docs.join(w, "doc_id").select(
        "doc_id",
        "source",
        F.size(tokenize("text")).alias("n_tokens"),
        "mean_fp",
    )
    win = Window.partitionBy("source").orderBy(
        F.desc("mean_fp"), F.asc("doc_id")
    )
    cnt = Window.partitionBy("source")
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .withColumn("n_src", F.count("*").over(cnt))
        .where(F.col("rn") <= F.ceil(F.col("n_src") / 2.0).cast("bigint"))
        .select("doc_id", "source", "n_tokens", "mean_fp", "rn")
        .orderBy("source", "rn")
    )


@query(
    "events_geomean_value",
    """
    SELECT event_type,
           floor(exp(avg(ln(value))) * 10000) / 10000 AS geo_mean,
           count(*) AS n
    FROM events WHERE value > 0
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_geomean(spark, sf_dir):
    """Custom-UDAF extension point (combiner.h:109-161 analogue): a
    pandas grouped-agg UDAF (Arrow-batched numpy fold) computing the
    geometric mean — an aggregate Spark lacks natively."""
    from lab3_spark.functions.udaf import geometric_mean_udaf
    from lab3_spark.functions.rounding import trunc

    ev = _t(spark, sf_dir, "events").where(F.col("value") > 0)
    # a pandas grouped-agg UDF cannot share an agg with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — two aggs joined on the group key
    geo = ev.groupBy("event_type").agg(
        trunc(geometric_mean_udaf("value"), 4).alias("geo_mean")
    )
    n = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    return geo.join(n, "event_type").orderBy("event_type")


@query(
    "salted_wordcount",
    f"""
    WITH {OR.duck_tokens_cte()}
    SELECT word, count(*) AS cnt
    FROM toks GROUP BY word
    ORDER BY cnt ASC, word DESC
    """,
)
def q_salted(spark, sf_dir):
    """Skew-resistant two-phase (salted) aggregation through the
    MapReduce facade — must equal the plain group-by exactly."""
    from lab3_spark.functions.text import tokenize
    from lab3_spark.operators.mapreduce import map_reduce_salted

    docs = _t(spark, sf_dir, "documents")
    mapper = F.transform(
        tokenize("text"),
        lambda w: F.struct(w.alias("key"), F.lit(1).cast("long").alias("value")),
    )
    out = map_reduce_salted(
        docs, mapper, combiner="sum", key_name="word", value_name="cnt"
    )
    return out.orderBy(F.asc("cnt"), F.desc("word"))


# ---------------------------------------------------------------------------
# §9 Time-series operators: as-of join, native session windows, funnel,
# retention, approximate distinct (rows-only)
# ---------------------------------------------------------------------------


@query(
    "events_asof_join",
    """
    WITH tagged AS (
      SELECT user_id, ts, NULL AS value_asof, 1 AS side,
             event_id, value
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, value AS value_asof, 0 AS side,
             NULL AS event_id, NULL AS value
      FROM events WHERE event_type = 'click'
    ),
    carried AS (
      SELECT user_id, ts, side, event_id, value,
             last_value(value_asof IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts ASC, side ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS value_asof
      FROM tagged
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           round(value, 2) AS value,
           round(value_asof, 2) AS last_click_value
    FROM carried WHERE side = 1
    ORDER BY event_id
    """,
)
def q_asof(spark, sf_dir):
    """As-of join: each purchase event gets the most recent prior (or
    simultaneous) click value for the same user — one window shuffle,
    no range-join explosion (operators/asof.py)."""
    from lab3_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(purchases, clicks, on="user_id", ts="ts")
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("value", 2).alias("value"),
        F.round("value_asof", 2).alias("last_click_value"),
    ).orderBy("event_id")


@query(
    "events_session_window_native",
    """
    WITH e AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1, 0)
                    OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_break
      FROM events
    ), s AS (
      SELECT user_id, ts, value,
             sum(is_break) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM e
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM s GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def q_session_native(spark, sf_dir):
    """Spark's NATIVE session_window aggregation; the oracle is the
    lag+running-sum formulation — both must produce identical
    sessions (session_start = min ts per merged window)."""
    return EV.session_windows_native(_t(spark, sf_dir, "events"))


@query(
    "events_funnel",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS v,
             min(CASE WHEN event_type = 'click' THEN ts END) AS c,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
      GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c >= v
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(sum(CASE WHEN v IS NOT NULL AND c IS NOT NULL AND c >= v
                     AND p IS NOT NULL AND p >= c
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click_purchase
    FROM firsts
    """,
)
def q_funnel(spark, sf_dir):
    return EV.funnel(_t(spark, sf_dir, "events"))


@query(
    "events_retention",
    """
    WITH days AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ),
    ret AS (
      SELECT a.day, count(DISTINCT a.user_id) AS retained
      FROM days a JOIN days b
        ON a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
      GROUP BY a.day
    ),
    act AS (SELECT day, count(DISTINCT user_id) AS active FROM days GROUP BY day)
    SELECT strftime(act.day, '%Y-%m-%d') AS day, active,
           coalesce(retained, 0) AS retained
    FROM act LEFT JOIN ret ON act.day = ret.day
    ORDER BY day
    """,
)
def q_retention(spark, sf_dir):
    return EV.day_over_day_retention(_t(spark, sf_dir, "events"))


@query(
    "events_approx_dau",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau_exact,
           TRUE AS within_5pct
    FROM events GROUP BY day ORDER BY day
    """,
)
def q_approx_dau(spark, sf_dir):
    """HyperLogLog++ daily distinct users — the 100 TB scale path for
    count-distinct (single shuffle of fixed-size sketches) — gated as
    a BOUNDED-ERROR contract (events.approx_dau_check): the estimate
    itself is engine-specific, but `|est − exact| ≤ 5%·exact` is
    oracle-expressible — the oracle emits exact counts + literal TRUE,
    so a sketch drifting past the bound flips the hash."""
    return EV.approx_dau_check(_t(spark, sf_dir, "events"))


@query(
    "events_hll_daily_merge",
    """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau_exact
      FROM events GROUP BY day
    )
    SELECT day, dau_exact,
           TRUE AS daily_within_5pct,
           TRUE AS total_within_5pct
    FROM daily ORDER BY day
    """,
)
def q_hll_daily_merge(spark, sf_dir):
    """DataSketches HLL as a MERGEABLE sketch column (events.
    hll_daily_merge): per-day sketches, unioned across days without
    rescanning — the reusable-state shape approx_count_distinct can't
    express.  Gated as a bounded-error contract (events.
    hll_merge_check): per-day estimates AND the cross-day union
    estimate must each land within 5% of their exact twins, so the
    'sketch once, union cheaply' path is driver-hash-checked, not just
    rows-counted."""
    return EV.hll_merge_check(_t(spark, sf_dir, "events"))


_CMS_ORACLE = f"""
    WITH rws AS (SELECT r FROM range(4) t(r)),
    ks AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
    ev AS (
      SELECT r.r,
             {_h2l("substr(md5(concat('cms', '|', CAST(r.r AS VARCHAR), '|', ks.k)), 1, 15)")}
               % 1024 AS bucket
      FROM ks CROSS JOIN rws r
    ),
    counters AS (
      SELECT r, bucket, count(*) AS cnt FROM ev GROUP BY 1, 2
    ),
    dk AS (
      SELECT DISTINCT user_id, CAST(user_id AS VARCHAR) AS k FROM events
    ),
    eb AS (
      SELECT dk.user_id, r.r,
             {_h2l("substr(md5(concat('cms', '|', CAST(r.r AS VARCHAR), '|', dk.k)), 1, 15)")}
               % 1024 AS bucket
      FROM dk CROSS JOIN rws r
    ),
    est AS (
      SELECT e.user_id, min(c.cnt) AS est
      FROM eb e JOIN counters c ON c.r = e.r AND c.bucket = e.bucket
      GROUP BY 1
    ),
    top AS (
      SELECT user_id, est,
             row_number() OVER (ORDER BY est DESC, user_id ASC) AS rnk
      FROM est
    )
    SELECT user_id, est, rnk FROM top WHERE rnk <= 20 ORDER BY rnk
    """


@query("events_cms_heavy_hitters", _CMS_ORACLE)
def q_events_cms_heavy_hitters(spark, sf_dir):
    """Count-Min Sketch heavy hitters (events.cms_heavy_hitters):
    top-20 users by CMS-estimated event count (d=4 × w=1024 counter
    matrix, min-over-rows estimate).  The second mergeable sketch
    family — and unlike HLL, FULLY oracled: the counters are a
    deterministic md5 construction both engines rebuild
    bit-for-bit."""
    return EV.cms_heavy_hitters(_t(spark, sf_dir, "events"))


_KLL_ORACLE = """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events WHERE value IS NOT NULL GROUP BY day
    )
    SELECT day, n_events,
           TRUE AS p50_within_rank_tol,
           TRUE AS p90_within_rank_tol,
           TRUE AS p99_within_rank_tol,
           TRUE AS total_p50_within_rank_tol,
           TRUE AS total_p90_within_rank_tol,
           TRUE AS total_p99_within_rank_tol
    FROM daily ORDER BY day
    """


@query("events_kll_daily_quantiles", _KLL_ORACLE)
def q_events_kll_daily_quantiles(spark, sf_dir):
    """Mergeable quantile digest (quantile_sketch.kll_daily_quantile_
    check): per-day t-digest/KLL-shaped centroid sketches over
    events.value, plus the CROSS-DAY UNION computed by merging the
    stored digest rows — never rescanning events — completing the
    mergeable-sketch family (HLL cardinality, CMS counts, KMV, now
    percentiles).  Deterministic by construction (greedy sorted-merge
    compaction, no KLL coin flips), so it is driver-hashable: each of
    p50/p90/p99 per day AND for the union must land within ±5% RANK
    error, checked by exact counting (the source_length_percentiles_
    approx rank-interval method); the oracle emits exact per-day
    counts + literal TRUE booleans, so estimator drift past the bound
    flips the hash on BOTH the build path and the merge path."""
    from lab3_spark.operators.quantile_sketch import (
        kll_daily_quantile_check,
    )

    return kll_daily_quantile_check(_t(spark, sf_dir, "events"))


_SRC_DIGEST_ORACLE = """
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents WHERE n_chars IS NOT NULL GROUP BY source
    )
    SELECT source, n_docs,
           TRUE AS p50_within_rank_tol,
           TRUE AS p90_within_rank_tol,
           TRUE AS p99_within_rank_tol,
           TRUE AS total_p50_within_rank_tol,
           TRUE AS total_p90_within_rank_tol,
           TRUE AS total_p99_within_rank_tol
    FROM per ORDER BY source
    """


@query("source_length_digest", _SRC_DIGEST_ORACLE)
def q_source_length_digest(spark, sf_dir):
    """Group-keyed mergeable quantile digest (quantile_sketch.
    keyed_quantile_check): the day-keyed digest generalized to an
    ARBITRARY dimension — per-SOURCE digests over document lengths,
    plus the cross-source union merged from the stored digest rows
    (never rescanning documents).  The shape a curation pipeline
    stores per (source, snapshot) to answer any later "length p99 of
    these five domains combined" without a scan.  Same two-level
    build, deterministic compaction, and ±5% exact-count rank gate as
    events_kll_daily_quantiles — per source AND for the union."""
    from lab3_spark.operators.quantile_sketch import keyed_quantile_check

    vals = (
        _t(spark, sf_dir, "documents")
        .select(
            F.col("source").alias("grp"),
            F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("shard"),
            F.col("n_chars").cast("double").alias("v"),
        )
        .where(F.col("v").isNotNull())
    )
    return keyed_quantile_check(vals).select(
        F.col("grp").alias("source"),
        F.col("n_rows").alias("n_docs"),
        "p50_within_rank_tol",
        "p90_within_rank_tol",
        "p99_within_rank_tol",
        "total_p50_within_rank_tol",
        "total_p90_within_rank_tol",
        "total_p99_within_rank_tol",
    )


@query("streaming_incremental_quantiles", _KLL_ORACLE)
def q_streaming_incremental_quantiles(spark, sf_dir):
    """A REAL incremental digest-maintenance run (streaming/
    quantiles.py): events drain as three mtime-ordered micro-batches
    through a foreachBatch that writes each batch's per-day quantile
    digests to its own idempotent store partition; the serving view
    merges each day's per-batch digests (concatenate + recompress —
    the digest's merge operation) and the rank gate then checks the
    MERGED estimates against exact counts.  Digest merging is
    associative in its ERROR CONTRACT, not bit-level (unlike CMS), so
    this gate shares the batch gate's tolerance oracle rather than
    claiming bit-parity: the cross-batch merge adds one compress
    level (≤ 4·eps ≈ 4% worst-case rank error, inside the 5% band) —
    the honest statement of what a mergeable sketch guarantees."""
    from lab3_spark.operators.quantile_sketch import (
        kll_daily_quantile_check,
    )
    from lab3_spark.streaming.quantiles import (
        merged_daily_digests,
        start_streaming_quantiles,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "value")
    store = _drain_store(
        spark, "stream_kll_", ev,
        "event_id bigint, ts timestamp, value double",
        _mod3("event_id"), start_streaming_quantiles,
    )
    return kll_daily_quantile_check(
        _t(spark, sf_dir, "events"),
        daily=merged_daily_digests(spark, store),
    )


@query("streaming_cms_heavy_hitters", _CMS_ORACLE)
def q_streaming_cms_heavy_hitters(spark, sf_dir):
    """A REAL incremental sketch-maintenance run (streaming/cms.py):
    events drain as three mtime-ordered micro-batches through a
    foreachBatch that writes each batch's d×w counter matrix to its
    own idempotent store partition; heavy hitters are then computed
    against the MERGED store.  Because Count-Min merges by
    elementwise addition, the merged matrix is bit-identical to the
    one-shot batch matrix — so this gate shares the batch gate's
    oracle verbatim, the strongest possible statement of
    streamed == batch."""
    from lab3_spark.streaming.cms import merged_counters, start_streaming_cms

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    store = _drain_store(
        spark, "stream_cms_", ev,
        "event_id bigint, user_id bigint",
        _mod3("event_id"), start_streaming_cms,
    )
    return EV.cms_heavy_hitters(
        _t(spark, sf_dir, "events"), counters=merged_counters(spark, store)
    )


@query(
    "supplier_coverage",
    """
    SELECT n.n_name AS n_name,
           coalesce(s.n_suppliers, 0) AS n_suppliers,
           coalesce(c.n_customers, 0) AS n_customers
    FROM nation n
    LEFT JOIN (SELECT s_nationkey, count(*) AS n_suppliers
               FROM supplier GROUP BY s_nationkey) s
      ON n.n_nationkey = s.s_nationkey
    LEFT JOIN (SELECT c_nationkey, count(*) AS n_customers
               FROM customer GROUP BY c_nationkey) c
      ON n.n_nationkey = c.c_nationkey
    ORDER BY n_name
    """,
)
def q_outer(spark, sf_dir):
    """Outer-join null handling: every nation with supplier/customer
    counts, zero-filled where the join misses."""
    nation = _t(spark, sf_dir, "nation")
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_suppliers"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )
    return (
        nation.join(supp, nation.n_nationkey == supp.s_nationkey, "left")
        .join(cust, nation.n_nationkey == cust.c_nationkey, "left")
        .select(
            "n_name",
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        )
        .orderBy("n_name")
    )


@query(
    "inverted_index_parity",
    f"""
    WITH {OR.duck_tokens_cte()}
    SELECT word,
           array_to_string(list_sort(list(DISTINCT id)), ',') AS ids,
           min(id) AS first_id
    FROM toks
    WHERE word NOT IN ({OR.STOP_WORDS_IN_LIST})
    GROUP BY word
    ORDER BY first_id, word
    """,
)
def q_inverted_parity(spark, sf_dir):
    """invert exact-parity mode: rows ordered by FIRST OCCURRENCE
    (min id) — the documented faithful reading of the reference's
    key-pointer sort (invert.cpp:107-109, SURVEY §2.4 O5)."""
    from lab3_spark.operators.inverted_index import inverted_index

    idx = inverted_index(
        _t(spark, sf_dir, "documents"), id_col="doc_id", mode="parity"
    )
    return idx.select(
        "word",
        F.concat_ws(",", F.transform("ids", lambda x: x.cast("string"))).alias("ids"),
        "first_id",
    )


@query(
    "top_words_per_source",
    f"""
    WITH toks AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX})) AS word
      FROM documents
    ),
    counts AS (
      SELECT source, word, count(*) AS cnt
      FROM toks
      WHERE word NOT IN ({OR.STOP_WORDS_IN_LIST})
      GROUP BY source, word
    ),
    ranked AS (
      SELECT source, word, cnt,
             row_number() OVER (PARTITION BY source
                                ORDER BY cnt DESC, word DESC) AS rnk
      FROM counts
    )
    SELECT source, word, cnt, rnk FROM ranked
    WHERE rnk <= 3 ORDER BY source, rnk
    """,
)
def q_top_words_per_source(spark, sf_dir):
    """Grouped top-K over text: the top50 pipeline generalized to
    per-group ranking (one shuffle for counts, one window exchange on
    the low-cardinality group key)."""
    from pyspark.sql.window import Window

    from lab3_spark.functions.text import is_stop_word, tokenize

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(tokenize("text")).alias("word"))
        .where(~is_stop_word("word", "idiomatic"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.desc("word"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .orderBy("source", "rnk")
    )


@query(
    "streaming_sessionize_stateful",
    """
    WITH e AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1, 0)
                    OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_break
      FROM events WHERE user_id < 200
    ), s AS (
      SELECT user_id, ts,
             sum(is_break) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM e
    ), sess AS (
      SELECT user_id, session_id,
             min(ts) AS a, max(ts) AS b, count(*) AS n
      FROM s GROUP BY user_id, session_id
    )
    SELECT user_id,
           strftime(a, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(b, '%Y-%m-%d %H:%M:%S') AS session_end,
           n AS n_events
    FROM sess
    WHERE session_id < (SELECT max(session_id) FROM sess s2
                        WHERE s2.user_id = sess.user_id)
    ORDER BY user_id, session_start
    """,
)
def q_streaming_stateful(spark, sf_dir):
    """CUSTOM STATEFUL STREAMING operator (applyInPandasWithState
    sessionizer, streaming/stateful.py) run as a real StreamingQuery.
    With availableNow (single batch, no processing-time timeout fires)
    the emitted rows are exactly the GAP-CLOSED sessions = every
    session except each user's last — which the oracle expresses with
    the lag+running-sum formulation."""
    from lab3_spark.streaming.stateful import streaming_sessionize

    src = _event_stream(spark, sf_dir)
    # gate on a user subset: per-group Python/state overhead makes
    # the full table needlessly slow for a correctness check
    out = streaming_sessionize(
        src.select("user_id", "ts").where(F.col("user_id") < 200),
        flush_timeout_ms=None,  # NoTimeout: availableNow terminates itself
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_sess_check")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, "stateful sessionize")
    return (
        spark.table("stream_sess_check")
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "fuzzy_part_names",
    """
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_brand AS p_brand,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM part a
    JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY part_a, part_b
    """,
)
def q_fuzzy(spark, sf_dir):
    """Edit-distance fuzzy matching, brand-blocked — computed at name
    TYPE level (round-9 rewrite: this was the catalog's slowest gate,
    28.6 s, because the row-level form ran the O(n·m) DP on every one
    of the ~8M brand-blocked row pairs; the rotation finally priced
    it).

    The engine's standard type/token move (the BPE word-type table,
    the bigram-LM scoring table): names repeat heavily (64 distinct
    across 20k parts here — and a 100 TB parts catalog still has a
    bounded name vocabulary), so the DP runs ONCE per distinct name
    pair on a vocabulary-scale self-compare — THRESHOLD levenshtein
    (banded O(d·n), exact value when ≤ 2, −1 past) over |V|² broadcast
    rows — and rows join the surviving (name_a, name_b, dist) table by
    equi-key (brand, name).  Row-identical to the oracle's plain
    all-pairs form; per-pair work is an equi-join probe, not a DP.
    For a genuinely high-cardinality key the published scale path is
    PassJoin segment filtering (Li et al. 2011) — not needed while
    the type table broadcasts."""
    part = _t(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    banded = F.levenshtein(F.col("na.p_name"), F.col("nb.p_name"), 2)
    m = (
        names.alias("na")
        .crossJoin(F.broadcast(names.alias("nb")))
        .where(banded >= 0)
        .select(
            F.col("na.p_name").alias("name_a"),
            F.col("nb.p_name").alias("name_b"),
            banded.alias("edit_dist"),
        )
    )
    return (
        part.alias("a")
        .join(F.broadcast(m), F.col("a.p_name") == F.col("name_a"))
        .join(
            part.alias("b"),
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("b.p_name") == F.col("name_b"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
            F.col("a.p_brand").alias("p_brand"),
            "edit_dist",
        )
        .orderBy("part_a", "part_b")
    )


@query(
    "posting_pairs_scale_form",
    f"""
    WITH {OR.duck_tokens_cte()}
    SELECT word, id, count(*) AS n_occurrences
    FROM toks
    WHERE word NOT IN ({OR.STOP_WORDS_IN_LIST})
    GROUP BY word, id
    ORDER BY word, id
    """,
)
def q_posting_pairs(spark, sf_dir):
    """The inverted index's 100 TB form (docs/SCALE.md): postings kept
    as (word, id, n_occurrences) ROWS sorted by (word, id) — no
    collect_set buffering, write-partitionable by word."""
    from lab3_spark.operators.inverted_index import posting_pairs
    from lab3_spark.functions.text import is_stop_word

    pairs = posting_pairs(_t(spark, sf_dir, "documents"), id_col="doc_id")
    return (
        pairs.where(~is_stop_word("word", "idiomatic"))
        .groupBy("word", "id")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy("word", "id")
    )


# ---------------------------------------------------------------------------
# §10 Additional relational breadth: filter-sum, returned-item report,
# conditional-agg ratio, scalar subquery, ntile, anti-join gate
# ---------------------------------------------------------------------------


@query(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
)
def q_q6(spark, sf_dir):
    """TPC-H Q6-style: pure filter+sum — every predicate pushable to
    the parquet scan; no shuffle at all (single global agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_lines"),
    )


@query(
    "q10_returned_customers",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q_q10(spark, sf_dir):
    """TPC-H Q10-style returned-item report: who returned the most
    revenue.  customer+nation broadcast; TakeOrderedAndProject top-20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        o.where(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(li.where(F.col("l_returnflag") == "R"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "promo_revenue_share",
    """
    SELECT floor((sum(CASE WHEN p.p_name LIKE 'red%'
                           THEN l.l_extendedprice * (1 - l.l_discount)
                           ELSE 0 END)
                  / sum(l.l_extendedprice * (1 - l.l_discount))) * 10000) / 10000
             AS promo_share,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-09-01 00:00:00'
    """,
)
def q_promo(spark, sf_dir):
    """TPC-H Q14-style conditional-aggregate ratio (promo revenue
    share); part broadcast, single agg."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    from lab3_spark.functions.rounding import trunc

    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-09-01").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            trunc(
                F.sum(F.when(F.col("p_name").like("red%"), rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "above_avg_spenders",
    """
    WITH spend AS (
      SELECT o_custkey, sum(o_totalprice) AS spend
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey AS c_custkey, round(spend, 2) AS spend
    FROM spend
    WHERE spend > 1.5 * (SELECT avg(spend) FROM spend)
    ORDER BY spend DESC, c_custkey ASC
    """,
)
def q_above_avg(spark, sf_dir):
    """Scalar-subquery pattern: customers spending > 1.5× the average
    customer spend.  The scalar aggregate is broadcast back — no
    per-row recomputation."""
    spend = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("spend"))
    )
    avg_spend = spend.agg(F.avg("spend").alias("avg_spend"))
    return (
        spend.crossJoin(F.broadcast(avg_spend))
        .where(F.col("spend") > 1.5 * F.col("avg_spend"))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.round("spend", 2).alias("spend"),
        )
        .orderBy(F.desc("spend"), F.asc("c_custkey"))
    )


@query(
    "order_total_deciles",
    """
    WITH t AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
               AS decile
      FROM orders
    )
    SELECT decile, count(*) AS n_orders,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM t GROUP BY decile ORDER BY decile
    """,
)
def q_deciles(spark, sf_dir):
    """ntile distribution with a deterministic tie-break — computed by
    the DISTRIBUTED global-rank operator (operators/rank.py): an
    unpartitioned `ntile() OVER (ORDER BY ...)` window would move the
    whole table to one partition (Spark's WindowExec warning), the
    canonical 100 TB stall.  Range-repartition + per-partition
    row_number + broadcast offsets yields the identical bucket ids
    fully in parallel."""
    from lab3_spark.operators.rank import with_global_order_stats

    o = _t(spark, sf_dir, "orders")
    ranked = with_global_order_stats(
        o.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
        ntile=10,
    )
    return (
        ranked.select("o_totalprice", F.col("ntile").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("decile")
    )


@query(
    "word_count_antijoin",
    f"""
    WITH {OR.duck_tokens_cte()}
    SELECT word, count(*) AS cnt
    FROM toks
    WHERE word NOT IN ({OR.STOP_WORDS_IN_LIST})
    GROUP BY word
    ORDER BY cnt ASC, word DESC
    """,
)
def q_wc_antijoin(spark, sf_dir):
    """The broadcast LEFT ANTI join form of the stop-word filter (the
    at-scale variant; must equal the IN-list word_count exactly)."""
    from lab3_spark.operators.wordcount import word_count_antijoin

    return word_count_antijoin(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# §11 Training-data pipeline capstones: deterministic splits,
# contamination detection, composed cleaning
# ---------------------------------------------------------------------------


@query(
    "train_val_test_split",
    f"""
    WITH assigned AS (
      SELECT lang,
             CASE WHEN h % 100 < 80 THEN 'train'
                  WHEN h % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT lang,
                   {_h2l("substr(md5(concat('split', '|', CAST(doc_id AS VARCHAR))), 1, 15)")} AS h
            FROM documents)
    )
    SELECT lang, split, count(*) AS n_docs
    FROM assigned GROUP BY lang, split ORDER BY lang, split
    """,
)
def q_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (80/10/10) — the
    reproducible-sampling primitive every training pipeline needs:
    membership depends only on doc_id, never on partitioning, ordering,
    or reruns.  (Random sampleBy can't give that guarantee.)"""
    from lab3_spark.functions.text import md5_long

    docs = _t(spark, sf_dir, "documents")
    h = md5_long(F.col("doc_id").cast("string"), salt="split")
    split = (
        F.when(h % 100 < 80, "train").when(h % 100 < 90, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "split")
    )


@query(
    "cross_source_contamination",
    f"""
    WITH toks AS (
      SELECT source, regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             unnest(list_transform(range(1, len(t) - 3),
                    i -> array_to_string(t[i:i+4], ' '))) AS shingle
      FROM toks WHERE len(t) >= 5
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS shared_shingles
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY source_a, source_b
    HAVING count(*) >= 10
    ORDER BY shared_shingles DESC, source_a, source_b
    """,
)
def q_contamination(spark, sf_dir):
    """Cross-source contamination detection: pairs of sources sharing
    many distinct 5-gram shingles (the eval-set-leakage check run
    before training).  Shuffle on the shingle — no source×source text
    comparison.  The distinct (source, shingle) frame is persisted so
    the self-join's two sides share ONE tokenize+shingle scan instead
    of recomputing it per side."""
    from lab3_spark.functions.partitioning import scoped, spread
    from lab3_spark.functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = tokenize("text")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 4),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 5)),
    )
    sh = scoped(
        spread(docs)
        .where(F.size(toks) >= 5)
        .select("source", F.explode(grams).alias("shingle"))
        .distinct(),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("shared_shingles"))
        .where(F.col("shared_shingles") >= 10)
        .orderBy(F.desc("shared_shingles"), "source_a", "source_b")
    )


@query(
    "pipeline_clean_corpus",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS t
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang, len(t) AS n_tokens,
             md5(array_to_string(t, ' ')) AS fp,
             CASE WHEN len(t) > 0
                  THEN len(list_distinct(t)) / len(t) ELSE 0.0 END AS distinct_ratio
      FROM toks
    ),
    flagged AS (
      SELECT doc_id, lang,
             CASE
               WHEN n_tokens < 20 THEN 'too_short'
               WHEN distinct_ratio < 0.25 THEN 'too_repetitive'
               WHEN doc_id != min(doc_id) OVER (PARTITION BY fp) THEN 'duplicate'
               ELSE 'kept' END AS verdict
      FROM scored
    )
    SELECT lang, verdict, count(*) AS n_docs
    FROM flagged GROUP BY lang, verdict ORDER BY lang, verdict
    """,
)
def q_clean_pipeline(spark, sf_dir):
    """Composed cleaning pipeline — the operators chained the way a
    corpus-prep job runs them: length filter → repetition filter →
    exact dedup (min-id representative), reported as per-language
    verdict counts.  One narrow scoring pass + one combinable min-per-
    fingerprint agg joined back (skew-immune)."""
    from lab3_spark.functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    toks = tokenize("text")
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.md5(F.concat_ws(" ", toks)).alias("fp"),
        F.when(
            F.size(toks) > 0, F.size(F.array_distinct(toks)) / F.size(toks)
        ).otherwise(0.0).alias("distinct_ratio"),
    )
    # skew-immune duplicate flag (optimization round 12, guide §2.5):
    # min-id per fingerprint as a combinable agg joined back — the
    # former fp window put a hot fingerprint on one task; the equi-join
    # is AQE-skew-splittable and the agg combines map-side
    mins = scored.groupBy("fp").agg(F.min("doc_id").alias("_rep"))
    verdict = (
        F.when(F.col("n_tokens") < 20, "too_short")
        .when(F.col("distinct_ratio") < 0.25, "too_repetitive")
        .when(F.col("doc_id") != F.col("_rep"), "duplicate")
        .otherwise("kept")
    )
    return (
        scored.join(mins, "fp")
        .select("lang", verdict.alias("verdict"))
        .groupBy("lang", "verdict")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "verdict")
    )


@query(
    "q7_nation_volume",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           strftime(o.o_orderdate, '%Y') AS o_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS volume
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE ((sn.n_name = 'NATION_9' AND cn.n_name = 'NATION_10')
        OR (sn.n_name = 'NATION_10' AND cn.n_name = 'NATION_9'))
    GROUP BY supp_nation, cust_nation, o_year
    ORDER BY supp_nation, cust_nation, o_year
    """,
)
def q_q7(spark, sf_dir):
    """TPC-H Q7-style bilateral trade volume: two independent nation
    dimensions (supplier-side and customer-side) joined to the same
    fact row — the self-joined-dimension pattern; both nation copies
    broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .where(
            ((F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_10"))
            | ((F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_9"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.date_format("o_orderdate", "yyyy").alias("o_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("volume")
        )
        .orderBy("supp_nation", "cust_nation", "o_year")
    )


@query(
    "customers_without_orders",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_no_orders(spark, sf_dir):
    """Time-windowed NOT EXISTS as a LEFT ANTI join: customers with
    no orders since 2000, counted per segment (lapsed-customer
    report)."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("c_mktsegment")
    )


@query(
    "events_value_percentiles_approx",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           TRUE AS p50_within_rank_tol,
           TRUE AS p90_within_rank_tol,
           TRUE AS p99_within_rank_tol
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_percentiles_approx(spark, sf_dir):
    """approx_percentile (GK sketch) — the single-pass mergeable-sketch
    twin of events_value_percentiles — gated as the bounded-RANK-error
    contract GK actually guarantees: the approximate p-quantile (an
    actual data point) must lie between the exact (p−0.01) and
    (p+0.01) quantiles (GK's rank error at the default accuracy 10⁴
    is ~0.01% — two orders inside the bound; a VALUE-relative bound is
    the wrong contract for heavy tails, where adjacent order
    statistics differ by more than 5%).  The oracle emits per-type
    counts + literal TRUE booleans, so sketch drift past the bound
    flips the hash; exact estimates stay available via
    events_value_percentiles (fully oracled).

    Scale note: the gate's exact percentile() side buffers each
    group's values (an ImperativeAggregate) — right for a correctness
    gate at test scale, NOT the 100 TB path; production reads only the
    approx side, whose GK state is bounded per group."""
    ev = _t(spark, sf_dir, "events")

    def within(p: float, name: str):
        approx = F.expr(f"approx_percentile(value, {p})")
        lo = F.expr(f"percentile(value, {max(0.0, p - 0.01)})")
        hi = F.expr(f"percentile(value, {min(1.0, p + 0.01)})")
        return (
            (approx >= lo - F.lit(1e-9)) & (approx <= hi + F.lit(1e-9))
        ).alias(name)

    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            within(0.5, "p50_within_rank_tol"),
            within(0.9, "p90_within_rank_tol"),
            within(0.99, "p99_within_rank_tol"),
        )
        .orderBy("event_type")
    )


@query(
    "events_props_from_json",
    r"""
    SELECT event_type,
           count(*) AS n_with_k,
           CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events
    WHERE regexp_extract(props, '"k":\s*(\d+)', 1) != ''
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_from_json(spark, sf_dir):
    """Schema-declared JSON parsing with from_json (JVM Jackson, typed
    struct output) — the engine path for JSON payload columns; the
    oracle uses regex extraction for engine-neutrality."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "js", F.from_json("props", "k BIGINT")
    ).where(F.col("js.k").isNotNull())
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_with_k"),
            F.sum(F.col("js.k")).alias("sum_k"),
        )
        .orderBy("event_type")
    )


@query(
    "events_props_variant",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           count(*) AS n_events,
           min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY k_mod ORDER BY k_mod
    """,
)
def q_props_variant(spark, sf_dir):
    """Semi-structured VARIANT path (Spark 4): parse_json once into an
    open-schema VARIANT value, typed extraction via variant_get — the
    modern alternative to from_json when the payload schema is not
    fixed up front (shredded columnar storage at scale).  Twin of
    events_props_from_json: same payload, schema-on-read instead of
    schema-declared."""
    ev = _t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select(k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("k_mod")
    )


@query(
    "hourly_spine_recursive",
    """
    WITH RECURSIVE spine(hour) AS (
      SELECT 0
      UNION ALL
      SELECT hour + 1 FROM spine WHERE hour < 23
    )
    SELECT s.hour, count(e.event_id) AS n_events
    FROM spine s LEFT JOIN events e
      ON CAST(extract(hour FROM e.ts) AS INT) = s.hour
    GROUP BY s.hour ORDER BY s.hour
    """,
)
def q_hourly_spine_recursive(spark, sf_dir):
    """Recursive CTE (Spark 4, SPARK-24497): a 24-row hour spine built
    by bounded UNION ALL recursion, LEFT JOINed to hourly event counts
    so empty hours appear as zero — the recursion twin of the
    sequence()-based gap-fill (events_gapfill_locf).  Spark's recursion
    is UNION ALL-only (no fixpoint dedup yet), so the engine's policy
    is: bounded generators in SQL recursion; unbounded/cyclic closures
    in the iterative DataFrame operator (operators/components.py),
    which handles cycles via min-label convergence."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_spine_events")
    return spark.sql(
        """
        WITH RECURSIVE spine(hour) AS (
          SELECT 0
          UNION ALL
          SELECT hour + 1 FROM spine WHERE hour < 23
        )
        SELECT s.hour, count(e.event_id) AS n_events
        FROM spine s LEFT JOIN _spine_events e ON hour(e.ts) = s.hour
        GROUP BY s.hour ORDER BY s.hour
        """
    )


@query(
    "user_running_totals",
    """
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           round(value, 2) AS value,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_total,
           round(max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_max
    FROM events WHERE user_id < 10
    ORDER BY user_id, ts, event_id
    """,
)
def q_running(spark, sf_dir):
    """Cumulative window frames (running sum / running max) per user —
    ROWS frames with a deterministic (ts, event_id) order."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 10)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.round("value", 2).alias("value"),
            F.round(F.sum("value").over(w), 2).alias("running_total"),
            F.round(F.max("value").over(w), 2).alias("running_max"),
            F.col("event_id").alias("_eid"),
        )
        .orderBy("user_id", "ts", "_eid")
        .drop("_eid")
    )


_Z_INTERLEAVE_SQL = " + ".join(
    f"(((qa >> {i}) & 1) << {2 * i}) + (((qb >> {i}) & 1) << {2 * i + 1})"
    for i in range(8)
)


@query(
    "events_zorder_cells",
    f"""
    WITH stats AS (
      SELECT CAST(min(user_id) AS DOUBLE) AS lo_a,
             CAST(max(user_id) AS DOUBLE) AS hi_a,
             min(value) AS lo_b, max(value) AS hi_b
      FROM events
    ),
    q AS (
      SELECT CASE WHEN hi_a > lo_a THEN least(CAST(floor(
               (CAST(user_id AS DOUBLE) - lo_a) / (hi_a - lo_a) * 255)
               AS BIGINT), 255) ELSE 0 END AS qa,
             CASE WHEN hi_b > lo_b THEN least(CAST(floor(
               (value - lo_b) / (hi_b - lo_b) * 255)
               AS BIGINT), 255) ELSE 0 END AS qb
      FROM events, stats
    ),
    z AS (SELECT {_Z_INTERLEAVE_SQL} AS z FROM q)
    SELECT z >> 8 AS cell, count(*) AS n_events,
           CAST(sum(z) AS BIGINT) AS z_sum
    FROM z GROUP BY cell ORDER BY cell
    """,
)
def q_events_zorder_cells(spark, sf_dir):
    """Morton (z-order) codes over (user_id, value) — the write-time
    clustering key that buys multi-dimensional parquet min-max skipping
    (operators/zorder.py; layout effect measured in
    tests/test_zorder.py).  The gate aggregates per coarse curve cell
    with sum(z): any single bit divergence in the 16-bit interleave
    or the fixed-point bucketize flips the hash.  All-integer past the
    one shared floor(), identical IEEE expression order before it."""
    from lab3_spark.operators.zorder import with_z_value

    ev = _t(spark, sf_dir, "events").select("user_id", "value")
    z = with_z_value(ev, "user_id", "value", bits=8)
    return (
        z.groupBy(F.shiftright(F.col("z"), 8).alias("cell"))
        .agg(F.count("*").alias("n_events"), F.sum("z").alias("z_sum"))
        .orderBy("cell")
    )


_Z5_INTERLEAVE_SQL = " + ".join(
    f"(((cx >> {i}) & 1) << {2 * i}) + (((cy >> {i}) & 1) << {2 * i + 1})"
    for i in range(5)
)


def _hilbert_ctes_sql(bits: int = 5) -> str:
    """hs0..hs{bits} CTE chain computing the Hilbert index ``hd`` of
    (cx, cy) — rendered from the SAME per-level generator the Spark
    operator chains (zorder.hilbert_steps), with DuckDB's ``//`` as
    the integer division, so the arithmetic is identical by
    construction."""
    from lab3_spark.operators.zorder import hilbert_steps

    ctes = [
        "hs0 AS (SELECT k, b, cx, cy, z, cx AS hx, cy AS hy,"
        " CAST(0 AS BIGINT) AS hd FROM zc)"
    ]
    for i, (_s, exprs) in enumerate(
        hilbert_steps(bits, "hx", "hy", "hd", "//"), start=1
    ):
        ctes.append(
            f"""hs{i} AS (
      SELECT k, b, cx, cy, z, {exprs['hx']} AS hx,
             {exprs['hy']} AS hy, {exprs['hd']} AS hd
      FROM hs{i - 1})"""
        )
    return ",\n    ".join(ctes)


@query(
    "orders_zorder_pruning",
    f"""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(o_custkey AS DOUBLE) AS a,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS DOUBLE)
               AS b
      FROM orders
    ),
    stats AS (
      SELECT min(a) AS lo_a, max(a) AS hi_a,
             min(b) AS lo_b, max(b) AS hi_b
      FROM base
    ),
    coded AS (
      SELECT k, b,
             CASE WHEN hi_a > lo_a THEN least(CAST(floor(
               (a - lo_a) / (hi_a - lo_a) * 31) AS BIGINT), 31)
               ELSE 0 END AS cx,
             CASE WHEN hi_b > lo_b THEN least(CAST(floor(
               (b - lo_b) / (hi_b - lo_b) * 31) AS BIGINT), 31)
               ELSE 0 END AS cy
      FROM base, stats
    ),
    zc AS (SELECT k, b, cx, cy, {_Z5_INTERLEAVE_SQL} AS z FROM coded),
    {_hilbert_ctes_sql(5)},
    n AS (SELECT count(*) AS n_rows FROM zc),
    placed AS (
      SELECT 'linear' AS layout, cx, cy,
             ((row_number() OVER (ORDER BY b, k) - 1) * 64) // n_rows AS f
      FROM zc, n
      UNION ALL
      SELECT 'zorder' AS layout, cx, cy,
             ((row_number() OVER (ORDER BY z, k) - 1) * 64) // n_rows AS f
      FROM zc, n
      UNION ALL
      SELECT 'hilbert' AS layout, cx, cy,
             ((row_number() OVER (ORDER BY hd, k) - 1) * 64) // n_rows
               AS f
      FROM hs5, n
    ),
    zones AS (
      SELECT layout, f,
             min(cx) AS mn_cx, max(cx) AS mx_cx,
             min(cy) AS mn_cy, max(cy) AS mx_cy
      FROM placed GROUP BY 1, 2
    ),
    queries AS (
      SELECT CAST(i // 4 AS BIGINT) AS q_a, CAST(i % 4 AS BIGINT) AS q_b,
             (i // 4) * 8 AS lo_x, (i // 4) * 8 + 7 AS hi_x,
             (i % 4) * 8 AS lo_y, (i % 4) * 8 + 7 AS hi_y
      FROM range(16) t(i)
    )
    SELECT z.layout, q.q_a, q.q_b,
           CAST(sum(CASE WHEN mn_cx <= hi_x AND mx_cx >= lo_x
                          AND mn_cy <= hi_y AND mx_cy >= lo_y
                     THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
           count(*) AS files_total
    FROM zones z CROSS JOIN queries q
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q_orders_zorder_pruning(spark, sf_dir):
    """Zone-map pruning audit (zorder.zone_map_pruning_audit): the
    data-skipping table that JUSTIFIES the clustering-key choice, not
    just the codes.  Orders are placed into 64 equal rank-files under
    THREE write-time layouts — date-sorted (linear), (custkey, date)
    Morton z-order, and the Hilbert curve (zorder.hilbert_index, the
    unit-step-locality alternative; its per-level reflect-and-swap
    walk renders from ONE generator into both the Spark chain and the
    oracle's CTE chain) — each file's min/max code rectangle is its
    parquet zone map, and a 4×4 grid of code-space range queries
    counts the files a reader must scan under each layout.  Files
    come from the distributed global rank (no single-partition window
    over the fact); zones and the zones × queries overlap join are
    metadata scale.  All-integer past the shared bucketize floor(),
    so the oracle reproduces every count exactly.  The reference
    engine rescans its whole buffer per query (phoenixLab/wordCount/
    wordCount.cpp:116-133, no layout surface); this is the
    cluster-scale answer it cannot express."""
    from lab3_spark.operators.zorder import zone_map_pruning_audit

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
        ).alias("odays"),
    )
    return (
        zone_map_pruning_audit(
            o, "o_custkey", "odays", "o_orderkey", n_files=64, bits=5
        )
    )


@query(
    "events_weekday_hour_profile",
    """
    SELECT strftime(ts, '%a') AS weekday,
           CAST(extract(hour FROM ts) AS INT) AS hour,
           count(*) AS n_events,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY weekday, hour
    ORDER BY weekday, hour
    """,
)
def q_weekday_profile(spark, sf_dir):
    """Calendar-dimension profile (weekday × hour heatmap input) —
    date_format/hour extraction parity with strftime/extract."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "E").alias("weekday"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("weekday", "hour")
    )


# ---------------------------------------------------------------------------
# §10 Materialized layouts and multi-level / correlated join breadth
# ---------------------------------------------------------------------------


@query(
    "bucketed_fact_join",
    """
    SELECT o_orderstatus,
           count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_bucketed_fact_join(spark, sf_dir):
    """The fact-fact join read from the BUCKETED materialized layout
    (sources/layout.py): both sides bucketed+sorted by orderkey, so the
    sort-merge join itself needs NO Exchange — the shuffle is paid by
    the write (pinned by tests/test_bucketing.py).  Every call writes
    both tables into its own fresh directory, so a result always comes
    from this ``sf_dir``'s rows.  The oracle is the same join over the
    flat parquet: layout must never change results, only plans."""
    from lab3_spark.sources.layout import materialize_bucketed_facts

    ob, lb = materialize_bucketed_facts(
        spark, sf_dir, _scratch_dir("bucketed_facts_")
    )
    return (
        ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q8_market_share",
    """
    WITH flat AS (
      SELECT CAST(extract(year FROM o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o    ON l.l_orderkey = o.o_orderkey
      JOIN customer c  ON o.o_custkey = c.c_custkey
      JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
      JOIN region r    ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s  ON l.l_suppkey = s.s_suppkey
      JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END), 2)
             AS nation_volume,
           round(sum(volume), 2) AS total_volume,
           round(sum(CASE WHEN supp_nation = 'NATION_2' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM flat GROUP BY o_year ORDER BY o_year
    """,
)
def q_q8_market_share(spark, sf_dir):
    """TPC-H Q8-style two-sided snowflake: customer-side nation→region
    restricts the market (ASIA), supplier-side nation tags each line's
    origin; market share = NATION_2's revenue fraction per year.  All
    four dimension joins broadcast (region/nation/supplier/customer are
    small); only the orders⋈lineitem spine shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")

    cn = n.alias("cn")
    sn = n.alias("sn")
    flat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(F.broadcast(r), F.col("cn.n_regionkey") == r.r_regionkey)
        .where(r.r_name == "ASIA")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            F.col("sn.n_name").alias("supp_nation"),
        )
    )
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_2", F.col("volume")).otherwise(0.0)
    )
    return (
        flat.groupBy("o_year")
        .agg(
            F.round(nation_vol, 2).alias("nation_volume"),
            F.round(F.sum("volume"), 2).alias("total_volume"),
            F.round(nation_vol / F.sum("volume"), 4).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


@query(
    "q17_small_qty_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l1
    WHERE l_quantity < (
      SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
      WHERE l2.l_partkey = l1.l_partkey
    )
    """,
)
def q_q17_small_qty(spark, sf_dir):
    """TPC-H Q17-style correlated scalar subquery (lines below half
    their part's average quantity).  The oracle states it as the
    textbook correlated subquery; the Spark plan DE-CORRELATES it
    explicitly — one aggregate over lineitem for per-part thresholds,
    then an equi-join back — which is exactly the rewrite Catalyst
    itself applies to such subqueries, stated declaratively."""
    li = _t(spark, sf_dir, "lineitem")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.avg("l_quantity") * 0.5).alias("qty_threshold")
    )
    return (
        li.join(thresholds, li.l_partkey == F.col("t_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "orders_above_cust_avg",
    """
    SELECT c.c_mktsegment AS c_mktsegment,
           count(*) AS n_big_orders,
           round(avg(o.o_totalprice), 2) AS avg_big_order
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 1.25 * (
      SELECT avg(o2.o_totalprice) FROM orders o2
      WHERE o2.o_custkey = o.o_custkey
    )
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def q_orders_above_cust_avg(spark, sf_dir):
    """Correlated-predicate breadth: orders more than 25% above their
    OWN customer's average order value, profiled per market segment.
    Spark form uses a window average over the customer partition — the
    shuffle key (custkey) matches the join key, so the window and the
    broadcast-dim join share one partitioning."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey")
    big = (
        o.withColumn("cust_avg", F.avg("o_totalprice").over(w))
        .where(F.col("o_totalprice") > 1.25 * F.col("cust_avg"))
    )
    return (
        big.join(F.broadcast(c), big.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_big_orders"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_big_order"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2)
               AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, rev.total_rev
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.total_rev = (SELECT max(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15-style (top supplier via a revenue view + scalar-max
    subquery).  The quarter revenue aggregate is computed ONCE and
    reused for both the max and the equality filter (Spark reuses the
    shuffle via ReusedExchange); the 1-row max and the supplier dim
    both broadcast.  Revenues are rounded to 2 decimals BEFORE the
    equality compare in both engines — float-sum order sensitivity
    cannot flip the winner (the round-before-compare contract)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), F.col("total_rev") == F.col("_mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


@query(
    "q18_large_volume_customer",
    """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS totalprice, big.sum_qty
    FROM big
    JOIN orders o   ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY totalprice DESC, o.o_orderkey ASC
    """,
)
def q_q18_large_volume(spark, sf_dir):
    """TPC-H Q18-style (large-volume orders).  The HAVING-filtered
    per-order quantity aggregate shrinks lineitem to a handful of hot
    orderkeys BEFORE any join — the surviving key list is small enough
    to broadcast into orders, so the fact-fact join never shuffles
    orders at all (aggregate-then-semi-join, the Q18 scale idiom).
    l_quantity values are integer-valued doubles: the sums are exact,
    no float-order hazard."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == F.col("l_orderkey"))
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
    )


@query(
    "q19_bracket_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_q19_bracket_revenue(spark, sf_dir):
    """TPC-H Q19-style disjunctive multi-band join: three OR'd
    brand/size/quantity brackets.  The join itself stays a plain
    broadcast equi-join on partkey with the disjunction as a residual
    filter; Catalyst additionally extracts the per-side implied
    conjuncts (quantity <= 30 on lineitem, size <= 25 on part) and
    pushes them into the scans, so neither side reads rows no bracket
    could accept."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(bracket)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q22_idle_rich_customers",
    """
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n.n_name, count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-08-01 00:00:00')
    GROUP BY n.n_name ORDER BY n.n_name
    """,
)
def q_q22_idle_rich(spark, sf_dir):
    """TPC-H Q22-style: above-average-balance customers with NO order
    in the final year (every synthetic customer has *some* order, so
    the anti-join is made temporal to stay a meaningful gate).  Three
    join strategies in one plan: a 1-row broadcast for the scalar
    average, a broadcast LEFT ANTI against the distinct recent-order
    custkeys (NOT EXISTS), and a broadcast dim join to nation.  At
    scale the anti join's build side is distinct(custkey of recent
    orders) — the date filter pushes to the orders scan and the
    distinct bounds it by customer cardinality, not order count."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_ab")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_ab"))
        .join(
            o.where(
                F.col("o_orderdate") >= F.lit("2000-08-01").cast("timestamp")
            )
            .select("o_custkey")
            .distinct(),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_DUCK_MINHASH_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp ORDER BY doc_id
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Near-duplicate CLUSTERS: transitive closure of the MinHash-LSH
    candidate graph via iterative min-label propagation
    (operators/components.py) — the one genuinely iterative operator in
    the engine.  cluster_id = min doc_id of the component (the
    canonical keep-representative); the oracle computes the same
    closure with a recursive CTE."""
    from pyspark.sql.window import Window

    from lab3_spark.operators.components import connected_components
    from lab3_spark.operators.dedup import minhash_candidates

    cands = minhash_candidates(_t(spark, sf_dir, "documents"))
    comps = connected_components(cands, "doc_a", "doc_b")
    return (
        comps.select(
            F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
        )
        .withColumn(
            "cluster_size", F.count("*").over(Window.partitionBy("cluster_id"))
        )
        .orderBy("doc_id")
    )


def _duck_lpa_iters(n_iter: int) -> str:
    """Unrolled synchronous label-propagation CTEs l0..l{n} over the
    symmetric `edges` CTE — max-count/min-label tie rule identical to
    components.label_propagation."""
    ctes = ["l0 AS (SELECT DISTINCT a AS node, a AS label FROM edges)"]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""
    n{i} AS (
      SELECT e.a AS node, l.label, count(*) AS cnt
      FROM edges e JOIN l{i - 1} l ON l.node = e.b
      GROUP BY 1, 2
    ),
    l{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, label ASC) AS rn
        FROM n{i}) t
      WHERE rn = 1
    )"""
        )
    return ",".join(ctes)


@query(
    "dedup_lpa_communities",
    f"""
    WITH RECURSIVE {_DUCK_MINHASH_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    {_duck_lpa_iters(3)}
    SELECT node AS doc_id, label AS community,
           count(*) OVER (PARTITION BY label) AS community_size
    FROM l3 ORDER BY doc_id
    """,
)
def q_dedup_lpa_communities(spark, sf_dir):
    """Synchronous label-propagation communities over the MinHash-LSH
    candidate graph (components.label_propagation) — the
    community-detection complement to `dedup_clusters`' connectivity
    closure; 3 synchronous iterations, max-count/min-label tie rule,
    unrolled-CTE oracle.  Pure lazy plan: no driver loop, no
    collect."""
    from pyspark.sql.window import Window

    from lab3_spark.operators.components import label_propagation
    from lab3_spark.operators.dedup import minhash_candidates

    cands = minhash_candidates(_t(spark, sf_dir, "documents"))
    lab = label_propagation(cands, "doc_a", "doc_b", n_iter=3)
    return (
        lab.select(
            F.col("node").alias("doc_id"), F.col("label").alias("community")
        )
        .withColumn(
            "community_size", F.count("*").over(Window.partitionBy("community"))
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_community_modularity",
    f"""
    WITH RECURSIVE {_DUCK_MINHASH_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    {_duck_lpa_iters(3)},
    deg AS (SELECT a AS node, count(*) AS deg FROM edges GROUP BY 1),
    dsum AS (
      SELECT l.label, count(*) AS n_nodes, sum(d.deg) AS d_sum
      FROM deg d JOIN l3 l ON d.node = l.node
      GROUP BY 1
    ),
    ein AS (
      SELECT la.label, count(*) AS e_in
      FROM cand c
      JOIN l3 la ON c.doc_a = la.node
      JOIN l3 lb ON c.doc_b = lb.node
      WHERE la.label = lb.label
      GROUP BY 1
    ),
    mm AS (SELECT count(*) AS m FROM cand)
    SELECT d.label AS community,
           CAST(d.n_nodes AS BIGINT) AS n_nodes,
           CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in,
           CAST(d.d_sum AS BIGINT) AS d_sum,
           CAST(4 * mm.m * coalesce(e.e_in, 0)
                - d.d_sum * d.d_sum AS BIGINT) AS q_num
    FROM dsum d LEFT JOIN ein e ON d.label = e.label, mm
    ORDER BY community
    """,
)
def q_dedup_community_modularity(spark, sf_dir):
    """Per-community modularity contributions (components.
    community_modularity) for the LPA partition of the MinHash
    candidate graph — the partition-quality gate for the graph
    family, all-integer (q_num = 4·m·e_c − d_c², Q = Σ q_num/4m²)."""
    from lab3_spark.operators.components import (
        community_modularity,
        label_propagation,
    )
    from lab3_spark.operators.dedup import minhash_candidates

    cands = minhash_candidates(_t(spark, sf_dir, "documents"))
    labels = label_propagation(cands, "doc_a", "doc_b", n_iter=3)
    return community_modularity(cands, labels, "doc_a", "doc_b")


def _duck_pagerank_iters(n_iter: int) -> str:
    """Unrolled fixed-point PageRank iteration CTEs r1..r{n} — integer
    arithmetic identical to operators/pagerank.py (`//` == Spark's
    `div` for non-negative bigints)."""
    from lab3_spark.operators.pagerank import (
        BASE_FP,
        DAMPING_DEN,
        DAMPING_NUM,
    )

    ctes = []
    for k in range(1, n_iter + 1):
        prev = f"r{k - 1}"
        ctes.append(
            f"""
    r{k} AS (
      SELECT n.node,
             CAST({BASE_FP} + ({DAMPING_NUM} * COALESCE(s.s, 0))
                  // {DAMPING_DEN} AS BIGINT) AS rank_fp
      FROM pr_nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank_fp // e.deg) AS s
        FROM pr_edeg e JOIN {prev} r ON e.src = r.node
        GROUP BY e.dst
      ) s ON n.node = s.node
    )"""
        )
    return ",".join(ctes)


def _duck_ppr_iters(n_iter: int) -> str:
    """Unrolled PERSONALIZED-PageRank CTEs: identical arithmetic to
    `_duck_pagerank_iters` except the restart term is gated on
    ``pr_nodes.is_seed`` (TrustRank shape)."""
    from lab3_spark.operators.pagerank import (
        BASE_FP,
        DAMPING_DEN,
        DAMPING_NUM,
    )

    ctes = []
    for k in range(1, n_iter + 1):
        prev = f"r{k - 1}"
        ctes.append(
            f"""
    r{k} AS (
      SELECT n.node,
             CAST(n.is_seed * {BASE_FP}
                  + ({DAMPING_NUM} * COALESCE(s.s, 0))
                  // {DAMPING_DEN} AS BIGINT) AS rank_fp
      FROM pr_nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank_fp // e.deg) AS s
        FROM pr_edeg e JOIN {prev} r ON e.src = r.node
        GROUP BY e.dst
      ) s ON n.node = s.node
    )"""
        )
    return ",".join(ctes)


@query(
    "ppr_seed_proximity",
    f"""
    WITH RECURSIVE {_DUCK_MINHASH_CTES},
    pr_edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    pr_deg AS (SELECT src, count(*) AS deg FROM pr_edges GROUP BY src),
    pr_edeg AS (
      SELECT e.src, e.dst, d.deg FROM pr_edges e JOIN pr_deg d
      ON e.src = d.src
    ),
    pr_nodes0 AS (SELECT DISTINCT src AS node FROM pr_edges),
    seeds AS (SELECT node FROM pr_nodes0 ORDER BY node LIMIT 3),
    pr_nodes AS (
      SELECT n.node, CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS is_seed
      FROM pr_nodes0 n LEFT JOIN seeds s ON n.node = s.node
    ),
    r0 AS (
      SELECT node, CAST(is_seed * {10**12} AS BIGINT) AS rank_fp
      FROM pr_nodes
    ),
    {_duck_ppr_iters(5)}
    SELECT node AS doc_id, rank_fp
    FROM r5 WHERE rank_fp > 0
    ORDER BY rank_fp DESC, doc_id ASC LIMIT 20
    """,
)
def q_ppr_seed_proximity(spark, sf_dir):
    """Personalized PageRank / TrustRank (pagerank.ppr_fixed_point):
    restart mass only on the three smallest-id seed documents, so
    ranks measure PROXIMITY TO THE SEEDS through the near-duplicate
    graph — the trust/suspicion-propagation curation primitive.
    All-bigint; the oracle unrolls the same 5 iterations with a
    seed-gated restart term."""
    from lab3_spark.operators.dedup import minhash_candidates
    from lab3_spark.operators.pagerank import ppr_fixed_point, symmetrize

    edges = symmetrize(minhash_candidates(_t(spark, sf_dir, "documents")))
    return (
        ppr_fixed_point(edges, n_iter=5, n_seeds=3)
        .where(F.col("rank_fp") > 0)
        .orderBy(F.desc("rank_fp"), F.asc("node"))
        .limit(20)
        .select(F.col("node").alias("doc_id"), "rank_fp")
    )


_PAGERANK_ITERS = 5


@query(
    "pagerank_candidates",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    pr_edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    pr_deg AS (SELECT src, count(*) AS deg FROM pr_edges GROUP BY src),
    pr_edeg AS (
      SELECT e.src, e.dst, d.deg FROM pr_edges e JOIN pr_deg d ON e.src = d.src
    ),
    pr_nodes AS (SELECT DISTINCT src AS node FROM pr_edges),
    r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_fp FROM pr_nodes),
    {_duck_pagerank_iters(_PAGERANK_ITERS)}
    SELECT node AS doc_id, rank_fp
    FROM r{_PAGERANK_ITERS}
    ORDER BY rank_fp DESC, doc_id ASC LIMIT 20
    """,
)
def q_pagerank_candidates(spark, sf_dir):
    """Fixed-point PageRank over the MinHash candidate graph
    (operators/pagerank.py) — ranks near-duplicate documents by
    centrality so cluster representatives can be chosen by connectivity
    rather than min-id.  All-bigint arithmetic end to end; the oracle
    unrolls the same {_PAGERANK_ITERS} synchronous iterations as plain
    CTEs and matches bit-for-bit."""
    from lab3_spark.operators.dedup import minhash_candidates
    from lab3_spark.operators.pagerank import (
        pagerank_fixed_point,
        symmetrize,
    )

    cands = minhash_candidates(_t(spark, sf_dir, "documents"))
    ranks = pagerank_fixed_point(
        symmetrize(cands), n_iter=_PAGERANK_ITERS, input_from_symmetrize=True
    )
    return (
        ranks.select(F.col("node").alias("doc_id"), "rank_fp")
        .orderBy(F.desc("rank_fp"), F.asc("doc_id"))
        .limit(20)
    )


_KMEANS_K = 8
_KMEANS_ITERS = 3


def _duck_pq_subspace_ctes(
    k: int, n_iter: int, lo: int, hi: int, p: str, src: str = "px"
) -> str:
    """Per-SUBSPACE Lloyd chain for the PQ oracle: the same unrolled
    recursion as `_duck_kmeans_ctes` but over px rows with
    ``lo <= pos < hi`` and CTE names prefixed ``{p}`` so two subspaces
    coexist in one WITH clause.  Positions stay global (no rebase):
    only matching pos pairs enter distances/updates, so the centroid
    VALUES are identical to the Spark side's rebased slice.

    ``src`` names the (vec_id, pos, val) CTE to train over — "px" for
    raw fixed-point vectors; an IVF-PQ oracle points it at a residual
    CTE (vector minus its coarse-cell centroid) instead."""
    ctes = [
        f"""
    px{p} AS (SELECT vec_id, pos, val FROM {src}
              WHERE pos >= {lo} AND pos < {hi}),
    c{p}0 AS (SELECT vec_id AS cl, pos, val AS c FROM px{p}
              WHERE vec_id < {k})"""
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""
    d{p}{i} AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM px{p} px JOIN c{p}{i - 1} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    a{p}{i} AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM d{p}{i}) t
      WHERE rn = 1
    ),
    c{p}{i} AS (
      SELECT a.cl, px.pos,
             CAST(floor(CAST(sum(px.val) AS BIGINT) / count(*)) AS BIGINT) AS c,
             count(*) AS n
      FROM a{p}{i} a JOIN px{p} px ON a.vec_id = px.vec_id
      GROUP BY a.cl, px.pos
    )"""
        )
    return ",".join(ctes)


def _duck_kmeans_ctes(
    k: int, n_iter: int, train_limit: int | None = None
) -> str:
    """Base + unrolled Lloyd-iteration CTEs mirroring operators/kmeans.py:
    v = fixed-point vectors, px = (vec_id, pos, val) exploded, c0 = seed
    centroids (lowest k vec_ids), then d{i}/a{i}/c{i} per iteration —
    exact bigint distances, floor(sum/count) updates, ties → min cl.

    ``train_limit``: train the quantizer on ``vec_id < train_limit``
    ONLY (the frozen-index append story — appended vectors are
    assigned/encoded by downstream CTEs over the full ``px`` but never
    move the centroids)."""
    src = "ptx" if train_limit is not None else "px"
    ctes = [
        """
    v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      FROM embeddings
    ),
    px AS (
      SELECT vec_id, generate_subscripts(xi, 1) - 1 AS pos, unnest(xi) AS val
      FROM v
    ),"""
        + (
            f"""
    ptx AS (SELECT * FROM px WHERE vec_id < {train_limit}),"""
            if train_limit is not None
            else ""
        )
        + f"""
    c0 AS (SELECT vec_id AS cl, pos, val AS c FROM {src} WHERE vec_id < {k})"""
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""
    d{i} AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM {src} px JOIN c{i - 1} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    a{i} AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM d{i}) t
      WHERE rn = 1
    ),
    c{i} AS (
      SELECT a.cl, px.pos,
             CAST(floor(CAST(sum(px.val) AS BIGINT) / count(*)) AS BIGINT) AS c,
             count(*) AS n
      FROM a{i} a JOIN {src} px ON a.vec_id = px.vec_id
      GROUP BY a.cl, px.pos
    )"""
        )
    return ",".join(ctes)


@query(
    "kmeans_centroids",
    f"""
    WITH {_duck_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS)}
    SELECT cl AS cluster_id, pos, c, n AS n_members
    FROM c{_KMEANS_ITERS}
    ORDER BY cluster_id, pos
    """,
)
def q_kmeans_centroids(spark, sf_dir):
    """Fixed-point Lloyd k-means over the embeddings table
    (operators/kmeans.py): broadcast-literal assignment (zero shuffle),
    one (cluster, pos)-keyed partial aggregation per update, k×d
    driver collect between iterations — MLlib's dataflow as DataFrame
    ops, all-bigint so the unrolled-CTE oracle matches bit-for-bit."""
    from lab3_spark.operators.kmeans import kmeans_fixed

    return kmeans_fixed(
        _t(spark, sf_dir, "embeddings"), k=_KMEANS_K, n_iter=_KMEANS_ITERS
    )


@query(
    "kmeans_silhouette",
    f"""
    WITH {_duck_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS)},
    dS AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM px JOIN c{_KMEANS_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    r2 AS (
      SELECT vec_id, cl, dist,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cl) AS rn
      FROM dS
    ),
    ab AS (
      SELECT a.vec_id, a.cl, a.dist AS a2, b.dist AS b2
      FROM r2 a JOIN r2 b ON a.vec_id = b.vec_id
      WHERE a.rn = 1 AND b.rn = 2
    ),
    sil AS (
      SELECT cl,
             CASE WHEN b2 > 0 THEN CAST(floor(
               (sqrt(b2) - sqrt(a2)) / sqrt(b2) * 1000000) AS BIGINT)
             ELSE 0 END AS s
      FROM ab
    )
    SELECT cl AS cluster_id, count(*) AS n_members,
           CAST(sum(s) // count(*) AS BIGINT) AS mean_sil_fp,
           min(s) AS min_sil_fp, max(s) AS max_sil_fp
    FROM sil GROUP BY cl ORDER BY cl
    """,
)
def q_kmeans_silhouette(spark, sf_dir):
    """Simplified (centroid-based) silhouette per trained cluster
    (kmeans.kmeans_silhouette): s = (b − a)/b with a = distance to the
    nearest centroid (= the assignment), b = distance to the second
    nearest — the O(n·k) silhouette a 100 TB corpus can afford (the
    classic O(n²) mean-pairwise form cannot exist at scale).  The
    clustering-quality companion every trained-quantizer consumer
    (IVF probing, SemDeDup cells, cluster-balanced sampling) reads
    before trusting its cells.  One narrow corpus pass against the
    k×d literal distance table (single SQL parse), exact int64
    distances, one mirrored sqrt/floor fixed-point expression, and
    integer-DIV cluster means — bit-identical to the unrolled Lloyd
    CTE oracle."""
    from lab3_spark.operators.kmeans import kmeans_silhouette

    return kmeans_silhouette(
        _t(spark, sf_dir, "embeddings"), k=_KMEANS_K, n_iter=_KMEANS_ITERS
    )


@query(
    "ann_ivf_trained",
    f"""
    WITH {_duck_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS)},
    dA AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM px JOIN c{_KMEANS_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    aA AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM dA) t
      WHERE rn = 1
    ),
    {_DUCK_VEC.strip()},
    q AS (
      SELECT a.vec_id AS query_id, a.cl AS qcl, e.u AS uq
      FROM aA a JOIN e ON e.vec_id = a.vec_id
      WHERE a.vec_id < 20
    ),
    pairs AS (
      SELECT query_id, n.vec_id AS neighbor_id,
             ({_DUCK_DOT.format(a='uq', b='en.u')}) AS cos_raw
      FROM q
      JOIN aA n ON n.cl = q.qcl
      JOIN e en ON en.vec_id = n.vec_id
      WHERE n.vec_id != query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id,
           floor(cos_raw * 10000) / 10000 AS cos, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_ivf_trained(spark, sf_dir):
    """IVF top-5 probing TRAINED k-means cells (vs. ann_ivf_top5's
    label stand-in): coarse quantizer = kmeans_fixed centroids, one
    extra narrow assignment pass, then the same bucketed top-k."""
    from lab3_spark.operators.kmeans import ann_ivf_trained

    return ann_ivf_trained(
        _t(spark, sf_dir, "embeddings"), k=_KMEANS_K, n_iter=_KMEANS_ITERS
    )


@query(
    "ann_ivf_probe2",
    f"""
    WITH {_duck_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS)},
    dA AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM px JOIN c{_KMEANS_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    aA AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM dA) t
      WHERE rn = 1
    ),
    pQ AS (
      SELECT vec_id AS query_id, cl AS qcl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM dA) t
      WHERE rn <= 2 AND vec_id < 20
    ),
    {_DUCK_VEC.strip()},
    q AS (
      SELECT p.query_id, p.qcl, e.u AS uq
      FROM pQ p JOIN e ON e.vec_id = p.query_id
    ),
    pairs AS (
      SELECT query_id, n.vec_id AS neighbor_id,
             ({_DUCK_DOT.format(a='uq', b='en.u')}) AS cos_raw
      FROM q
      JOIN aA n ON n.cl = q.qcl
      JOIN e en ON en.vec_id = n.vec_id
      WHERE n.vec_id != query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id,
           floor(cos_raw * 10000) / 10000 AS cos, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_ivf_probe2(spark, sf_dir):
    """Multi-probe IVF (nprobe=2): each query probes its TWO nearest
    trained cells — the standard recall knob.  Probe cells come from a
    per-query expression over the k×d literal centroids (query side is
    tiny + broadcast); the corpus join is the same cell-id equi-join,
    and since cells partition the corpus no pair appears twice."""
    from lab3_spark.operators.kmeans import ann_ivf_trained

    return ann_ivf_trained(
        _t(spark, sf_dir, "embeddings"),
        k=_KMEANS_K,
        n_iter=_KMEANS_ITERS,
        nprobe=2,
    )


@query(
    "ann_ivf_frozen_append",
    f"""
    WITH {_duck_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS, train_limit=256)},
    dA AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM px JOIN c{_KMEANS_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    aA AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM dA) t
      WHERE rn = 1
    ),
    pQ AS (
      SELECT vec_id AS query_id, cl AS qcl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM dA) t
      WHERE rn <= 2 AND vec_id < 20
    ),
    {_DUCK_VEC.strip()},
    q AS (
      SELECT p.query_id, p.qcl, e.u AS uq
      FROM pQ p JOIN e ON e.vec_id = p.query_id
    ),
    pairs AS (
      SELECT query_id, n.vec_id AS neighbor_id,
             ({_DUCK_DOT.format(a='uq', b='en.u')}) AS cos_raw
      FROM q
      JOIN aA n ON n.cl = q.qcl
      JOIN e en ON en.vec_id = n.vec_id
      WHERE n.vec_id != query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id,
           floor(cos_raw * 10000) / 10000 AS cos, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_ivf_frozen_append(spark, sf_dir):
    """FROZEN-quantizer index append (kmeans.ann_ivf_trained with
    train_limit): the coarse quantizer trains on vec_id < 256 only;
    every later vector enters the index through ONE narrow assignment
    pass against the frozen centroids (FAISS add-after-train) and is
    immediately queryable — retraining becomes offline policy, not
    ingest cost.  The oracle trains its Lloyd chain on the same
    subset and assigns the full corpus."""
    from lab3_spark.operators.kmeans import ann_ivf_trained

    return ann_ivf_trained(
        _t(spark, sf_dir, "embeddings"),
        k=_KMEANS_K,
        n_iter=_KMEANS_ITERS,
        nprobe=2,
        train_limit=256,
    )


@query(
    "ann_ivf_recall",
    f"""
    WITH {_duck_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS)},
    dA AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM px JOIN c{_KMEANS_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    aA AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM dA) t
      WHERE rn = 1
    ),
    {_DUCK_VEC.strip()},
    q AS (
      SELECT a.vec_id AS query_id, a.cl AS qcl, e.u AS uq
      FROM aA a JOIN e ON e.vec_id = a.vec_id
      WHERE a.vec_id < 20
    ),
    ivf_pairs AS (
      SELECT query_id, n.vec_id AS neighbor_id,
             ({_DUCK_DOT.format(a='uq', b='en.u')}) AS cos_raw
      FROM q
      JOIN aA n ON n.cl = q.qcl
      JOIN e en ON en.vec_id = n.vec_id
      WHERE n.vec_id != query_id
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
        FROM ivf_pairs) t
      WHERE rnk <= 5
    ),
    bf_pairs AS (
      SELECT q.query_id, n.vec_id AS neighbor_id,
             ({_DUCK_DOT.format(a='q.uq', b='n.u')}) AS cos_raw
      FROM q, e n WHERE n.vec_id != q.query_id
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
        FROM bf_pairs) t
      WHERE rnk <= 5
    ),
    truth AS (SELECT query_id, count(*) AS n_true FROM bf GROUP BY query_id),
    hits AS (
      SELECT b.query_id, count(*) AS n_hit
      FROM bf b JOIN ivf i
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      GROUP BY b.query_id
    )
    SELECT t.query_id,
           CAST(t.n_true AS BIGINT) AS n_true,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           floor(CAST(coalesce(h.n_hit, 0) AS BIGINT)
                 / t.n_true * 10000) / 10000 AS recall
    FROM truth t LEFT JOIN hits h ON t.query_id = h.query_id
    ORDER BY t.query_id
    """,
)
def q_ann_ivf_recall(spark, sf_dir):
    """Recall@5 of the trained-IVF probe vs the exact brute-force
    baseline — the quantizer-quality regression gate (kmeans.
    ann_recall_vs_bruteforce).  A k-means regression now flips this
    row instead of silently degrading search results."""
    from lab3_spark.operators.kmeans import ann_recall_vs_bruteforce

    return ann_recall_vs_bruteforce(
        _t(spark, sf_dir, "embeddings"), k=_KMEANS_K, n_iter=_KMEANS_ITERS
    )


def _ndcg_oracle_sql(topk: int = 5) -> str:
    """nDCG oracle: the ann_ivf_recall CTE skeleton with ranks kept on
    both result sets, then the SAME discount-weight SQL text the
    operator parses (kmeans.ndcg_weight_sql — imported, not
    re-typed)."""
    from lab3_spark.operators.kmeans import ndcg_weight_sql

    wcase = (
        "CASE i.rnk "
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
    return f"""
    WITH {_duck_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS)},
    dA AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM px JOIN c{_KMEANS_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    aA AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM dA) t
      WHERE rn = 1
    ),
    {_DUCK_VEC.strip()},
    q AS (
      SELECT a.vec_id AS query_id, a.cl AS qcl, e.u AS uq
      FROM aA a JOIN e ON e.vec_id = a.vec_id
      WHERE a.vec_id < 20
    ),
    ivf_pairs AS (
      SELECT query_id, n.vec_id AS neighbor_id,
             ({_DUCK_DOT.format(a='uq', b='en.u')}) AS cos_raw
      FROM q
      JOIN aA n ON n.cl = q.qcl
      JOIN e en ON en.vec_id = n.vec_id
      WHERE n.vec_id != query_id
    ),
    ivf AS (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
        FROM ivf_pairs) t
      WHERE rnk <= {topk}
    ),
    bf_pairs AS (
      SELECT q.query_id, n.vec_id AS neighbor_id,
             ({_DUCK_DOT.format(a='q.uq', b='n.u')}) AS cos_raw
      FROM q, e n WHERE n.vec_id != q.query_id
    ),
    bf AS (
      SELECT query_id, neighbor_id, rnk AS brnk FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_raw DESC, neighbor_id ASC) AS rnk
        FROM bf_pairs) t
      WHERE rnk <= {topk}
    ),
    joined AS (
      SELECT i.query_id, i.rnk,
             CAST(coalesce({topk + 1} - b.brnk, 0) AS BIGINT) AS rel
      FROM ivf i LEFT JOIN bf b
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
    ),
    per AS (
      SELECT query_id,
             CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit,
             CAST(sum(rel * ({wcase})) AS BIGINT) AS dcg_fp
      FROM joined i GROUP BY query_id
    )
    SELECT query_id, n_hit, dcg_fp,
           CAST(dcg_fp * 1000000 // ({idcg}) AS BIGINT) AS ndcg_fp
    FROM per ORDER BY query_id
    """


@query("ann_ivf_ndcg", _ndcg_oracle_sql())
def q_ann_ivf_ndcg(spark, sf_dir):
    """nDCG@5 of the trained-IVF ranking vs exact brute force
    (kmeans.ann_ivf_ndcg): the rank-quality companion to
    ann_ivf_recall — recall counts set overlap, nDCG also scores
    whether the index puts the best neighbors FIRST.  Graded
    relevance topk+1 − exact rank, integer discount weights
    floor(10^6/log2(i+1)) from ONE shared SQL text, exact bigint DCG
    sums, integer-DIV normalization against the constant ideal.
    Metadata-scale joins over the two ≤ 20×5 result sets."""
    from lab3_spark.operators.kmeans import ann_ivf_ndcg

    return ann_ivf_ndcg(
        _t(spark, sf_dir, "embeddings"), k=_KMEANS_K, n_iter=_KMEANS_ITERS
    )


@query(
    "dedup_semantic",
    f"""
    WITH {_duck_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS)},
    dA AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM px JOIN c{_KMEANS_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    aA AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM dA) t
      WHERE rn = 1
    ),
    {_DUCK_VEC.strip()},
    cell AS (
      SELECT a.vec_id, a.cl, e.u
      FROM aA a JOIN e ON e.vec_id = a.vec_id
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           floor(({_DUCK_DOT.format(a='a.u', b='b.u')})
                 * 10000) / 10000 AS cos
    FROM cell a JOIN cell b ON a.cl = b.cl AND a.vec_id < b.vec_id
    WHERE floor(({_DUCK_DOT.format(a='a.u', b='b.u')})
                * 10000) / 10000 >= 0.35
    ORDER BY vec_a, vec_b
    """,
)
def q_dedup_semantic(spark, sf_dir):
    """SemDeDup: near-duplicate pairs blocked by TRAINED k-means cells
    (kmeans.semantic_near_duplicates) — `dedup_embedding_cosine`'s
    blocking upgraded from the `label` stand-in column to the engine's
    own Lloyd quantizer; per-cell self-joins, never all-pairs."""
    from lab3_spark.operators.kmeans import semantic_near_duplicates

    return semantic_near_duplicates(
        _t(spark, sf_dir, "embeddings"), k=_KMEANS_K, n_iter=_KMEANS_ITERS
    )


_PQ_ITERS = 2


@query(
    "ann_pq_adc_top5",
    f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      FROM embeddings
    ),
    px AS (
      SELECT vec_id, generate_subscripts(xi, 1) - 1 AS pos, unnest(xi) AS val
      FROM v
    ),
    {_duck_pq_subspace_ctes(_KMEANS_K, _PQ_ITERS, 0, 32, "A")},
    {_duck_pq_subspace_ctes(_KMEANS_K, _PQ_ITERS, 32, 64, "B")},
    fA AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxA px JOIN cA{_PQ_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    gA AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM fA) t WHERE rn = 1
    ),
    fB AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxB px JOIN cB{_PQ_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    gB AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM fB) t WHERE rn = 1
    ),
    codes AS (
      SELECT a.vec_id, a.cl AS code_0, b.cl AS code_1
      FROM gA a JOIN gB b ON a.vec_id = b.vec_id
    ),
    dtA AS (
      SELECT px.vec_id AS query_id, c.cl AS code,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxA px JOIN cA{_PQ_ITERS} c ON px.pos = c.pos
      WHERE px.vec_id < 20 GROUP BY 1, 2
    ),
    dtB AS (
      SELECT px.vec_id AS query_id, c.cl AS code,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxB px JOIN cB{_PQ_ITERS} c ON px.pos = c.pos
      WHERE px.vec_id < 20 GROUP BY 1, 2
    ),
    pairs AS (
      SELECT dA.query_id, c.vec_id AS neighbor_id,
             CAST(dA.dist + dB.dist AS BIGINT) AS adist
      FROM codes c
      JOIN dtA dA ON dA.code = c.code_0
      JOIN dtB dB ON dB.code = c.code_1 AND dB.query_id = dA.query_id
      WHERE c.vec_id != dA.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, adist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adist ASC, neighbor_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, adist, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_pq_adc(spark, sf_dir):
    """Product-quantization ANN (kmeans.ann_pq_adc): two independent
    32-dim sub-quantizers (the engine's own Lloyd), corpus stored as
    2×3-bit codes, query-time ADC = per-query distance TABLE
    (broadcast) + code equi-join — all-integer, bit-exact against the
    per-subspace unrolled-CTE oracle."""
    from lab3_spark.operators.kmeans import ann_pq_adc

    return ann_pq_adc(
        _t(spark, sf_dir, "embeddings"),
        m=2,
        k=_KMEANS_K,
        n_iter=_PQ_ITERS,
        dims=64,
    )


@query(
    "ann_bruteforce_l2_top5",
    f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      FROM embeddings
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             CAST(list_reduce(list_transform(range(1, len(q.xi) + 1),
                    i -> (q.xi[i] - n.xi[i]) * (q.xi[i] - n.xi[i])),
                  (a, b) -> a + b) AS BIGINT) AS dist
      FROM v q, v n
      WHERE q.vec_id < 20 AND n.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, neighbor_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, dist, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_bruteforce_l2(spark, sf_dir):
    """Exact integer squared-L2 brute-force top-5
    (kmeans.ann_bruteforce_l2): the same-metric ground truth the PQ
    path approximates — zero floats, bit-exact oracle."""
    from lab3_spark.operators.kmeans import ann_bruteforce_l2

    return ann_bruteforce_l2(_t(spark, sf_dir, "embeddings"))


@query(
    "ann_pq_recall",
    f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      FROM embeddings
    ),
    px AS (
      SELECT vec_id, generate_subscripts(xi, 1) - 1 AS pos, unnest(xi) AS val
      FROM v
    ),
    {_duck_pq_subspace_ctes(_KMEANS_K, _PQ_ITERS, 0, 32, "A")},
    {_duck_pq_subspace_ctes(_KMEANS_K, _PQ_ITERS, 32, 64, "B")},
    fA AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxA px JOIN cA{_PQ_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    gA AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM fA) t WHERE rn = 1
    ),
    fB AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxB px JOIN cB{_PQ_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    gB AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM fB) t WHERE rn = 1
    ),
    codes AS (
      SELECT a.vec_id, a.cl AS code_0, b.cl AS code_1
      FROM gA a JOIN gB b ON a.vec_id = b.vec_id
    ),
    dtA AS (
      SELECT px.vec_id AS query_id, c.cl AS code,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxA px JOIN cA{_PQ_ITERS} c ON px.pos = c.pos
      WHERE px.vec_id < 20 GROUP BY 1, 2
    ),
    dtB AS (
      SELECT px.vec_id AS query_id, c.cl AS code,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxB px JOIN cB{_PQ_ITERS} c ON px.pos = c.pos
      WHERE px.vec_id < 20 GROUP BY 1, 2
    ),
    pqpairs AS (
      SELECT dA.query_id, c.vec_id AS neighbor_id,
             CAST(dA.dist + dB.dist AS BIGINT) AS adist
      FROM codes c
      JOIN dtA dA ON dA.code = c.code_0
      JOIN dtB dB ON dB.code = c.code_1 AND dB.query_id = dA.query_id
      WHERE c.vec_id != dA.query_id
    ),
    pq AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, neighbor_id ASC) AS rnk
        FROM pqpairs) t
      WHERE rnk <= 5
    ),
    bfpairs AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             CAST(list_reduce(list_transform(range(1, len(q.xi) + 1),
                    i -> (q.xi[i] - n.xi[i]) * (q.xi[i] - n.xi[i])),
                  (a, b) -> a + b) AS BIGINT) AS dist
      FROM v q, v n
      WHERE q.vec_id < 20 AND n.vec_id != q.vec_id
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist ASC, neighbor_id ASC) AS rnk
        FROM bfpairs) t
      WHERE rnk <= 5
    ),
    truth AS (SELECT query_id, count(*) AS n_true FROM bf GROUP BY query_id),
    hits AS (
      SELECT b.query_id, count(*) AS n_hit
      FROM bf b JOIN pq p
        ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
      GROUP BY b.query_id
    )
    SELECT t.query_id,
           CAST(t.n_true AS BIGINT) AS n_true,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           floor(CAST(coalesce(h.n_hit, 0) AS BIGINT)
                 / t.n_true * 10000) / 10000 AS recall
    FROM truth t LEFT JOIN hits h ON t.query_id = h.query_id
    ORDER BY t.query_id
    """,
)
def q_ann_pq_recall(spark, sf_dir):
    """Recall@5 of PQ-ADC against the exact same-metric L2 brute
    force (kmeans.ann_pq_recall) — the PQ quantizer's regression
    gate; on these near-random synthetic embeddings recall is ~13×
    the random-guess baseline and collapses if training or encoding
    breaks."""
    from lab3_spark.operators.kmeans import ann_pq_recall

    return ann_pq_recall(
        _t(spark, sf_dir, "embeddings"),
        m=2,
        k=_KMEANS_K,
        n_iter=_PQ_ITERS,
        dims=64,
    )


@query(
    "data_quality_report",
    """
    SELECT 'customer_negative_acctbal' AS check_name,
           (SELECT count(*) FROM customer WHERE c_acctbal < 0) AS violations
    UNION ALL
    SELECT 'documents_short_text',
           (SELECT count(*) FROM documents WHERE n_chars < 50)
    UNION ALL
    SELECT 'lineitem_discount_out_of_range',
           (SELECT count(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 1)
    UNION ALL
    SELECT 'lineitem_dup_line_id',
           (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber))
            FROM lineitem)
    UNION ALL
    SELECT 'lineitem_fk_orderkey',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem_nonpositive_quantity',
           (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
    UNION ALL
    SELECT 'orders_fk_custkey',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'orders_nonpositive_totalprice',
           (SELECT count(*) FROM orders WHERE o_totalprice <= 0)
    UNION ALL
    SELECT 'orders_null_custkey',
           (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
    UNION ALL
    SELECT 'orders_without_lineitems',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey))
    ORDER BY check_name
    """,
)
def q_data_quality_report(spark, sf_dir):
    """Constraint audit (operators/quality.py): nulls, domains,
    uniqueness, and referential integrity over the star schema in one
    report.  Per-table checks share ONE scan each (conditional sums
    unpivoted via stack); FK checks are column-pruned LEFT ANTI joins.
    The synthetic data genuinely violates two rules (negative acctbals,
    duplicate (orderkey, linenumber) ids) — the gate proves the audit
    finds real dirt, not just zeros."""
    from lab3_spark.operators.quality import quality_report

    return quality_report(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "documents"),
    )


# ---------------------------------------------------------------------------
# §11 Deterministic sampling, sequence packing, column profiling
# ---------------------------------------------------------------------------

_STRATA_FRACTIONS = {"src0": 0.5, "src1": 0.25, "src2": 0.1}
_STRATA_DEFAULT = 0.05


def _duck_strata_case() -> str:
    whens = " ".join(
        f"WHEN '{v}' THEN {int(f * 1_000_000)}"
        for v, f in sorted(_STRATA_FRACTIONS.items())
    )
    return f"CASE source {whens} ELSE {int(_STRATA_DEFAULT * 1_000_000)} END"


@query(
    "stratified_sample_documents",
    f"""
    SELECT doc_id, source
    FROM documents
    WHERE ({_h2l("substr(md5(concat('strata', '|', CAST(doc_id AS VARCHAR))), 1, 15)")})
          % 1000000 < {_duck_strata_case()}
    ORDER BY doc_id
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling (sampleBy's reproducible
    twin): the keep-decision is a pure md5-hash expression, so the
    sample is stable across runs, engines, and partitionings — and the
    predicate is a narrow filter (no shuffle, no RNG state)."""
    from lab3_spark.operators.sampling import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents")
    return (
        stratified_hash_sample(
            docs, "doc_id", "source", _STRATA_FRACTIONS,
            salt="strata", default_fraction=_STRATA_DEFAULT,
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@query(
    "pack_training_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             len(regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}))
               AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / 512.0) AS BIGINT) AS bin_id
    FROM t ORDER BY source, doc_id
    """,
)
def q_pack_sequences(spark, sf_dir):
    """Sequence packing for pretraining batches: documents laid
    end-to-end per source in deterministic id order, assigned to
    fixed 512-token-budget bins by start offset (greedy packing).
    One window cumsum per group = one shuffle on the group key."""
    from lab3_spark.operators.sampling import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), budget=512)


@query(
    "profile_orders",
    """
    SELECT 'o_custkey' AS "column", count(*) AS n_rows,
           count(*) - count(o_custkey) AS n_nulls,
           count(DISTINCT o_custkey) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_repr,
           CAST(max(o_custkey) AS VARCHAR) AS max_repr
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
    FROM orders
    UNION ALL
    SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
           count(DISTINCT o_orderkey),
           CAST(min(o_orderkey) AS VARCHAR), CAST(max(o_orderkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           printf('%.4f', min(o_totalprice)), printf('%.4f', max(o_totalprice))
    FROM orders
    ORDER BY "column"
    """,
)
def q_profile_orders(spark, sf_dir):
    """Column profiler over orders, EXACT-distinct formulation: a wide
    single-pass agg for counts/nulls/min-max plus a melt + two-stage
    groupBy for per-column exact distincts — no Catalyst multi-distinct
    Expand anywhere (round-2 verdict item 4; the default profiler path
    is single-scan approx_count_distinct).  min/max rendered as
    canonical printf strings so heterogeneous columns share a schema
    and the oracle reproduces them byte-for-byte."""
    from lab3_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "orders"), distinct="exact")


@query(
    "streaming_view_purchase_join",
    """
    SELECT v.user_id AS user_id,
           v.event_id AS view_event_id,
           p.event_id AS purchase_event_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.user_id < 300
    ORDER BY user_id, view_event_id, purchase_event_id
    """,
)
def q_streaming_ss_join(spark, sf_dir):
    """STREAM-STREAM inner join as a real StreamingQuery: views joined
    to same-user purchases within 30 min (streaming/joins.py), file
    source → append-mode memory sink, availableNow.  Watermarks + the
    time-range bound make both state buffers evictable; with the
    bounded source the result equals the batch interval join — which
    is exactly what the oracle states."""
    from lab3_spark.streaming.joins import view_purchase_interval_join

    src = _event_stream(spark, sf_dir)
    out = view_purchase_interval_join(src.where(F.col("user_id") < 300))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_ssj_check")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, "stream-stream join")
    return (
        spark.table("stream_ssj_check")
        .select(
            "user_id",
            "view_event_id",
            "purchase_event_id",
            F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        )
        .orderBy("user_id", "view_event_id", "purchase_event_id")
    )


@query(
    "pmi_collocations",
    f"""
    WITH t AS (
      SELECT regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS toks
      FROM documents
    ),
    pairs_raw AS (
      SELECT unnest(list_transform(range(1, len(toks)),
             i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS g
      FROM t WHERE len(toks) >= 2
    ),
    bi AS (SELECT g.w1 AS w1, g.w2 AS w2, count(*) AS pair_cnt
           FROM pairs_raw GROUP BY 1, 2),
    ucnt AS (SELECT w, count(*) AS cnt FROM (
               SELECT unnest(toks) AS w FROM t) u GROUP BY w),
    nu AS (SELECT sum(cnt) AS n_uni FROM ucnt),
    nb AS (SELECT sum(pair_cnt) AS n_bi FROM bi)
    SELECT w1, w2, pair_cnt,
           floor(ln((pair_cnt * n_uni * n_uni) / (n_bi * c1.cnt * c2.cnt))
                 * 10000) / 10000 AS pmi
    FROM bi
    JOIN ucnt c1 ON bi.w1 = c1.w
    JOIN ucnt c2 ON bi.w2 = c2.w
    CROSS JOIN nu CROSS JOIN nb
    WHERE pair_cnt >= 5
    ORDER BY pmi DESC, w1 ASC, w2 ASC
    LIMIT 20
    """,
)
def q_pmi(spark, sf_dir):
    """Pointwise-mutual-information collocations — bigram association
    normalized by unigram frequency (operators/textstats.py).  The PMI
    expression's operation order is fixed so both engines compute
    bit-identical doubles before the 4-decimal truncation."""
    return TS.pmi_collocations(_t(spark, sf_dir, "documents"))


@query(
    "udtf_token_positions",
    f"""
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS toks
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, g.word AS word, g.pos AS pos FROM (
      SELECT doc_id,
             unnest(list_transform(range(0, len(toks)),
                    i -> struct_pack(word := toks[i+1],
                                     pos := CAST(i AS INT)))) AS g
      FROM t) s
    ORDER BY doc_id, pos
    """,
)
def q_udtf_tokens(spark, sf_dir):
    """The Python-UDTF surface (functions/udtfs.py) run through SQL
    LATERAL — the reference's split/map hook shape (§2.7) as a real
    user-defined table function.  Deliberately gated on a small slice:
    Python UDTFs are the engine's documented slow path; the hot-path
    tokenizer is the Catalyst expression this one must agree with."""
    from lab3_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT t.doc_id, u.word, u.pos
        FROM _udtf_docs t, LATERAL tokenize_positions(t.text) u
        ORDER BY doc_id, pos
        """
    )


@query(
    "events_gapfill_locf",
    """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n_events, max(value) AS max_value
      FROM events GROUP BY 1, 2
    ),
    spans AS (
      SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
      FROM b GROUP BY 1
    ),
    spine AS (
      SELECT event_type,
             unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
      FROM spans
    )
    SELECT s.event_type AS event_type,
           strftime(s.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           coalesce(b.n_events, 0) AS n_events,
           CASE WHEN b.n_events IS NULL THEN 1 ELSE 0 END AS filled,
           round(last_value(b.max_value IGNORE NULLS)
                 OVER (PARTITION BY s.event_type ORDER BY s.bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS locf_max_value
    FROM spine s LEFT JOIN b ON s.event_type = b.event_type
                            AND s.bucket = b.bucket
    ORDER BY event_type, bucket
    """,
)
def q_gapfill(spark, sf_dir):
    """Hourly gap-fill + last-observation-carried-forward — the
    hypertable/gapfill rollup shape (operators/events.py): generated
    bucket spine LEFT JOINed to the real aggregation, gaps
    materialized with count 0 and the carried metric a MAX
    (order-independent across engines, unlike a float sum)."""
    return EV.hourly_gapfill_locf(_t(spark, sf_dir, "events"))


@query(
    "events_daily_anomalies",
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, count(*) AS n_days, sum(n_events) AS s,
             sum(n_events * n_events) AS q
      FROM daily GROUP BY 1
    )
    SELECT d.event_type AS event_type,
           strftime(d.day, '%Y-%m-%d') AS day,
           d.n_events AS n_events,
           CASE WHEN (d.n_events * st.n_days - st.s)
                     * (d.n_events * st.n_days - st.s)
                     > 4 * (st.n_days * st.q - st.s * st.s)
                THEN 1 ELSE 0 END AS is_anomaly
    FROM daily d JOIN stats st ON d.event_type = st.event_type
    ORDER BY event_type, day
    """,
)
def q_daily_anomalies(spark, sf_dir):
    """2σ daily-count anomaly detection decided in EXACT INTEGER
    arithmetic: |x−μ|>zσ restated as (x·n−S)² > z²(nQ−S²) with bigint
    S=Σx, Q=Σx² — bit-identical verdicts in any engine / aggregation
    order; no float mean or stddev computed at all."""
    return EV.daily_count_anomalies(_t(spark, sf_dir, "events"))


@query(
    "pysource_synthetic_docs",
    f"""
    WITH w AS (
      SELECT ['alpha','bravo','charlie','delta','echo','foxtrot',
              'golf','hotel','india','juliet','kilo','lima',
              'mike','november','oscar','papa','quebec','romeo',
              'sierra','tango','uniform','victor','whiskey','yankee'] AS ws
    )
    SELECT range AS doc_id,
           array_to_string(
             list_transform(
               range(0, 5 + ({_h2l("substr(md5(concat('len,', range)), 1, 15)")}) % 20),
               i -> ws[1 + ({_h2l("substr(md5(concat(range, ',', i)), 1, 15)")}) % 24]),
             ' ') AS text
    FROM range(0, 200), w
    ORDER BY doc_id
    """,
)
def q_pysource(spark, sf_dir):
    """A CUSTOM PYTHON DATASOURCE (PySpark 4 DataSource API,
    sources/pysource.py) hash-checked against SQL: every word of every
    generated doc derives from the portable md5 fold, so DuckDB
    recomputes the identical table — the strongest correctness check a
    pluggable source can get.  Partition-parallel generation, no
    driver involvement (the reference's split hook, source-side)."""
    from lab3_spark.sources.pysource import register

    register(spark)
    return (
        spark.read.format("synthetic_docs")
        .option("n", 200)
        .option("parts", 8)
        .load()
        .orderBy("doc_id")
    )


@query(
    "doc_length_distribution",
    """
    WITH d AS (
      SELECT doc_id, n_chars,
             ntile(10) OVER w AS decile,
             percent_rank() OVER w AS pct_rank,
             cume_dist() OVER w AS cume
      FROM documents
      WINDOW w AS (ORDER BY n_chars, doc_id)
    )
    SELECT decile,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           floor(min(pct_rank) * 10000) / 10000 AS min_pct_rank,
           floor(max(cume) * 10000) / 10000 AS max_cume
    FROM d GROUP BY decile ORDER BY decile
    """,
)
def q_doc_length_distribution(spark, sf_dir):
    """Distribution statistics (ntile / percent_rank / cume_dist) over
    document length — the quantile-binning step of a corpus length
    filter.  Deterministic under the (n_chars, doc_id) total order;
    the rank ratios are exact small-integer divisions, truncated at 4
    decimals like every cross-engine float.

    Computed via the distributed global-rank operator
    (operators/rank.py) instead of an unpartitioned window: under a
    unique total order, rank == row_number, so
    percent_rank = (rn-1)/(N-1) and cume_dist = rn/N are pure
    arithmetic — bit-identical to the window functions while staying
    fully parallel."""
    from lab3_spark.operators.rank import with_global_order_stats

    d = with_global_order_stats(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        ["n_chars", "doc_id"],
        ntile=10,
        percent_rank=True,
        cume_dist=True,
    ).select("doc_id", "n_chars", F.col("ntile").alias("decile"), "pct_rank", "cume")
    return (
        d.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            (F.floor(F.min("pct_rank") * 10000) / 10000).alias("min_pct_rank"),
            (F.floor(F.max("cume") * 10000) / 10000).alias("max_cume"),
        )
        .orderBy("decile")
    )


@query(
    "grouped_minmax_normalize",
    """
    WITH ex AS (
      SELECT vec_id, label, u.d AS d, CAST(u.x AS DOUBLE) AS x FROM (
        SELECT vec_id, label,
               unnest(list_transform(range(0, len(embedding)),
                      i -> struct_pack(d := i, x := embedding[i+1]))) AS u
        FROM embeddings)
    ),
    mm AS (SELECT label, d, min(x) AS lo, max(x) AS hi FROM ex GROUP BY 1, 2),
    norm AS (
      SELECT vec_id, ex.label AS label, ex.d AS d,
             floor((CASE WHEN hi = lo THEN 0.0
                         ELSE (x - lo) / (hi - lo) END) * 10000) / 10000 AS nx
      FROM ex JOIN mm ON ex.label = mm.label AND ex.d = mm.d
    )
    SELECT vec_id, label, d, nx FROM norm ORDER BY vec_id, d
    """,
)
def q_grouped_minmax(spark, sf_dir):
    """BATCH applyInPandas grouped-map (operators/grouped.py): each
    label group arrives as one pandas DataFrame (Arrow transfer) and
    numpy rescales every dimension to [0,1] within the group.  Min/max
    are exact (order-independent) and the per-element arithmetic has
    no summation, so the DuckDB oracle recomputes the doubles
    bit-for-bit before the shared 4-decimal truncation.

    Output is LONG form (vec_id, label, d, nx) — the round-4 driver
    canonicalizer cannot sort/hash a pandas column of Python lists
    (``TypeError: unhashable type: 'list'``), so the array result is
    posexploded into one scalar row per dimension.  The operator
    itself still returns the array shape; the gate projects it."""
    from lab3_spark.operators.grouped import minmax_normalize_embeddings

    n = minmax_normalize_embeddings(_t(spark, sf_dir, "embeddings"))
    return n.select(
        "vec_id",
        "label",
        F.posexplode("normalized").alias("d", "nx"),
    ).withColumn("d", F.col("d").cast("bigint")).orderBy("vec_id", "d")


@query(
    "pipeline_dedup_to_packing",
    f"""
    WITH RECURSIVE fp AS (
      SELECT doc_id, text, source,
             md5(array_to_string(regexp_extract_all(lower(text),
                 {OR.DUCK_TOKEN_REGEX}), ' ')) AS fp
      FROM documents
    ),
    keep1 AS (
      SELECT doc_id, text, source FROM (
        SELECT doc_id, text, source,
               min(doc_id) OVER (PARTITION BY fp) AS rep
        FROM fp) f
      WHERE doc_id = rep
    ),
    toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS t
      FROM keep1
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
                    i -> array_to_string(t[i:i+2], ' ')))) AS shingle
      FROM toks WHERE len(t) >= 3
    ),
    mh AS (
      SELECT doc_id, salt, min(md5(concat(salt, '|', shingle))) AS mh
      FROM sh, (SELECT unnest(range(0, 16)) AS salt) salts
      GROUP BY doc_id, salt
    ),
    sig AS (SELECT doc_id, list(mh ORDER BY salt) AS sig FROM mh GROUP BY doc_id),
    bands AS (
      SELECT doc_id, b, md5(array_to_string(sig[b*4+1:b*4+4], ',')) AS band_key
      FROM sig, (SELECT unnest(range(0, 4)) AS b) bb
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.b = b.b AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION
      SELECT doc_b, doc_a FROM cand
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    dups AS (
      SELECT src AS doc_id FROM reach GROUP BY src
      HAVING least(src, min(dst)) != src
    ),
    keep2 AS (
      SELECT k.doc_id, k.source,
             len(regexp_extract_all(lower(k.text), {OR.DUCK_TOKEN_REGEX}))
               AS n_tokens
      FROM keep1 k ANTI JOIN dups d ON k.doc_id = d.doc_id
    ),
    clean AS (SELECT * FROM keep2 WHERE n_tokens >= 10)
    SELECT doc_id, source, n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / 512.0) AS BIGINT) AS bin_id
    FROM clean ORDER BY source, doc_id
    """,
)
def q_pipeline_dedup_to_packing(spark, sf_dir):
    """The training-data pipeline END-TO-END in one composed plan:
    exact dedup (md5 fingerprint, min-id representative) → near-dup
    CLUSTER collapse on the survivors (MinHash-LSH candidates →
    connected components → keep each cluster's min-id doc) → quality
    floor (≥10 tokens) → 512-token-budget sequence packing per source.
    Every stage is deterministic, so the whole composition has a full
    value-hash oracle (recursive CTE included) — the strongest
    statement the engine makes: multi-stage pipelines verify, not just
    single operators."""
    from lab3_spark.operators.components import connected_components
    from lab3_spark.operators.dedup import minhash_candidates
    from lab3_spark.operators.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    from lab3_spark.functions.text import tokenize

    norm = F.concat_ws(" ", tokenize("text"))
    # skew-immune exact dedup (optimization round 12, guide §2.5):
    # combinable min agg + semi-join on the unique doc_id instead of
    # the hot-fingerprint window (the r11 dedup_exact rewrite)
    fps = docs.withColumn("fp", F.md5(norm))
    reps = fps.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    keep1 = fps.join(reps, "doc_id", "semi").select(
        "doc_id", "text", "source"
    )
    cands = minhash_candidates(keep1)
    comps = connected_components(cands, "doc_a", "doc_b")
    dups = comps.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    keep2 = keep1.join(dups, "doc_id", "left_anti")
    clean = keep2.where(F.size(tokenize("text")) >= 10)
    return pack_sequences(clean, budget=512)


# ---------------------------------------------------------------------------
# §13 TPC-H sweep completion — the 8 query SHAPES missing from §10.
#
# The driver's star schema is a trimmed TPC-H (no partsupp table; no
# l_shipmode / l_commitdate / l_receiptdate / p_mfgr / comments), so
# each query keeps the ORIGINAL's join/subquery shape and swaps the
# missing column for a derivable stand-in, documented per query.  With
# these, every one of the 22 TPC-H query shapes has a catalog gate.
# ---------------------------------------------------------------------------


@query(
    "q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
           round(c.unit_cost, 2) AS best_cost
    FROM part p
    JOIN cost c     ON c.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_type = 'SMALL' AND p.p_size <= 10
      AND c.unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
                         WHERE c2.l_partkey = p.p_partkey)
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    """,
)
def q_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2-style (min-cost supplier per part, correlated MIN
    subquery).  Stand-in for the missing partsupp.ps_supplycost: the
    observed unit price min(l_extendedprice / l_quantity) per
    (part, supplier) from lineitem.  The Spark plan de-correlates with
    a window MIN over the part partition — ONE aggregate feeds both
    the per-pair cost and the per-part minimum, where the textbook
    correlated form would scan lineitem twice.  The part filter
    broadcast-semi-joins into the aggregate input so only qualifying
    parts are aggregated at all; supplier/nation are broadcast dims.
    The compare is on raw doubles: division and MIN are
    order-insensitive (no summation), so both engines see bit-equal
    costs — rounding happens only at output."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "SMALL") & (F.col("p_size") <= 10)
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cost = (
        li.join(F.broadcast(p.select("p_partkey", "p_name")),
                li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey", "p_partkey", "p_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
              .alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey")
    best = (
        cost.withColumn("part_min", F.min("unit_cost").over(w))
        .where(F.col("unit_cost") == F.col("part_min"))
    )
    return (
        best.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.round("unit_cost", 2).alias("best_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


@query(
    "q9_profit_by_nation_year",
    """
    SELECT n.n_name, year(o.o_orderdate) AS o_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, year(o.o_orderdate)
    ORDER BY n.n_name, o_year DESC
    """,
)
def q_q9_profit(spark, sf_dir):
    """TPC-H Q9-style (profit by supplier nation × order year).
    Stand-in for ps_supplycost: profit = revenue (the original's
    `- ps_supplycost * l_quantity` term has no source column).  Shape
    preserved: a 5-table snowflake where THREE dims broadcast (part
    filtered to ~1/6 by the name LIKE, supplier, nation) and the only
    shuffle is the lineitem⋈orders fact-fact join on orderkey — at
    scale that join rides the bucketed layout (sources/layout.py), so
    the plan is one scan each side, zero extra Exchange.

    The revenue sum is DECIMAL(18,4): float addition is
    order-sensitive and one of 175 groups flipped at the 2nd decimal
    between Spark's and DuckDB's aggregation orders; casting each
    row's (deterministic) double product to decimal makes the sum
    associative ⇒ bit-equal in any order."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(p.select("p_partkey")),
                li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o.select("o_orderkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                      .cast("decimal(18,4)")), 2
            ).cast("double").alias("profit")
        )
        .orderBy("n_name", F.desc("o_year"))
    )


@query(
    "q11_important_parts",
    """
    WITH val AS (
      SELECT l.l_partkey,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(18,4))) AS value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4')
      GROUP BY l.l_partkey
    ),
    tot AS (SELECT sum(value) AS total, count(*) AS nparts FROM val)
    SELECT l_partkey, CAST(round(value, 2) AS DOUBLE) AS value
    FROM val, tot
    WHERE value * nparts * 5 > total * 8
    ORDER BY value DESC, l_partkey
    """,
)
def q_q11_important_parts(spark, sf_dir):
    """TPC-H Q11-style (parts whose traded value exceeds a threshold
    derived from a scalar aggregate over the same derived table).
    Stand-ins: traded lineitem value from a 5-nation supplier bloc
    replaces partsupp stock value, and the cutoff is 1.6× the MEAN
    per-part value rather than TPC-H's `fraction/SF` — the part count
    grows with SF, so a fixed fraction-of-total is scale-DEPENDENT
    (0 rows at sf0.1, 275 at sf0.01); a multiple of the mean selects a
    stable tail at every SF.  The per-part aggregate is computed ONCE
    and Spark reuses its shuffle for both the 1-row scalar broadcast
    and the filter (ReusedExchange, as in q15).  All arithmetic is
    DECIMAL/integer and the compare is cross-multiplied
    (value·nparts·5 > total·8 ⟺ value > 1.6·mean) — exact in both
    engines, no float-order or division-rounding hazard."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin(*[f"NATION_{i}" for i in range(5)])
    )
    val = (
        li.join(F.broadcast(s.join(F.broadcast(n),
                                   F.col("s_nationkey") == F.col("n_nationkey"))
                             .select("s_suppkey")),
                li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                   .cast("decimal(18,4)")).alias("value"))
    )
    tot = val.agg(F.sum("value").alias("total"),
                  F.count("*").alias("nparts"))
    return (
        val.crossJoin(F.broadcast(tot))
        .where(F.col("value") * F.col("nparts") * 5 > F.col("total") * 8)
        .select("l_partkey",
                F.round("value", 2).cast("double").alias("value"))
        .orderBy(F.desc("value"), "l_partkey")
    )


@query(
    "q12_latency_priority",
    """
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                THEN 'FAST'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
                THEN 'MEDIUM' ELSE 'SLOW' END AS ship_band,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1 ORDER BY ship_band
    """,
)
def q_q12_latency_priority(spark, sf_dir):
    """TPC-H Q12-style (priority line counts per shipping class,
    CASE-sum pivot).  Stand-in for the missing l_shipmode: a derived
    ship-latency band (days between order and ship date).  All-integer
    arithmetic — datediff, CASE, SUM of 0/1 — bit-exact across
    engines.  The only shuffle is the fact-fact orderkey join; the
    3-row aggregate is map-side-combined to almost nothing."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    band = (
        F.when(lat <= 30, "FAST").when(lat <= 90, "MEDIUM").otherwise("SLOW")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.select("l_orderkey", "l_shipdate")
        .join(o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(band.alias("ship_band"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_band")
    )


@query(
    "q13_order_count_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderstatus <> 'P'
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_q13_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 (distribution of orders-per-customer, INCLUDING
    zero-order customers — the left outer join is the point).  The
    original excludes comment-matched orders so zeros exist; the
    trimmed schema has no o_comment, so pending ('P') orders are
    excluded instead — same shape: a filtered LEFT OUTER fact join
    where unmatched customers must survive with count 0, then a
    second tiny aggregate over the counts.  count(o_orderkey) (not
    count(*)) is what makes the null-extension row count as zero."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") != "P")
    per_cust = (
        c.select("c_custkey")
        .join(o.select("o_custkey", "o_orderkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q16_supplier_variety",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def q_q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16-style (count of distinct suppliers able to supply
    each part class, with a NOT IN supplier exclusion).  Stand-ins:
    lineitem is the part↔supplier bridge (no partsupp), and
    negative-balance suppliers replace the comment-matched
    complaints list.  The NOT IN is a broadcast LEFT ANTI join
    (the excluded-supplier list is tiny); part is a broadcast dim;
    the COUNT DISTINCT shuffles (brand,type,size,suppkey) once —
    Catalyst's two-phase distinct-aggregate expansion."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad = _t(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_brand",
                                     "p_type", "p_size")),
                li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"),
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "q20_excess_shippers",
    """
    WITH red_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
    ),
    shipped AS (
      SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS qty
      FROM lineitem l JOIN red_parts rp ON rp.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    dominant AS (
      SELECT DISTINCT s1.l_suppkey
      FROM shipped s1
      WHERE s1.qty > 0.25 * (SELECT sum(s2.qty) FROM shipped s2
                             WHERE s2.l_partkey = s1.l_partkey)
    )
    SELECT s.s_name, round(s.s_acctbal, 2) AS s_acctbal
    FROM supplier s JOIN dominant d ON d.l_suppkey = s.s_suppkey
    ORDER BY s.s_name
    """,
)
def q_q20_excess_shippers(spark, sf_dir):
    """TPC-H Q20-style (nested semi-join chain: parts-by-name →
    per-(part,supplier) quantity → threshold against a correlated
    per-part total → DISTINCT suppliers → semi-join supplier).
    Stand-in for ps_availqty > 0.5*sum(qty): a supplier "dominates" a
    red part if it shipped >25% of that part's 1996 volume.  Spark
    de-correlates the per-part total with a window SUM over the
    already-aggregated (part,supplier) rows — no second scan, no
    second shuffle (window key = groupBy prefix).  Quantities are
    integer-valued doubles: sums exact, threshold compare bit-stable."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    s = _t(spark, sf_dir, "supplier")
    shipped = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(p.select("p_partkey")),
              li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        shipped.withColumn("part_total", F.sum("qty").over(w))
        .where(F.col("qty") > 0.25 * F.col("part_total"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(dominant),
               F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


@query(
    "q21_sole_latest_supplier",
    """
    WITH f_lines AS (
      SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    per_order AS (
      SELECT l_orderkey,
             max(l_shipdate) AS last_ship,
             count(DISTINCT l_suppkey) AS n_supp
      FROM f_lines GROUP BY l_orderkey
    ),
    latest AS (
      SELECT DISTINCT f.l_orderkey, f.l_suppkey
      FROM f_lines f
      JOIN per_order p ON p.l_orderkey = f.l_orderkey
                      AND f.l_shipdate = p.last_ship
      WHERE p.n_supp > 1
    ),
    sole AS (
      SELECT l_orderkey, min(l_suppkey) AS l_suppkey
      FROM latest GROUP BY l_orderkey
      HAVING count(*) = 1
    )
    SELECT s.s_name, count(*) AS numwait
    FROM sole JOIN supplier s ON s.s_suppkey = sole.l_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
)
def q_q21_sole_latest_supplier(spark, sf_dir):
    """TPC-H Q21-style (suppliers who ALONE held up multi-supplier 'F'
    orders — the EXISTS other-supplier / NOT EXISTS other-late-supplier
    pair).  Stand-in for the missing receipt/commit dates: "late" = the
    order's max ship date; a supplier is counted when it is the SOLE
    supplier hitting that max on an order served by >1 suppliers.
    Spark expresses both (NOT) EXISTS probes as ONE per-order
    aggregate (max shipdate + distinct-supplier count) joined back —
    all three aggregates share the orderkey shuffle.  Dates and counts
    are exact; no float anywhere."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    f_lines = li.join(
        o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey")
    ).select("l_orderkey", "l_suppkey", "l_shipdate")
    per_order = f_lines.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )
    latest = (
        f_lines.join(
            per_order.where(F.col("n_supp") > 1),
            ["l_orderkey"],
        )
        .where(F.col("l_shipdate") == F.col("last_ship"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    sole = (
        latest.groupBy("l_orderkey")
        .agg(F.min("l_suppkey").alias("l_suppkey"),
             F.count("*").alias("_n"))
        .where(F.col("_n") == 1)
    )
    return (
        sole.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# §2.9 extension: ranked retrieval (BM25) — round 4
# ---------------------------------------------------------------------------

from lab3_spark.operators.retrieval import (  # noqa: E402
    bm25_top_docs,
    duck_bm25_ctes,
    duck_bm25_sql,
)


@query(
    "hybrid_retrieval_rrf",
    f"""
    WITH {duck_bm25_ctes(k=20, name="bm")},
    {_DUCK_VEC},
    dq AS (SELECT u AS uq FROM e WHERE vec_id = 0),
    dpairs AS (
      SELECT n.vec_id AS doc_id,
             ({_DUCK_DOT.format(a='uq', b='n.u')}) AS cos_raw
      FROM dq, e n WHERE n.vec_id != 0
    ),
    dn AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY cos_raw DESC, doc_id ASC) AS rnk
      FROM dpairs ORDER BY cos_raw DESC, doc_id ASC LIMIT 20
    ),
    f AS (
      SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
             CAST(coalesce(1000000 // (60 + b.rnk), 0)
                + coalesce(1000000 // (60 + d.rnk), 0) AS BIGINT) AS rrf
      FROM bm b FULL OUTER JOIN dn d ON b.doc_id = d.doc_id
    ),
    top AS (
      SELECT doc_id, rrf,
             CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC)
                  AS INTEGER) AS rnk
      FROM f ORDER BY rrf DESC, doc_id ASC LIMIT 10
    )
    SELECT doc_id, rrf, rnk FROM top ORDER BY rnk
    """,
)
def q_hybrid_retrieval_rrf(spark, sf_dir):
    """Hybrid lexical+dense retrieval fused by Reciprocal Rank Fusion
    (retrieval.hybrid_rrf): BM25 top-20 and cosine-ANN top-20 (query
    vector 0; vec_id ≡ doc_id, the embedding-dedup convention)
    combined as Σ floor(1e6/(60+rank)) — rank-only fusion needs no
    score calibration; the fusion join runs over two ≤20-row lists."""
    from lab3_spark.operators.retrieval import hybrid_rrf

    return hybrid_rrf(
        _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings")
    )


@query("bm25_top_docs", duck_bm25_sql())
def q_bm25_top_docs(spark, sf_dir):
    """BM25 top-15 for the fixed query {dup, vector, spark}
    (retrieval.bm25_top_docs): corpus stats reduce to ONE broadcast
    scalar row, per-doc tf is an array fold (no token explode/join),
    top-k is a TakeOrderedAndProject heap.  Per-term contributions are
    fixed-pointed before the integer per-doc sum, so the oracle hash
    matches bit-for-bit."""
    return bm25_top_docs(_t(spark, sf_dir, "documents"))


@query(
    "doc_ppl_buckets",
    f"""
    WITH {OR.duck_tokens_cte()},
    vocab AS (SELECT word AS term, count(*) AS cnt FROM toks GROUP BY word),
    n AS (SELECT sum(cnt) AS n_corpus FROM vocab),
    surprisal AS (
      SELECT term,
             CAST(floor(ln(CAST(n.n_corpus AS DOUBLE) / cnt) / ln(2)
                        * 1000000) AS BIGINT) AS s_fp
      FROM vocab CROSS JOIN n
    ),
    per_doc AS (
      SELECT t.id AS doc_id,
             CAST(sum(s.s_fp) // count(*) AS BIGINT) AS mean_surprisal_fp
      FROM toks t JOIN surprisal s ON t.word = s.term
      GROUP BY t.id
    ),
    bucketed AS (
      SELECT doc_id, mean_surprisal_fp,
             ntile(3) OVER (ORDER BY mean_surprisal_fp ASC, doc_id ASC) AS nt
      FROM per_doc
    )
    SELECT doc_id, mean_surprisal_fp,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS ppl_bucket
    FROM bucketed ORDER BY doc_id
    """,
)
def q_doc_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity thirds (TS.perplexity_buckets):
    the engine's own unigram-LM surprisal (bit-exact fixed point) fed
    through the distributed global-rank ntile — no unpartitioned
    window anywhere."""
    return TS.perplexity_buckets(_t(spark, sf_dir, "documents"))


@query(
    "token_budget_select",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS toks, length(text) AS n_chars,
             len({_DUCK_TOKS}) AS n_tokens
      FROM documents
    ),
    q AS (
      SELECT doc_id,
        floor((0.4 * least(n_tokens / 50.0, 1.0)
          + 0.3 * (1 - CASE WHEN n_chars > 0 THEN
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / n_chars
              ELSE 0.0 END)
          + 0.3 * (CASE WHEN n_tokens > 0 THEN
              len(list_distinct(toks)) / n_tokens ELSE 0.0 END))
          * 10000) / 10000 AS quality,
        CAST(n_tokens AS BIGINT) AS n_tokens
      FROM t
    ),
    c AS (
      SELECT doc_id, quality, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM q
    )
    SELECT doc_id, quality, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 10000 ORDER BY doc_id
    """,
)
def q_token_budget_select(spark, sf_dir):
    """Global token-budget selection (sampling.token_budget_select):
    best-quality-first prefix under a 10k-token budget, computed with
    the DISTRIBUTED prefix sum (rank.with_running_sum) instead
    of the single-partition ``sum() OVER (ORDER BY ...)`` window."""
    from lab3_spark.operators.sampling import token_budget_select

    return token_budget_select(_t(spark, sf_dir, "documents"))


@query(
    "source_mixing_weights",
    f"""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_DUCK_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    s AS (
      SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
                     AS BIGINT) AS s_fp
      FROM per
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
                   CAST(sum(s_fp) AS BIGINT) AS z FROM s)
    SELECT source, n_docs, n_tokens,
           floor((CAST(n_tokens AS DOUBLE) / tot_tokens) * 1000000)
             / 1000000 AS raw_share,
           floor((CAST(s_fp AS DOUBLE) / z) * 1000000) / 1000000
             AS mix_weight,
           floor(((CAST(s_fp AS DOUBLE) / z)
                  / (CAST(n_tokens AS DOUBLE) / tot_tokens)) * 10000)
             / 10000 AS boost
    FROM s CROSS JOIN tot ORDER BY source
    """,
)
def q_source_mixing_weights(spark, sf_dir):
    """Temperature-scaled (α=0.5) domain-mixture weights
    (sampling.source_mixing_weights): per-source token mass reduced in
    one combine-friendly agg, sqrt fixed-pointed per SOURCE so the
    normalizer is an integer sum — the data-mixing step of a
    pretraining pipeline, driver-checkable to the hash."""
    from lab3_spark.operators.sampling import source_mixing_weights

    return source_mixing_weights(_t(spark, sf_dir, "documents"))


@query(
    "events_sliding_10m",
    """
    WITH w AS (
      SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                     time_bucket(INTERVAL '5 minutes', ts)
                       - INTERVAL '5 minutes']) AS ws,
             event_type, value
      FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM w GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def q_events_sliding(spark, sf_dir):
    """Sliding 10-minute windows hopping every 5 (EV.sliding_counts):
    the window set is an in-row generator expression (overlap factor 2)
    feeding ONE combine-friendly hash agg — no self-join.  Oracle
    derives the same two aligned starts per event via unnest."""
    return EV.sliding_counts(_t(spark, sf_dir, "events"))


@query(
    "orders_rolling_7d_revenue",
    """
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS day_num,
             strftime(o_orderdate, '%Y-%m-%d') AS day,
             round(sum(o_totalprice), 2) AS revenue,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1, 2
    )
    SELECT day, revenue, n_orders,
           round(sum(revenue) OVER (ORDER BY day_num
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
             AS rev_7d,
           CAST(sum(n_orders) OVER (ORDER BY day_num
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS orders_7d
    FROM daily ORDER BY day
    """,
)
def q_orders_rolling_7d(spark, sf_dir):
    """7-day rolling revenue via a RANGE window frame over the daily
    aggregate (gaps in the calendar shrink the frame — RANGE, not
    ROWS).  The unpartitioned window runs over post-aggregation rows:
    one row per DATE, a dimension that stays metadata-scale no matter
    how many orders feed it (the events_daily_anomalies precedent), so
    the single-partition window is safe here by cardinality, not luck."""
    from pyspark.sql.window import Window

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day_num"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    w = Window.partitionBy(one_window_partition()).orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day",
        "revenue",
        "n_orders",
        F.round(F.sum("revenue").over(w), 2).alias("rev_7d"),
        F.sum("n_orders").over(w).cast("bigint").alias("orders_7d"),
    ).orderBy("day")


@query(
    "ann_pq_rerank",
    f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      FROM embeddings
    ),
    px AS (
      SELECT vec_id, generate_subscripts(xi, 1) - 1 AS pos, unnest(xi) AS val
      FROM v
    ),
    {_duck_pq_subspace_ctes(_KMEANS_K, _PQ_ITERS, 0, 32, "A")},
    {_duck_pq_subspace_ctes(_KMEANS_K, _PQ_ITERS, 32, 64, "B")},
    fA AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxA px JOIN cA{_PQ_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    gA AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM fA) t WHERE rn = 1
    ),
    fB AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxB px JOIN cB{_PQ_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    gB AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM fB) t WHERE rn = 1
    ),
    codes AS (
      SELECT a.vec_id, a.cl AS code_0, b.cl AS code_1
      FROM gA a JOIN gB b ON a.vec_id = b.vec_id
    ),
    dtA AS (
      SELECT px.vec_id AS query_id, c.cl AS code,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxA px JOIN cA{_PQ_ITERS} c ON px.pos = c.pos
      WHERE px.vec_id < 20 GROUP BY 1, 2
    ),
    dtB AS (
      SELECT px.vec_id AS query_id, c.cl AS code,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxB px JOIN cB{_PQ_ITERS} c ON px.pos = c.pos
      WHERE px.vec_id < 20 GROUP BY 1, 2
    ),
    adc_pairs AS (
      SELECT dA.query_id, c.vec_id AS neighbor_id,
             CAST(dA.dist + dB.dist AS BIGINT) AS adist
      FROM codes c
      JOIN dtA dA ON dA.code = c.code_0
      JOIN dtB dB ON dB.code = c.code_1 AND dB.query_id = dA.query_id
      WHERE c.vec_id != dA.query_id
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adist ASC, neighbor_id ASC) AS rnk
        FROM adc_pairs) t WHERE rnk <= 20
    ),
    exact AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(list_reduce(list_transform(range(1, len(q.xi) + 1),
                    i -> (q.xi[i] - n.xi[i]) * (q.xi[i] - n.xi[i])),
                  (a, b) -> a + b) AS BIGINT) AS dist
      FROM short s
      JOIN v q ON q.vec_id = s.query_id
      JOIN v n ON n.vec_id = s.neighbor_id
    ),
    reranked AS (
      SELECT query_id, neighbor_id, dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, neighbor_id ASC) AS rnk
      FROM exact
    )
    SELECT query_id, neighbor_id, dist, rnk
    FROM reranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_pq_rerank(spark, sf_dir):
    """Two-stage ANN (kmeans.ann_pq_rerank): PQ-ADC shortlists 20
    candidates per query from the compressed codes, exact integer L2
    reranks only the shortlist to top-5 — the IVFADC+rerank production
    shape, all-integer and bit-exact against the extended PQ oracle
    chain."""
    from lab3_spark.operators.kmeans import ann_pq_rerank

    return ann_pq_rerank(
        _t(spark, sf_dir, "embeddings"),
        m=2,
        k=_KMEANS_K,
        n_iter=_PQ_ITERS,
        dims=64,
    )


@query(
    "dedup_graph_triangles",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    e AS (SELECT doc_a AS x, doc_b AS y FROM cand),
    tri AS (
      SELECT e1.x AS a, e1.y AS b, e2.y AS c
      FROM e e1
      JOIN e e2 ON e2.x = e1.y
      JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
    ),
    tri_nodes AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
      GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT x AS node FROM e UNION ALL SELECT y FROM e)
      GROUP BY node
    )
    SELECT d.node AS doc_id, d.degree,
           CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
           floor((CASE WHEN d.degree > 1 THEN
                    2.0 * coalesce(t.n_tri, 0)
                      / (d.degree * (d.degree - 1))
                  ELSE 0.0 END) * 10000) / 10000 AS clustering
    FROM deg d LEFT JOIN tri_nodes t ON t.node = d.node
    ORDER BY n_tri DESC, doc_id ASC LIMIT 20
    """,
)
def q_dedup_graph_triangles(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient over
    the MinHash candidate graph (components.triangle_stats): dense
    (clustered) near-dup piles vs chained borderline matches.  Ordered
    -triple enumeration — two equi-joins, each triangle counted once."""
    from lab3_spark.operators.components import triangle_stats
    from lab3_spark.operators.dedup import minhash_candidates

    cands = minhash_candidates(_t(spark, sf_dir, "documents")).select(
        "doc_a", "doc_b"
    )
    return (
        triangle_stats(cands)
        .select(F.col("node").alias("doc_id"), "degree", "n_tri", "clustering")
        .orderBy(F.desc("n_tri"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "robust_quality_zscore",
    f"""
    WITH t AS (
      SELECT doc_id, source, text, {_DUCK_TOKS} AS toks,
             length(text) AS n_chars, len({_DUCK_TOKS}) AS n_tokens
      FROM documents
    ),
    q AS (
      SELECT doc_id, source,
        floor((0.4 * least(n_tokens / 50.0, 1.0)
          + 0.3 * (1 - CASE WHEN n_chars > 0 THEN
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / n_chars
              ELSE 0.0 END)
          + 0.3 * (CASE WHEN n_tokens > 0 THEN
              len(list_distinct(toks)) / n_tokens ELSE 0.0 END))
          * 10000) / 10000 AS quality
      FROM t
    ),
    r1 AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY quality, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM q
    ),
    med AS (
      SELECT source, sum(quality) / count(*) AS med
      FROM r1
      WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
      GROUP BY source
    ),
    d AS (
      SELECT q.doc_id, q.source, q.quality, m.med,
             abs(q.quality - m.med) AS dev
      FROM q JOIN med m ON q.source = m.source
    ),
    r2 AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY dev, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS n
      FROM d
    ),
    mad AS (
      SELECT source, sum(dev) / count(*) AS mad
      FROM r2
      WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
      GROUP BY source
    )
    SELECT d.doc_id, d.source, d.quality,
           floor(d.med * 10000) / 10000 AS med,
           floor(a.mad * 10000) / 10000 AS mad,
           floor((CASE WHEN a.mad > 0
                       THEN (d.quality - d.med) / a.mad
                       ELSE 0.0 END) * 10000) / 10000 AS robust_z
    FROM d JOIN mad a ON d.source = a.source
    ORDER BY doc_id
    """,
)
def q_robust_quality_zscore(spark, sf_dir):
    """Per-source median/MAD quality normalization
    (TS.robust_quality_zscore): exact distributed medians by the
    positional rule over source-PARTITIONED windows (no engine-native
    median whose interpolation could differ, no global window)."""
    return TS.robust_quality_zscore(_t(spark, sf_dir, "documents"))


@query(
    "orc_roundtrip_events",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
           user_id, event_type,
           floor(value * 10000) / 10000 AS value
    FROM events ORDER BY event_id
    """,
)
def q_orc_roundtrip(spark, sf_dir):
    """ORC sink → source round trip on the EVENTS table (timestamps +
    doubles — the types ORC encodes differently from parquet): written
    to a fresh directory per call, read back via ORC's embedded schema.
    The oracle reads the ORIGINAL parquet, so a green row proves the ORC
    path is lossless including microsecond timestamp precision (printed
    to micros on both sides)."""
    path = os.path.join(_scratch_dir("events_orc_"), "events")
    _t(spark, sf_dir, "events").write.orc(path)
    out = spark.read.orc(path)
    return out.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        "user_id",
        "event_type",
        (F.floor(F.col("value") * 10000) / 10000).alias("value"),
    ).orderBy("event_id")


@query(
    "events_value_histogram",
    """
    WITH nn AS (SELECT value FROM events WHERE value IS NOT NULL),
    stats AS (SELECT min(value) AS lo0, max(value) AS hi0 FROM nn),
    b AS (
      SELECT CASE WHEN hi0 = lo0 THEN 0
                  ELSE least(19, CAST(floor((value - lo0)
                         / ((hi0 - lo0) / 20)) AS INTEGER)) END AS bucket,
             lo0, hi0
      FROM nn CROSS JOIN stats
    )
    SELECT bucket,
           floor((lo0 + bucket * ((hi0 - lo0) / 20)) * 10000) / 10000 AS lo,
           floor((lo0 + (bucket + 1) * ((hi0 - lo0) / 20)) * 10000) / 10000
             AS hi,
           count(*) AS n_events
    FROM b GROUP BY bucket, lo0, hi0 ORDER BY bucket
    """,
)
def q_events_value_histogram(spark, sf_dir):
    """Dynamic-range 20-bin histogram (EV.value_histogram): the
    two-pass profile shape — metadata-scale min/max broadcast back,
    bucket assignment as a per-row expression into one combine-
    friendly agg.  Last bucket closed via least()."""
    return EV.value_histogram(_t(spark, sf_dir, "events"))


@query(
    "orders_priority_unpivot",
    """
    WITH wide AS (
      SELECT o_orderpriority,
             CAST(count(*) AS DOUBLE) AS n_orders,
             round(sum(o_totalprice), 2) AS total_price,
             floor(avg(o_totalprice) * 100) / 100 AS avg_price
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, metric, value FROM (
      SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM wide
      UNION ALL
      SELECT o_orderpriority, 'total_price', total_price FROM wide
      UNION ALL
      SELECT o_orderpriority, 'avg_price', avg_price FROM wide
    ) ORDER BY o_orderpriority, metric
    """,
)
def q_orders_priority_unpivot(spark, sf_dir):
    """UNPIVOT (wide → long): per-priority metrics melted to
    (priority, metric, value) rows via DataFrame.unpivot — the inverse
    of the pivot gate (`nation_status_pivot`).  Runs over the
    post-aggregation frame (#priorities rows), so the melt itself is
    metadata-scale; pivot/unpivot round-tripping is what makes the
    wide report and the long metric store the same data."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        (F.floor(F.avg("o_totalprice") * 100) / 100).alias("avg_price"),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["n_orders", "total_price", "avg_price"],
        "metric",
        "value",
    ).orderBy("o_orderpriority", "metric")


@query(
    "orders_scd_upsert",
    """
    WITH updates AS (
      SELECT o_orderkey, round(o_totalprice + 100.0, 2) AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    inserts AS (
      SELECT o_orderkey + 1000000000 AS o_orderkey,
             round(o_totalprice, 2) AS o_totalprice,
             'N' AS o_orderstatus
      FROM orders WHERE o_orderkey % 17 = 0
    ),
    changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts),
    kept AS (
      SELECT o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice,
             o.o_orderstatus
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM changes c
                        WHERE c.o_orderkey = o.o_orderkey)
    )
    SELECT * FROM kept UNION ALL SELECT * FROM changes
    ORDER BY o_orderkey
    """,
)
def q_orders_scd_upsert(spark, sf_dir):
    """MERGE/upsert emulation on plain parquet (no lakehouse format):
    apply a deterministic change batch (updates for keys %10, inserts
    with offset keys for %17) as LEFT-ANTI(target, changes) ∪ changes —
    the standard open-Spark upsert shape.  The anti-join broadcasts
    the (small) change batch; at 100 TB the rewrite cost is bounded by
    partition pruning on the join key range, which is why real
    pipelines pair this with the partitioned/bucketed layouts gated in
    sources/layout.py."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    updates = o.where(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") + 100.0, 2).alias("o_totalprice"),
        "o_orderstatus",
    )
    inserts = o.where(F.col("o_orderkey") % 17 == 0).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
    )
    changes = updates.unionAll(inserts)
    kept = o.join(
        F.broadcast(changes.select("o_orderkey")), "o_orderkey", "left_anti"
    ).select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderstatus",
    )
    return kept.unionAll(changes).orderBy("o_orderkey")


@query(
    "per_source_token_budget",
    f"""
    WITH t AS (
      SELECT doc_id, source, text, {_DUCK_TOKS} AS toks,
             length(text) AS n_chars, len({_DUCK_TOKS}) AS n_tokens
      FROM documents
    ),
    q AS (
      SELECT doc_id, source,
        floor((0.4 * least(n_tokens / 50.0, 1.0)
          + 0.3 * (1 - CASE WHEN n_chars > 0 THEN
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / n_chars
              ELSE 0.0 END)
          + 0.3 * (CASE WHEN n_tokens > 0 THEN
              len(list_distinct(toks)) / n_tokens ELSE 0.0 END))
          * 10000) / 10000 AS quality,
        CAST(n_tokens AS BIGINT) AS n_tokens
      FROM t
    ),
    c AS (
      SELECT source, doc_id, quality, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source
                  ORDER BY quality DESC, doc_id ASC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM q
    )
    SELECT source, doc_id, quality, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 500 ORDER BY source, doc_id
    """,
)
def q_per_source_token_budget(spark, sf_dir):
    """Per-source quota selection (sampling.per_source_token_budget):
    each domain independently fills a 500-token budget best-quality
    first — a source-partitioned window, the stratified complement of
    the global-budget gate."""
    from lab3_spark.operators.sampling import per_source_token_budget

    return per_source_token_budget(_t(spark, sf_dir, "documents"))


@query(
    "dedup_cluster_representatives",
    f"""
    WITH RECURSIVE {_DUCK_MINHASH_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    pr_edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    pr_deg AS (SELECT src, count(*) AS deg FROM pr_edges GROUP BY src),
    pr_edeg AS (
      SELECT e.src, e.dst, d.deg FROM pr_edges e JOIN pr_deg d ON e.src = d.src
    ),
    pr_nodes AS (SELECT DISTINCT src AS node FROM pr_edges),
    r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_fp FROM pr_nodes),
    {_duck_pagerank_iters(_PAGERANK_ITERS)},
    ranked AS (
      SELECT c.cluster_id, c.doc_id, r.rank_fp,
             count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY r.rank_fp DESC, c.doc_id ASC) AS rn
      FROM comp c JOIN r{_PAGERANK_ITERS} r ON r.node = c.doc_id
    )
    SELECT cluster_id, doc_id AS rep_doc_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           rank_fp AS rep_rank_fp
    FROM ranked WHERE rn = 1 ORDER BY cluster_id
    """,
)
def q_dedup_cluster_representatives(spark, sf_dir):
    """The graph-ops capstone: per near-dup CLUSTER (connected
    components over the MinHash candidate graph), keep the
    BEST-CONNECTED document — representative = max fixed-point
    PageRank, tie → min doc_id.  This is the selection rule the
    pagerank gate's docstring promises ("representatives chosen by
    connectivity rather than min-id"), now an oracle-checked operator:
    both iterative results join on node, one partitioned window picks
    the winner.  All-bigint ranks, so the composed recursive-CTE +
    unrolled-iteration oracle matches bit-for-bit."""
    from pyspark.sql.window import Window

    from lab3_spark.functions.partitioning import scoped
    from lab3_spark.operators.components import connected_components
    from lab3_spark.operators.dedup import minhash_candidates
    from lab3_spark.operators.pagerank import pagerank_fixed_point, symmetrize

    # BOTH iterative consumers (components, pagerank) re-read the
    # candidate frame many times; one bounded persist shares the
    # LSH banding pass instead of recomputing it per branch
    cands = scoped(minhash_candidates(_t(spark, sf_dir, "documents")))
    comps = connected_components(cands, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    ranks = pagerank_fixed_point(
        symmetrize(cands), n_iter=_PAGERANK_ITERS, input_from_symmetrize=True
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("rank_fp"), F.asc("doc_id")
    )
    return (
        comps.join(ranks, comps.doc_id == ranks.node)
        .withColumn(
            "cluster_size",
            F.count("*").over(Window.partitionBy("cluster_id")).cast("bigint"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            "cluster_size",
            F.col("rank_fp").alias("rep_rank_fp"),
        )
        .orderBy("cluster_id")
    )


@query(
    "weighted_sample_docs",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_TOKS} AS toks, length(text) AS n_chars,
             len({_DUCK_TOKS}) AS n_tokens
      FROM documents
    ),
    q AS (
      SELECT doc_id,
        CAST(floor((0.4 * least(n_tokens / 50.0, 1.0)
          + 0.3 * (1 - CASE WHEN n_chars > 0 THEN
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / n_chars
              ELSE 0.0 END)
          + 0.3 * (CASE WHEN n_tokens > 0 THEN
              len(list_distinct(toks)) / n_tokens ELSE 0.0 END))
          * 10000) + 1 AS BIGINT) AS quality_fp
      FROM t
    ),
    pri AS (
      SELECT doc_id, quality_fp,
             CAST((quality_fp * CAST({1 << 48} AS BIGINT))
                  // (({_h2l("substr(md5(concat('sps', '|', CAST(doc_id AS VARCHAR))), 1, 15)")}
                       % {1 << 30}) + 1) AS BIGINT) AS priority
      FROM q
    )
    SELECT doc_id, quality_fp, priority,
           CAST(row_number() OVER (ORDER BY priority DESC, doc_id ASC)
                AS INTEGER) AS rnk
    FROM pri ORDER BY priority DESC, doc_id ASC LIMIT 50
    """,
)
def q_weighted_sample_docs(spark, sf_dir):
    """Sequential Poisson weighted sampling (Ohlsson 1998):
    quality-proportional without-replacement top-n by the ALL-INTEGER
    priority w_fp·2^48 div (h30+1) — deterministic, reproducible, and
    bit-exact against the oracle (sampling.weighted_sample_docs)."""
    from lab3_spark.operators.sampling import weighted_sample_docs

    return weighted_sample_docs(_t(spark, sf_dir, "documents"))


@query(
    "multimodal_byte_chunks",
    """
    WITH m AS (SELECT doc_id, text FROM documents WHERE length(text) > 0),
    c AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, CAST(ceil(length(text) / 64.0) AS BIGINT)),
               i -> struct_pack(
                 chunk_idx := i,
                 n_bytes := least(64, length(text) - i * 64),
                 chunk_md5 := md5(substr(text, CAST(i * 64 + 1 AS INTEGER), 64))
               ))) AS ch
      FROM m
    )
    SELECT doc_id, ch.chunk_idx AS chunk_idx,
           CAST(ch.n_bytes AS BIGINT) AS n_bytes,
           ch.chunk_md5 AS chunk_md5
    FROM c ORDER BY doc_id, chunk_idx
    """,
)
def q_multimodal_byte_chunks(spark, sf_dir):
    """Fixed-64-byte chunking of opaque media blobs with per-chunk
    md5 (multimodal.byte_chunks): in-row explode, no shuffle, no
    decode — the storage/transfer chunking step.  The synthetic blobs
    are utf-8 of ASCII text, so the oracle's char-slice md5 equals the
    byte-slice md5 exactly."""
    from lab3_spark.operators.multimodal import attach_media, byte_chunks

    return byte_chunks(attach_media(_t(spark, sf_dir, "documents")))


@query(
    "dedup_method_agreement",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    efp AS (
      SELECT doc_id,
             md5(array_to_string(regexp_extract_all(lower(text),
                 {OR.DUCK_TOKEN_REGEX}), ' ')) AS fp
      FROM documents
    ),
    exact_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM efp a JOIN efp b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    stc AS (
      SELECT doc_id, tok, count(*) AS cnt,
             {_h2l("substr(md5(tok), 1, 15)")} AS h
      FROM (SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX})) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ),
    sperbit AS (
      SELECT doc_id, bit, sum(cnt * (2 * ((h >> bit) & 1) - 1)) AS s
      FROM stc, (SELECT unnest(range(0, 60)) AS bit) bits
      GROUP BY doc_id, bit
    ),
    ssigs AS (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END) AS sig
      FROM sperbit GROUP BY doc_id
    ),
    schunks AS (
      SELECT doc_id, sig, c, (sig >> (c * 15)) & 32767 AS chunk
      FROM ssigs, (SELECT unnest(range(0, 4)) AS c) cs
    ),
    sim_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM schunks a
      JOIN schunks b ON a.c = b.c AND a.chunk = b.chunk
                    AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ),
    tagged AS (
      SELECT doc_a, doc_b, 1 AS e, 0 AS m, 0 AS s FROM exact_pairs
      UNION ALL
      SELECT doc_a, doc_b, 0, 1, 0 FROM cand
      UNION ALL
      SELECT doc_a, doc_b, 0, 0, 1 FROM sim_pairs
    ),
    flags AS (
      SELECT doc_a, doc_b,
             max(e) AS in_exact, max(m) AS in_minhash, max(s) AS in_simhash
      FROM tagged GROUP BY doc_a, doc_b
    )
    SELECT CAST(in_exact AS INTEGER) AS in_exact,
           CAST(in_minhash AS INTEGER) AS in_minhash,
           CAST(in_simhash AS INTEGER) AS in_simhash,
           count(*) AS n_pairs
    FROM flags GROUP BY 1, 2, 3
    ORDER BY in_exact DESC, in_minhash DESC, in_simhash DESC
    """,
)
def q_dedup_method_agreement(spark, sf_dir):
    """Curator meta-analysis: the AGREEMENT MATRIX of three dedup
    methods — exact fingerprints, MinHash-LSH candidates, SimHash
    hamming≤3 — as pair counts per membership combination.  Answers
    "which pairs does each method see that the others miss" (exact ⊂
    near-dup in principle; LSH-vs-SimHash disagreement is the
    borderline band worth human review).  One tagged union + two small
    aggs over the three already-gated pair generators; each pair set
    is computed by the SAME operators its own gate checks."""
    from lab3_spark.operators.dedup import (
        minhash_candidates,
        simhash_near_pairs,
    )
    from lab3_spark.operators.textstats import fingerprint

    docs = _t(spark, sf_dir, "documents")
    fp = fingerprint(docs)
    a, b = fp.alias("a"), fp.alias("b")
    exact_pairs = a.join(
        b,
        (F.col("a.fp") == F.col("b.fp"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    mh = minhash_candidates(docs).select("doc_a", "doc_b")
    sim = simhash_near_pairs(docs).select("doc_a", "doc_b")

    def tag(df, e, m, s):
        return df.select(
            "doc_a",
            "doc_b",
            F.lit(e).alias("e"),
            F.lit(m).alias("m"),
            F.lit(s).alias("s"),
        )

    tagged = (
        tag(exact_pairs, 1, 0, 0)
        .unionAll(tag(mh, 0, 1, 0))
        .unionAll(tag(sim, 0, 0, 1))
    )
    return (
        tagged.groupBy("doc_a", "doc_b")
        .agg(
            F.max("e").alias("in_exact"),
            F.max("m").alias("in_minhash"),
            F.max("s").alias("in_simhash"),
        )
        .groupBy("in_exact", "in_minhash", "in_simhash")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(
            F.desc("in_exact"), F.desc("in_minhash"), F.desc("in_simhash")
        )
    )


@query(
    "doc_bigram_surprisal",
    f"""
    WITH tt AS (
      SELECT doc_id, regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> array_to_string(t[i:i+1], ' '))) AS bg
      FROM tt WHERE len(t) >= 2
    ),
    bgc AS (
      SELECT bg, count(*) AS cnt_bg, string_split(bg, ' ')[1] AS w1
      FROM g GROUP BY bg
    ),
    ctx AS (SELECT w1, sum(cnt_bg) AS cnt_ctx FROM bgc GROUP BY w1),
    surp AS (
      SELECT bg,
             CAST(floor(ln(CAST(c.cnt_ctx AS DOUBLE) / b.cnt_bg) / ln(2)
                        * 1000000) AS BIGINT) AS s_fp
      FROM bgc b JOIN ctx c ON b.w1 = c.w1
    )
    SELECT g.doc_id, count(*) AS n_bigrams,
           CAST(sum(s.s_fp) // count(*) AS BIGINT) AS mean_surprisal_fp
    FROM g JOIN surp s ON g.bg = s.bg
    GROUP BY g.doc_id ORDER BY doc_id
    """,
)
def q_doc_bigram_surprisal(spark, sf_dir):
    """Corpus-bigram-LM conditional surprisal per doc
    (TS.bigram_surprisal): −log2 P(w_i | w_{i−1}) under the corpus's
    own Markov chain — the perplexity-style signal one order up from
    the unigram gate; fixed-pointed per DISTINCT bigram before integer
    per-doc sums, bit-exact."""
    return TS.bigram_surprisal(_t(spark, sf_dir, "documents"))


@query(
    "events_top_type_per_hour",
    """
    WITH hourly AS (
      SELECT strftime(time_bucket(INTERVAL '1 hour', ts),
                      '%Y-%m-%d %H:00:00') AS hour,
             event_type, count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT hour, event_type, n_events,
             row_number() OVER (PARTITION BY hour
               ORDER BY n_events DESC, event_type ASC) AS rn
      FROM hourly
    )
    SELECT hour, event_type, n_events
    FROM ranked WHERE rn = 1 ORDER BY hour
    """,
)
def q_events_top_type_per_hour(spark, sf_dir):
    """Grouped top-1 per time bucket: the dominant event type each
    hour.  The rank window runs over the POST-aggregation hourly frame
    and is PARTITIONED by hour — both cardinalities stay bounded no
    matter how many raw events feed them (one combine-friendly agg +
    one keyed window, no global sort)."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
            "hour"
        ),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    w = Window.partitionBy("hour").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        hourly.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("hour", "event_type", "n_events")
        .orderBy("hour")
    )


@query(
    "dedup_rate_by_source",
    f"""
    WITH fp AS (
      SELECT doc_id, source,
             md5(array_to_string(regexp_extract_all(lower(text),
                 {OR.DUCK_TOKEN_REGEX}), ' ')) AS fp
      FROM documents
    ),
    flagged AS (
      SELECT source,
             CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY fp)
                  THEN 1 ELSE 0 END AS is_dup
      FROM fp
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup) AS BIGINT) AS n_dups,
           floor((CAST(sum(is_dup) AS DOUBLE) / count(*)) * 10000) / 10000
             AS dup_rate
    FROM flagged GROUP BY source ORDER BY source
    """,
)
def q_dedup_rate_by_source(spark, sf_dir):
    """Curator dashboard number: per-SOURCE exact-duplicate rates
    (min-id survivor rule) — which domains are bloated with copies
    before any pruning.  One fingerprint scan + two combinable aggs
    (per-fp representative via min(struct), per-source counts) — no
    window, no fact-scale join."""
    from lab3_spark.operators.textstats import fingerprint

    docs = _t(spark, sf_dir, "documents")
    fp = fingerprint(docs).join(docs.select("doc_id", "source"), "doc_id")
    # skew-immune AND join-free (optimization round 12, guide §2.5):
    # every fp group has exactly one representative (its min doc_id),
    # so n_dups(source) = n_docs(source) − #representatives(source).
    # min(struct(doc_id, source)) carries the representative's source
    # through ONE combinable agg — the former fp-partitioned window
    # landed hot fingerprints on one task AND re-shuffled the corpus;
    # this shape never joins at fact scale at all.
    reps = (
        fp.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "source")).alias("_rep"))
        .groupBy(F.col("_rep.source").alias("source"))
        .agg(F.count("*").cast("bigint").alias("n_reps"))
    )
    return (
        fp.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .join(reps, "source", "left")
        .withColumn(
            "n_dups",
            (F.col("n_docs") - F.coalesce("n_reps", F.lit(0))).cast("bigint"),
        )
        .select(
            "source",
            "n_docs",
            "n_dups",
            (F.floor(F.col("n_dups").cast("double") / F.col("n_docs") * 10000) / 10000).alias(
                "dup_rate"
            ),
        )
        .orderBy("source")
    )


@query(
    "events_by_customer_segment",
    """
    SELECT c.c_mktsegment AS mktsegment,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           count(*) AS n_events,
           CAST(sum(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1 ORDER BY mktsegment
    """,
)
def q_events_by_customer_segment(spark, sf_dir):
    """Behavioral × relational join: the event stream keyed to the
    customer dimension (user_id == c_custkey by the testdata's design)
    and rolled up per market segment — the cross-domain enrichment a
    warehouse does constantly.  The dimension side broadcasts (tiny);
    the fact side shuffles once for the segment agg."""
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        ev.join(F.broadcast(c), ev.user_id == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count("*").alias("n_events"),
            F.sum((F.col("event_type") == "purchase").cast("int"))
            .cast("bigint")
            .alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("mktsegment")
    )


@query(
    "streaming_curated_ingest",
    f"""
    WITH {_DUCK_GOPHER_CTES},
    gp AS (SELECT doc_id FROM gf WHERE {_DUCK_GOPHER_PASS}),
    fps AS (
      SELECT d.doc_id, d.doc_id % 3 AS b,
             md5(array_to_string({_DUCK_TOKS}, ' ')) AS fp
      FROM documents d JOIN gp USING (doc_id)
    ),
    first_b AS (SELECT fp, min(b) AS batch_id FROM fps GROUP BY fp)
    SELECT min(f.doc_id) AS doc_id, f.fp AS fp,
           CAST(fb.batch_id AS BIGINT) AS batch_id
    FROM fps f JOIN first_b fb ON f.fp = fb.fp AND f.b = fb.batch_id
    GROUP BY f.fp, fb.batch_id
    ORDER BY f.fp
    """,
)
def q_streaming_curated_ingest(spark, sf_dir):
    """The streaming CURATION capstone: quality gate + dedup at
    ingest time, as a real StreamingQuery.  Each micro-batch is
    Gopher-rule filtered (textstats.gopher_quality — rejects never
    reach the store or cost an anti-join probe) BEFORE the
    fingerprint-store dedup; the accepted store must hold exactly one
    PASSING doc per fingerprint, min doc_id within the earliest batch
    where that fingerprint passed.  The oracle states the whole
    accept predicate in SQL over the batch table — streaming with all
    data available must equal it."""

    def keep_quality(batch):
        from lab3_spark.operators.textstats import gopher_quality

        passing = (
            gopher_quality(batch).where("gopher_pass").select("doc_id")
        )
        return batch.join(passing, "doc_id")

    return _run_incremental_ingest(
        spark, sf_dir, "stream_curated_", pre_filter=keep_quality
    )


@query(
    "benchmark_decontamination",
    """
    WITH t AS (SELECT doc_id, """
    + _DUCK_TOKS
    + """ AS toks FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(range(1, len(toks) - 3),
                            i -> array_to_string(toks[i:i+4], ' ')) AS gs
      FROM t
    ),
    bench AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 97 = 0),
    train AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 97 != 0),
    hits AS (
      SELECT doc_id, CAST(count(DISTINCT gram) AS BIGINT) AS n_hit_grams
      FROM train WHERE gram IN (SELECT gram FROM bench)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(h.n_hit_grams, 0) AS n_hit_grams,
           CAST(coalesce(h.n_hit_grams, 0) > 0 AS BIGINT) AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 != 0) d
    LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_benchmark_decontamination(spark, sf_dir):
    """Benchmark decontamination (operators/textstats.py): the corpus
    split into a train side and a deterministic 'eval' side
    (doc_id % 97 == 0 — standing in for the fixed benchmark suite a
    production pipeline guards), every train doc flagged by 5-gram
    collision with any eval doc.  The eval side's distinct gram set
    BROADCASTS — the corpus scan is one explode + broadcast semi-join,
    never a corpus-side shuffle — the shape that holds when the corpus
    is 100 TB and the benchmark is MMLU-sized."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    from lab3_spark.operators.textstats import benchmark_decontaminate

    return benchmark_decontaminate(train, bench).orderBy("doc_id")


@query(
    "doc_bpe_token_counts",
    """
    SELECT doc_id,
           CASE WHEN len(trim(text)) > 0
                THEN len(regexp_extract_all(trim(text), '\\S+'))
                ELSE 0 END AS n_ws_tokens,
           len(regexp_extract_all(lower(text),
               $$'s|'t|'re|'ve|'m|'ll|'d|[a-z]+|[0-9]+|[^a-z0-9\\s']+$$))
             AS n_bpe_tokens,
           CASE WHEN len(regexp_extract_all(lower(text),
               $$'s|'t|'re|'ve|'m|'ll|'d|[a-z]+|[0-9]+|[^a-z0-9\\s']+$$)) > 0
                THEN floor(CAST(len(text) AS DOUBLE)
                     / len(regexp_extract_all(lower(text),
                       $$'s|'t|'re|'ve|'m|'ll|'d|[a-z]+|[0-9]+|[^a-z0-9\\s']+$$))
                     * 10000) / 10000
                ELSE 0.0 END AS chars_per_bpe
    FROM documents ORDER BY doc_id
    """,
)
def q_doc_bpe_token_counts(spark, sf_dir):
    """BPE-ish token counting (operators/textstats.py): documents
    priced in pre-tokenizer tokens (contractions / letter runs /
    digit runs / punctuation runs — the GPT-2 pre-tokenization shape)
    vs naive whitespace counts.  Pure per-doc expressions, zero
    shuffles; the ASCII-restricted regex evaluates byte-identically
    under Java regex and RE2, so the oracle shares the pattern."""
    from lab3_spark.operators.textstats import bpe_token_counts

    return bpe_token_counts(_t(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "doc_winnowing_fingerprints",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(range(1, len(toks) - 1),
               i -> {_H2L.format(h="md5(array_to_string(toks[i:i+2], ' '))[1:15]")})
               AS hs
      FROM t
    ),
    w AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= 4 THEN
               list_distinct(list_transform(range(1, len(hs) - 2),
                             i -> list_min(hs[i:i+3])))
             WHEN len(hs) >= 1 THEN [list_min(hs)]
             ELSE [] END AS fps
      FROM h
    )
    SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp
    FROM w ORDER BY doc_id, fp
    """,
)
def q_doc_winnowing_fingerprints(spark, sf_dir):
    """Winnowing rolling-hash fingerprints (operators/textstats.py):
    the MOSS selection scheme — token 3-gram hashes, 4-hash window
    minima, distinct survivors — any shared run of ≥ 6 tokens shares
    a fingerprint while only ~2/(w+1) of hashes are kept.  All in-row
    array expressions over the portable 60-bit md5 fold; the oracle
    recomputes the exact integers."""
    from lab3_spark.operators.textstats import winnowing_fingerprints

    return winnowing_fingerprints(_t(spark, sf_dir, "documents")).orderBy(
        "doc_id", "fp"
    )


@query(
    "dedup_winnowing",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(range(1, len(toks) - 1),
               i -> {_H2L.format(h="md5(array_to_string(toks[i:i+2], ' '))[1:15]")})
               AS hs
      FROM t
    ),
    w AS (
      SELECT doc_id,
             CASE WHEN len(hs) >= 4 THEN
               list_distinct(list_transform(range(1, len(hs) - 2),
                             i -> list_min(hs[i:i+3])))
             WHEN len(hs) >= 1 THEN [list_min(hs)]
             ELSE [] END AS fps
      FROM h
    ),
    fpd AS (
      SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM w
    ),
    ok AS (
      SELECT fp FROM fpd GROUP BY fp HAVING count(*) <= 50
    ),
    fx AS (SELECT f.doc_id, f.fp FROM fpd f JOIN ok USING (fp)),
    pr AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM fx a JOIN fx b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared FROM pr
    WHERE n_shared >= 2 ORDER BY doc_a, doc_b
    """,
)
def q_dedup_winnowing(spark, sf_dir):
    """MOSS-style substring-level near-dup candidates (textstats.
    winnowing_candidates): pairs sharing ≥ 2 winnowing fingerprints —
    the LSH-candidate equi-join pattern over the positional sketch,
    degenerate fingerprints capped at 50 docs; the fingerprint scan is
    `doc_winnowing_fingerprints`'s."""
    from lab3_spark.operators.textstats import winnowing_candidates

    return winnowing_candidates(_t(spark, sf_dir, "documents"))


@query(
    "ann_ivf_pq_top5",
    f"""
    WITH {_duck_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS)},
    cd AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM px JOIN c{_KMEANS_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    cellm AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM cd) t WHERE rn = 1
    ),
    pQ AS (
      SELECT vec_id AS query_id, cl AS qcl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM cd) t
      WHERE rn <= 2 AND vec_id < 20
    ),
    {_duck_pq_subspace_ctes(_KMEANS_K, _PQ_ITERS, 0, 32, "A")},
    {_duck_pq_subspace_ctes(_KMEANS_K, _PQ_ITERS, 32, 64, "B")},
    fA AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxA px JOIN cA{_PQ_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    gA AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM fA) t WHERE rn = 1
    ),
    fB AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxB px JOIN cB{_PQ_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    gB AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM fB) t WHERE rn = 1
    ),
    pcodes AS (
      SELECT a.vec_id, a.cl AS code_0, b.cl AS code_1
      FROM gA a JOIN gB b ON a.vec_id = b.vec_id
    ),
    dtA AS (
      SELECT px.vec_id AS query_id, c.cl AS code,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxA px JOIN cA{_PQ_ITERS} c ON px.pos = c.pos
      WHERE px.vec_id < 20 GROUP BY 1, 2
    ),
    dtB AS (
      SELECT px.vec_id AS query_id, c.cl AS code,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxB px JOIN cB{_PQ_ITERS} c ON px.pos = c.pos
      WHERE px.vec_id < 20 GROUP BY 1, 2
    ),
    ipairs AS (
      SELECT p.query_id, n.vec_id AS neighbor_id,
             CAST(dA.dist + dB.dist AS BIGINT) AS adist
      FROM pQ p
      JOIN cellm n ON n.cl = p.qcl
      JOIN pcodes c ON c.vec_id = n.vec_id
      JOIN dtA dA ON dA.code = c.code_0 AND dA.query_id = p.query_id
      JOIN dtB dB ON dB.code = c.code_1 AND dB.query_id = p.query_id
      WHERE n.vec_id != p.query_id
    ),
    iranked AS (
      SELECT query_id, neighbor_id, adist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adist ASC, neighbor_id ASC) AS rnk
      FROM ipairs
    )
    SELECT query_id, neighbor_id, adist, rnk
    FROM iranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_ivf_pq(spark, sf_dir):
    """IVF-PQ — the production ANN composite (kmeans.ann_ivf_pq):
    trained coarse cells restrict each query to its nprobe=2 nearest
    cells' members; ranking inside the candidates is PQ asymmetric
    distance over the shared compressed codes.  All-integer end to
    end; the oracle composes the same coarse-Lloyd, probe, and
    per-subspace-Lloyd CTE chains the ivf/pq gates already verify."""
    from lab3_spark.operators.kmeans import ann_ivf_pq

    return ann_ivf_pq(
        _t(spark, sf_dir, "embeddings"),
        pq_k=_KMEANS_K,
        pq_iter=_PQ_ITERS,
        coarse_k=_KMEANS_K,
        coarse_iter=_KMEANS_ITERS,
        nprobe=2,
    )


def _duck_ivfpq_residual_ctes() -> str:
    """The full residual-IVF-PQ oracle chain through ``iranked``:
    coarse Lloyd → cell/probe assignment → residual CTE (``rpx``) →
    per-subspace Lloyd over residuals → per-probed-cell query distance
    tables → candidate ADC ranking.  Shared by the residual gate and
    its exact-rerank extension."""
    return f"""
    {_duck_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS)},
    cd AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM px JOIN c{_KMEANS_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    cellm AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM cd) t WHERE rn = 1
    ),
    pQ AS (
      SELECT vec_id AS query_id, cl AS qcl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM cd) t
      WHERE rn <= 2 AND vec_id < 20
    ),
    rpx AS (
      SELECT px.vec_id, px.pos, px.val - c.c AS val
      FROM px
      JOIN cellm m ON px.vec_id = m.vec_id
      JOIN c{_KMEANS_ITERS} c ON c.cl = m.cl AND c.pos = px.pos
    ),
    {_duck_pq_subspace_ctes(_KMEANS_K, _PQ_ITERS, 0, 32, "A", src="rpx")},
    {_duck_pq_subspace_ctes(_KMEANS_K, _PQ_ITERS, 32, 64, "B", src="rpx")},
    fA AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxA px JOIN cA{_PQ_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    gA AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM fA) t WHERE rn = 1
    ),
    fB AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM pxB px JOIN cB{_PQ_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    gB AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM fB) t WHERE rn = 1
    ),
    pcodes AS (
      SELECT a.vec_id, a.cl AS code_0, b.cl AS code_1
      FROM gA a JOIN gB b ON a.vec_id = b.vec_id
    ),
    qres AS (
      SELECT p.query_id, p.qcl AS cl, px.pos, px.val - c.c AS val
      FROM pQ p
      JOIN px ON px.vec_id = p.query_id
      JOIN c{_KMEANS_ITERS} c ON c.cl = p.qcl AND c.pos = px.pos
    ),
    dtA AS (
      SELECT q.query_id, q.cl, c.cl AS code,
             CAST(sum((q.val - c.c) * (q.val - c.c)) AS BIGINT) AS dist
      FROM qres q JOIN cA{_PQ_ITERS} c ON q.pos = c.pos
      GROUP BY 1, 2, 3
    ),
    dtB AS (
      SELECT q.query_id, q.cl, c.cl AS code,
             CAST(sum((q.val - c.c) * (q.val - c.c)) AS BIGINT) AS dist
      FROM qres q JOIN cB{_PQ_ITERS} c ON q.pos = c.pos
      GROUP BY 1, 2, 3
    ),
    ipairs AS (
      SELECT p.query_id, n.vec_id AS neighbor_id,
             CAST(dA.dist + dB.dist AS BIGINT) AS adist
      FROM pQ p
      JOIN cellm n ON n.cl = p.qcl
      JOIN pcodes c ON c.vec_id = n.vec_id
      JOIN dtA dA ON dA.query_id = p.query_id AND dA.cl = p.qcl
                 AND dA.code = c.code_0
      JOIN dtB dB ON dB.query_id = p.query_id AND dB.cl = p.qcl
                 AND dB.code = c.code_1
      WHERE n.vec_id != p.query_id
    ),
    iranked AS (
      SELECT query_id, neighbor_id, adist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adist ASC, neighbor_id ASC) AS rnk
      FROM ipairs
    )"""


@query(
    "ann_ivfpq_residual_top5",
    f"""
    WITH {_duck_ivfpq_residual_ctes()}
    SELECT query_id, neighbor_id, adist, rnk
    FROM iranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_ivfpq_residual(spark, sf_dir):
    """Residual-quantized IVF-PQ — the full FAISS IVFPQ composite
    (kmeans.ann_ivf_pq_residual): PQ codebooks trained on residuals
    (vector − coarse-cell centroid), query distance tables computed
    per probed cell against the query's own residual.  All-integer;
    the oracle chains the coarse CTEs into a residual CTE and points
    the per-subspace Lloyd generator at it (``src="rpx"``)."""
    from lab3_spark.operators.kmeans import ann_ivf_pq_residual

    return ann_ivf_pq_residual(
        _t(spark, sf_dir, "embeddings"),
        pq_k=_KMEANS_K,
        pq_iter=_PQ_ITERS,
        coarse_k=_KMEANS_K,
        coarse_iter=_KMEANS_ITERS,
        nprobe=2,
    )


@query(
    "ann_ivfpq_recall",
    f"""
    WITH {_duck_ivfpq_residual_ctes()},
    ipq AS (
      SELECT query_id, neighbor_id FROM iranked WHERE rnk <= 5
    ),
    bfpairs AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             CAST(list_reduce(list_transform(range(1, len(q.xi) + 1),
                    i -> (q.xi[i] - n.xi[i]) * (q.xi[i] - n.xi[i])),
                  (a, b) -> a + b) AS BIGINT) AS dist
      FROM v q, v n
      WHERE q.vec_id < 20 AND n.vec_id != q.vec_id
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist ASC, neighbor_id ASC) AS rnk
        FROM bfpairs) t
      WHERE rnk <= 5
    ),
    truth AS (SELECT query_id, count(*) AS n_true FROM bf GROUP BY query_id),
    hits AS (
      SELECT b.query_id, count(*) AS n_hit
      FROM bf b JOIN ipq p
        ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
      GROUP BY b.query_id
    )
    SELECT t.query_id,
           CAST(t.n_true AS BIGINT) AS n_true,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           floor(CAST(coalesce(h.n_hit, 0) AS BIGINT)
                 / t.n_true * 10000) / 10000 AS recall
    FROM truth t LEFT JOIN hits h ON t.query_id = h.query_id
    ORDER BY t.query_id
    """,
)
def q_ann_ivfpq_recall(spark, sf_dir):
    """Recall@5 of residual IVF-PQ against the exact-L2 brute force
    (kmeans.ann_ivfpq_recall) — the composite's regression gate: IVF
    probing and PQ coding both cost recall; a collapse means the
    probe, residual, or coding path broke."""
    from lab3_spark.operators.kmeans import ann_ivfpq_recall

    return ann_ivfpq_recall(
        _t(spark, sf_dir, "embeddings"),
        pq_k=_KMEANS_K,
        pq_iter=_PQ_ITERS,
        coarse_k=_KMEANS_K,
        coarse_iter=_KMEANS_ITERS,
        nprobe=2,
    )


@query(
    "ann_ivfpq_rerank_top5",
    f"""
    WITH {_duck_ivfpq_residual_ctes()},
    short AS (
      SELECT query_id, neighbor_id FROM iranked WHERE rnk <= 20
    ),
    ex AS (
      SELECT s.query_id, s.neighbor_id,
             CAST(sum((qx.val - nx.val) * (qx.val - nx.val)) AS BIGINT)
               AS dist
      FROM short s
      JOIN px qx ON qx.vec_id = s.query_id
      JOIN px nx ON nx.vec_id = s.neighbor_id AND nx.pos = qx.pos
      GROUP BY 1, 2
    ),
    rr AS (
      SELECT query_id, neighbor_id, dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist ASC, neighbor_id ASC) AS rnk
      FROM ex
    )
    SELECT query_id, neighbor_id, dist, rnk
    FROM rr WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_ivfpq_rerank(spark, sf_dir):
    """IVFADC + exact re-ranking (kmeans.ann_ivfpq_rerank): residual
    IVF-PQ shortlists 20 candidates per query from probed cells'
    compressed codes; exact fixed-point L2 reranks the shortlist to
    top-5.  The oracle appends a rerank CTE to the shared residual
    chain."""
    from lab3_spark.operators.kmeans import ann_ivfpq_rerank

    return ann_ivfpq_rerank(
        _t(spark, sf_dir, "embeddings"),
        shortlist=20,
        pq_k=_KMEANS_K,
        pq_iter=_PQ_ITERS,
        coarse_k=_KMEANS_K,
        coarse_iter=_KMEANS_ITERS,
        nprobe=2,
    )


@query(
    "cluster_balanced_sample",
    f"""
    WITH {_duck_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS)},
    cd AS (
      SELECT px.vec_id, c.cl,
             CAST(sum((px.val - c.c) * (px.val - c.c)) AS BIGINT) AS dist
      FROM px JOIN c{_KMEANS_ITERS} c ON px.pos = c.pos
      GROUP BY px.vec_id, c.cl
    ),
    cellm AS (
      SELECT vec_id, cl FROM (
        SELECT vec_id, cl, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY dist, cl) AS rn
        FROM cd) t WHERE rn = 1
    ),
    h AS (
      SELECT cl, vec_id,
             {_h2l("substr(md5(concat('cellbal', '|', CAST(vec_id AS VARCHAR))), 1, 15)")}
               AS hv
      FROM cellm
    ),
    r AS (
      SELECT cl, vec_id,
             row_number() OVER (PARTITION BY cl ORDER BY hv, vec_id) AS rk
      FROM h
    )
    SELECT cl, vec_id, rk FROM r WHERE rk <= 10 ORDER BY cl, rk
    """,
)
def q_cluster_balanced_sample(spark, sf_dir):
    """Cluster-diversity subsample (sampling.cluster_balanced_sample):
    exactly 10 vectors per trained k-means cell, ranked by portable
    hash — strata from embedding geometry, not metadata; executed as
    rank.top_n_per_key's salted two-stage top-n (no hot per-cell
    window), which is row-for-row the oracle's single row_number."""
    from lab3_spark.operators.sampling import cluster_balanced_sample

    return cluster_balanced_sample(
        _t(spark, sf_dir, "embeddings"),
        n_per_cell=10,
        k=_KMEANS_K,
        n_iter=_KMEANS_ITERS,
    )


@query(
    "ann_sq8_top5",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xi
      FROM embeddings
    ),
    px AS (
      SELECT vec_id, generate_subscripts(xi, 1) - 1 AS pos, unnest(xi) AS val
      FROM v
    ),
    mm AS (
      SELECT pos, min(val) AS mn, max(val) AS mx FROM px GROUP BY pos
    ),
    codes AS (
      SELECT px.vec_id, px.pos,
             CASE WHEN mm.mx > mm.mn
                  THEN ((px.val - mm.mn) * 255) // (mm.mx - mm.mn)
                  ELSE 0 END AS code
      FROM px JOIN mm ON px.pos = mm.pos
    ),
    rq AS (
      SELECT c.vec_id, c.pos,
             mm.mn + (c.code * (mm.mx - mm.mn)) // 255 AS val
      FROM codes c JOIN mm ON c.pos = mm.pos
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             CAST(sum((q.val - n.val) * (q.val - n.val)) AS BIGINT) AS adist
      FROM px q JOIN rq n ON q.pos = n.pos AND n.vec_id != q.vec_id
      WHERE q.vec_id < 20
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, neighbor_id, adist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adist ASC, neighbor_id ASC) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, adist, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
)
def q_ann_sq8(spark, sf_dir):
    """Scalar-quantized ANN (similarity.ann_sq8): each dimension
    8-bit-coded against the corpus's per-dim [min,max]; exact queries
    rank the integer reconstruction.  The third compression family
    (scalar vs product vs LSH), all-integer floor divisions on both
    engines."""
    from lab3_spark.operators.similarity import ann_sq8

    return ann_sq8(_t(spark, sf_dir, "embeddings"))


@query(
    "events_kmv_daily_users",
    f"""
    WITH hv AS (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
             {_h2l("substr(md5(concat('kmv|', CAST(user_id AS VARCHAR))), 1, 13)")} AS hv
      FROM events
    ),
    syn AS (
      SELECT day, hv FROM (
        SELECT day, hv,
               row_number() OVER (PARTITION BY day ORDER BY hv) AS rn
        FROM hv
      ) WHERE rn <= 64
    ),
    daily AS (
      SELECT day, count(*) AS ns, max(hv) AS hk FROM syn GROUP BY day
    ),
    gsyn AS (
      SELECT hv FROM (SELECT DISTINCT hv FROM syn) ORDER BY hv LIMIT 64
    ),
    gtot AS (
      SELECT CAST(CASE WHEN count(*) < 64 THEN count(*)
                  ELSE {63 * (1 << 52)} // max(hv) END AS BIGINT) AS est_users_total
      FROM gsyn
    )
    SELECT day,
           CAST(CASE WHEN ns < 64 THEN ns
                ELSE {63 * (1 << 52)} // hk END AS BIGINT) AS est_users,
           (SELECT est_users_total FROM gtot) AS est_users_total
    FROM daily ORDER BY day
    """,
)
def q_kmv_daily_users(spark, sf_dir):
    """KMV / bottom-k distinct sketch (events.kmv_daily_users): per-day
    distinct-user estimates plus the merged all-days total from k=64
    minimum md5 values — the fully-ORACLED mergeable distinct sketch
    (HLL's sketch bytes are engine-specific; a KMV synopsis is a
    deterministic function of the key set, so DuckDB rebuilds it
    bit-for-bit).  Merge = re-select k smallest over the union of
    per-day synopses — no event rescan."""
    return EV.kmv_daily_users(_t(spark, sf_dir, "events"))


@query(
    "dedup_bloom_prefilter",
    f"""
    WITH fps AS (
      SELECT doc_id,
             md5(array_to_string(
               regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}), ' ')) AS fp
      FROM documents
    ),
    refd AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 4 != 0),
    inc AS (SELECT doc_id, fp FROM fps WHERE doc_id % 4 = 0),
    bpos AS (
      SELECT ({_h2l("substr(md5(concat('bloom', '|', CAST(t.h AS VARCHAR), '|', fp)), 1, 15)")})
               % {1024 * 63} AS pos
      FROM refd CROSS JOIN range(4) AS t(h)
    ),
    bloom AS (
      SELECT pos // 63 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits
      FROM bpos GROUP BY 1
    ),
    probes AS (
      SELECT doc_id, fp, pos // 63 AS word, CAST(pos % 63 AS INT) AS bit
      FROM (
        SELECT doc_id, fp,
               ({_h2l("substr(md5(concat('bloom', '|', CAST(t.h AS VARCHAR), '|', fp)), 1, 15)")})
                 % {1024 * 63} AS pos
        FROM inc CROSS JOIN range(4) AS t(h)
      )
    ),
    perdoc AS (
      SELECT p.doc_id, p.fp,
             CAST(min((COALESCE(b.bits, 0) >> p.bit) % 2) = 1 AS INT) AS bloom_pass
      FROM probes p LEFT JOIN bloom b ON p.word = b.word
      GROUP BY p.doc_id, p.fp
    )
    SELECT d.doc_id, d.bloom_pass,
           CAST(d.bloom_pass = 1 AND r.fp IS NOT NULL AS INT) AS is_dup,
           CAST(d.bloom_pass = 1 AND r.fp IS NULL AS INT) AS false_positive
    FROM perdoc d LEFT JOIN refd r ON d.fp = r.fp
    ORDER BY d.doc_id
    """,
)
def q_dedup_bloom_prefilter(spark, sf_dir):
    """Broadcast-Bloom incremental dedup (dedup.bloom_prefilter_dedup):
    the incoming quarter of the corpus (doc_id % 4 = 0) checked against
    the reference three quarters through a 1024-word deterministic
    Bloom filter — prefilter (no false negatives), exact verify on
    survivors only, per-doc false-positive classification.  The
    full-history fp shuffle join never happens: the filter and the
    survivor set broadcast."""
    from lab3_spark.operators.dedup import bloom_prefilter_dedup

    docs = _t(spark, sf_dir, "documents")
    return bloom_prefilter_dedup(
        docs.where(F.col("doc_id") % 4 != 0),
        docs.where(F.col("doc_id") % 4 == 0),
    )


@query(
    "events_attribution_window",
    """
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    ),
    v AS (
      SELECT user_id, ts FROM events WHERE event_type = 'view'
    ),
    m AS (
      SELECT p.purchase_id, count(*) AS n_views, min(v.ts) AS first_view
      FROM p JOIN v
        ON v.user_id = p.user_id
       AND v.ts <= p.ts
       AND v.ts > p.ts - INTERVAL 30 MINUTE
      GROUP BY p.purchase_id
    )
    SELECT p.purchase_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           COALESCE(m.n_views, 0) AS n_views,
           strftime(m.first_view, '%Y-%m-%d %H:%M:%S') AS first_view_ts
    FROM p LEFT JOIN m ON p.purchase_id = m.purchase_id
    ORDER BY p.purchase_id
    """,
)
def q_events_attribution_window(spark, sf_dir):
    """Interval/range join (asof.range_join_binned): every purchase
    joined to the same user's views in the preceding 30 minutes,
    executed as an equi-join on (user, time bin) with a 2-bin left
    explosion — the bucketed range-join strategy; the oracle states
    the same semantics as the naive inequality join.  Unattributed
    purchases keep a row (n_views 0)."""
    from lab3_spark.operators.asof import attribution_window_join

    return attribution_window_join(_t(spark, sf_dir, "events"))


@query(
    "dedup_reassemble",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    ch AS (
      SELECT doc_id, toks,
             unnest(range(0, CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS chunk_id
      FROM t WHERE len(toks) > 0
    ),
    cf AS (
      SELECT doc_id, chunk_id,
             array_to_string(toks[chunk_id * 16 + 1 : chunk_id * 16 + 16], ' ')
               AS chunk_text,
             md5(array_to_string(toks[chunk_id * 16 + 1 : chunk_id * 16 + 16], ' '))
               AS cfp
      FROM ch
    ),
    kept AS (
      SELECT doc_id, chunk_id, chunk_text FROM (
        SELECT doc_id, chunk_id, chunk_text,
               row_number() OVER (PARTITION BY cfp ORDER BY doc_id, chunk_id) AS rn
        FROM cf
      ) WHERE rn = 1
    ),
    rebuilt AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(chunk_text, ' ' ORDER BY chunk_id)) AS new_fp
      FROM kept GROUP BY doc_id
    ),
    per_doc AS (SELECT doc_id, count(*) AS n_chunks FROM cf GROUP BY doc_id)
    SELECT p.doc_id, p.n_chunks,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.new_fp, md5('')) AS new_fp
    FROM per_doc p LEFT JOIN rebuilt r ON p.doc_id = r.doc_id
    ORDER BY p.doc_id
    """,
)
def q_dedup_reassemble(spark, sf_dir):
    """C4-style chunk dedup with reconstruction (dedup.dedup_
    reassemble): every 16-token chunk keeps only its global first
    occurrence (min (doc_id, chunk_id)); documents are reassembled
    from surviving chunks in order and re-fingerprinted.  One chunk-fp
    aggregation shuffle + same-key join (no per-fp window — degenerate
    chunks pre-aggregate map-side), one per-doc rebuild aggregation."""
    from lab3_spark.operators.dedup import dedup_reassemble

    return dedup_reassemble(_t(spark, sf_dir, "documents"))


@query(
    "phrase_search_docs",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    p AS (
      SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS tok
      FROM t
    ),
    s(slot, tok) AS (VALUES (0, 'slow'), (1, 'hash'), (2, 'batch')),
    a AS (
      SELECT doc_id, p.pos - s.slot AS start
      FROM p JOIN s ON p.tok = s.tok
      WHERE p.pos - s.slot >= 0
    ),
    m AS (
      SELECT doc_id, start FROM (
        SELECT doc_id, start, count(*) AS c FROM a GROUP BY 1, 2
      ) WHERE c = 3
    )
    SELECT doc_id, count(*) AS n_occurrences, min(start) AS first_pos
    FROM m GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_phrase_search(spark, sf_dir):
    """Positional phrase query (retrieval.phrase_search): documents
    containing the exact token sequence 'slow hash batch' — posting
    intersection by anchor voting (one broadcast slot join + one
    (doc, anchor) aggregation instead of a k-way self-join).  The
    positional index is invert.cpp's word→line structure one level
    deeper (word→(doc, pos)); SURVEY §2.9 extension."""
    from lab3_spark.operators.retrieval import phrase_search

    return phrase_search(_t(spark, sf_dir, "documents"), "slow hash batch")


@query(
    "events_ohlc_hourly",
    """
    SELECT event_type,
           strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
             AS bucket,
           round(first(value ORDER BY ts, event_id), 2) AS open,
           round(max(value), 2) AS high,
           round(min(value), 2) AS low,
           round(last(value ORDER BY ts, event_id), 2) AS close,
           count(*) AS n_events
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2 ORDER BY event_type, bucket
    """,
)
def q_events_ohlc(spark, sf_dir):
    """OHLC time-bucket downsampling (events.ohlc_downsample): the
    hypertable continuous-aggregate candle — open/close via
    min_by/max_by over the (ts, event_id) total order, one map-side-
    combinable aggregation, no window."""
    return EV.ohlc_downsample(_t(spark, sf_dir, "events"))


@query(
    "events_cms_verified_hh",
    """
    WITH s AS (
      SELECT count(*) AS tot, count(DISTINCT user_id) AS nu FROM events
    )
    SELECT user_id, count(*) AS cnt
    FROM events GROUP BY user_id
    HAVING count(*) >= (SELECT (tot * 110) // (100 * nu) FROM s)
    ORDER BY cnt DESC, user_id
    """,
)
def q_cms_verified_hh(spark, sf_dir):
    """Sketch-shortlist + exact-verify heavy hitters
    (events.cms_verified_heavy_hitters): the CMS overestimate-only
    guarantee makes the shortlist false-negative-free, exact counts
    run only on shortlisted keys, and the result provably equals the
    NAIVE full group-by-having the oracle states."""
    return EV.cms_verified_heavy_hitters(_t(spark, sf_dir, "events"))


@query(
    "corpus_snapshot_diff",
    f"""
    WITH fps AS (
      SELECT doc_id,
             md5(array_to_string(
               regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}), ' ')) AS fp
      FROM documents
    ),
    o AS (SELECT fp, count(*) AS n_old FROM fps WHERE doc_id % 3 != 0 GROUP BY fp),
    n AS (SELECT fp, count(*) AS n_new FROM fps WHERE doc_id % 3 = 0 GROUP BY fp),
    j AS (
      SELECT CASE WHEN o.fp IS NULL THEN 'added'
                  WHEN n.fp IS NULL THEN 'removed'
                  ELSE 'common' END AS status,
             COALESCE(o.n_old, 0) AS n_old,
             COALESCE(n.n_new, 0) AS n_new
      FROM o FULL OUTER JOIN n ON o.fp = n.fp
    )
    SELECT status, count(*) AS n_fps,
           CAST(sum(n_old) AS BIGINT) AS docs_old,
           CAST(sum(n_new) AS BIGINT) AS docs_new
    FROM j GROUP BY status ORDER BY status
    """,
)
def q_corpus_snapshot_diff(spark, sf_dir):
    """Content-level snapshot diff (textstats.corpus_snapshot_diff):
    added / removed / common content between the two-thirds 'old'
    snapshot and the one-third 'new' snapshot, counted by normalized
    fingerprint with per-side doc multiplicities — the release-note
    companion to dataset_card.  Only the distinct-fp frames meet in
    the full outer join."""
    from lab3_spark.operators.textstats import corpus_snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    return corpus_snapshot_diff(
        docs.where(F.col("doc_id") % 3 != 0),
        docs.where(F.col("doc_id") % 3 == 0),
    )


@query(
    "pipeline_forget_docs",
    f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    ch AS (
      SELECT doc_id FROM (
        SELECT doc_id, unnest(range(0, CAST(ceil(len(toks) / 32.0) AS BIGINT)))
        FROM t WHERE len(toks) > 0
      )
    ),
    fps AS (SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM t)
    SELECT * FROM (
      SELECT 'chunks' AS artifact,
             (SELECT count(*) FROM ch) AS n_before,
             (SELECT count(*) FROM ch WHERE doc_id % 97 != 0) AS n_after,
             (SELECT count(*) FROM ch)
               - (SELECT count(*) FROM ch WHERE doc_id % 97 != 0) AS n_deleted
      UNION ALL
      SELECT 'documents',
             (SELECT count(*) FROM documents),
             (SELECT count(*) FROM documents WHERE doc_id % 97 != 0),
             (SELECT count(*) FROM documents WHERE doc_id % 97 = 0)
      UNION ALL
      SELECT 'fingerprints',
             (SELECT count(DISTINCT fp) FROM fps),
             (SELECT count(DISTINCT fp) FROM fps WHERE doc_id % 97 != 0),
             (SELECT count(DISTINCT fp) FROM fps)
               - (SELECT count(DISTINCT fp) FROM fps WHERE doc_id % 97 != 0)
    ) ORDER BY artifact
    """,
)
def q_pipeline_forget_docs(spark, sf_dir):
    """Right-to-be-forgotten propagation (textstats.forget_
    propagation): the deletion list (doc_id % 97 = 0) removed from the
    corpus and its derived artifacts by broadcast anti-joins; the
    fingerprint row counts survivors on the post-delete DISTINCT set
    (a fp lives while ANY remaining doc carries it)."""
    from lab3_spark.operators.textstats import forget_propagation

    docs = _t(spark, sf_dir, "documents")
    return forget_propagation(
        docs, docs.where(F.col("doc_id") % 97 == 0).select("doc_id")
    )


@query(
    "dedup_threshold_curve",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT i.doc_a, i.doc_b,
             floor((n_inter / (na.n_sh + nb.n_sh - n_inter)) * 10000) / 10000
               AS jaccard
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
      WHERE floor((n_inter / (na.n_sh + nb.n_sh - n_inter)) * 10000) / 10000 >= 0.2
    ),
    thr(t) AS (VALUES (20), (30), (40), (50), (60), (70), (80), (90)),
    cl AS (
      SELECT thr.t, jac.doc_a, jac.doc_b
      FROM jac, thr WHERE jac.jaccard >= thr.t / 100.0
    ),
    p AS (SELECT t, count(*) AS n_pairs FROM cl GROUP BY t),
    d AS (
      SELECT t, count(DISTINCT dd) AS n_docs FROM (
        SELECT t, doc_a AS dd FROM cl UNION ALL SELECT t, doc_b FROM cl
      ) GROUP BY t
    )
    SELECT thr.t AS threshold_pct,
           COALESCE(p.n_pairs, 0) AS n_pairs,
           COALESCE(d.n_docs, 0) AS n_docs
    FROM thr LEFT JOIN p ON p.t = thr.t LEFT JOIN d ON d.t = thr.t
    ORDER BY threshold_pct
    """,
)
def q_dedup_threshold_curve(spark, sf_dir):
    """Jaccard-threshold sensitivity sweep (dedup.dedup_threshold_
    curve): pair and affected-doc volume per cut, from ONE run of the
    LSH-candidate + exact-verify pipeline — each pair emits the
    thresholds it clears via in-row array filter; the 8-row spine
    reports zeros.  The curve's knee is the evidence for the
    production threshold choice."""
    from lab3_spark.operators.dedup import dedup_threshold_curve

    return dedup_threshold_curve(_t(spark, sf_dir, "documents"))


@query(
    "streaming_kmv_distinct",
    f"""
    WITH hv AS (
      SELECT DISTINCT
             {_h2l("substr(md5(concat('kmv|', CAST(user_id AS VARCHAR))), 1, 13)")} AS hv
      FROM events
    ),
    g AS (SELECT hv FROM hv ORDER BY hv LIMIT 64)
    SELECT CAST(CASE WHEN count(*) < 64 THEN count(*)
                ELSE {63 * (1 << 52)} // max(hv) END AS BIGINT)
             AS est_users_total
    FROM g
    """,
)
def q_streaming_kmv_distinct(spark, sf_dir):
    """A REAL incremental KMV-synopsis maintenance run
    (streaming/kmv.py): events drain as mtime-ordered micro-batches
    through a foreachBatch writing each batch's ≤ k-row bottom-k
    synopsis to its own idempotent store partition; the all-time
    distinct estimate is then computed from the MERGED store.  KMV
    merges by union-then-re-select-k-smallest, so the merged estimate
    is bit-identical to the one-shot batch estimate — the oracle
    states the one-shot form directly."""
    from lab3_spark.streaming.kmv import (
        merged_estimate_frame,
        start_streaming_kmv,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    store = _drain_store(
        spark, "stream_kmv_", ev,
        "event_id bigint, user_id bigint",
        _mod3("event_id"), start_streaming_kmv, k=64,
    )
    return merged_estimate_frame(spark, store, 64)


@query(
    "multimodal_phash_near_dup",
    f"""
    WITH n AS (SELECT doc_id, text, length(text) AS n FROM documents),
    ch AS (
      SELECT doc_id, i,
             {_h2l("substr(md5(concat(CAST(i AS VARCHAR), '|', substr(text, (i * n) // 16 + 1, ((i + 1) * n) // 16 - (i * n) // 16))), 1, 3)")}
               AS cv
      FROM n CROSS JOIN range(16) AS t(i)
    ),
    sizes AS (SELECT i, cv, count(*) AS c FROM ch GROUP BY i, cv),
    chc AS (
      SELECT ch.doc_id, ch.i, ch.cv
      FROM ch JOIN sizes ON ch.i = sizes.i AND ch.cv = sizes.cv
      WHERE sizes.c <= 64
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_equal_chunks
    FROM chc a JOIN chc b
      ON a.i = b.i AND a.cv = b.cv AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 13
    ORDER BY doc_a, doc_b
    """,
)
def q_multimodal_phash(spark, sf_dir):
    """Positional block-hash media near-dup (multimodal.phash_near_
    dups): 16 byte-slice chunks hashed in Arrow-batched mapInPandas
    over the binary payload; the (idx, cv) equi-self-join is both the
    pigeonhole blocking AND the verification (per-pair row count =
    equal-chunk count); degenerate buckets capped at 64 like
    minhash_candidates.  The oracle recomputes the identical slices
    in SQL (ASCII payload: byte offsets == character offsets)."""
    from lab3_spark.operators.multimodal import phash_near_dups

    return phash_near_dups(_t(spark, sf_dir, "documents"))


@query(
    "events_type_islands",
    """
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w != event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    isl AS (
      SELECT user_id, event_type, ts,
             CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS island_id
      FROM flagged
    )
    SELECT user_id, event_type, island_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS island_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS island_end
    FROM isl GROUP BY user_id, event_type, island_id
    ORDER BY user_id, island_id
    """,
)
def q_events_type_islands(spark, sf_dir):
    """Gaps-and-islands (events.type_islands): maximal consecutive
    same-type runs per user via lag-flag + running sum — run-length
    encoding of the ordered stream; one shuffle, all windows share the
    user partition; (ts, event_id) total order makes islands engine-
    identical."""
    return EV.type_islands(_t(spark, sf_dir, "events"))


@query(
    "events_cohort_retention",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7 AS week
      FROM events
    ),
    c AS (SELECT user_id, min(week) AS cohort FROM uw GROUP BY user_id)
    SELECT c.cohort AS cohort_week, uw.week - c.cohort AS age_weeks,
           count(DISTINCT uw.user_id) AS n_users
    FROM uw JOIN c ON uw.user_id = c.user_id
    GROUP BY 1, 2 ORDER BY cohort_week, age_weeks
    """,
)
def q_events_cohort_retention(spark, sf_dir):
    """Cohort-retention matrix in long form (events.cohort_retention):
    users bucketed by first-event epoch week (Monday-aligned integer
    week arithmetic — no ISO-week ambiguity), counted per age week.
    Two co-partitioned aggregations on user_id."""
    return EV.cohort_retention(_t(spark, sf_dir, "events"))


@query(
    "source_token_entropy",
    f"""
    WITH tt AS (
      SELECT source, tok AS term, count(*) AS cnt
      FROM (SELECT source,
                   unnest(regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX})) AS tok
            FROM documents)
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s,
             count(*) AS n_types
      FROM tt GROUP BY source
    ),
    sf AS (
      SELECT tt.source, tot.n_s, tot.n_types,
             cnt * CAST(floor(ln(CAST(n_s AS DOUBLE) / cnt) / ln(2) * 1000000)
                        AS BIGINT) AS c_fp
      FROM tt JOIN tot ON tt.source = tot.source
    )
    SELECT source, n_s AS n_tokens, n_types,
           CAST(sum(c_fp) // n_s AS BIGINT) AS entropy_fp
    FROM sf GROUP BY source, n_s, n_types ORDER BY source
    """,
)
def q_source_token_entropy(spark, sf_dir):
    """Per-source token-distribution Shannon entropy (textstats.
    source_token_entropy): the corpus-diversity diagnostic — one log2
    per DISTINCT (source, term) immediately fixed-pointed, exact
    bigint accumulation (the unigram_surprisal contract)."""
    from lab3_spark.operators.textstats import source_token_entropy

    return source_token_entropy(_t(spark, sf_dir, "documents"))


@query(
    "mixture_apportionment",
    f"""
    WITH per AS (
      SELECT source,
             CAST(sum(len(regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX})))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    wp AS (
      SELECT source, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
               AS weight_fp
      FROM per
    ),
    z AS (SELECT CAST(sum(weight_fp) AS BIGINT) AS z FROM wp),
    s AS (
      SELECT source, n_tokens, weight_fp,
             (weight_fp * 100000) // z.z AS base,
             (weight_fp * 100000) % z.z AS rem
      FROM wp, z
    ),
    d AS (SELECT 100000 - CAST(sum(base) AS BIGINT) AS deficit FROM s),
    r AS (
      SELECT s.*, row_number() OVER (ORDER BY rem DESC, source) AS rn FROM s
    )
    SELECT source, n_tokens, weight_fp,
           CAST(base + CASE WHEN rn <= (SELECT deficit FROM d)
                            THEN 1 ELSE 0 END AS BIGINT) AS n_draws
    FROM r ORDER BY source
    """,
)
def q_mixture_apportionment(spark, sf_dir):
    """Largest-remainder apportionment of a 100k-draw budget over the
    α=0.5 source mixture (sampling.mixture_apportionment): exact
    integer draw counts, Σ n_draws == budget by construction — the
    step that turns mixing WEIGHTS into an executable sampling plan.
    The remainder rank runs over #sources rows (metadata scale)."""
    from lab3_spark.operators.sampling import mixture_apportionment

    return mixture_apportionment(_t(spark, sf_dir, "documents"))


@query(
    "dedup_ppjoin_exact",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS t
      FROM documents WHERE doc_id < 1000
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(t) - 1),
                    i -> array_to_string(t[i:i+2], ' ')))) AS shingle
      FROM toks WHERE len(t) >= 3
    ),
    dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
    ranked AS (
      SELECT sh.doc_id, sh.shingle,
             row_number() OVER (PARTITION BY sh.doc_id
                                ORDER BY dfq.df, sh.shingle) AS rn,
             count(*) OVER (PARTITION BY sh.doc_id) AS n
      FROM sh JOIN dfq ON sh.shingle = dfq.shingle
    ),
    prefix AS (
      SELECT doc_id AS doc_a, shingle, n AS n_a
      FROM ranked WHERE rn <= n - (n * 1 + 1) // 2 + 1
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    fullsh AS (
      SELECT sh.doc_id AS doc_b, sh.shingle, sizes.n_sh AS n_b
      FROM sh JOIN sizes ON sh.doc_id = sizes.doc_id
    ),
    cand AS (
      SELECT DISTINCT p.doc_a, f.doc_b, p.n_a, f.n_b
      FROM prefix p JOIN fullsh f ON p.shingle = f.shingle
      WHERE p.doc_a < f.doc_b
        AND least(p.n_a, f.n_b) * 2 >= greatest(p.n_a, f.n_b) * 1
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, c.n_a, c.n_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, n_a, n_b, n_inter,
           floor((n_inter / (n_a + n_b - n_inter)) * 10000) / 10000 AS jaccard
    FROM inter
    WHERE n_inter * 2 >= (n_a + n_b - n_inter) * 1
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_ppjoin(spark, sf_dir):
    """Exact set-similarity join via prefix filtering (dedup.ppjoin_
    pairs, Bayardo et al. All-Pairs): EVERY shingle-set pair with
    Jaccard ≥ 0.5, complete by theorem (no false negatives — the
    ground-truth counterpart to the probabilistic MinHash-LSH
    family).  Ascending-df prefix order, integer size and Jaccard
    filters, prefix-vs-full inverted-index join.

    Gated over the doc_id < 1000 slice (the whole corpus at the
    driver's sf0.01): the synthetic ~29-word vocabulary is the
    documented adversarial case for prefix selectivity (every shingle
    is hot — see the operator docstring), so the full-sf0.1 run
    measures generator degeneracy, not the algorithm.  The
    completeness check against brute force (tests/test_dedup.py) runs
    on the same real-testdata slice."""
    from lab3_spark.operators.dedup import ppjoin_pairs

    return ppjoin_pairs(
        _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    )


@query(
    "streaming_lsh_flagging",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    arr AS (
      SELECT doc_id, b, band_key, doc_id % 3 AS batch FROM bands
    ),
    rnk AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY b, band_key
                                ORDER BY batch, doc_id) AS rn
      FROM arr
    )
    SELECT doc_id,
           CAST(max(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INT) AS flagged
    FROM rnk GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_streaming_lsh_flagging(spark, sf_dir):
    """Streaming NEAR-dup flagging (streaming/lsh_flag.py): documents
    drain as three mtime-ordered micro-batches; each batch appends its
    MinHash band-bucket keys to an idempotent per-batch store; a doc
    is flagged iff any bucket holds an earlier arrival
    ((batch, doc_id) order).  First-arrival flagging is a pure
    function of (bucket, arrival order), so the oracle restates it
    directly over the batch assignment (doc_id % 3)."""
    from lab3_spark.streaming.lsh_flag import (
        flagged_docs,
        start_streaming_lsh_flags,
    )

    docs = _t(spark, sf_dir, "documents")
    store = _drain_store(
        spark, "stream_lsh_", docs,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
        _mod3("doc_id"), start_streaming_lsh_flags,
    )
    return flagged_docs(spark, store)


@query(
    "events_seasonal_anomalies",
    """
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS bucket,
             count(*) AS n_events,
             CAST(extract(hour FROM time_bucket(INTERVAL '1 hour', ts)) AS INT)
               AS hod
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, hod,
             CAST(count(*) AS BIGINT) AS n_obs,
             CAST(sum(n_events) AS BIGINT) AS s,
             CAST(sum(n_events * n_events) AS BIGINT) AS q
      FROM hourly GROUP BY 1, 2
    )
    SELECT h.event_type,
           strftime(h.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           h.n_events, h.hod,
           CAST((h.n_events * st.n_obs - st.s) * (h.n_events * st.n_obs - st.s)
                > 4 * (st.n_obs * st.q - st.s * st.s) AS INT) AS is_anomaly
    FROM hourly h JOIN stats st
      ON h.event_type = st.event_type AND h.hod = st.hod
    ORDER BY h.event_type, bucket
    """,
)
def q_events_seasonal_anomalies(spark, sf_dir):
    """Seasonal (hour-of-day-baselined) anomaly detection
    (events.seasonal_hourly_anomalies): the exact-integer z-test of
    daily_count_anomalies computed against same-hour populations —
    |x−μ| > zσ decided as (x·n−S)² > z²(n·Q−S²), all bigint."""
    return EV.seasonal_hourly_anomalies(_t(spark, sf_dir, "events"))


@query(
    "events_transition_matrix",
    """
    WITH nxt AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type, next_type, count(*) AS n_trans
      FROM nxt WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, CAST(sum(n_trans) AS BIGINT) AS tot
      FROM c GROUP BY 1
    )
    SELECT c.event_type, c.next_type, c.n_trans,
           CAST(c.n_trans * 1000000 // t.tot AS BIGINT) AS prob_fp
    FROM c JOIN t ON c.event_type = t.event_type
    ORDER BY c.event_type, c.next_type
    """,
)
def q_events_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix (events.transition_matrix):
    lead() over the per-user (ts, event_id) total order, one combinable
    pair aggregation; conditional probabilities bigint fixed-point
    (×10^6, truncating DIV — both engines truncate toward zero)."""
    return EV.transition_matrix(_t(spark, sf_dir, "events"))


def _attribution_oracle_sql(
    channels: tuple[str, ...] = ("click", "error", "signup", "view"),
    conv: str = "purchase",
    rounds: int = 16,
) -> str:
    """Unrolled-CTE Markov removal-effect oracle: journey transitions
    (the operator's window recipe verbatim), then ``rounds``
    synchronous Jacobi absorption steps per chain (full + one per
    removed channel) in truncating HUGEINT arithmetic — the same
    integer math events.attribution_removal_effects runs on the
    collected count table."""
    fp = 10**12
    in_list = ", ".join(f"'{c}'" for c in (*channels, conv))
    chains = [("full", None)] + [(c, c) for c in channels]

    def p0(name: str) -> str:
        return (
            f"p_{name}_0 AS (SELECT 'CONV' AS st,"
            f" CAST({fp} AS HUGEINT) AS p"
            " UNION ALL SELECT 'NULL', CAST(0 AS HUGEINT))"
        )

    def step(name: str, i: int, removed: str | None) -> str:
        body = "coalesce(x.v, 0) // o.tot"
        if removed is not None:
            body = (
                f"CASE WHEN o.s = '{removed}' THEN CAST(0 AS HUGEINT)"
                f" ELSE {body} END"
            )
        return f"""p_{name}_{i} AS MATERIALIZED (
      SELECT o.s AS st,
             {body} AS p
      FROM outs o
      LEFT JOIN (SELECT tc.s, CAST(sum(tc.n * p.p) AS HUGEINT) AS v
                 FROM tc JOIN p_{name}_{i - 1} p ON p.st = tc.t
                 GROUP BY tc.s) x ON x.s = o.s
      UNION ALL SELECT 'CONV', CAST({fp} AS HUGEINT)
      UNION ALL SELECT 'NULL', CAST(0 AS HUGEINT)
    )"""

    iter_ctes = ",\n    ".join(
        [p0(n) for n, _ in chains]
        + [
            step(n, i, r)
            for n, r in chains
            for i in range(1, rounds + 1)
        ]
    )
    drops = "\n      UNION ALL\n      ".join(
        f"SELECT '{c}' AS channel,"
        f" (SELECT p FROM p_full_{rounds} WHERE st = 'START') AS base_p,"
        f" (SELECT p FROM p_{c}_{rounds} WHERE st = 'START') AS removed_p"
        for c in channels
    )
    return f"""
    WITH evf AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ({in_list})
    ),
    ordd AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM evf
    ),
    fp_ AS (
      SELECT user_id, min(rn) AS prn FROM ordd
      WHERE event_type = '{conv}' GROUP BY user_id
    ),
    path AS (
      SELECT o.user_id, o.event_type, o.rn
      FROM ordd o LEFT JOIN fp_ f ON f.user_id = o.user_id
      WHERE f.prn IS NULL OR o.rn <= f.prn
    ),
    nx AS (
      SELECT user_id, event_type, rn,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY rn) AS nxt
      FROM path
    ),
    tr AS (
      SELECT 'START' AS s,
             CASE WHEN event_type = '{conv}' THEN 'CONV'
                  ELSE event_type END AS t
      FROM nx WHERE rn = 1
      UNION ALL
      SELECT event_type,
             CASE WHEN nxt = '{conv}' THEN 'CONV' ELSE nxt END
      FROM nx WHERE nxt IS NOT NULL
      UNION ALL
      SELECT event_type, 'NULL'
      FROM nx WHERE nxt IS NULL AND event_type != '{conv}'
    ),
    tc AS MATERIALIZED (SELECT s, t, count(*) AS n FROM tr GROUP BY 1, 2),
    outs AS MATERIALIZED (
      SELECT s, CAST(sum(n) AS HUGEINT) AS tot FROM tc GROUP BY s),
    {iter_ctes},
    drops AS (
      {drops}
    ),
    tot AS (SELECT sum(base_p - removed_p) AS td FROM drops)
    SELECT channel,
           CAST(base_p AS BIGINT) AS base_p_fp,
           CAST(removed_p AS BIGINT) AS removed_p_fp,
           CAST(CASE WHEN base_p > 0
                THEN (base_p - removed_p) * 1000000 // base_p
                ELSE 0 END AS BIGINT) AS re_fp,
           CAST(CASE WHEN td > 0
                THEN (base_p - removed_p) * 1000000 // td
                ELSE 0 END AS BIGINT) AS share_fp
    FROM drops, tot ORDER BY channel
    """


@query("events_attribution_markov", _attribution_oracle_sql())
def q_events_attribution_markov(spark, sf_dir):
    """Markov removal-effect attribution (events.attribution_removal_
    effects — Anderl et al. 2014, the data-driven attribution
    standard): per-channel conversion responsibility from the
    first-order journey chain, not last-touch.  Per-user journeys
    truncate at the first purchase; START→CONV absorption probability
    iterates 16 synchronous exact-integer Jacobi rounds at 10^12
    fixed point, once for the full chain and once per channel with
    that channel's state forced to zero (removal).  Transition
    counting is the only corpus-scale work (one user-keyed shuffle +
    a combinable pair count); the chain solve runs on the bounded
    ≤36-row count table.  The oracle unrolls the identical truncating
    HUGEINT arithmetic per round per chain."""
    return EV.attribution_removal_effects(_t(spark, sf_dir, "events"))


@query(
    "session_survival_km",
    """
    WITH RECURSIVE e AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1, 0)
                    OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_break
      FROM events
    ), s AS (
      SELECT user_id, ts,
             sum(is_break) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM e
    ), sess AS (
      SELECT user_id, session_id,
             min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
      FROM s GROUP BY user_id, session_id
    ), mx AS (SELECT max(epoch_us(ts)) AS m_us FROM events),
    h AS (
      SELECT CAST((e_us - s_us) // 60000000 AS BIGINT) AS t,
             count(*) AS n_at,
             CAST(sum(CASE WHEN mx.m_us - e_us < 1800000000
                      THEN 0 ELSE 1 END) AS BIGINT) AS d
      FROM sess, mx GROUP BY 1
    ),
    r AS (
      SELECT t, d,
             CAST(sum(n_at) OVER (ORDER BY t DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_risk
      FROM h
    ),
    dd AS (
      SELECT t, d, n_risk,
             row_number() OVER (ORDER BY t) AS i
      FROM r WHERE d > 0
    ),
    km AS (
      SELECT 0 AS i, CAST(1000000 AS HUGEINT) AS s_fp
      UNION ALL
      SELECT km.i + 1,
             km.s_fp * (d2.n_risk - d2.d) // d2.n_risk
      FROM km JOIN dd d2 ON d2.i = km.i + 1
    )
    SELECT d2.t AS t_min, d2.n_risk, d2.d AS n_deaths,
           CAST(km.s_fp AS BIGINT) AS surv_fp
    FROM dd d2 JOIN km ON km.i = d2.i
    ORDER BY t_min
    """,
)
def q_session_survival_km(spark, sf_dir):
    """Kaplan–Meier session-duration survival
    (events.session_survival_km): P(session lasts ≥ t minutes) with
    boundary CENSORING — sessions whose trailing silence hasn't
    reached the gap at corpus end may still be open, so they leave
    the risk set without counting as ended (the thing a naive
    duration histogram gets wrong).  One user-keyed shuffle + a
    combinable (duration, death) histogram; the truncating integer
    KM recurrence folds over the duration-bounded collected
    histogram and the oracle replays it as a recursive CTE in
    HUGEINT.  Opens the survival-analysis family."""
    return EV.session_survival_km(_t(spark, sf_dir, "events"))


@query(
    "customer_revenue_lorenz",
    """
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS rn,
             ntile(10) OVER (ORDER BY cents, o_custkey) AS decile,
             count(*) OVER () AS n
      FROM rev
    ),
    stats AS (
      SELECT CAST(sum(CAST(rn AS HUGEINT) * cents) AS HUGEINT) AS rs,
             CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS tot,
             CAST(max(n) AS HUGEINT) AS n
      FROM r
    ),
    g AS (
      SELECT CAST((2 * rs - (n + 1) * tot) * 1000000 // (n * tot)
                  AS BIGINT) AS gini_fp,
             tot
      FROM stats
    ),
    per AS (
      SELECT decile, count(*) AS n_custs,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM r GROUP BY decile
    )
    SELECT p.decile, p.n_custs, p.revenue_cents,
           CAST(CAST(sum(p.revenue_cents) OVER (ORDER BY p.decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS HUGEINT) * 1000000 // g.tot AS BIGINT)
             AS cum_share_fp,
           g.gini_fp
    FROM per p, g ORDER BY p.decile
    """,
)
def q_customer_revenue_lorenz(spark, sf_dir):
    """Lorenz curve + Gini of customer revenue concentration
    (relational.customer_revenue_lorenz): bottom-decile cumulative
    revenue shares and the exact fixed-point Gini — the whale-risk /
    concentration audit.  Every customer is ranked by the DISTRIBUTED
    global rank (one ranged shuffle, no single-partition window);
    deciles derive from the rank arithmetically (the SQL-standard
    ntile split the oracle's native ntile performs); Σ(rank·cents)
    carried in decimal38/HUGEINT so the Gini numerator is exact past
    int64 at any customer count."""
    from lab3_spark.operators.relational import customer_revenue_lorenz

    return customer_revenue_lorenz(_t(spark, sf_dir, "orders"))


@query(
    "events_attribution_heuristics",
    """
    WITH evf AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE event_type IN ('click', 'error', 'signup', 'view',
                           'purchase')
    ),
    ordd AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM evf
    ),
    fp_ AS (
      SELECT user_id, min(rn) AS prn FROM ordd
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    touches AS (
      SELECT o.user_id, o.event_type, o.rn
      FROM ordd o JOIN fp_ f ON f.user_id = o.user_id
      WHERE o.rn < f.prn
    ),
    pt AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY rn)
               AS pos,
             count(*) OVER (PARTITION BY user_id) AS L
      FROM touches
    ),
    cr AS (
      SELECT event_type AS channel,
             CASE WHEN pos = 1 THEN 1 ELSE 0 END AS is_first,
             CASE WHEN pos = L THEN 1 ELSE 0 END AS is_last,
             1000000 // L AS lin_fp,
             CASE WHEN L = 1 THEN 1000000 WHEN L = 2 THEN 500000
                  WHEN pos = 1 OR pos = L THEN 400000
                  ELSE 200000 // (L - 2) END AS pos_fp
      FROM pt
    )
    SELECT channel,
           CAST(sum(is_first) AS BIGINT) AS first_touch,
           CAST(sum(is_last) AS BIGINT) AS last_touch,
           CAST(sum(lin_fp) AS BIGINT) AS linear_fp,
           CAST(sum(pos_fp) AS BIGINT) AS position_fp
    FROM cr GROUP BY channel ORDER BY channel
    """,
)
def q_events_attribution_heuristics(spark, sf_dir):
    """Rule-based attribution baselines (events.attribution_
    heuristics): first-touch / last-touch / linear / position-based
    (40/20/40 U-shape) channel credit over the SAME journeys the
    Markov removal-effect model reads — the comparison table
    data-driven attribution is judged against.  Converting journeys
    only; all credits truncating integer DIVs so channel totals are
    exact bigint sums; one user-keyed shuffle + one combinable
    aggregation."""
    return EV.attribution_heuristics(_t(spark, sf_dir, "events"))


@query("streaming_incremental_attribution", _attribution_oracle_sql())
def q_streaming_incremental_attribution(spark, sf_dir):
    """A REAL incremental attribution run (streaming/attribution.py):
    events drain as three TIME-ordered micro-batches through a
    foreachBatch that maintains a versioned (journey-state,
    transition-counts) store — per-user frontiers stitch cross-batch
    edges, conversion truncation survives batch boundaries, terminal
    →NULL edges materialize only in the serving view.  EXACT
    merged-equals-batch contract (the streaming_cms class): the
    serving view's absorption probabilities equal the one-shot
    events_attribution_markov bit-for-bit, so this gate shares its
    unrolled-CTE oracle verbatim."""
    from lab3_spark.streaming.attribution import (
        merged_attribution,
        start_streaming_attribution,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    store = _drain_store(
        spark, "stream_attr_", ev,
        "user_id bigint, ts timestamp, event_id bigint,"
        " event_type string",
        _time_terciles(ev), start_streaming_attribution,
    )
    return merged_attribution(spark, store)


@query(
    "orders_cdc_apply",
    """
    WITH base AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
             o_orderstatus
      FROM orders
    ),
    log AS (
      SELECT o_orderkey, CAST(1 AS BIGINT) AS seq, 'I' AS op,
             price_cents, o_orderstatus FROM base
      UNION ALL
      SELECT o_orderkey, 2, 'U', price_cents + 5000, 'U'
      FROM base WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 3, 'D', 0, 'X'
      FROM base WHERE o_orderkey % 7 = 0
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY o_orderkey
                                ORDER BY seq DESC) AS rn,
             count(*) OVER (PARTITION BY o_orderkey) AS n_changes
      FROM log
    )
    SELECT o_orderkey, op AS last_op, price_cents, o_orderstatus,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM ranked WHERE rn = 1 AND op != 'D'
    ORDER BY o_orderkey
    """,
)
def q_orders_cdc_apply(spark, sf_dir):
    """CDC / change-feed snapshot materialization (relational.
    cdc_apply over relational.cdc_change_log): last-writer-wins per
    key with DELETE tombstones dropped — ONE combinable max_by
    aggregation, no window.  The oracle materializes the same
    deterministic change log and picks the max-seq row per key via
    row_number (seq unique per key ⇒ identical choice)."""
    log = REL.cdc_change_log(_t(spark, sf_dir, "orders"))
    return REL.cdc_apply(log)


@query(
    "frequent_brand_pairs",
    """
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    nb AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nbk FROM baskets
    ),
    marg AS (
      SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt
      FROM baskets GROUP BY 1
    ),
    pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(count(*) AS BIGINT) AS pair_cnt
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
      HAVING count(*) >= 5
    )
    SELECT p.brand_a, p.brand_b, p.pair_cnt,
           CAST(p.pair_cnt * 1000000 // nb.nbk AS BIGINT) AS support_fp,
           CAST(p.pair_cnt * 1000000 // ma.cnt AS BIGINT) AS confidence_fp,
           CAST(p.pair_cnt * nb.nbk * 1000000 // (ma.cnt * mb.cnt) AS BIGINT)
             AS lift_fp
    FROM pairs p
    JOIN marg ma ON p.brand_a = ma.p_brand
    JOIN marg mb ON p.brand_b = mb.p_brand
    CROSS JOIN nb
    ORDER BY pair_cnt DESC, brand_a, brand_b
    """,
)
def q_frequent_brand_pairs(spark, sf_dir):
    """Market-basket association rules (relational.brand_pair_lift):
    support/confidence/lift over order-basket brand pairs, bigint
    fixed-point.  Pair enumeration is a self-EQUI-join on the order
    key (per-order fan-out C(b,2), b ≈ lines per order — never
    all-pairs over the brand vocabulary); marginals and the basket
    total ride broadcast."""
    return REL.brand_pair_lift(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@query(
    "nation_revenue_ols",
    """
    WITH monthly AS (
      SELECT n.n_name,
             CAST((year(o.o_orderdate) - 1992) * 12
                  + month(o.o_orderdate) - 1 AS BIGINT) AS x,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT n_name, CAST(count(*) AS BIGINT) AS n_months,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM monthly GROUP BY 1
    ),
    fit AS (
      SELECT n_name, n_months, sx, sy,
             n_months * sxy - sx * sy AS num,
             n_months * sxx - sx * sx AS den
      FROM stats
      WHERE n_months * sxx - sx * sx > 0
    ),
    sl AS (
      SELECT n_name, n_months, sx, sy,
             CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                        * 1000000.0) AS BIGINT) AS slope_fp
      FROM fit
    )
    SELECT n_name, n_months, slope_fp,
           CAST(floor((CAST(sy AS DOUBLE) * 1000000.0
                       - CAST(slope_fp AS DOUBLE) * CAST(sx AS DOUBLE))
                      / CAST(n_months AS DOUBLE)) AS BIGINT) AS intercept_fp
    FROM sl
    ORDER BY n_name
    """,
)
def q_nation_revenue_ols(spark, sf_dir):
    """Per-nation OLS revenue trend (relational.nation_revenue_ols):
    normal-equations slope/intercept over integer (month-index,
    monthly-cents) points — exact bigint sums; the final ratio is one
    deterministic double divide + floor (overflow-free at any SF)."""
    return REL.nation_revenue_ols(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


@query(
    "dedup_sorted_neighborhood",
    f"""
    WITH {_DUCK_SHINGLE_CTES},
    ordered AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY substr(lower(text), 1, 16),
                                doc_id) AS rn
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                      greatest(a.doc_id, b.doc_id) AS doc_b
      FROM ordered a JOIN ordered b ON b.rn - a.rn BETWEEN 1 AND 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           floor((n_inter / (na.n_sh + nb.n_sh - n_inter)) * 10000) / 10000
             AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE floor((n_inter / (na.n_sh + nb.n_sh - n_inter)) * 10000) / 10000
          >= 0.2
    ORDER BY doc_a, doc_b
    """,
)
def q_dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-Neighborhood-Method dedup (dedup.sorted_neighborhood_
    pairs): the FIXED-comparison-budget candidate strategy next to
    MinHash-LSH and PPJoin — global sort on a cheap blocking key via
    the rank machinery (no single-partition window), neighbor pairing
    by rank equi-join, exact-Jaccard verify on the shared shingle
    frame."""
    from lab3_spark.operators.dedup import sorted_neighborhood_pairs

    return sorted_neighborhood_pairs(_t(spark, sf_dir, "documents"))


def _duck_bfs_iters(max_depth: int) -> str:
    """Unrolled multi-source BFS CTEs d1..d{max_depth}: frontier =
    previous depth's nodes; settled-set membership via NOT EXISTS."""
    ctes = []
    for k in range(1, max_depth + 1):
        prev = f"d{k - 1}"
        ctes.append(
            f"""
    d{k} AS (
      SELECT * FROM {prev}
      UNION ALL
      SELECT f.node, CAST({k} AS BIGINT) AS hops FROM (
        SELECT DISTINCT e.dst AS node
        FROM e JOIN {prev} p ON e.src = p.node AND p.hops = {k - 1}
      ) f
      WHERE NOT EXISTS (SELECT 1 FROM {prev} s WHERE s.node = f.node)
    )"""
        )
    return ",".join(ctes)


@query(
    "dedup_bfs_hops",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    e AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    n0 AS (SELECT DISTINCT src AS node FROM e),
    seeds AS (SELECT node FROM n0 ORDER BY node LIMIT 3),
    d0 AS (SELECT node, CAST(0 AS BIGINT) AS hops FROM seeds),
    {_duck_bfs_iters(3)}
    SELECT node, hops FROM d3 ORDER BY hops, node
    """,
)
def q_dedup_bfs_hops(spark, sf_dir):
    """Multi-source BFS hop distance (components.bfs_hops) from the 3
    smallest-id documents through the MinHash candidate graph, depth
    ≤3 — the hop-bounded companion to ppr_seed_proximity.  Per depth:
    one frontier equi-join + one anti-join; oracle unrolls the same
    frontier algebra."""
    from lab3_spark.operators.components import bfs_hops
    from lab3_spark.operators.dedup import minhash_candidates

    return bfs_hops(minhash_candidates(_t(spark, sf_dir, "documents")))


def _duck_hits_iters(n_iter: int) -> str:
    """Unrolled HITS CTEs a1/h1..a{n}/h{n}: integer arithmetic
    identical to pagerank.hits_scores (max-normalized bigint)."""
    from lab3_spark.operators.pagerank import HITS_SCALE

    ctes = []
    for k in range(1, n_iter + 1):
        prev_h = f"h{k - 1}"
        ctes.append(
            f"""
    a{k}r AS (
      SELECT e.dst AS node, CAST(sum(h.score) AS BIGINT) AS raw
      FROM e JOIN {prev_h} h ON e.src = h.node GROUP BY 1
    ),
    a{k} AS (
      SELECT node, CAST(raw * {HITS_SCALE}
                        // (SELECT max(raw) FROM a{k}r) AS BIGINT) AS score
      FROM a{k}r
    ),
    h{k}r AS (
      SELECT e.src AS node, CAST(sum(a.score) AS BIGINT) AS raw
      FROM e JOIN a{k} a ON e.dst = a.node GROUP BY 1
    ),
    h{k} AS (
      SELECT node, CAST(raw * {HITS_SCALE}
                        // (SELECT max(raw) FROM h{k}r) AS BIGINT) AS score
      FROM h{k}r
    )"""
        )
    return ",".join(ctes)


from lab3_spark.operators.pagerank import HITS_SCALE as _HITS_SCALE  # noqa: E402


@query(
    "supplier_hits_scores",
    f"""
    WITH e AS (
      SELECT DISTINCT l.l_suppkey AS src, o.o_custkey AS dst
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS (
      SELECT DISTINCT src AS node,
             CAST({_HITS_SCALE} AS BIGINT) AS score
      FROM e
    ),
    {_duck_hits_iters(2)}
    SELECT * FROM (
      SELECT 'hub' AS role, node, score AS score_fp
      FROM h2 ORDER BY score DESC, node LIMIT 10
    )
    UNION ALL
    SELECT * FROM (
      SELECT 'authority' AS role, node, score AS score_fp
      FROM a2 ORDER BY score DESC, node LIMIT 10
    )
    ORDER BY role, score_fp DESC, node
    """,
)
def q_supplier_hits_scores(spark, sf_dir):
    """HITS hubs & authorities (pagerank.hits_scores) on the directed
    supplier→customer fulfillment graph (distinct pairs from
    lineitem ⋈ orders): hub suppliers serve well-connected customers,
    authority customers are served by broad suppliers.  Max-normalized
    all-bigint mutual reinforcement, 2 rounds, oracle unrolled."""
    from lab3_spark.operators.pagerank import hits_scores

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("l_suppkey").alias("src"), F.col("o_custkey").alias("dst"))
        .distinct()
    )
    return hits_scores(edges, n_iter=2, k=10)


@query(
    "textrank_keywords",
    f"""
    WITH tk AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS t
      FROM documents
    ),
    prs AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> [t[i], t[i+1]])) AS pr
      FROM tk WHERE len(t) >= 2
      UNION ALL
      SELECT unnest(list_transform(range(1, len(t) - 1),
                    i -> [t[i], t[i+2]])) AS pr
      FROM tk WHERE len(t) >= 3
    ),
    we AS (
      SELECT DISTINCT least(pr[1], pr[2]) AS w_a,
                      greatest(pr[1], pr[2]) AS w_b
      FROM prs
      WHERE pr[1] != pr[2]
        AND pr[1] NOT IN ({OR.STOP_WORDS_IN_LIST})
        AND pr[2] NOT IN ({OR.STOP_WORDS_IN_LIST})
    ),
    pr_edges AS (
      SELECT w_a AS src, w_b AS dst FROM we
      UNION ALL
      SELECT w_b AS src, w_a AS dst FROM we
    ),
    pr_deg AS (SELECT src, count(*) AS deg FROM pr_edges GROUP BY src),
    pr_edeg AS (
      SELECT e.src, e.dst, d.deg FROM pr_edges e JOIN pr_deg d
      ON e.src = d.src
    ),
    pr_nodes AS (SELECT DISTINCT src AS node FROM pr_edges),
    r0 AS (
      SELECT node, CAST(1000000000000 AS BIGINT) AS rank_fp FROM pr_nodes
    ),
    {_duck_pagerank_iters(5)}
    SELECT node AS word, rank_fp FROM r5
    ORDER BY rank_fp DESC, word LIMIT 20
    """,
)
def q_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (textstats.textrank_keywords):
    PageRank over the non-stop-word co-occurrence graph (positions
    within ±2, distinct pairs) — the iterative fixed-point engine
    reused verbatim on string nodes; edge enumeration is a
    (doc, pos+offset) self-equi-join, bounded per token."""
    from lab3_spark.operators.textstats import textrank_keywords

    return textrank_keywords(_t(spark, sf_dir, "documents"))


@query(
    "k_anonymity_report",
    """
    SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS size_bucket,
           count(*) AS class_size,
           CAST(count(*) < 5 AS INT) AS is_suppressed
    FROM documents
    GROUP BY 1, 2, 3
    ORDER BY lang, source, size_bucket
    """,
)
def q_k_anonymity_report(spark, sf_dir):
    """k-anonymity audit (quality.k_anonymity_report): equivalence
    classes of the quasi-identifier tuple (lang, source, length
    bucket) with suppression flags — the re-identification-risk
    companion to doc_redact_pii.  One combinable aggregation."""
    from lab3_spark.operators.quality import k_anonymity_report

    return k_anonymity_report(_t(spark, sf_dir, "documents"))


@query(
    "l_diversity_report",
    """
    SELECT source, CAST(n_chars // 100 AS BIGINT) AS size_bucket,
           count(*) AS class_size,
           count(DISTINCT lang) AS distinct_sensitive,
           CAST(count(DISTINCT lang) >= 2 AS INT) AS meets_l
    FROM documents
    GROUP BY 1, 2
    ORDER BY source, size_bucket
    """,
)
def q_l_diversity_report(spark, sf_dir):
    """Distinct-l-diversity audit (quality.l_diversity_report,
    Machanavajjhala et al. 2007): the homogeneity-attack check
    k-anonymity misses — every (source, length-bucket) class must
    carry ≥ 2 distinct languages or a release reveals the sensitive
    value of all its members despite being k-large.  One exact
    count-distinct aggregation over a metadata-sized class table."""
    from lab3_spark.operators.quality import l_diversity_report

    return l_diversity_report(_t(spark, sf_dir, "documents"))


@query(
    "events_ewma",
    """
    WITH v AS (
      SELECT event_id, user_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS bucket, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
               AS vals
      FROM events
    )
    SELECT event_id, user_id, bucket, value,
           floor(list_reduce(list_prepend(CAST(0 AS DOUBLE), vals),
                             (acc, x) -> acc / 2 + x / 2)
                 / (1 - power(0.5, len(vals))) * 10000) / 10000 AS ewma
    FROM v ORDER BY user_id, bucket, event_id
    """,
)
def q_events_ewma(spark, sf_dir):
    """Truncated EWMA (events.ewma_values): α=1/2 smoothing over each
    user's last 8 events as a ROWS-bounded window fold — the identical
    left fold (acc/2 + x/2 from 0) runs in both engines, so the IEEE
    doubles match exactly.  The oracle prepends the 0-seed because
    DuckDB's list_reduce uses the first element as the accumulator."""
    return EV.ewma_values(_t(spark, sf_dir, "events"))


@query(
    "compaction_bins",
    """
    WITH s AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_chars
               AS bin_start
      FROM documents
    )
    SELECT source, CAST(bin_start // 4000 AS BIGINT) AS bin_id,
           count(*) AS n_files, CAST(sum(n_chars) AS BIGINT) AS total_bytes
    FROM s GROUP BY 1, 2 ORDER BY source, bin_id
    """,
)
def q_compaction_bins(spark, sf_dir):
    """Small-file compaction planner (sources/layout.compaction_plan):
    first-fit-by-order bin assignment from a per-source running sum —
    the FilePartition/maxPartitionBytes packing arithmetic, oracled.
    Runs over the file LISTING (metadata scale), which is why a plain
    partitioned window is appropriate here."""
    from lab3_spark.sources.layout import compaction_plan

    return compaction_plan(_t(spark, sf_dir, "documents"))


@query(
    "events_funnel_within",
    """
    WITH s0 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s1 AS (
      SELECT e.user_id, s0.t1, min(e.ts) AS t2
      FROM events e JOIN s0 ON e.user_id = s0.user_id
      WHERE e.event_type = 'click' AND e.ts > s0.t1
        AND e.ts <= s0.t1 + INTERVAL 30 MINUTE
      GROUP BY 1, 2
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s1.t2
        AND e.ts <= s1.t1 + INTERVAL 30 MINUTE
      GROUP BY 1
    )
    SELECT 'view' AS step, count(*) AS n_users FROM s0
    UNION ALL
    SELECT 'view>click', count(*) FROM s1
    UNION ALL
    SELECT 'view>click>purchase', count(*) FROM s2
    ORDER BY step
    """,
)
def q_events_funnel_within(spark, sf_dir):
    """Time-constrained ordered funnel (events.funnel_within): the
    windowFunnel semantics — the whole view→click→purchase chain must
    land within 30 minutes of the user's FIRST view.  Every step is a
    co-partitioned equi-join on user_id with per-row time filters —
    no event-vs-event inequality join anywhere."""
    return EV.funnel_within(_t(spark, sf_dir, "events"))


@query(
    "orders_price_skyline",
    """
    WITH o AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      FROM orders
    ),
    daily AS (SELECT d, max(price_cents) AS dmax FROM o GROUP BY 1),
    pfx AS (
      SELECT d, coalesce(max(dmax) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
               AS prev_max
      FROM daily
    )
    SELECT o.o_orderkey, strftime(o.d, '%Y-%m-%d') AS day, o.price_cents
    FROM o JOIN pfx ON o.d = pfx.d
    WHERE o.price_cents > pfx.prev_max
    ORDER BY o.o_orderkey
    """,
)
def q_orders_price_skyline(spark, sf_dir):
    """2-D Pareto frontier (relational.price_time_skyline): orders not
    dominated by any strictly-earlier-day order of ≥ price.  Dominance
    only depends on per-day maxima, so the fact table collapses to
    |days| rows first, the prefix max runs over that metadata-sized
    frame, and the frontier test rejoins broadcast — no all-pairs
    dominance anti-join."""
    return REL.price_time_skyline(_t(spark, sf_dir, "orders"))


@query(
    "streaming_cdc_apply",
    """
    WITH base AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
             o_orderstatus
      FROM orders
    ),
    log AS (
      SELECT o_orderkey, CAST(1 AS BIGINT) AS seq, 'I' AS op,
             price_cents, o_orderstatus FROM base
      UNION ALL
      SELECT o_orderkey, 2, 'U', price_cents + 5000, 'U'
      FROM base WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 3, 'D', 0, 'X'
      FROM base WHERE o_orderkey % 7 = 0
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY o_orderkey
                                ORDER BY seq DESC) AS rn,
             count(*) OVER (PARTITION BY o_orderkey) AS n_changes
      FROM log
    )
    SELECT o_orderkey, op AS last_op, price_cents, o_orderstatus,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM ranked WHERE rn = 1 AND op != 'D'
    ORDER BY o_orderkey
    """,
)
def q_streaming_cdc_apply(spark, sf_dir):
    """A REAL incremental snapshot-maintenance run (streaming/cdc.py):
    the deterministic change log split into 3 seq-ordered micro-
    batches (inserts, updates, deletes — mtime-pinned arrival), each
    batch merging into a new snapshot version via foreachBatch.  The
    final version must equal the ONE-SHOT batch apply over the whole
    log — the oracle IS orders_cdc_apply's.  (Feed contract: seq
    monotone with batch order; a delete is final for its key, so
    incremental n_changes bookkeeping matches the one-shot count.)"""
    from lab3_spark.streaming.cdc import latest_snapshot, start_cdc_apply

    log = REL.cdc_change_log(_t(spark, sf_dir, "orders")).withColumn(
        "_b", F.col("seq") - 1
    )
    store = _drain_store(
        spark, "stream_cdc_", log,
        "o_orderkey bigint, seq bigint, op string, "
        "price_cents bigint, o_orderstatus string, _b bigint",
        _mod3("_b"), start_cdc_apply,
    )
    return latest_snapshot(spark, store).orderBy("o_orderkey")


@query(
    "events_kmv_value_quantiles",
    """
    WITH keyed AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             md5(CAST(event_id AS VARCHAR)) AS hk, value
      FROM events
    ),
    syn AS (
      SELECT day, hk, value FROM (
        SELECT day, hk, value,
               row_number() OVER (PARTITION BY day ORDER BY hk) AS rn
        FROM keyed
      ) WHERE rn <= 64
    ),
    mrg AS (
      SELECT 'ALL' AS day, hk, value FROM (
        SELECT hk, value, row_number() OVER (ORDER BY hk) AS rn FROM syn
      ) WHERE rn <= 64
    ),
    uni AS (
      SELECT day, hk, value FROM syn
      UNION ALL SELECT day, hk, value FROM mrg
    ),
    ag AS (
      SELECT day, count(*) AS n_sample, list(value ORDER BY value) AS vs
      FROM uni GROUP BY 1
    )
    SELECT day, n_sample,
           vs[CAST((n_sample - 1) * 50 // 100 AS BIGINT) + 1] AS p50_est,
           vs[CAST((n_sample - 1) * 90 // 100 AS BIGINT) + 1] AS p90_est
    FROM ag ORDER BY day
    """,
)
def q_events_kmv_value_quantiles(spark, sf_dir):
    """Mergeable bottom-k quantile synopsis (events.kmv_value_
    quantiles): per-day hash-sampled quantile estimates plus an 'ALL'
    row re-selected from the union of daily synopses — merged ==
    one-shot by the KMV theorem, fully oracled (the deterministic
    counterpart to approx_percentile's engine-specific sketch).
    The 'ALL' merge window runs over ≤ |days|·k synopsis rows —
    metadata scale, not data (the WindowExec "no partition" note is
    deliberate there)."""
    return EV.kmv_value_quantiles(_t(spark, sf_dir, "events"))


@query(
    "events_top_paths",
    """
    WITH seq AS (
      SELECT event_type,
             lead(event_type, 1) OVER w AS n1,
             lead(event_type, 2) OVER w AS n2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT concat(event_type, '>', n1, '>', n2) AS path,
           count(*) AS n_paths
    FROM seq WHERE n1 IS NOT NULL AND n2 IS NOT NULL
    GROUP BY 1
    ORDER BY n_paths DESC, path ASC LIMIT 10
    """,
)
def q_events_top_paths(spark, sf_dir):
    """Top 3-step event sequences (events.top_event_paths): two leads
    over the per-user total order share one WindowExec pass, then a
    combinable path count and a TakeOrderedAndProject heap — the
    sequential-pattern upgrade of events_transition_matrix."""
    return EV.top_event_paths(_t(spark, sf_dir, "events"))


@query(
    "events_kmv_rolling_users",
    f"""
    WITH hv AS (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
             {_h2l("substr(md5(concat('kmv|', CAST(user_id AS VARCHAR))), 1, 13)")} AS hv
      FROM events
    ),
    syn AS (
      SELECT day, hv FROM (
        SELECT day, hv,
               row_number() OVER (PARTITION BY day ORDER BY hv) AS rn
        FROM hv
      ) WHERE rn <= 64
    ),
    tgt AS (
      SELECT DISTINCT
             strftime(CAST(s.day AS DATE) + o.off * INTERVAL 1 DAY,
                      '%Y-%m-%d') AS day,
             s.hv
      FROM syn s, (SELECT unnest(range(0, 7)) AS off) o
    ),
    tu AS (
      SELECT day, hv FROM tgt WHERE day IN (SELECT day FROM syn)
    ),
    wsyn AS (
      SELECT day, hv FROM (
        SELECT day, hv,
               row_number() OVER (PARTITION BY day ORDER BY hv) AS rn
        FROM tu
      ) WHERE rn <= 64
    ),
    wagg AS (
      SELECT day, count(*) AS ns, max(hv) AS hk FROM wsyn GROUP BY day
    )
    SELECT day,
           CAST(CASE WHEN ns < 64 THEN ns
                ELSE {63 * (1 << 52)} // hk END AS BIGINT) AS est_users_7d
    FROM wagg ORDER BY day
    """,
)
def q_events_kmv_rolling_users(spark, sf_dir):
    """Rolling 7-day distinct-user estimates by KMV synopsis merging
    (events.kmv_rolling_users): each day's ≤64-row synopsis explodes
    into the 7 windows it closes (the binned-range-join trick on
    SKETCH STATE, not raw events), then per-target bottom-k re-select
    — a windowed COUNT(DISTINCT) would rescan a week of events per
    day; this reads ≤ 7·k·|days| synopsis rows total."""
    return EV.kmv_rolling_users(_t(spark, sf_dir, "events"))


@query(
    "events_ab_ztest",
    """
    WITH users AS (
      SELECT DISTINCT user_id, user_id % 2 AS v FROM events
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    flags AS (
      SELECT u.v, CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS cf
      FROM users u LEFT JOIN conv c ON u.user_id = c.user_id
    ),
    wide AS (
      SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(sum(CASE WHEN v = 0 THEN cf ELSE 0 END) AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN v = 1 THEN cf ELSE 0 END) AS BIGINT) AS c_b
      FROM flags
    ),
    stat AS (
      SELECT *,
             CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
               floor((CAST(c_a * n_b - c_b * n_a AS DOUBLE)
                      * CAST(c_a * n_b - c_b * n_a AS DOUBLE)
                      * CAST(n_a + n_b AS DOUBLE))
                     / (CAST(n_a * n_b AS DOUBLE)
                        * CAST(c_a + c_b AS DOUBLE)
                        * (CAST(n_a + n_b AS DOUBLE)
                           - CAST(c_a + c_b AS DOUBLE)))
                     * 10000) / 10000
             ELSE 0.0 END AS z2
      FROM wide
    )
    SELECT n_a, c_a, n_b, c_b, z2,
           CAST(z2 > 4 AS INT) AS significant
    FROM stat
    """,
)
def q_events_ab_ztest(spark, sf_dir):
    """Two-proportion conversion z-test (events.ab_conversion_ztest):
    variants by user_id parity, conversion = any 'purchase'.  Exact
    bigint counts; z² = D²·T/(N·C·(T−C)) as one deterministic double
    expression, identical op order in both engines."""
    return EV.ab_conversion_ztest(_t(spark, sf_dir, "events"))


@query(
    "customer_rfm_segments",
    """
    WITH base AS (
      SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
             count(*) AS freq,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS mon
      FROM orders GROUP BY 1
    ),
    sc AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY -datediff('day', DATE '1970-01-01',
                                              last_d), o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY -freq, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY -mon, o_custkey) AS m_score
      FROM base
    )
    SELECT r_score, f_score, m_score, count(*) AS n_customers
    FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q_customer_rfm_segments(spark, sf_dir):
    """RFM segmentation (relational.customer_rfm_segments): three
    independent quintile assignments via the DISTRIBUTED global-rank
    operator (range shuffle + broadcast offsets — never an
    unpartitioned ntile window over the customer table), total-ordered
    by (metric, custkey) so the massive frequency ties resolve
    identically; output is the ≤125-cell segment census."""
    return REL.customer_rfm_segments(_t(spark, sf_dir, "orders"))


@query(
    "doc_lang_confusion",
    f"""
    WITH t AS (
      SELECT doc_id, lang, list_distinct({_DUCK_TOKS}) AS dtoks FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE WHEN (CASE WHEN len(dtoks) > 0 THEN
               len(list_intersect(dtoks, {_DUCK_STOP_ARR})) / len(dtoks)
               ELSE 0.0 END) >= 0.15 THEN 'en' ELSE 'other' END AS pred_lang
      FROM t
    ),
    cm AS (
      SELECT lang, pred_lang, count(*) AS n_docs
      FROM pred GROUP BY 1, 2
    ),
    tot AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS t FROM cm GROUP BY 1)
    SELECT cm.lang, cm.pred_lang, cm.n_docs,
           CAST(cm.n_docs * 1000000 // tot.t AS BIGINT) AS share_fp
    FROM cm JOIN tot ON cm.lang = tot.lang
    ORDER BY cm.lang, cm.pred_lang
    """,
)
def q_doc_lang_confusion(spark, sf_dir):
    """Language-detector confusion matrix (textstats.lang_confusion_
    matrix): the stop-word-ratio classifier's predictions crossed with
    the labeled lang column, with row-conditional rates fixed-point —
    the evaluation harness for classifier-shaped curation rules."""
    return TS.lang_confusion_matrix(_t(spark, sf_dir, "documents"))


@query(
    "events_weekly_churn",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7 AS week
      FROM events
    ),
    wks AS (SELECT DISTINCT week FROM uw),
    eligible AS (
      SELECT w.week FROM wks w WHERE EXISTS (
        SELECT 1 FROM wks n WHERE n.week = w.week + 1)
    ),
    churned AS (
      SELECT a.week, count(*) AS n_churned
      FROM uw a
      WHERE NOT EXISTS (
        SELECT 1 FROM uw b
        WHERE b.user_id = a.user_id AND b.week = a.week + 1)
      GROUP BY 1
    ),
    act AS (SELECT week, count(*) AS n_active FROM uw GROUP BY 1)
    SELECT a.week, a.n_active,
           CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned,
           CAST(coalesce(c.n_churned, 0) * 1000000 // a.n_active AS BIGINT)
             AS churn_fp
    FROM act a
    LEFT JOIN churned c ON a.week = c.week
    JOIN eligible e ON a.week = e.week
    ORDER BY a.week
    """,
)
def q_events_weekly_churn(spark, sf_dir):
    """Week-over-week churn (events.weekly_churn): distinct (user,
    week) once, churn = ONE co-partitioned anti-join against the
    week-shifted self; weeks without an observed successor are
    excluded (undefined, not zero).  Monday-aligned integer epoch
    weeks — no ISO-week ambiguity."""
    return EV.weekly_churn(_t(spark, sf_dir, "events"))


@query(
    "ship_latency_percentiles",
    """
    WITH lat AS (
      SELECT o.o_orderpriority,
             CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
               AS days,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY days, l_orderkey, l_linenumber) AS rn
      FROM lat
    ),
    counts AS (
      SELECT o_orderpriority, count(*) AS n FROM lat GROUP BY 1
    )
    SELECT r.o_orderpriority, CAST(max(c.n) AS BIGINT) AS n_lineitems,
           max(CASE WHEN r.rn = (c.n - 1) * 50 // 100 + 1
                    THEN r.days END) AS p50_days,
           max(CASE WHEN r.rn = (c.n - 1) * 95 // 100 + 1
                    THEN r.days END) AS p95_days
    FROM ranked r JOIN counts c ON r.o_orderpriority = c.o_orderpriority
    WHERE r.rn = (c.n - 1) * 50 // 100 + 1
       OR r.rn = (c.n - 1) * 95 // 100 + 1
    GROUP BY 1 ORDER BY 1
    """,
)
def q_ship_latency_percentiles(spark, sf_dir):
    """Exact order-to-ship latency percentiles per priority
    (relational.ship_latency_percentiles): positional-rule p50/p95
    read off the bounded (priority, days) VALUE HISTOGRAM — one
    map-side-combinable count collapses the fact-fact join to
    metadata scale, then "smallest days whose cumulative count
    reaches the target rank" (round-12 rewrite; no fact-scale rank
    window) — engine-native interpolating percentiles disagree across
    engines; picked positions cannot."""
    return REL.ship_latency_percentiles(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@query(
    "data_expectations",
    """
    WITH o AS (
      SELECT count(*) AS n_rows, count(o_custkey) AS n_custkey,
             count(DISTINCT o_orderkey) AS n_distinct_key,
             sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
               AS n_bad_status,
             sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS n_nonpos_price,
             sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS n_null_date
      FROM orders
    ),
    li AS (
      SELECT count(*) AS n_rows,
             sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
               AS n_bad_discount,
             sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS n_nonpos_qty,
             sum(CASE WHEN l_shipdate < TIMESTAMP '1992-01-01' THEN 1 ELSE 0 END)
               AS n_early_ship
      FROM lineitem
    ),
    orph AS (
      SELECT count(*) AS n_orphans FROM lineitem l
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    ),
    checks AS (
      SELECT 'orders' AS tbl, 'row_count_nonzero' AS chk,
             CAST(n_rows * 1000000 AS BIGINT) AS metric_fp,
             CAST(CASE WHEN n_rows > 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
      FROM o
      UNION ALL
      SELECT 'orders', 'completeness_o_custkey',
             CAST(n_custkey * 1000000 // n_rows AS BIGINT),
             CAST(CASE WHEN n_custkey = n_rows THEN 1 ELSE 0 END AS BIGINT)
      FROM o
      UNION ALL
      SELECT 'orders', 'uniqueness_o_orderkey',
             CAST(n_distinct_key * 1000000 // n_rows AS BIGINT),
             CAST(CASE WHEN n_distinct_key = n_rows THEN 1 ELSE 0 END AS BIGINT)
      FROM o
      UNION ALL
      SELECT 'orders', 'accepted_values_o_orderstatus',
             CAST(n_bad_status * 1000000 AS BIGINT),
             CAST(CASE WHEN n_bad_status = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM o
      UNION ALL
      SELECT 'orders', 'positive_o_totalprice',
             CAST(n_nonpos_price * 1000000 AS BIGINT),
             CAST(CASE WHEN n_nonpos_price = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM o
      UNION ALL
      SELECT 'orders', 'completeness_o_orderdate',
             CAST(n_null_date * 1000000 AS BIGINT),
             CAST(CASE WHEN n_null_date = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM o
      UNION ALL
      SELECT 'lineitem', 'row_count_nonzero',
             CAST(n_rows * 1000000 AS BIGINT),
             CAST(CASE WHEN n_rows > 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM li
      UNION ALL
      SELECT 'lineitem', 'range_l_discount_0_1',
             CAST(n_bad_discount * 1000000 AS BIGINT),
             CAST(CASE WHEN n_bad_discount = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM li
      UNION ALL
      SELECT 'lineitem', 'positive_l_quantity',
             CAST(n_nonpos_qty * 1000000 AS BIGINT),
             CAST(CASE WHEN n_nonpos_qty = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM li
      UNION ALL
      SELECT 'lineitem', 'shipdate_after_1992',
             CAST(n_early_ship * 1000000 AS BIGINT),
             CAST(CASE WHEN n_early_ship = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM li
      UNION ALL
      SELECT 'lineitem', 'referential_l_orderkey',
             CAST(n_orphans * 1000000 AS BIGINT),
             CAST(CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS BIGINT)
      FROM orph
    )
    SELECT tbl, chk, metric_fp, passed FROM checks ORDER BY tbl, chk
    """,
)
def q_data_expectations(spark, sf_dir):
    """Deequ-style ingest contract (expectations.expectations_report):
    completeness / uniqueness / accepted-values / range / referential
    checks over orders+lineitem in exactly three distributed passes —
    one combinable agg per table (check rows fanned out by ``inline``
    so the agg runs ONCE) + one anti-join orphan count."""
    from lab3_spark.operators.expectations import expectations_report

    return expectations_report(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@query(
    "source_drift_psi",
    """
    WITH binned AS (
      SELECT source, (doc_id % 2 = 0) AS is_a,
             least(n_chars // 200, 9) AS bin
      FROM documents
    ),
    counts AS (
      SELECT source, bin,
             sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS c_a,
             sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS c_b
      FROM binned GROUP BY 1, 2
    ),
    domain AS (
      SELECT s.source, b.bin
      FROM (SELECT DISTINCT source FROM counts) s,
           (SELECT unnest(range(10)) AS bin) b
    ),
    dense AS (
      SELECT d.source, d.bin,
             coalesce(c.c_a, 0) AS c_a, coalesce(c.c_b, 0) AS c_b
      FROM domain d
      LEFT JOIN counts c ON d.source = c.source AND d.bin = c.bin
    ),
    tot AS (
      SELECT *, sum(c_a) OVER (PARTITION BY source) AS n_a,
                sum(c_b) OVER (PARTITION BY source) AS n_b
      FROM dense
    ),
    contrib AS (
      SELECT source, n_a, n_b,
             CAST(floor(
               ((c_a + 1) / CAST(n_a + 10 AS DOUBLE)
                  - (c_b + 1) / CAST(n_b + 10 AS DOUBLE))
               * ln(((c_a + 1) / CAST(n_a + 10 AS DOUBLE))
                    / ((c_b + 1) / CAST(n_b + 10 AS DOUBLE)))
               * 100000000) AS BIGINT) AS contrib_fp
      FROM tot
    )
    SELECT source, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(sum(contrib_fp) AS BIGINT) AS psi_fp,
           CAST(CASE WHEN sum(contrib_fp) > 20000000 THEN 1 ELSE 0 END
                AS BIGINT) AS drifted
    FROM contrib GROUP BY 1, 2, 3 ORDER BY source
    """,
)
def q_source_drift_psi(spark, sf_dir):
    """Snapshot-drift PSI per source (drift.snapshot_psi): Population
    Stability Index of the doc-length distribution between the
    even-doc_id (reference) and odd-doc_id (candidate) snapshots —
    ONE documents scan, Laplace smoothing over an engine-identical
    densified 10-bin domain, per-bin contributions fixed-pointed as
    one deterministic double expression (entropy-gate contract)."""
    from lab3_spark.operators.drift import snapshot_psi

    return snapshot_psi(_t(spark, sf_dir, "documents"))


@query(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE {_DUCK_MINHASH_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    reach(src, dst) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
    ),
    comp AS (
      SELECT src AS doc_id, least(src, min(dst)) AS group_id
      FROM reach GROUP BY src
    ),
    g AS (
      SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS group_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, group_id,
           CASE WHEN h % 100 < 80 THEN 'train'
                WHEN h % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, group_id,
                 {_h2l("substr(md5(concat('gsplit', '|', CAST(group_id AS VARCHAR))), 1, 15)")}
                   AS h
          FROM g)
    ORDER BY doc_id
    """,
)
def q_leakage_safe_split(spark, sf_dir):
    """Group-aware train/val/test split (sampling.leakage_safe_split):
    split membership hashes the near-dup CONNECTED COMPONENT (min-label
    closure of the MinHash-LSH candidate graph), not the doc — so near-
    duplicates can never straddle train/test (the benchmark-
    contamination failure of per-doc splits).  Singletons hash their
    own doc_id; assignment is a pure per-row expression after one left
    join against the clustered-node frame."""
    from lab3_spark.operators.dedup import minhash_candidates
    from lab3_spark.operators.sampling import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    return leakage_safe_split(docs, minhash_candidates(docs))


def _duck_kcore_iters(n_iter: int, k: int = 2) -> str:
    """Unrolled peel CTEs e0..e{n} over the symmetric candidate edges —
    per round: degree count, keep edges whose BOTH endpoints have
    degree ≥ k (components.kcore with fixed ``rounds``).

    Every CTE is MATERIALIZED: each round references its predecessor
    three times, and DuckDB inlines plain CTEs, so an un-materialized
    unroll re-expands the whole minhash subtree 3^n times — the SQL
    twin of the lineage blow-up the Spark side truncates with
    localCheckpoint."""
    ctes = [
        "e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand"
        " UNION SELECT doc_b AS a, doc_a AS b FROM cand)"
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""
    d{i} AS MATERIALIZED (SELECT a, count(*) AS c FROM e{i - 1} GROUP BY a),
    e{i} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{i - 1} e
      JOIN d{i} x ON e.a = x.a AND x.c >= {k}
      JOIN d{i} y ON e.b = y.a AND y.c >= {k}
    )"""
        )
    return ",".join(ctes)


@query(
    "dedup_kcore",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    {_duck_kcore_iters(6)}
    SELECT a AS node, count(*) AS core_degree
    FROM e6 GROUP BY a ORDER BY node
    """,
)
def q_dedup_kcore(spark, sf_dir):
    """2-core of the near-dup candidate graph (components.kcore):
    six peel rounds remove every node with < 2 corroborating
    neighbors — pendant band-collision FPs peel off, near-clique
    duplicate groups survive with their in-core degree.  Fixed
    ``rounds=6`` is the engine-identical unrolled form (a documented
    prefix of the fixpoint; peeling is monotone), mirroring the
    bfs_hops depth-cap contract."""
    from lab3_spark.operators.components import kcore
    from lab3_spark.operators.dedup import minhash_candidates

    return kcore(
        minhash_candidates(_t(spark, sf_dir, "documents")),
        "doc_a",
        "doc_b",
        k=2,
        rounds=6,
    )


def _duck_power_iters(
    n_iter: int, dims: int = 64, grows: str = "grows", p: str = ""
) -> str:
    """Unrolled power-iteration CTEs {p}w{i}/{p}n{i}/{p}v{i} over the
    ``grows`` row-list table: matrix-vector product and norm as
    ``list_reduce`` left folds over ORDER BY-ed lists — the exact IEEE
    recurrence operators/spectral.py pins, so the final loadings are
    bit-identical doubles (no tolerance).  ``p`` prefixes the CTE
    names so a second (deflated) iteration chain can coexist."""
    ctes = []
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""
    {p}w{i} AS MATERIALIZED (
      SELECT g.j,
             list_reduce(list_transform(range(1, {dims + 1}),
                 t -> g.row[t] * v.v[t]), (a, b) -> a + b) AS w
      FROM {grows} g, {p}v{i - 1} v
    ),
    {p}n{i} AS MATERIALIZED (
      SELECT sqrt(list_reduce(list_transform(list(w ORDER BY j),
                  x -> x * x), (a, b) -> a + b)) AS nrm
      FROM {p}w{i}
    ),
    {p}v{i} AS MATERIALIZED (
      SELECT list(w.w / n.nrm ORDER BY w.j) AS v FROM {p}w{i} w, {p}n{i} n
    )"""
        )
    return ",".join(ctes)


@query(
    "embedding_top_direction",
    f"""
    WITH qv AS (
      SELECT list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 16384) AS BIGINT)) AS q
      FROM embeddings
    ),
    g AS MATERIALIZED (
      SELECT jj.j, kk.k, sum(q[jj.j] * q[kk.k]) AS gv
      FROM qv, (SELECT unnest(range(1, 65)) AS j) jj,
           (SELECT unnest(range(1, 65)) AS k) kk
      GROUP BY jj.j, kk.k
    ),
    grows AS MATERIALIZED (
      SELECT j, list(CAST(gv AS DOUBLE) ORDER BY k) AS row
      FROM g GROUP BY j
    ),
    v0 AS (SELECT list_transform(range(1, 65), t -> 0.125) AS v),
    {_duck_power_iters(8)}
    SELECT t.d AS dim, v.v[t.d] AS loading
    FROM v8 v, (SELECT unnest(range(1, 65)) AS d) t
    ORDER BY dim
    """,
)
def q_embedding_top_direction(spark, sf_dir):
    """Top principal direction of the embedding matrix
    (operators/spectral.py): the Gramian is computed distributed —
    one mapInArrow pass, d² exact-bigint rows per batch (local
    ``q.T @ q`` is the map-side combine) — and only d²=4096 scalars
    reach the driver for the 8-step power iteration (the MLlib
    RowMatrix.computePrincipalComponents shape).  Quantization scale
    2¹⁴ is a power of two so floor(x·s) is exact in every engine; the
    iteration's inner products fold left in pinned index order, so
    Spark and DuckDB emit bit-identical doubles."""
    from lab3_spark.operators.spectral import top_principal_direction

    return top_principal_direction(_t(spark, sf_dir, "embeddings"))


def _duck_mmr_iters(k: int, lam: float = 0.5) -> str:
    """Unrolled MMR greedy CTEs: s{t} picks the argmax of
    rel − λ·max-sim-to-selected (ties → lowest vec_id), m{t} drops the
    pick and folds its similarity into every survivor's running max —
    the exact recurrence operators/diversity.mmr_select runs driver-
    side over the shortlist.  MATERIALIZED throughout (each m{t} is
    referenced twice)."""
    dot = _DUCK_DOT.format(a="c.u", b="s.u")
    ctes = []
    for t in range(1, k + 1):
        ctes.append(
            f"""
    s{t} AS MATERIALIZED (
      SELECT vec_id, u, rel - {lam} * coalesce(ms, 0.0) AS score
      FROM m{t - 1} ORDER BY score DESC, vec_id LIMIT 1
    ),
    m{t} AS MATERIALIZED (
      SELECT c.vec_id, c.u, c.rel,
             greatest(coalesce(c.ms, -1.0), {dot}) AS ms
      FROM m{t - 1} c, s{t} s WHERE c.vec_id != s.vec_id
    )"""
        )
    return ",".join(ctes)


@query(
    "mmr_diverse_select",
    f"""
    WITH {_DUCK_VEC},
    q AS (SELECT u FROM e WHERE vec_id = 0),
    cand AS MATERIALIZED (
      SELECT e.vec_id, e.u, {_DUCK_DOT.format(a="e.u", b="q.u")} AS rel
      FROM e, q WHERE e.vec_id != 0
    ),
    m0 AS MATERIALIZED (
      SELECT vec_id, u, rel, CAST(NULL AS DOUBLE) AS ms
      FROM cand ORDER BY rel DESC, vec_id LIMIT 200
    ),
    {_duck_mmr_iters(8)}
    SELECT step, vec_id, mmr_score FROM (
      {" UNION ALL ".join(f"SELECT {t} AS step, vec_id, score AS mmr_score FROM s{t}" for t in range(1, 9))}
    ) ORDER BY step
    """,
)
def q_mmr_diverse_select(spark, sf_dir):
    """Maximal-marginal-relevance top-8 against vec_id 0
    (operators/diversity.py): ONE distributed relevance scan + a
    TakeOrderedAndProject top-200 shortlist, then the λ=0.5 greedy
    over the bounded shortlist driver-side with pinned left-fold inner
    products — scores bit-identical to the unrolled SQL greedy."""
    from lab3_spark.operators.diversity import mmr_select

    return mmr_select(_t(spark, sf_dir, "embeddings"))


@query(
    "events_xcorr_lag",
    """
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY 1
    ),
    spine AS (
      SELECT unnest(range(min(h), max(h) + 1)) AS h FROM hourly
    ),
    dense AS MATERIALIZED (
      SELECT s.h, coalesce(c.x, 0) AS x, coalesce(c.y, 0) AS y
      FROM spine s LEFT JOIN hourly c ON s.h = c.h
    ),
    pairs AS (
      SELECT l.lag, a.x, b.y
      FROM dense a,
           (SELECT unnest(range(-3, 4)) AS lag) l
      JOIN dense b ON b.h = a.h + l.lag
    ),
    mom AS (
      SELECT lag, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n AS n_hours,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN floor(
                  (CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000
                ) / 1000000
                ELSE 0.0 END AS corr
    FROM mom ORDER BY lag
    """,
)
def q_events_xcorr_lag(spark, sf_dir):
    """Lead-lag analysis (operators/events.lagged_xcorr): Pearson
    correlation of the hourly view vs purchase count series at hour
    offsets -3..+3.  One combinable conditional agg collapses the
    stream to |hours| rows; the 7 alignments are ONE equi-join on the
    shifted hour key over the densified spine; moments exact bigint,
    r one deterministic double expression per lag."""
    from lab3_spark.operators.events import lagged_xcorr

    return lagged_xcorr(_t(spark, sf_dir, "events"))


@query(
    "source_lang_chi2",
    """
    WITH cells AS (
      SELECT source AS r, lang AS c, count(*) AS o
      FROM documents GROUP BY 1, 2
    ),
    rmarg AS (SELECT r, sum(o) AS rt FROM cells GROUP BY r),
    cmarg AS (SELECT c, sum(o) AS ct FROM cells GROUP BY c),
    total AS (SELECT sum(o) AS n FROM cells),
    scored AS (
      SELECT cells.r AS source, cells.c AS lang, cells.o AS observed,
             CAST(floor(
               ((CAST(cells.o AS DOUBLE) * CAST(total.n AS DOUBLE)
                 - CAST(rmarg.rt AS DOUBLE) * CAST(cmarg.ct AS DOUBLE))
                * (CAST(cells.o AS DOUBLE) * CAST(total.n AS DOUBLE)
                   - CAST(rmarg.rt AS DOUBLE) * CAST(cmarg.ct AS DOUBLE)))
               / (CAST(rmarg.rt AS DOUBLE) * CAST(cmarg.ct AS DOUBLE)
                  * CAST(total.n AS DOUBLE)) * 1000000
             ) AS BIGINT) AS contrib_fp
      FROM cells
      JOIN rmarg USING (r) JOIN cmarg USING (c), total
    )
    SELECT * FROM scored
    UNION ALL
    SELECT 'ALL', 'ALL', CAST(sum(observed) AS BIGINT),
           CAST(sum(contrib_fp) AS BIGINT) FROM scored
    ORDER BY source, lang
    """,
)
def q_source_lang_chi2(spark, sf_dir):
    """Pearson χ² independence test of source × lang
    (operators/quality.chi_square_independence): one combinable count
    agg to the metadata-scale contingency table, margins rejoined
    broadcast, per-cell (O−E)²/E floored to fixed-point so the grand
    total (the 'ALL' row) is an exact bigint sum."""
    from lab3_spark.operators.quality import chi_square_independence

    return chi_square_independence(_t(spark, sf_dir, "documents"))


@query(
    "zipf_fit",
    f"""
    WITH wc AS (
      SELECT tok AS term, count(*) AS cnt
      FROM (SELECT unnest(regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX})) AS tok
            FROM documents)
      GROUP BY 1
    ),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank
      FROM wc
    ),
    fx AS (
      SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 10000) AS BIGINT) AS x,
             CAST(floor(ln(CAST(cnt AS DOUBLE)) * 10000) AS BIGINT) AS y,
             cnt
      FROM ranked
    ),
    mom AS (
      SELECT count(*) AS n, CAST(sum(cnt) AS BIGINT) AS n_tokens,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM fx
    )
    SELECT n AS n_types, n_tokens,
      CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
        THEN CAST(floor(
          (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
          / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
          * 1000000) AS BIGINT)
        ELSE 0 END AS slope_fp,
      CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
            AND (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
        THEN CAST(floor(
          (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
          * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
          / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
             * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
          * 1000000) AS BIGINT)
        ELSE 0 END AS r2_fp
    FROM mom
    """,
)
def q_zipf_fit(spark, sf_dir):
    """Zipf's-law fit (textstats.zipf_fit): ln(count) ~ ln(rank) OLS
    over the vocabulary.  One hash agg to the vocab frame, distributed
    range-partitioned global rank (no single-partition window), one
    ln per distinct term fixed-pointed, exact bigint moments, slope
    and R² each ONE double expression."""
    from lab3_spark.operators.textstats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


_DUCK_SKEW_ONE = """
    SELECT '{tbl}' AS tbl, '{key}' AS key_col,
           CAST(max(n_rows) AS BIGINT) AS n_rows,
           CAST(max(n_keys) AS BIGINT) AS n_keys,
           CAST(max(max_group) AS BIGINT) AS max_group,
           CAST(max(max_group) * 1000000 // max(n_rows) AS BIGINT)
             AS top_share_fp,
           CAST(min(CASE WHEN cum >= (n_keys - 1) * 50 // 100 + 1
                    THEN c END) AS BIGINT) AS p50_group,
           CAST(min(CASE WHEN cum >= (n_keys - 1) * 99 // 100 + 1
                    THEN c END) AS BIGINT) AS p99_group
    FROM (
      SELECT c, sum(m) OVER (ORDER BY c) AS cum,
             sum(m) OVER () AS n_keys,
             sum(c * m) OVER () AS n_rows,
             max(c) OVER () AS max_group
      FROM (SELECT c, count(*) AS m
            FROM (SELECT {key}, count(*) AS c FROM {tbl} GROUP BY 1)
            GROUP BY c)
    )
"""


@query(
    "join_skew_report",
    " UNION ALL ".join(
        _DUCK_SKEW_ONE.format(tbl=t, key=k)
        for t, k in [
            ("orders", "o_custkey"),
            ("lineitem", "l_orderkey"),
            ("events", "user_id"),
        ]
    )
    + " ORDER BY tbl",
)
def q_join_skew_report(spark, sf_dir):
    """Join-key skew audit (operators/skew.key_skew_report) over the
    schema's three fan-out keys: hottest-key share and exact p50/p99
    group sizes from the counts-of-counts histogram — the running sum
    is over |distinct sizes| rows (metadata-scale), never over data."""
    from lab3_spark.operators.skew import join_skew_report

    return join_skew_report(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "events"),
    )


@query(
    "orders_cdc_asof",
    """
    WITH base AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
             o_orderstatus
      FROM orders
    ),
    log AS (
      SELECT o_orderkey, CAST(1 AS BIGINT) AS seq, 'I' AS op,
             price_cents, o_orderstatus FROM base
      UNION ALL
      SELECT o_orderkey, 2, 'U', price_cents + 5000, 'U'
      FROM base WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 3, 'D', 0, 'X'
      FROM base WHERE o_orderkey % 7 = 0
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY o_orderkey
                                ORDER BY seq DESC) AS rn,
             count(*) OVER (PARTITION BY o_orderkey) AS n_changes
      FROM (SELECT * FROM log WHERE seq <= 2)
    )
    SELECT o_orderkey, op AS last_op, price_cents, o_orderstatus,
           CAST(n_changes AS BIGINT) AS n_changes
    FROM ranked WHERE rn = 1 AND op != 'D'
    ORDER BY o_orderkey
    """,
)
def q_orders_cdc_asof(spark, sf_dir):
    """Time-travel read over the change feed: the snapshot AS OF
    seq ≤ 2 — BEFORE the seq-3 tombstones, so the %7 keys are still
    present in their updated state.  Composition, not new machinery:
    the version predicate goes IN FRONT of relational.cdc_apply, so
    Catalyst pushes it below the max_by aggregation and the snapshot
    for any historical version costs exactly one filtered pass — the
    lakehouse VERSION AS OF shape."""
    log = REL.cdc_change_log(_t(spark, sf_dir, "orders"))
    return REL.cdc_apply(log.where(F.col("seq") <= 2))


@query(
    "user_activity_bitmap",
    """
    WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
    days AS (
      SELECT user_id,
             datediff('day', d0.d0, CAST(ts AS DATE)) AS d,
             CAST(ts AS DATE) AS dt
      FROM events, d0
      WHERE datediff('day', d0.d0, CAST(ts AS DATE)) < 62
    ),
    masks AS (
      SELECT user_id,
             bit_or(CAST(1 AS BIGINT) << d) AS mask,
             bit_or(CASE WHEN dayofweek(dt) IN (0, 6)
                    THEN CAST(1 AS BIGINT) << d ELSE CAST(0 AS BIGINT) END)
               AS we_mask
      FROM days GROUP BY user_id
    )
    SELECT bit_count(mask) AS active_days,
           count(*) AS n_users,
           CAST(sum(CASE WHEN we_mask = mask AND mask != 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend_only
    FROM masks GROUP BY 1 ORDER BY active_days
    """,
)
def q_user_activity_bitmap(spark, sf_dir):
    """Bitmap-index activity analysis (events.user_activity_bitmap):
    each user's day presence packs into one bigint via bit_or(1<<d) —
    a combinable agg — and retention questions become bit algebra
    (active_days = bit_count, weekend-only = mask equality).  DuckDB
    dayofweek: 0=Sunday..6=Saturday vs Spark dayofweek 1..7 — both
    sides pin Sunday/Saturday explicitly."""
    from lab3_spark.operators.events import user_activity_bitmap

    return user_activity_bitmap(_t(spark, sf_dir, "events"))


@query(
    "quality_dup_calibration",
    f"""
    WITH base AS (
      SELECT doc_id,
             md5(array_to_string({_DUCK_TOKS}, ' ')) AS fp,
             0.4 * least(len({_DUCK_TOKS}) / 50.0, 1.0)
             + 0.3 * (1 - CASE WHEN length(text) > 0 THEN
                 length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                 / length(text) ELSE 0.0 END)
             + 0.3 * (CASE WHEN len({_DUCK_TOKS}) > 0 THEN
                 len(list_distinct({_DUCK_TOKS})) / len({_DUCK_TOKS})
                 ELSE 0.0 END) AS q
      FROM documents
    ),
    keep AS (SELECT fp, min(doc_id) AS keep_id FROM base GROUP BY fp),
    flagged AS (
      SELECT least(CAST(floor(q * 10) AS BIGINT), 9) AS bin,
             CASE WHEN base.doc_id != keep.keep_id THEN 1 ELSE 0 END AS is_dup,
             CAST(floor(q * 10000) AS BIGINT) AS q_fp
      FROM base JOIN keep USING (fp)
    )
    SELECT bin, count(*) AS n_docs,
           CAST(sum(is_dup) AS BIGINT) AS n_dups,
           CAST(sum(is_dup) * 1000000 // count(*) AS BIGINT) AS dup_rate_fp,
           CAST(sum(q_fp) // count(*) AS BIGINT) AS mean_q_fp
    FROM flagged GROUP BY bin ORDER BY bin
    """,
)
def q_quality_dup_calibration(spark, sf_dir):
    """Reliability curve of the quality score vs observed exact
    duplication (quality.quality_dup_calibration): fixed-width [0,1]
    bins over the shared _quality_blend expression (bit-identical
    doubles in both engines — the dedup_keep_best contract), is_dup
    from a window-free groupBy-min rejoin, exact bigint bin stats."""
    from lab3_spark.operators.quality import quality_dup_calibration

    return quality_dup_calibration(_t(spark, sf_dir, "documents"))


@query(
    "customers_every_year",
    """
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS dividend,
                      year(o_orderdate) AS divisor
      FROM orders
    ),
    total AS (SELECT count(DISTINCT divisor) AS n_divisor FROM pairs)
    SELECT dividend, count(*) AS n_matched
    FROM pairs, total
    GROUP BY dividend, total.n_divisor
    HAVING count(*) = total.n_divisor
    ORDER BY dividend
    """,
)
def q_customers_every_year(spark, sf_dir):
    """Relational division (relational.relational_division): customers
    with at least one order in EVERY year the table covers — one
    distinct pair projection + a combinable per-customer count + a
    1-row divisor-cardinality broadcast, never the textbook
    double-NOT-EXISTS correlated anti-join."""
    from lab3_spark.operators.relational import relational_division

    orders = _t(spark, sf_dir, "orders")
    return relational_division(
        orders.select("o_custkey", F.year("o_orderdate").alias("y")),
        "o_custkey",
        "y",
    )


@query(
    "orders_scd2_history",
    """
    WITH base AS (
      SELECT o_orderkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
             o_orderstatus
      FROM orders
    ),
    log AS (
      SELECT o_orderkey, CAST(1 AS BIGINT) AS seq, 'I' AS op,
             price_cents, o_orderstatus FROM base
      UNION ALL
      SELECT o_orderkey, 2, 'U', price_cents + 5000, 'U'
      FROM base WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, 3, 'D', 0, 'X'
      FROM base WHERE o_orderkey % 7 = 0
    ),
    intervals AS (
      SELECT *,
             lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS seq_to
      FROM log
    )
    SELECT o_orderkey, seq AS seq_from, seq_to,
           CASE WHEN seq_to IS NULL THEN 1 ELSE 0 END AS is_current,
           op, price_cents, o_orderstatus
    FROM intervals WHERE op != 'D'
    ORDER BY o_orderkey, seq_from
    """,
)
def q_orders_scd2_history(spark, sf_dir):
    """SCD Type-2 validity intervals from the change feed
    (relational.scd2_history): seq_to = lead(seq) per key BEFORE the
    tombstone filter, so a DELETE closes its predecessor and emits no
    open row.  Completes the CDC family: cdc_apply = current snapshot,
    cdc_asof = one version, scd2_history = the full audit dimension.
    One co-partitioned window pass (2-3 rows per key)."""
    log = REL.cdc_change_log(_t(spark, sf_dir, "orders"))
    return REL.scd2_history(log)


@query(
    "systematic_sample_docs",
    f"""
    WITH hashed AS (
      SELECT doc_id,
             {_h2l("substring(md5(concat('sys', '|', CAST(doc_id AS VARCHAR))), 1, 15)")} AS h
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY h, doc_id) AS rn
      FROM hashed
    )
    SELECT doc_id, rn FROM ranked WHERE (rn - 1) % 10 = 0 ORDER BY rn
    """,
)
def q_systematic_sample_docs(spark, sf_dir):
    """Systematic 1-in-10 sample over the hash-ordered corpus
    (sampling.systematic_sample): exactly ceil(N/10) rows at a
    guaranteed cadence — the third classical design next to
    stratified and Sequential Poisson.  Distributed range-partitioned
    rank; pick filter a pure modulus."""
    from lab3_spark.operators.sampling import systematic_sample

    return systematic_sample(_t(spark, sf_dir, "documents"))


@query(
    "streaming_activity_bitmap",
    """
    WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
    days AS (
      SELECT user_id,
             datediff('day', d0.d0, CAST(ts AS DATE)) AS d,
             CAST(ts AS DATE) AS dt
      FROM events, d0
      WHERE datediff('day', d0.d0, CAST(ts AS DATE)) < 62
    ),
    masks AS (
      SELECT user_id,
             bit_or(CAST(1 AS BIGINT) << d) AS mask,
             bit_or(CASE WHEN dayofweek(dt) IN (0, 6)
                    THEN CAST(1 AS BIGINT) << d ELSE CAST(0 AS BIGINT) END)
               AS we_mask
      FROM days GROUP BY user_id
    )
    SELECT bit_count(mask) AS active_days,
           count(*) AS n_users,
           CAST(sum(CASE WHEN we_mask = mask AND mask != 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend_only
    FROM masks GROUP BY 1 ORDER BY active_days
    """,
)
def q_streaming_activity_bitmap(spark, sf_dir):
    """A REAL incremental presence-store run (streaming/bitmap.py):
    events drain as mtime-ordered micro-batches through a foreachBatch
    writing each batch's distinct (user, day) rows to an idempotent
    partition; the bitmap report is then assembled from the MERGED
    store via the same activity_bitmap_from_presence expression.
    Presence union is a set union and bit_or is idempotent, so the
    merged result is bit-identical to the one-shot batch gate — the
    oracle states the one-shot form verbatim."""
    from lab3_spark.operators.events import activity_bitmap_from_presence
    from lab3_spark.streaming.bitmap import (
        merged_presence,
        start_streaming_bitmap,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    store = _drain_store(
        spark, "stream_bitmap_", ev,
        "event_id bigint, ts timestamp, user_id bigint",
        _mod3("event_id"), start_streaming_bitmap,
    )
    return activity_bitmap_from_presence(merged_presence(spark, store))


@query(
    "events_kmv_type_overlap",
    f"""
    WITH typed AS (
      SELECT event_type, user_id,
             {_h2l("substr(md5(concat('kmv|', CAST(user_id AS VARCHAR))), 1, 13)")} AS hv
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    syn AS MATERIALIZED (
      SELECT event_type, hv FROM (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        FROM (SELECT DISTINCT event_type, hv FROM typed)
      ) WHERE rn <= 64
    ),
    syn_u AS MATERIALIZED (
      SELECT hv FROM (SELECT DISTINCT hv FROM syn) ORDER BY hv LIMIT 64
    ),
    ustats AS (SELECT count(*) AS ns, max(hv) AS hk FROM syn_u),
    shared AS (
      SELECT count(*) AS n_shared FROM syn_u u
      WHERE EXISTS (SELECT 1 FROM syn a
                    WHERE a.event_type = 'view' AND a.hv = u.hv)
        AND EXISTS (SELECT 1 FROM syn b
                    WHERE b.event_type = 'purchase' AND b.hv = u.hv)
    ),
    exact AS (
      SELECT CAST(sum(a) AS BIGINT) AS exact_a,
             CAST(sum(b) AS BIGINT) AS exact_b,
             CAST(sum(CASE WHEN a + b = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_overlap
      FROM (SELECT user_id,
                   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
            FROM typed GROUP BY user_id)
    )
    SELECT exact_a, exact_b, exact_overlap,
           CAST(CASE WHEN ns < 64 THEN ns
                ELSE {63 * (1 << 52)} // hk END AS BIGINT) AS est_union,
           CAST(n_shared * (CASE WHEN ns < 64 THEN ns
                ELSE {63 * (1 << 52)} // hk END) // ns AS BIGINT)
             AS est_overlap
    FROM exact, ustats, shared
    """,
)
def q_events_kmv_type_overlap(spark, sf_dir):
    """Theta-sketch set intersection (events.kmv_type_overlap):
    |viewers ∩ purchasers| from the per-type KMV synopses — J from
    the union's bottom-k tested against the per-type bottom-k
    (membership exact since each type ⊆ union), |A∩B| ≈ J·est(U),
    exact overlap alongside so the sketch error is visible.  Reads
    ≤ 3k synopsis rows; never rescans events for the intersection."""
    from lab3_spark.operators.events import kmv_type_overlap

    return kmv_type_overlap(_t(spark, sf_dir, "events"))


@query(
    "dedup_cdc_chunks",
    """
    WITH pre AS (
      SELECT doc_id, text, length(text) AS n,
             list_transform(range(1, length(text) + 1),
               i -> (ascii(substring(text, i, 1)) * 2654435761) % 8192)
               AS gear
      FROM documents
    ),
    bnd AS MATERIALIZED (
      SELECT doc_id, text,
             list_sort(list_distinct(
               [0] ||
               list_filter(range(16, n + 1),
                 i -> list_reduce(list_transform(range(0, 16),
                        k -> gear[i - k] * (4 ** k)::BIGINT),
                      (a, b) -> a + b) % 64 = 0) ||
               [CAST(n AS BIGINT)])) AS bs
      FROM pre
    ),
    ch AS (
      SELECT doc_id,
             md5(substring(text, bs[u.idx] + 1, bs[u.idx + 1] - bs[u.idx]))
               AS fp,
             bs[u.idx + 1] - bs[u.idx] AS chunk_len
      FROM bnd, (SELECT unnest(range(1, 100000)) AS idx) u
      WHERE u.idx < len(bs) AND bs[u.idx + 1] > bs[u.idx]
    )
    SELECT fp, CAST(chunk_len AS BIGINT) AS chunk_len,
           count(*) AS n_copies,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ch GROUP BY fp, chunk_len HAVING count(*) > 1
    ORDER BY fp
    """,
)
def q_dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunk dedup (dedup.cdc_duplicate_chunks): gear
    rolling hash places boundaries at h % 64 == 0, so a one-byte edit
    shifts only its own chunk and boundaries RESYNCHRONIZE — the
    restic/FastCDC family, vs repeated_chunks' fixed windows whose
    every later fingerprint shifts.  One in-row expression chain per
    doc (no UDF, closed-form window hash exact in int64), one
    combinable agg on the chunk md5."""
    from lab3_spark.operators.dedup import cdc_duplicate_chunks

    return cdc_duplicate_chunks(_t(spark, sf_dir, "documents"))


@query(
    "source_lang_mutual_info",
    """
    WITH cells AS (
      SELECT source AS r, lang AS c, count(*) AS o
      FROM documents GROUP BY 1, 2
    ),
    rmarg AS (SELECT r, sum(o) AS rt FROM cells GROUP BY r),
    cmarg AS (SELECT c, sum(o) AS ct FROM cells GROUP BY c),
    total AS (SELECT sum(o) AS n FROM cells),
    terms AS (
      SELECT total.n AS n,
             o * CAST(floor(ln((CAST(o AS DOUBLE) * CAST(total.n AS DOUBLE))
                   / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))
                   * 1000000000) AS BIGINT) AS mi_c,
             o * CAST(floor(ln(CAST(total.n AS DOUBLE) / CAST(rt AS DOUBLE))
                   * 1000000000) AS BIGINT) AS hr_c,
             o * CAST(floor(ln(CAST(total.n AS DOUBLE) / CAST(ct AS DOUBLE))
                   * 1000000000) AS BIGINT) AS hc_c
      FROM cells JOIN rmarg USING (r) JOIN cmarg USING (c), total
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(sum(mi_c) // n AS BIGINT) AS mi_fp,
           CAST(sum(hr_c) // n AS BIGINT) AS h_row_fp,
           CAST(sum(hc_c) // n AS BIGINT) AS h_col_fp,
           CAST(CASE WHEN sum(hr_c) + sum(hc_c) > 0 THEN
             (2 * (sum(mi_c) // n) * 1000000000)
               // ((sum(hr_c) // n) + (sum(hc_c) // n))
             ELSE 0 END AS BIGINT) AS npmi_like_fp
    FROM terms GROUP BY n
    """,
)
def q_source_lang_mutual_info(spark, sf_dir):
    """Mutual information I(source; lang) in nats
    (quality.mutual_information): the effect-size companion to the χ²
    gate — one ln per contingency CELL immediately fixed-pointed,
    exact bigint accumulation, one integer division by N (the
    token-entropy contract); symmetric redundancy 2I/(Hr+Hc)."""
    from lab3_spark.operators.quality import mutual_information

    return mutual_information(_t(spark, sf_dir, "documents"))


@query(
    "region_price_anova",
    """
    WITH monthly AS (
      SELECT r_name,
             (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS m,
             CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) // count(*)
                  AS BIGINT) AS y
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, m
    ),
    grp AS (
      SELECT r_name, count(*) AS ng,
             CAST(sum(y) AS BIGINT) AS sg,
             CAST(sum(y * y) AS BIGINT) AS ssg
      FROM monthly GROUP BY r_name
    ),
    tot AS (
      SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
             CAST(sum(sg) AS BIGINT) AS s,
             CAST(sum(sg * sg // ng) AS BIGINT) AS t_sum,
             CAST(sum(ssg) AS BIGINT) AS ss
      FROM grp
    )
    SELECT CAST(k AS BIGINT) AS k_groups, n AS n_obs,
           CAST(t_sum - s * s // n AS BIGINT) AS ssb,
           CAST(ss - t_sum AS BIGINT) AS ssw,
           CAST(CASE WHEN k > 1 AND n > k AND ss - t_sum > 0 THEN
             floor((CAST(t_sum - s * s // n AS DOUBLE) / CAST(k - 1 AS DOUBLE))
                 / (CAST(ss - t_sum AS DOUBLE) / CAST(n - k AS DOUBLE))
                 * 10000)
             ELSE 0 END AS BIGINT) AS f_fp
    FROM tot
    """,
)
def q_region_price_anova(spark, sf_dir):
    """One-way ANOVA of mean monthly order value across regions
    (relational.region_price_anova): the k-group extension of the
    two-group z-test.  Observations are per-(region, month) MEAN
    dollars, so every moment stays in int64 at any SF; SSB/SSW exact
    bigints with truncating division; F one double expression."""
    return REL.region_price_anova(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@query(
    "orders_benford_audit",
    """
    WITH counts AS (
      SELECT CAST(substring(regexp_replace(
               CAST(CAST(o_totalprice AS DOUBLE) AS VARCHAR),
               '[^1-9]', '', 'g'), 1, 1) AS BIGINT) AS digit,
             count(*) AS n
      FROM orders WHERE o_totalprice > 0
      GROUP BY 1
    ),
    total AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts),
    exp AS (
      SELECT unnest(range(1, 10)) AS digit,
             unnest([301029, 176091, 124938, 96910, 79181,
                     66946, 57991, 51152, 45757]) AS expected_fp
    )
    SELECT c.digit, c.n,
           CAST(c.n * 1000000 // t AS BIGINT) AS observed_fp,
           CAST(e.expected_fp AS BIGINT) AS expected_fp,
           CAST(abs(c.n * 1000000 // t - e.expected_fp) AS BIGINT) AS dev_fp
    FROM counts c JOIN exp e ON c.digit = e.digit, total
    ORDER BY c.digit
    """,
)
def q_orders_benford_audit(spark, sf_dir):
    """Benford's-law first-digit audit of order totals
    (profile.benford_first_digit): the forensic data-quality check —
    organically-grown magnitudes follow log10(1+1/d); fabricated or
    truncated-domain numbers bend the curve.  First digit via string
    head (no per-row log), 9-row combinable agg, Benford masses as
    identical integer literals in both engines."""
    from lab3_spark.operators.profile import benford_first_digit

    return benford_first_digit(_t(spark, sf_dir, "orders"))


@query(
    "events_cusum_changepoint",
    """
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) // count(*)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    stats AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS s FROM hourly),
    dev AS (
      SELECT h, stats.n,
             sum(stats.n * y - stats.s) OVER (ORDER BY h) AS c
      FROM hourly, stats
    )
    SELECT p.change_hour,
           m.cusum_abs_max,
           m.n_hours
    FROM (SELECT CAST(max(abs(c)) AS BIGINT) AS cusum_abs_max,
                 CAST(max(n) AS BIGINT) AS n_hours FROM dev) m,
         (SELECT h AS change_hour FROM dev
          ORDER BY abs(c) DESC, h LIMIT 1) p
    """,
)
def q_events_cusum_changepoint(spark, sf_dir):
    """CUSUM level-shift locator over hourly mean event value
    (events.cusum_changepoint): |Σ deviations from the grand mean|
    peaks at the changepoint.  All-integer running statistic
    c_t = Σ(n·y_i − S) over the |hours|-row rollup (window over
    metadata, never events); tie → earliest hour."""
    from lab3_spark.operators.events import cusum_changepoint

    return cusum_changepoint(_t(spark, sf_dir, "events"))


@query(
    "embedding_projection_by_label",
    f"""
    WITH qv AS (
      SELECT list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 16384) AS BIGINT)) AS q
      FROM embeddings
    ),
    g AS MATERIALIZED (
      SELECT jj.j, kk.k, sum(q[jj.j] * q[kk.k]) AS gv
      FROM qv, (SELECT unnest(range(1, 65)) AS j) jj,
           (SELECT unnest(range(1, 65)) AS k) kk
      GROUP BY jj.j, kk.k
    ),
    grows AS MATERIALIZED (
      SELECT j, list(CAST(gv AS DOUBLE) ORDER BY k) AS row
      FROM g GROUP BY j
    ),
    v0 AS (SELECT list_transform(range(1, 65), t -> 0.125) AS v),
    {_duck_power_iters(8)},
    proj AS (
      SELECT e.label,
             CAST(floor(
               list_reduce(list_transform(range(1, 65),
                 t -> CAST(floor(CAST(e.embedding[t] AS DOUBLE) * 16384)
                           AS BIGINT) * 1.0 * v.v[t]),
                 (a, b) -> a + b) * (1.0 / 16384) * 10000
             ) AS BIGINT) AS p
      FROM embeddings e, v8 v
    )
    SELECT label, count(*) AS n,
           CAST(floor(CAST(sum(p) AS DOUBLE) / count(*)) AS BIGINT)
             AS mean_proj_fp,
           CAST(floor(CAST(sum(p * p) AS DOUBLE) / count(*)
                - (CAST(sum(p) AS DOUBLE) / count(*))
                  * (CAST(sum(p) AS DOUBLE) / count(*))) AS BIGINT)
             AS var_proj_fp
    FROM proj GROUP BY label ORDER BY label
    """,
)
def q_embedding_projection_by_label(spark, sf_dir):
    """Per-label distribution of the projection onto the corpus's top
    principal direction (spectral.projection_by_label): the spectral
    result CONSUMED distributed — the eigenvector ships as a literal
    d-array, each row pays one pinned-order fold; per-label stats via
    the fixed-point contract with floor-on-double division (Spark DIV
    truncates, DuckDB // floors; projections are signed)."""
    from lab3_spark.operators.spectral import projection_by_label

    return projection_by_label(_t(spark, sf_dir, "embeddings"))


@query(
    "orders_mean_bootstrap_ci",
    f"""
    WITH hashed AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y,
             {_h2l("substring(md5(concat('boot', '|', CAST(o_orderkey AS VARCHAR))), 1, 15)")} AS h
      FROM orders
    ),
    mixed AS (
      SELECT b.b, y,
             ((h + b.b * 2654435761) % 2147483647 + 1) AS x
      FROM hashed, (SELECT unnest(range(0, 40)) AS b) b
    ),
    uni AS (
      SELECT b, y,
             ((((x * x) % 2147483647) * x % 2147483647) * 48271
              % 2147483647) % 1000000 AS u
      FROM mixed
    ),
    weighted AS (
      SELECT b, y,
             CASE
               WHEN u < 367879 THEN 0
               WHEN u < 735758 THEN 1
               WHEN u < 919698 THEN 2
               WHEN u < 981011 THEN 3
               WHEN u < 996340 THEN 4
               WHEN u < 999405 THEN 5
               WHEN u < 999916 THEN 6
               WHEN u < 999989 THEN 7
               ELSE 8 END AS w
      FROM uni
    ),
    means AS (
      SELECT b, CAST(sum(w * y) // sum(w) AS BIGINT) AS m
      FROM weighted GROUP BY b HAVING sum(w) > 0
    ),
    ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM means
    )
    SELECT 'point' AS stat,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                // count(*) AS BIGINT) AS value_cents
    FROM orders
    UNION ALL
    SELECT 'ci_lo', m FROM ranked WHERE rk = 1
    UNION ALL
    SELECT 'ci_hi', m FROM ranked WHERE rk = 39
    ORDER BY stat
    """,
)
def q_orders_mean_bootstrap_ci(spark, sf_dir):
    """95% Poisson-bootstrap CI for the mean order value
    (profile.poisson_bootstrap_ci): each row draws B=40 iid
    Poisson(1) weights from the portable md5 uniform via a literal
    inverse-CDF ladder — the coordination-free distributed bootstrap
    (classical with-replacement resampling cannot be distributed);
    per-resample means are exact-bigint cents; CI = positional ranks
    1 and 39 of the 40-row means frame."""
    from lab3_spark.operators.profile import poisson_bootstrap_ci

    return poisson_bootstrap_ci(_t(spark, sf_dir, "orders"))


@query(
    "source_influence_jackknife",
    f"""
    WITH per AS (
      SELECT source,
             CAST(floor((0.4 * least(len({_DUCK_TOKS}) / 50.0, 1.0)
             + 0.3 * (1 - CASE WHEN length(text) > 0 THEN
                 length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                 / length(text) ELSE 0.0 END)
             + 0.3 * (CASE WHEN len({_DUCK_TOKS}) > 0 THEN
                 len(list_distinct({_DUCK_TOKS})) / len({_DUCK_TOKS})
                 ELSE 0.0 END)) * 10000) AS BIGINT) AS q
      FROM documents
    ),
    grp AS (
      SELECT source, count(*) AS n, CAST(sum(q) AS BIGINT) AS s
      FROM per GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                   CAST(sum(s) AS BIGINT) AS ss FROM grp)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
             AS mean_q_fp,
           CAST(floor(CAST(ss - s AS DOUBLE) / CAST(nn - n AS DOUBLE))
             AS BIGINT) AS loo_mean_fp,
           CAST(floor(CAST(ss - s AS DOUBLE) / CAST(nn - n AS DOUBLE)
                - CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) AS BIGINT)
             AS influence_fp
    FROM grp, tot WHERE nn > n
    ORDER BY source
    """,
)
def q_source_influence_jackknife(spark, sf_dir):
    """Leave-one-source-out influence on corpus mean quality
    (quality.source_influence_jackknife): the whole audit is ONE
    per-source agg + a broadcast stats row — (S−s_g)/(N−n_g) gives
    every LOO mean without re-scanning per group.  Signed results ⇒
    floor-on-double division on both sides."""
    from lab3_spark.operators.quality import source_influence_jackknife

    return source_influence_jackknife(_t(spark, sf_dir, "documents"))


@query(
    "embedding_top2_directions",
    f"""
    WITH qv AS (
      SELECT list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 16384) AS BIGINT)) AS q
      FROM embeddings
    ),
    g AS MATERIALIZED (
      SELECT jj.j, kk.k, sum(q[jj.j] * q[kk.k]) AS gv
      FROM qv, (SELECT unnest(range(1, 65)) AS j) jj,
           (SELECT unnest(range(1, 65)) AS k) kk
      GROUP BY jj.j, kk.k
    ),
    grows AS MATERIALIZED (
      SELECT j, list(CAST(gv AS DOUBLE) ORDER BY k) AS row
      FROM g GROUP BY j
    ),
    v0 AS (SELECT list_transform(range(1, 65), t -> 0.125) AS v),
    {_duck_power_iters(8)},
    rq AS MATERIALIZED (
      SELECT g.j,
             list_reduce(list_transform(range(1, 65),
                 t -> g.row[t] * v.v[t]), (a, b) -> a + b) AS w
      FROM grows g, v8 v
    ),
    lam AS MATERIALIZED (
      SELECT list_reduce(list_transform(range(1, 65),
                 t -> v.v[t] * wl.wv[t]), (a, b) -> a + b) AS lam
      FROM (SELECT list(w ORDER BY j) AS wv FROM rq) wl, v8 v
    ),
    grows2 AS MATERIALIZED (
      SELECT g.j,
             list_transform(range(1, 65),
               t -> g.row[t] - (lam.lam * v.v[g.j]) * v.v[t]) AS row
      FROM grows g, v8 v, lam
    ),
    dv0 AS (SELECT list_transform(range(1, 65), t -> 0.125) AS v),
    {_duck_power_iters(8, grows="grows2", p="d")}
    SELECT 1 AS component, t.d AS dim, v.v[t.d] AS loading
    FROM v8 v, (SELECT unnest(range(1, 65)) AS d) t
    UNION ALL
    SELECT 2, t.d, v.v[t.d]
    FROM dv8 v, (SELECT unnest(range(1, 65)) AS d) t
    ORDER BY component, dim
    """,
)
def q_embedding_top2_directions(spark, sf_dir):
    """Top TWO principal directions (spectral.top2_principal_
    directions): v1 by power iteration, λ1 by a pinned Rayleigh fold,
    v2 by Hotelling deflation G₂ = G − λ₁v₁v₁ᵀ (deflation term order
    pinned: (λ·v_j)·v_k) and a second unrolled iteration chain —
    bit-identical doubles end-to-end, one distributed Gramian pass."""
    from lab3_spark.operators.spectral import top2_principal_directions

    return top2_principal_directions(_t(spark, sf_dir, "embeddings"))


@query(
    "dedup_graph_assortativity",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    und AS (
      SELECT doc_a AS a, doc_b AS b FROM cand
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM cand
    ),
    deg AS (SELECT a, count(*) AS d FROM und GROUP BY a),
    pairs AS (
      SELECT dx.d AS dx, dy.d AS dy
      FROM und JOIN deg dx ON und.a = dx.a JOIN deg dy ON und.b = dy.a
    ),
    mom AS (
      SELECT count(*) AS m,
             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dy * dy) AS BIGINT) AS syy,
             CAST(sum(dx * dy) AS BIGINT) AS sxy
      FROM pairs
    )
    SELECT CAST(m / 2 AS BIGINT) AS n_edges,
      CAST(CASE WHEN (CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) > 0
                 AND (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
        THEN floor(
          (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
          / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
          * 1000000)
        ELSE 0 END AS BIGINT) AS r_fp
    FROM mom
    """,
)
def q_dedup_graph_assortativity(spark, sf_dir):
    """Newman degree assortativity of the near-dup candidate graph
    (components.degree_assortativity): r > 0 ⇒ boilerplate core (hubs
    join hubs — target band capping there); r < 0 ⇒ hub-and-spoke
    templates.  One degree agg re-joined on both endpoints, exact
    bigint moments, r one double expression."""
    from lab3_spark.operators.components import degree_assortativity
    from lab3_spark.operators.dedup import minhash_candidates

    return degree_assortativity(
        minhash_candidates(_t(spark, sf_dir, "documents")), "doc_a", "doc_b"
    )


def _duck_ktruss_iters(n_iter: int, k: int = 3) -> str:
    """Unrolled support-peel CTEs: per round, edge support by wedge
    closing (two self-joins on the symmetric list), then keep edges
    with support ≥ k−2.  MATERIALIZED — each round references its
    predecessor three times (the kcore unroll lesson)."""
    ctes = [
        "e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM cand"
        " UNION SELECT doc_b AS a, doc_a AS b FROM cand)"
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""
    s{i} AS MATERIALIZED (
      SELECT e.a, e.b, count(*) AS c
      FROM e{i - 1} e
      JOIN e{i - 1} x ON x.a = e.a
      JOIN e{i - 1} y ON y.a = e.b AND y.b = x.b
      GROUP BY e.a, e.b
    ),
    e{i} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{i - 1} e
      LEFT JOIN s{i} s ON s.a = e.a AND s.b = e.b
      WHERE coalesce(s.c, 0) >= {k - 2}
    )"""
        )
    return ",".join(ctes)


@query(
    "dedup_ktruss",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    {_duck_ktruss_iters(4)}
    SELECT a, b FROM e4 WHERE a < b ORDER BY a, b
    """,
)
def q_dedup_ktruss(spark, sf_dir):
    """3-truss of the near-dup candidate graph (components.ktruss):
    four support peels keep only edges closing ≥ 1 triangle within the
    surviving subgraph — triangle-corroborated duplicate structure,
    one rung stronger than the 2-core (a pendant FP with two busy
    endpoints survives k-core but not k-truss).  Fixed rounds = the
    engine-identical unrolled oracle (a prefix of the fixpoint;
    peeling is monotone)."""
    from lab3_spark.operators.components import ktruss
    from lab3_spark.operators.dedup import minhash_candidates

    return ktruss(
        minhash_candidates(_t(spark, sf_dir, "documents")),
        "doc_a",
        "doc_b",
        k=3,
        rounds=4,
    )


@query(
    "dedup_blocking_quality",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    fp AS (
      SELECT doc_id,
             md5(array_to_string({_DUCK_TOKS}, ' ')) AS fp
      FROM documents
    ),
    truth AS (
      SELECT CAST(sum(g * (g - 1) // 2) AS BIGINT) AS n_true,
             CAST(sum(g) AS BIGINT) AS n_docs
      FROM (SELECT count(*) AS g FROM fp GROUP BY fp.fp)
    ),
    nc AS (SELECT count(*) AS n_cand FROM cand),
    caught AS (
      SELECT count(*) AS n_caught
      FROM cand
      JOIN fp a ON cand.doc_a = a.doc_id
      JOIN fp b ON cand.doc_b = b.doc_id
      WHERE a.fp = b.fp
    )
    SELECT n_docs, n_true AS n_true_pairs,
           CAST(n_cand AS BIGINT) AS n_cand_pairs,
           CAST(n_caught AS BIGINT) AS n_caught,
           CAST(CASE WHEN n_true > 0 THEN n_caught * 1000000 // n_true
                ELSE 1000000 END AS BIGINT) AS pc_fp,
           CAST(CASE WHEN n_docs > 1 THEN 1000000 - n_cand * 1000000
                // (n_docs * (n_docs - 1) // 2)
                ELSE 1000000 END AS BIGINT) AS rr_fp
    FROM truth, nc, caught
    """,
)
def q_dedup_blocking_quality(spark, sf_dir):
    """Entity-resolution blocking metrics (dedup.blocking_quality):
    pair completeness (blocker recall vs exact-fingerprint truth) and
    reduction ratio (fraction of the N·(N−1)/2 space pruned) for the
    LSH candidate generator.  No pair space materialized: truth is
    Σ C(g,2) over group sizes, caught is two equi-joins."""
    from lab3_spark.operators.dedup import blocking_quality

    return blocking_quality(_t(spark, sf_dir, "documents"))


@query(
    "ql_dirichlet_top_docs",
    f"""
    WITH base AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf_0,
             CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf_1,
             CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf_2
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS toks
            FROM documents)
    ),
    stats AS (
      SELECT CAST(sum(dl) AS BIGINT) AS t_tokens,
             CAST(sum(tf_0) AS BIGINT) AS ctf_0,
             CAST(sum(tf_1) AS BIGINT) AS ctf_1,
             CAST(sum(tf_2) AS BIGINT) AS ctf_2
      FROM base
    ),
    scored AS (
      SELECT doc_id,
        (CASE WHEN ctf_0 > 0 THEN CAST(floor(ln(
            (CAST(tf_0 AS DOUBLE) + 200.0 * (CAST(ctf_0 AS DOUBLE)
               / CAST(t_tokens AS DOUBLE)))
            / (CAST(dl AS DOUBLE) + 200.0)) * 1000000) AS BIGINT)
          ELSE 0 END)
        + (CASE WHEN ctf_1 > 0 THEN CAST(floor(ln(
            (CAST(tf_1 AS DOUBLE) + 200.0 * (CAST(ctf_1 AS DOUBLE)
               / CAST(t_tokens AS DOUBLE)))
            / (CAST(dl AS DOUBLE) + 200.0)) * 1000000) AS BIGINT)
          ELSE 0 END)
        + (CASE WHEN ctf_2 > 0 THEN CAST(floor(ln(
            (CAST(tf_2 AS DOUBLE) + 200.0 * (CAST(ctf_2 AS DOUBLE)
               / CAST(t_tokens AS DOUBLE)))
            / (CAST(dl AS DOUBLE) + 200.0)) * 1000000) AS BIGINT)
          ELSE 0 END) AS score_fp
      FROM base CROSS JOIN stats
    )
    SELECT doc_id, score_fp,
           CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id ASC)
                AS INTEGER) AS rnk
    FROM scored ORDER BY score_fp DESC, doc_id ASC LIMIT 15
    """,
)
def q_ql_dirichlet_top_docs(spark, sf_dir):
    """Dirichlet-smoothed query likelihood top-15
    (retrieval.ql_dirichlet_top_docs): the language-modeling ranking
    family next to BM25 — one broadcast stats row (T, per-term ctf),
    in-row tf folds, per-term contributions floored ·10⁶ before the
    integer per-doc sum, TakeOrderedAndProject heap."""
    from lab3_spark.operators.retrieval import ql_dirichlet_top_docs

    return ql_dirichlet_top_docs(_t(spark, sf_dir, "documents"))


@query(
    "retrieval_rank_agreement",
    f"""
    WITH {duck_bm25_ctes(k=15, name="bm")},
    qbase AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf_0,
             CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf_1,
             CAST(len(list_filter(toks, x -> x = 'spark')) AS BIGINT) AS tf_2
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), {OR.DUCK_TOKEN_REGEX}) AS toks
            FROM documents)
    ),
    qstats AS (
      SELECT CAST(sum(dl) AS BIGINT) AS t_tokens,
             CAST(sum(tf_0) AS BIGINT) AS ctf_0,
             CAST(sum(tf_1) AS BIGINT) AS ctf_1,
             CAST(sum(tf_2) AS BIGINT) AS ctf_2
      FROM qbase
    ),
    qscored AS (
      SELECT doc_id,
        (CASE WHEN ctf_0 > 0 THEN CAST(floor(ln(
            (CAST(tf_0 AS DOUBLE) + 200.0 * (CAST(ctf_0 AS DOUBLE)
               / CAST(t_tokens AS DOUBLE)))
            / (CAST(dl AS DOUBLE) + 200.0)) * 1000000) AS BIGINT)
          ELSE 0 END)
        + (CASE WHEN ctf_1 > 0 THEN CAST(floor(ln(
            (CAST(tf_1 AS DOUBLE) + 200.0 * (CAST(ctf_1 AS DOUBLE)
               / CAST(t_tokens AS DOUBLE)))
            / (CAST(dl AS DOUBLE) + 200.0)) * 1000000) AS BIGINT)
          ELSE 0 END)
        + (CASE WHEN ctf_2 > 0 THEN CAST(floor(ln(
            (CAST(tf_2 AS DOUBLE) + 200.0 * (CAST(ctf_2 AS DOUBLE)
               / CAST(t_tokens AS DOUBLE)))
            / (CAST(dl AS DOUBLE) + 200.0)) * 1000000) AS BIGINT)
          ELSE 0 END) AS score_fp
      FROM qbase CROSS JOIN qstats
    ),
    ql AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score_fp DESC, doc_id ASC) AS r2
      FROM qscored ORDER BY score_fp DESC, doc_id ASC LIMIT 15
    ),
    common AS (
      SELECT count(*) AS n_common,
             CAST(coalesce(sum(abs(bm.rnk - ql.r2)), 0) AS BIGINT) AS fr_sum
      FROM bm JOIN ql USING (doc_id)
    ),
    sizes AS (
      SELECT (SELECT count(*) FROM bm) AS n1,
             (SELECT count(*) FROM ql) AS n2
    )
    SELECT CAST(15 AS BIGINT) AS k,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(CASE WHEN n1 + n2 - n_common > 0
                THEN n_common * 1000000 // (n1 + n2 - n_common)
                ELSE 0 END AS BIGINT) AS jaccard_fp,
           CAST(CASE WHEN n_common > 0
                THEN fr_sum * 1000000 // (n_common * 15)
                ELSE 0 END AS BIGINT) AS footrule_fp
    FROM common, sizes
    """,
)
def q_retrieval_rank_agreement(spark, sf_dir):
    """BM25 vs query-likelihood rank agreement
    (retrieval.rank_agreement): Jaccard of the two top-15 doc sets +
    normalized Spearman footrule over the common docs — where the
    rankers diverge is where RRF fusion earns its keep.  Both heads
    are k-row frames; the comparison is metadata-scale joins."""
    from lab3_spark.operators.retrieval import rank_agreement

    return rank_agreement(_t(spark, sf_dir, "documents"))


@query(
    "orders_holt_forecast",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    series AS (
      SELECT list_transform(list_sort(list({d: d, y: y})), s -> s.y) AS ys
      FROM daily
    ),
    folded AS (
      SELECT len(ys) AS n,
             list_reduce(
               [[ys[1], ys[2] - ys[1]]] || list_transform(ys[2:], v -> [v, 0.0]),
               (acc, e) -> [
                 0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
                 0.5 * ((0.5 * e[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                 + 0.5 * acc[2]
               ]) AS lt
      FROM series
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(floor(lt[1]) AS BIGINT) AS level,
           CAST(floor(lt[2] * 100) AS BIGINT) AS trend_fp,
           CAST(floor(lt[1] + 7.0 * lt[2]) AS BIGINT) AS forecast_h
    FROM folded
    """,
)
def q_orders_holt_forecast(spark, sf_dir):
    """Holt double exponential smoothing over daily revenue
    (relational.holt_forecast): level+trend state-space fold with
    α=β=1/2 and the 7-day-ahead forecast — one in-row fold over the
    day-sorted series (|days| rows, calendar-bounded), bit-identical
    IEEE recurrence in both engines (the t-update recomputes l'
    inline in the same expression shape; DuckDB seeds list_reduce
    from the first element, so the [l0, t0] seed rides as a prepended
    element)."""
    return REL.holt_forecast(_t(spark, sf_dir, "orders"))


@query(
    "nation_trend_robust",
    """
    WITH monthly AS (
      SELECT n_name,
             (year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS x,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, x
    ),
    pairs AS (
      SELECT a.n_name,
             CAST(floor(CAST(b.y - a.y AS DOUBLE) * 1000000.0
                  / CAST(b.x - a.x AS DOUBLE)) AS BIGINT) AS s,
             CAST(sign(CAST(b.y - a.y AS DOUBLE)) AS BIGINT) AS g
      FROM monthly a JOIN monthly b
        ON a.n_name = b.n_name AND b.x > a.x
    ),
    ranked AS (
      SELECT n_name, s,
             row_number() OVER (PARTITION BY n_name ORDER BY s) AS rk
      FROM pairs
    ),
    counts AS (
      SELECT n_name, count(*) AS np, CAST(sum(g) AS BIGINT) AS mk_s
      FROM pairs GROUP BY n_name
    ),
    mcounts AS (
      SELECT n_name, count(*) AS n_months FROM monthly GROUP BY n_name
    )
    SELECT r.n_name, CAST(m.n_months AS BIGINT) AS n_months,
           r.s AS theilsen_fp, c.mk_s,
           CAST(sign(CAST(c.mk_s AS DOUBLE)) AS INTEGER) AS mk_trend
    FROM ranked r
    JOIN counts c ON r.n_name = c.n_name
    JOIN mcounts m ON r.n_name = m.n_name
    WHERE r.rk = (c.np - 1) * 50 // 100 + 1
    ORDER BY r.n_name
    """,
)
def q_nation_trend_robust(spark, sf_dir):
    """Theil–Sen robust slope + Mann–Kendall trend per nation
    (relational.nation_trend_robust): pairwise over the CALENDAR-
    bounded monthly rollup (C(84,2) pairs per nation — the fact table
    is never self-joined); slope median by the positional rule,
    S an exact sign sum."""
    return REL.nation_trend_robust(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


@query(
    "source_token_gini",
    f"""
    WITH masses AS (
      SELECT source,
             CAST(sum(len(regexp_extract_all(lower(text),
                  {OR.DUCK_TOKEN_REGEX}))) AS BIGINT) AS m
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, source) AS i FROM masses
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sources,
           CAST(sum(m) AS BIGINT) AS total_tokens,
           CAST(floor(
             CAST(sum((2 * i - 1) * m) - count(*) * sum(m) AS DOUBLE)
             / CAST(count(*) * sum(m) AS DOUBLE) * 1000000
           ) AS BIGINT) AS gini_fp
    FROM ranked
    """,
)
def q_source_token_gini(spark, sf_dir):
    """Gini concentration of token mass across sources
    (textstats.source_token_gini): the corpus-mix concentration audit.
    One token-count agg to the |sources| frame; positional formula
    Σ(2i−n−1)m_i with exact bigint numerator; single floor-on-double
    division."""
    from lab3_spark.operators.textstats import source_token_gini

    return source_token_gini(_t(spark, sf_dir, "documents"))


def _duck_qf_corr(i: int, j: int, names: tuple[str, ...]) -> str:
    nd = "CAST(n AS DOUBLE)"
    num = f"({nd} * p{i}{j} - CAST(s{i} AS DOUBLE) * s{j})"
    vi = f"({nd} * p{i}{i} - CAST(s{i} AS DOUBLE) * s{i})"
    vj = f"({nd} * p{j}{j} - CAST(s{j} AS DOUBLE) * s{j})"
    return (
        f"SELECT '{names[i]}' AS feat_a, '{names[j]}' AS feat_b,"
        f" CAST(CASE WHEN {vi} > 0 AND {vj} > 0 THEN"
        f" floor({num} / sqrt({vi} * {vj}) * 1000000)"
        f" ELSE 0 END AS BIGINT) AS corr_fp FROM mom"
    )


@query(
    "quality_feature_correlations",
    f"""
    WITH base AS (
      SELECT CAST(len({_DUCK_TOKS}) AS BIGINT) AS f0,
             CAST(floor((CASE WHEN length(text) > 0 THEN
               length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
               / length(text) ELSE 0.0 END) * 10000) AS BIGINT) AS f1,
             CAST(floor((CASE WHEN len({_DUCK_TOKS}) > 0 THEN
               len(list_distinct({_DUCK_TOKS})) / len({_DUCK_TOKS})
               ELSE 0.0 END) * 10000) AS BIGINT) AS f2,
             CAST(floor((CASE WHEN len(list_distinct({_DUCK_TOKS})) > 0 THEN
               len(list_intersect(list_distinct({_DUCK_TOKS}), {_DUCK_STOP_ARR}))
               / len(list_distinct({_DUCK_TOKS})) ELSE 0.0 END) * 10000)
               AS BIGINT) AS f3
      FROM documents
    ),
    mom AS (
      SELECT count(*) AS n,
        {", ".join(f"CAST(sum(f{i}) AS BIGINT) AS s{i}" for i in range(4))},
        {", ".join(f"CAST(sum(f{i} * f{j}) AS BIGINT) AS p{i}{j}" for i in range(4) for j in range(i, 4))}
      FROM base
    )
    {" UNION ALL ".join(_duck_qf_corr(i, j, ("n_tokens", "punct_ratio", "distinct_ratio", "stop_ratio")) for i in range(4) for j in range(i + 1, 4))}
    ORDER BY feat_a, feat_b
    """,
)
def q_quality_feature_correlations(spark, sf_dir):
    """Pairwise Pearson correlations of the quality scorer's input
    features (quality.quality_feature_correlations): the feature-
    engineering audit behind _quality_blend — near-±1 pairs are
    double-counted weight.  One scan, ONE 14-moment aggregation,
    six double expressions over the broadcast row."""
    from lab3_spark.operators.quality import quality_feature_correlations

    return quality_feature_correlations(_t(spark, sf_dir, "documents"))


@query(
    "events_hourly_acf",
    """
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    spine AS (SELECT unnest(range(min(h), max(h) + 1)) AS h FROM hourly),
    dense AS MATERIALIZED (
      SELECT s.h, coalesce(c.x, 0) AS x
      FROM spine s LEFT JOIN hourly c ON s.h = c.h
    ),
    pairs AS (
      SELECT l.lag, a.x, b.x AS y
      FROM dense a, (SELECT unnest(range(1, 25)) AS lag) l
      JOIN dense b ON b.h = a.h + l.lag
    ),
    mom AS (
      SELECT lag, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT lag, n AS n_hours,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN floor(
                  (CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE))) * 1000000
                ) / 1000000
                ELSE 0.0 END AS acf
    FROM mom ORDER BY lag
    """,
)
def q_events_hourly_acf(spark, sf_dir):
    """Autocorrelation function of hourly event counts at lags 1..24
    (events.hourly_acf): the seasonality detector — a peak at lag 24
    is the daily cycle.  Densified spine, one shifted-key equi-join
    for all lags, exact bigint moments."""
    from lab3_spark.operators.events import hourly_acf

    return hourly_acf(_t(spark, sf_dir, "events"))


@query(
    "events_decayed_leaderboard",
    """
    WITH d1 AS (SELECT max(CAST(ts AS DATE)) AS d1 FROM events),
    w AS (
      SELECT event_type,
             CAST(1 AS BIGINT) << (20 - least(
               CAST(floor(datediff('day', CAST(ts AS DATE), d1.d1) / 1)
                    AS INTEGER), 20)) AS w
      FROM events, d1
    ),
    scored AS (
      SELECT event_type, count(*) AS raw_count,
             CAST(sum(w) AS BIGINT) AS wsum
      FROM w GROUP BY event_type
    )
    SELECT event_type, raw_count,
           CAST(floor(CAST(wsum AS DOUBLE) * 1000000.0 / 1048576.0)
                AS BIGINT) AS decayed_fp,
           CAST(row_number() OVER (
             ORDER BY floor(CAST(wsum AS DOUBLE) * 1000000.0 / 1048576.0)
               DESC, event_type ASC) AS INTEGER) AS rnk
    FROM scored ORDER BY rnk
    """,
)
def q_events_decayed_leaderboard(spark, sf_dir):
    """Exponentially time-decayed event-type leaderboard
    (events.decayed_leaderboard): half-life decay with EXACT integer
    weights 2^(20−age) (power-of-two half-life ⇒ no per-row float
    decay, no summation-order hazard; 2⁻²⁰ saturation floor
    documented); one combinable agg, final normalize one double
    expression."""
    from lab3_spark.operators.events import decayed_leaderboard

    return decayed_leaderboard(_t(spark, sf_dir, "events"))


@query(
    "events_seasonal_decomposition",
    """
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    spine AS (SELECT unnest(range(min(h), max(h) + 1)) AS h FROM hourly),
    dense AS MATERIALIZED (
      SELECT s.h, coalesce(c.x, 0) AS x
      FROM spine s LEFT JOIN hourly c ON s.h = c.h
    ),
    det AS (
      SELECT h,
             x * 48
               - sum(x) OVER (ORDER BY h
                   ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
               - sum(x) OVER (ORDER BY h
                   ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS d,
             count(*) OVER (ORDER BY h
                   ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
               + count(*) OVER (ORDER BY h
                   ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS wn
      FROM dense
    )
    SELECT h % 24 AS hod, count(*) AS n_obs,
           CAST(floor(CAST(sum(d) AS DOUBLE) / count(*) / 48.0 * 10000)
                AS BIGINT) AS seasonal_fp
    FROM det WHERE wn = 48
    GROUP BY 1 ORDER BY hod
    """,
)
def q_events_seasonal_decomposition(spark, sf_dir):
    """STL-lite hour-of-day seasonal indices after SYMMETRIC 2×24-MA
    detrending (events.seasonal_profile_decomposed): ×48 scaling keeps
    the detrended residual exactly integer and the symmetric window
    cancels linear trend exactly; only full windows contribute; one
    floor-on-double division per hod.  Windows run over the
    calendar-bounded dense spine, never over events."""
    from lab3_spark.operators.events import seasonal_profile_decomposed

    return seasonal_profile_decomposed(_t(spark, sf_dir, "events"))


@query(
    "customer_order_cadence",
    """
    WITH gaps AS (
      SELECT datediff('day',
               lag(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey),
               o_orderdate) AS g
      FROM orders
      QUALIFY g IS NOT NULL
    ),
    hist AS (SELECT g, count(*) AS m FROM gaps GROUP BY g),
    cum AS (
      SELECT g, m, sum(m) OVER (ORDER BY g) AS cum,
             sum(m) OVER () AS n, sum(g * m) OVER () AS s
      FROM hist
    )
    SELECT CAST(max(n) AS BIGINT) AS n_gaps,
           CAST(min(CASE WHEN cum >= (n - 1) * 50 // 100 + 1
                    THEN g END) AS BIGINT) AS p50_days,
           CAST(min(CASE WHEN cum >= (n - 1) * 95 // 100 + 1
                    THEN g END) AS BIGINT) AS p95_days,
           CAST(max(s) * 10000 // max(n) AS BIGINT) AS mean_days_fp
    FROM cum
    """,
)
def q_customer_order_cadence(spark, sf_dir):
    """Inter-order gap distribution (relational.order_cadence): one
    customer-partitioned lag pass, then EXACT p50/p95 from the
    counts-of-counts histogram of gap lengths (|distinct gaps| rows,
    calendar-bounded — the join_skew_report machinery)."""
    return REL.order_cadence(_t(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# round 7 additions (12 gates, window-budgeted: 35 never-checked + 3
# reshaped sketch gates + 12 new = 50 slots)
# --------------------------------------------------------------------------


@query(
    "dedup_simhash_blocking",
    f"""
    WITH {_DUCK_SIMHASH_CTES},
    cand AS (
      SELECT doc_a, doc_b FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
    ),
    fp AS (
      SELECT doc_id,
             md5(array_to_string({_DUCK_TOKS}, ' ')) AS fp
      FROM documents
    ),
    truth AS (
      SELECT CAST(sum(g * (g - 1) // 2) AS BIGINT) AS n_true,
             CAST(sum(g) AS BIGINT) AS n_docs
      FROM (SELECT count(*) AS g FROM fp GROUP BY fp.fp)
    ),
    nc AS (SELECT count(*) AS n_cand FROM cand),
    caught AS (
      SELECT count(*) AS n_caught
      FROM cand
      JOIN fp a ON cand.doc_a = a.doc_id
      JOIN fp b ON cand.doc_b = b.doc_id
      WHERE a.fp = b.fp
    )
    SELECT n_docs, n_true AS n_true_pairs,
           CAST(n_cand AS BIGINT) AS n_cand_pairs,
           CAST(n_caught AS BIGINT) AS n_caught,
           CAST(CASE WHEN n_true > 0 THEN n_caught * 1000000 // n_true
                ELSE 1000000 END AS BIGINT) AS pc_fp,
           CAST(CASE WHEN n_docs > 1 THEN 1000000 - n_cand * 1000000
                // (n_docs * (n_docs - 1) // 2)
                ELSE 1000000 END AS BIGINT) AS rr_fp
    FROM truth, nc, caught
    """,
)
def q_dedup_simhash_blocking(spark, sf_dir):
    """Blocking metrics for the SIMHASH candidate generator
    (dedup.simhash_blocking_quality): pair completeness and reduction
    ratio against the same exact-fingerprint truth set as
    dedup_blocking_quality — the engine's two blockers judged on one
    scale.  Candidates = 4×15-bit pigeonhole chunk join + hamming ≤ 3
    verify; no pair space materialized."""
    from lab3_spark.operators.dedup import simhash_blocking_quality

    return simhash_blocking_quality(_t(spark, sf_dir, "documents"))


@query(
    "dedup_cross_source",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT i.doc_a, i.doc_b,
             floor((n_inter / (na.n_sh + nb.n_sh - n_inter)) * 10000)
               / 10000 AS jaccard
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
      WHERE floor((n_inter / (na.n_sh + nb.n_sh - n_inter)) * 10000)
              / 10000 >= 0.2
    )
    SELECT j.doc_a, j.doc_b,
           da.source AS source_a, db.source AS source_b, j.jaccard
    FROM jac j
    JOIN documents da ON da.doc_id = j.doc_a
    JOIN documents db ON db.doc_id = j.doc_b
    WHERE da.source != db.source
    ORDER BY j.doc_a, j.doc_b
    """,
)
def q_dedup_cross_source(spark, sf_dir):
    """Cross-source verified near-duplicates (dedup.
    cross_source_near_dups): the record-linkage / contamination view —
    LSH candidates → exact shingle Jaccard → keep pairs whose sides
    come from DIFFERENT sources.  The label join runs on the verified
    pair list (candidate scale), never the corpus pair space."""
    from lab3_spark.operators.dedup import cross_source_near_dups

    return cross_source_near_dups(_t(spark, sf_dir, "documents"))


@query(
    "dataset_split_manifest",
    f"""
    WITH s AS (
      SELECT source,
             CASE WHEN h < 90 THEN 'train'
                  WHEN h < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT source,
                   {_h2l("substring(md5(concat('split', '|', CAST(doc_id AS VARCHAR))), 1, 15)")}
                     % 100 AS h
            FROM documents)
    ),
    per AS (SELECT source, split, count(*) AS n FROM s GROUP BY 1, 2),
    tot AS (SELECT source, sum(n) AS t FROM per GROUP BY 1)
    SELECT per.source, per.split, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // t AS BIGINT) AS pct_fp
    FROM per JOIN tot ON per.source = tot.source
    ORDER BY per.source, per.split
    """,
)
def q_dataset_split_manifest(spark, sf_dir):
    """Release manifest of the deterministic 90/5/5 hash split
    (sampling.dataset_split_manifest): per (source, split) counts +
    exact-bigint share of the stratum — the table a dataset card
    publishes and a training run re-derives to assert it reads the
    same split.  One groupBy + a broadcast totals join; the split
    itself is a pure per-row md5 expression (no stored assignment)."""
    from lab3_spark.operators.sampling import dataset_split_manifest

    return dataset_split_manifest(_t(spark, sf_dir, "documents"))


@query(
    "quality_kappa",
    f"""
    WITH {_DUCK_GOPHER_CTES},
    q AS (
      SELECT doc_id,
        floor((0.4 * least(len(toks) / 50.0, 1.0)
          + 0.3 * (1 - CASE WHEN length(text) > 0 THEN
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                / length(text) ELSE 0.0 END)
          + 0.3 * (CASE WHEN len(toks) > 0 THEN
              len(list_distinct(toks)) / len(toks) ELSE 0.0 END))
          * 10000) / 10000 >= 0.5 AS ra
      FROM (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
    ),
    g AS (SELECT doc_id, {_DUCK_GOPHER_PASS} AS rb FROM gf),
    c AS (
      SELECT
        CAST(sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        CAST(sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        CAST(sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        CAST(sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS n00
      FROM q JOIN g USING (doc_id)
    ),
    k AS (
      SELECT n11, n10, n01, n00,
             (n11 + n10 + n01 + n00) AS n,
             (n11 + n00) AS agree,
             ((n11 + n10) * (n11 + n01)
              + (n01 + n00) * (n10 + n00)) AS chance
      FROM c
    )
    SELECT n11, n10, n01, n00,
           CAST(agree * 1000000 // n AS BIGINT) AS po_fp,
           CAST(chance * 1000000 // (n * n) AS BIGINT) AS pe_fp,
           CASE WHEN (n * n - chance) = 0 THEN CAST(1000000 AS BIGINT)
                WHEN (n * agree - chance) >= 0 THEN
                  CAST((n * agree - chance) * 1000000
                       // (n * n - chance) AS BIGINT)
                ELSE -CAST((chance - n * agree) * 1000000
                           // (n * n - chance) AS BIGINT) END AS kappa_fp
    FROM k
    """,
)
def q_quality_kappa(spark, sf_dir):
    """Cohen's kappa between the composite quality heuristic (≥ 0.5)
    and the Gopher rule conjunction (textstats.quality_kappa):
    chance-corrected rater agreement from the exact 2×2 contingency —
    integer throughout, with sign-symmetric fixed-point division
    (Spark DIV truncates, DuckDB // floors; they differ on negatives,
    so the negative branch divides the negated numerator)."""
    from lab3_spark.operators.textstats import quality_kappa

    return quality_kappa(_t(spark, sf_dir, "documents"))


@query(
    "vocab_coverage_curve",
    f"""
    WITH counts AS (
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest({_DUCK_TOKS}) AS word FROM documents)
      GROUP BY word
    ),
    ranked AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, word ASC) AS rk
      FROM counts
    ),
    total AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM counts),
    ladder AS (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128, 256]) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS words_used,
           CAST(sum(cnt) * 1000000 // t AS BIGINT) AS coverage_fp
    FROM ranked, ladder, total
    WHERE rk <= k
    GROUP BY k, t ORDER BY k
    """,
)
def q_vocab_coverage_curve(spark, sf_dir):
    """Vocabulary-truncation curve (textstats.vocab_coverage_curve):
    token-occurrence coverage of the top-k word types for a k-ladder —
    what a tokenizer designer reads before fixing a vocab size.  One
    word-count shuffle; the rank window and ladder join run over the
    vocabulary-scale frame only."""
    from lab3_spark.operators.textstats import vocab_coverage_curve

    return vocab_coverage_curve(_t(spark, sf_dir, "documents"))


@query(
    "bpe_merge_candidates",
    f"""
    WITH words AS (
      SELECT word, count(*) AS wcnt
      FROM (SELECT unnest({_DUCK_TOKS}) AS word FROM documents)
      GROUP BY word
    ),
    pairs AS (
      SELECT substr(word, CAST(i AS INT), 2) AS pair, wcnt
      FROM (SELECT word, wcnt,
                   unnest(generate_series(1, length(word) - 1)) AS i
            FROM words WHERE length(word) >= 2)
    ),
    agg AS (
      SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
      FROM pairs GROUP BY pair
    ),
    top AS (
      SELECT pair, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC)
                  AS INTEGER) AS rnk
      FROM agg
    )
    SELECT pair, cnt, rnk FROM top WHERE rnk <= 20 ORDER BY rnk
    """,
)
def q_bpe_merge_candidates(spark, sf_dir):
    """First-iteration BPE merge ranking (textstats.
    bpe_merge_candidates): top-20 adjacent character pairs weighted by
    word occurrence counts (Sennrich et al. 2016).  The corpus folds
    to the vocabulary-scale word-count table FIRST; the pair explode
    runs over word types only — metadata-scale no matter the corpus
    size."""
    from lab3_spark.operators.textstats import bpe_merge_candidates

    return bpe_merge_candidates(_t(spark, sf_dir, "documents"))


@query(
    "source_vocab_overlap",
    f"""
    WITH sv AS (
      SELECT DISTINCT source, word
      FROM (SELECT source, unnest({_DUCK_TOKS}) AS word FROM documents)
    ),
    sizes AS (SELECT source, count(*) AS v FROM sv GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS v_inter
      FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           CAST(sa.v AS BIGINT) AS v_a,
           CAST(sb.v AS BIGINT) AS v_b,
           CAST(v_inter AS BIGINT) AS v_inter,
           CAST(v_inter * 1000000 // (sa.v + sb.v - v_inter)
                AS BIGINT) AS jaccard_fp
    FROM inter
    JOIN sizes sa ON sa.source = inter.source_a
    JOIN sizes sb ON sb.source = inter.source_b
    ORDER BY source_a, source_b
    """,
)
def q_source_vocab_overlap(spark, sf_dir):
    """Vocabulary Jaccard between every source pair (textstats.
    source_vocab_overlap): the redundancy audit next to the mixture
    weights.  One DISTINCT shuffle to the (source, word) table, then a
    word-keyed self-join of that metadata-scale frame — never
    corpus²."""
    from lab3_spark.operators.textstats import source_vocab_overlap

    return source_vocab_overlap(_t(spark, sf_dir, "documents"))


@query(
    "orders_winsorized_stats",
    """
    WITH vals AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y,
             o_orderkey AS k
      FROM orders
    ),
    ranked AS (
      SELECT y, row_number() OVER (ORDER BY y, k) AS rn FROM vals
    ),
    nn AS (SELECT count(*) AS n FROM vals),
    cuts AS (
      SELECT min(y) AS p_lo, max(y) AS p_hi
      FROM ranked, nn
      WHERE rn = greatest(1, n * 1 // 100)
         OR rn = n - greatest(1, n * 1 // 100) + 1
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(max(p_lo) AS BIGINT) AS p_lo_cents,
           CAST(max(p_hi) AS BIGINT) AS p_hi_cents,
           CAST(sum(y) // max(n) AS BIGINT) AS mean_cents,
           CAST(sum(greatest(p_lo, least(p_hi, y))) // max(n)
                AS BIGINT) AS winsorized_mean_cents
    FROM ranked, cuts, nn
    """,
)
def q_orders_winsorized_stats(spark, sf_dir):
    """Winsorized mean of order values (profile.winsorized_stats):
    clip both 1% tails to their RANK-cutoff values and re-average —
    the robust location estimate that keeps n constant.  Rank-based
    cutoffs make the whole statistic integer-exact (no percentile
    interpolation to disagree on); the global rank is the distributed
    range-partitioned row number (operators/rank.py)."""
    from lab3_spark.functions.rounding import cents
    from lab3_spark.operators.profile import winsorized_stats

    return winsorized_stats(
        _t(spark, sf_dir, "orders"), cents("o_totalprice"), "o_orderkey"
    ).select(
        "n",
        F.col("p_lo").alias("p_lo_cents"),
        F.col("p_hi").alias("p_hi_cents"),
        F.col("mean_v").alias("mean_cents"),
        F.col("winsorized_mean_v").alias("winsorized_mean_cents"),
    )


@query(
    "orders_mannwhitney",
    """
    WITH hist AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n1v,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT n1v, cnt, sum(cnt) OVER (ORDER BY y) AS cum_incl FROM hist
    ),
    agg AS (
      SELECT CAST(sum(n1v) AS BIGINT) AS n1,
             CAST(sum(cnt - n1v) AS BIGINT) AS n2,
             CAST(sum(n1v * (2 * (cum_incl - cnt) + cnt + 1))
                  AS BIGINT) AS r1_x2
      FROM cum
    )
    SELECT n1, n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS BIGINT) AS u2_x2,
           CAST(CASE WHEN n1 > 0 AND n2 > 0
                THEN (r1_x2 - n1 * (n1 + 1)) * 1000000
                     // (2 * n1 * n2)
                ELSE NULL END AS BIGINT) AS auc_fp
    FROM agg
    """,
)
def q_orders_mannwhitney(spark, sf_dir):
    """Mann-Whitney U between URGENT and non-urgent order values
    (profile.mannwhitney_u): the rank-based two-sample test, exact
    under ties via the ×2 tie-averaged rank sum from the value
    histogram; auc_fp = U1/(n1·n2) is the common-language effect size.
    Distinct prices ≈ rows, so the cumulative count is the DISTRIBUTED
    global running sum (operators/rank.py) — no single-partition
    window over the data-scale histogram."""
    from lab3_spark.functions.rounding import cents
    from lab3_spark.operators.profile import mannwhitney_u

    return mannwhitney_u(
        _t(spark, sf_dir, "orders"),
        cents("o_totalprice"),
        "o_orderpriority = '1-URGENT'",
    )


@query(
    "source_length_ks",
    """
    WITH hist AS (
      SELECT n_chars,
             CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1
    ),
    cum AS (
      SELECT sum(ca) OVER (ORDER BY n_chars) AS cum_a,
             sum(cb) OVER (ORDER BY n_chars) AS cum_b
      FROM hist
    ),
    tot AS (SELECT max(cum_a) AS ta, max(cum_b) AS tb FROM cum)
    SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
           CAST(max(abs(cum_a * tb - cum_b * ta)) AS BIGINT) AS d_num,
           CAST(CASE WHEN ta > 0 AND tb > 0
                THEN max(abs(cum_a * tb - cum_b * ta)) * 1000000
                     // (ta * tb)
                ELSE NULL END AS BIGINT) AS d_fp
    FROM cum, tot GROUP BY ta, tb
    """,
)
def q_source_length_ks(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov distance between the length
    distributions of two sources (textstats.length_ks_test):
    distribution-level drift, exact integers — D's numerator
    max|cum_a·n_b − cum_b·n_a| and denominator n_a·n_b kept apart,
    one division at the end.  The cumulative window runs over the
    BOUNDED distinct-length histogram (metadata scale)."""
    from lab3_spark.operators.textstats import length_ks_test

    return length_ks_test(_t(spark, sf_dir, "documents"))


@query(
    "corpus_ngram_novelty",
    f"""
    WITH d AS (
      SELECT {_h2l("substring(md5(concat('split', '|', CAST(doc_id AS VARCHAR))), 1, 15)")}
               % 100 AS h,
             {_DUCK_TOKS} AS toks
      FROM documents
    ),
    g AS (
      SELECT h, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
      FROM (SELECT h, toks, unnest(generate_series(1, len(toks) - 2)) AS i
            FROM d WHERE len(toks) >= 3)
    ),
    train_g AS (SELECT DISTINCT gram FROM g WHERE h < 90),
    test_g AS (SELECT DISTINCT gram FROM g WHERE h >= 95),
    counts AS (
      SELECT
        CAST((SELECT count(*) FROM test_g) AS BIGINT) AS n_test_grams,
        CAST((SELECT count(*) FROM test_g
              WHERE gram NOT IN (SELECT gram FROM train_g))
             AS BIGINT) AS n_novel
    )
    SELECT n_test_grams, n_novel,
           CAST(CASE WHEN n_test_grams > 0
                THEN n_novel * 1000000 // n_test_grams
                ELSE 0 END AS BIGINT) AS novelty_fp
    FROM counts
    """,
)
def q_corpus_ngram_novelty(spark, sf_dir):
    """Fraction of the TEST split's distinct 3-grams never seen in
    TRAIN (textstats.ngram_novelty) — the memorization audit behind
    held-out perplexity, over the same deterministic md5 split as
    dataset_split_manifest.  Distinct-gram tables dedup map-side; one
    left-anti join."""
    from lab3_spark.operators.textstats import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"))


@query(
    "quality_pr_curve",
    f"""
    WITH {_DUCK_GOPHER_CTES},
    q AS (
      SELECT doc_id,
        CAST(floor((0.4 * least(len(toks) / 50.0, 1.0)
          + 0.3 * (1 - CASE WHEN length(text) > 0 THEN
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                / length(text) ELSE 0.0 END)
          + 0.3 * (CASE WHEN len(toks) > 0 THEN
              len(list_distinct(toks)) / len(toks) ELSE 0.0 END))
          * 10000) AS BIGINT) AS qfp
      FROM (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM documents)
    ),
    g AS (SELECT doc_id, {_DUCK_GOPHER_PASS} AS actual FROM gf),
    t AS (
      SELECT qfp, actual, lad.t_fp
      FROM q JOIN g USING (doc_id),
           (SELECT unnest([3000, 3500, 4000, 4500, 5000,
                           5500, 6000, 6500, 7000]) AS t_fp) lad
    ),
    c AS (
      SELECT t_fp,
        CAST(sum(CASE WHEN qfp >= t_fp AND actual THEN 1 ELSE 0 END)
             AS BIGINT) AS n_tp,
        CAST(sum(CASE WHEN qfp >= t_fp AND NOT actual THEN 1 ELSE 0 END)
             AS BIGINT) AS n_fp,
        CAST(sum(CASE WHEN qfp < t_fp AND actual THEN 1 ELSE 0 END)
             AS BIGINT) AS n_fn,
        CAST(sum(CASE WHEN qfp < t_fp AND NOT actual THEN 1 ELSE 0 END)
             AS BIGINT) AS n_tn
      FROM t GROUP BY t_fp
    )
    SELECT CAST(t_fp AS BIGINT) AS t_fp, n_tp, n_fp, n_fn, n_tn,
           CAST(CASE WHEN n_tp + n_fp > 0
                THEN n_tp * 1000000 // (n_tp + n_fp)
                ELSE 1000000 END AS BIGINT) AS precision_fp,
           CAST(CASE WHEN n_tp + n_fn > 0
                THEN n_tp * 1000000 // (n_tp + n_fn)
                ELSE 1000000 END AS BIGINT) AS recall_fp
    FROM c ORDER BY t_fp
    """,
)
def q_quality_pr_curve(spark, sf_dir):
    """Precision/recall sweep of the quality score against the Gopher
    rules (textstats.quality_pr_curve) — the threshold-selection curve
    behind quality_kappa's single point.  Score fixed-pointed as
    floor(raw·10⁴) directly on BOTH sides (a trunc-then-remultiply
    float round trip truncates differently under Spark's cast vs
    DuckDB's)."""
    from lab3_spark.operators.textstats import quality_pr_curve

    return quality_pr_curve(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# round 8 additions
# --------------------------------------------------------------------------


def _duck_bpe_ctes(k: int) -> str:
    """Unrolled k-round BPE CTE chain mirroring textstats._bpe_loop:
    wrapped-symbol segmentation strings (|a||b||c|) make one plain
    replace() pass the exact greedy left-to-right merge in BOTH
    engines; each round is a (pair-count → argmax → replace) CTE
    triple chained on the previous round's segmentation.  Shared by
    the bpe_merges_k and bpe_apply_compression oracles."""
    ctes = [
        f"""w AS (
      SELECT word, CAST(count(*) AS BIGINT) AS wcnt
      FROM (SELECT unnest({_DUCK_TOKS}) AS word FROM documents)
      GROUP BY word
    ),
    seg0 AS (
      SELECT wcnt,
             '|' || array_to_string(regexp_split_to_array(word, ''), '||')
                 || '|' AS seg
      FROM w WHERE length(word) >= 2
    )"""
    ]
    for r in range(1, k + 1):
        ctes.append(
            f"""p{r} AS (
      SELECT syms[i] || ' ' || syms[i + 1] AS pair, wcnt
      FROM (SELECT wcnt, syms,
                   unnest(generate_series(1, len(syms) - 1)) AS i
            FROM (SELECT wcnt, string_split(trim(seg, '|'), '||') AS syms
                  FROM seg{r - 1})
            WHERE len(syms) >= 2)
    ),
    b{r} AS (
      SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
      FROM p{r} GROUP BY pair
      ORDER BY cnt DESC, pair ASC LIMIT 1
    ),
    seg{r} AS (
      SELECT wcnt,
             CASE WHEN m.t IS NULL THEN seg
                  ELSE replace(seg, m.t, m.m) END AS seg
      FROM seg{r - 1}
      LEFT JOIN (SELECT '|' || replace(pair, ' ', '||') || '|' AS t,
                        '|' || replace(pair, ' ', '') || '|' AS m
                 FROM b{r}) m ON TRUE
    )"""
        )
    return ",\n    ".join(ctes)


def _duck_bpe_union(k: int) -> str:
    return "\n      UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS it, pair, cnt FROM b{r}"
        for r in range(1, k + 1)
    )


def _duck_bpe_merges_sql(k: int) -> str:
    return (
        "WITH "
        + _duck_bpe_ctes(k)
        + f"\n    SELECT it, pair, cnt FROM ({_duck_bpe_union(k)})"
        " ORDER BY it"
    )


def _duck_bpe_grouped_sql(k: int) -> str:
    """Per-SOURCE unrolled BPE rounds: the _duck_bpe_ctes chain with a
    group key — argmax becomes a per-source row_number, the replace
    joins each source's own merge (LEFT: a fully-merged source keeps
    its segmentation frozen)."""
    ctes = [
        f"""w AS (
      SELECT source, word, CAST(count(*) AS BIGINT) AS wcnt
      FROM (SELECT source, unnest({_DUCK_TOKS}) AS word FROM documents)
      GROUP BY source, word
    ),
    seg0 AS (
      SELECT source, wcnt,
             '|' || array_to_string(regexp_split_to_array(word, ''), '||')
                 || '|' AS seg
      FROM w WHERE length(word) >= 2
    )"""
    ]
    for r in range(1, k + 1):
        ctes.append(
            f"""p{r} AS (
      SELECT source, syms[i] || ' ' || syms[i + 1] AS pair, wcnt
      FROM (SELECT source, wcnt, syms,
                   unnest(generate_series(1, len(syms) - 1)) AS i
            FROM (SELECT source, wcnt,
                         string_split(trim(seg, '|'), '||') AS syms
                  FROM seg{r - 1})
            WHERE len(syms) >= 2)
    ),
    b{r} AS (
      SELECT source, pair, cnt FROM (
        SELECT source, pair, CAST(sum(wcnt) AS BIGINT) AS cnt,
               row_number() OVER (PARTITION BY source
                                  ORDER BY sum(wcnt) DESC, pair ASC) AS rn
        FROM p{r} GROUP BY source, pair)
      WHERE rn = 1
    ),
    seg{r} AS (
      SELECT s.source, s.wcnt,
             CASE WHEN m.t IS NULL THEN s.seg
                  ELSE replace(s.seg, m.t, m.m) END AS seg
      FROM seg{r - 1} s
      LEFT JOIN (SELECT source,
                        '|' || replace(pair, ' ', '||') || '|' AS t,
                        '|' || replace(pair, ' ', '') || '|' AS m
                 FROM b{r}) m ON m.source = s.source
    )"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT source, CAST({r} AS BIGINT) AS it, pair, cnt FROM b{r}"
        for r in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT source, it, pair, cnt FROM ({union})"
        " ORDER BY source, it"
    )


@query("bpe_merges_k", _duck_bpe_merges_sql(8))
def q_bpe_merges_k(spark, sf_dir):
    """Iterated BPE vocabulary induction (textstats.bpe_merges): the
    merge chosen at each of 8 rounds with its selection-time corpus
    frequency — the full Sennrich et al. loop, extending the
    first-round-only bpe_merge_candidates gate.  Pair/merge stages run
    over word TYPES (metadata-scale at any corpus size); one 1-row
    argmax collect per round (the kmeans pattern)."""
    from lab3_spark.operators.textstats import bpe_merges

    return bpe_merges(_t(spark, sf_dir, "documents"), k=8)


@query(
    "source_winsorized_stats",
    """
    WITH v AS (
      SELECT source AS grp, CAST(n_chars AS BIGINT) AS y, doc_id AS k
      FROM documents
    ),
    r AS (
      SELECT grp, y,
             row_number() OVER (PARTITION BY grp ORDER BY y, k) AS rn,
             count(*) OVER (PARTITION BY grp) AS gn
      FROM v
    ),
    cuts AS (
      SELECT grp,
             min(CASE WHEN rn = greatest(1, gn * 1 // 100)
                 THEN y END) AS p_lo,
             max(CASE WHEN rn = gn - greatest(1, gn * 1 // 100) + 1
                 THEN y END) AS p_hi
      FROM r GROUP BY grp
    )
    SELECT r.grp, CAST(count(*) AS BIGINT) AS n,
           CAST(p_lo AS BIGINT) AS p_lo, CAST(p_hi AS BIGINT) AS p_hi,
           CAST(sum(y) // count(*) AS BIGINT) AS mean_v,
           CAST(sum(greatest(p_lo, least(p_hi, y))) // count(*)
                AS BIGINT) AS winsorized_mean_v
    FROM r JOIN cuts USING (grp)
    GROUP BY r.grp, p_lo, p_hi ORDER BY grp
    """,
)
def q_source_winsorized_stats(spark, sf_dir):
    """Per-source winsorized doc-length means (profile.
    winsorized_stats keyed by source) — orders_winsorized_stats lifted from a
    corpus scalar to one row per source (VERDICT r7 item 3).  The rank
    is the GROUPED distributed row number (rank.py): one ranged
    shuffle ordered by (source, length, id), per-group offsets
    broadcast back — no per-group single-partition window, so a
    skewed source cannot stall an executor.  (The oracle's PARTITION
    BY window is DuckDB-local shorthand for the same semantics.)"""
    from lab3_spark.operators.profile import winsorized_stats

    docs = _t(spark, sf_dir, "documents").withColumnRenamed("source", "grp")
    return winsorized_stats(
        docs, F.col("n_chars"), "doc_id", keys=["grp"]
    ).orderBy("grp")


@query(
    "orders_mannwhitney_by_status",
    """
    WITH hist AS (
      SELECT o_orderstatus AS grp,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n1v,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2
    ),
    cum AS (
      SELECT grp, n1v, cnt,
             sum(cnt) OVER (PARTITION BY grp ORDER BY y) AS cum_incl
      FROM hist
    ),
    agg AS (
      SELECT grp, CAST(sum(n1v) AS BIGINT) AS n1,
             CAST(sum(cnt - n1v) AS BIGINT) AS n2,
             CAST(sum(n1v * (2 * (cum_incl - cnt) + cnt + 1))
                  AS BIGINT) AS r1_x2
      FROM cum GROUP BY grp
    )
    SELECT grp, n1, n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS BIGINT) AS u2_x2,
           CAST(CASE WHEN n1 > 0 AND n2 > 0
                THEN (r1_x2 - n1 * (n1 + 1)) * 1000000
                     // (2 * n1 * n2)
                ELSE NULL END AS BIGINT) AS auc_fp
    FROM agg ORDER BY grp
    """,
)
def q_orders_mannwhitney_by_status(spark, sf_dir):
    """Per-status Mann-Whitney U, URGENT vs rest (profile.
    mannwhitney_u keyed by status) — the grouped lift of orders_mannwhitney:
    same exact-integer tie-averaged histogram recipe, cumulative via
    the GROUPED distributed prefix sum (rank.py), one row per
    o_orderstatus."""
    from lab3_spark.functions.rounding import cents
    from lab3_spark.operators.profile import mannwhitney_u

    orders = _t(spark, sf_dir, "orders")
    return mannwhitney_u(
        orders.withColumnRenamed("o_orderstatus", "grp"),
        cents("o_totalprice"),
        "o_orderpriority = '1-URGENT'",
        keys=["grp"],
    ).orderBy("grp")


@query(
    "lineitem_spearman",
    """
    WITH v AS (
      SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    xh AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY x),
    xr AS (SELECT x, 2 * (sum(c) OVER (ORDER BY x) - c) + c + 1 AS rx
           FROM xh),
    yh AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY y),
    yr AS (SELECT y, 2 * (sum(c) OVER (ORDER BY y) - c) + c + 1 AS ry
           FROM yh),
    j AS (SELECT rx, ry FROM v JOIN xr USING (x) JOIN yr USING (y)),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(rx AS HUGEINT)) AS sx,
             sum(CAST(ry AS HUGEINT)) AS sy,
             sum(CAST(rx AS HUGEINT) * rx) AS sxx,
             sum(CAST(ry AS HUGEINT) * ry) AS syy,
             sum(CAST(rx AS HUGEINT) * ry) AS sxy
      FROM j
    )
    SELECT n,
           CAST(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000 /
                     SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
                ELSE NULL END AS BIGINT) AS rho_fp
    FROM agg
    """,
)
def q_lineitem_spearman(spark, sf_dir):
    """Spearman rank correlation between quantity and extended price
    (profile.spearman_rho): tie-averaged ×2 integer ranks from each
    column's value histogram (the mannwhitney machinery + the
    distributed prefix sum), moment sums exact in decimal(38,0) /
    HUGEINT, ONE identical double expression for the final rho in
    both engines."""
    from lab3_spark.functions.rounding import cents
    from lab3_spark.operators.profile import spearman_rho

    return spearman_rho(
        _t(spark, sf_dir, "lineitem"),
        cents("l_quantity"),
        cents("l_extendedprice"),
    )


@query(
    "orders_kendall_tau",
    """
    WITH pts AS (
      SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS xo,
             CAST(floor(o_totalprice / 10000) AS BIGINT) AS yo
      FROM orders
    ),
    cells AS (
      SELECT xo, yo, CAST(count(*) AS BIGINT) AS c
      FROM pts GROUP BY xo, yo
    ),
    cd AS (
      SELECT CAST(coalesce(sum(CASE WHEN b.yo > a.yo
                   THEN a.c * b.c END), 0) AS BIGINT) AS n_concordant,
             CAST(coalesce(sum(CASE WHEN b.yo < a.yo
                   THEN a.c * b.c END), 0) AS BIGINT) AS n_discordant
      FROM cells a JOIN cells b ON b.xo > a.xo
    ),
    xm AS (
      SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS tie_x_pairs,
             CAST(sum(t) AS BIGINT) AS n
      FROM (SELECT sum(c) AS t FROM cells GROUP BY xo)
    ),
    ym AS (
      SELECT CAST(sum(t * (t - 1) // 2) AS BIGINT) AS tie_y_pairs
      FROM (SELECT sum(c) AS t FROM cells GROUP BY yo)
    )
    SELECT n, n_concordant, n_discordant, tie_x_pairs, tie_y_pairs,
           CAST(CASE WHEN n * (n - 1) // 2 - tie_x_pairs > 0
                  AND n * (n - 1) // 2 - tie_y_pairs > 0
                THEN CAST(FLOOR(
                     CAST(n_concordant - n_discordant AS DOUBLE) * 1000000 /
                     SQRT(CAST(n * (n - 1) // 2 - tie_x_pairs AS DOUBLE)
                        * CAST(n * (n - 1) // 2 - tie_y_pairs AS DOUBLE)))
                     AS BIGINT)
                ELSE NULL END AS BIGINT) AS tau_fp
    FROM cd, xm, ym
    """,
)
def q_orders_kendall_tau(spark, sf_dir):
    """Kendall tau-b between order priority (ordinal 1-5) and price
    bucket (profile.kendall_tau_b) — completes the rank-correlation
    family next to lineitem_spearman.  ONE corpus scan folds to the
    ≤5×|buckets| contingency table; concordant/discordant counts are
    a broadcast cells×cells self-join (metadata-scale by the ordinal
    contract), ties from the marginals, all bigint; only the tau-b
    denominator's sqrt runs in double, mirrored verbatim in the
    oracle."""
    from lab3_spark.operators.profile import kendall_tau_b

    orders = _t(spark, sf_dir, "orders")
    return kendall_tau_b(
        orders,
        F.substring("o_orderpriority", 1, 1).cast("bigint"),
        F.floor(F.col("o_totalprice") / 10000).cast("bigint"),
    )


def _duck_bpe_compression_sql(k: int) -> str:
    return (
        "WITH "
        + _duck_bpe_ctes(k)
        + f""",
    w1 AS (
      SELECT CAST(coalesce(sum(CASE WHEN length(word) = 1
                   THEN wcnt END), 0) AS BIGINT) AS n1
      FROM w
    ),
    merges AS (
      SELECT CAST(count(*) AS BIGINT) AS n_merges
      FROM ({_duck_bpe_union(k)})
    ),
    stats AS (
      SELECT CAST(sum(wcnt) AS BIGINT) AS nw,
             CAST(sum(wcnt * len(string_split(trim(seg, '|'), '||')))
                  AS BIGINT) AS ns,
             CAST(sum(wcnt * length(replace(seg, '|', '')))
                  AS BIGINT) AS nc
      FROM seg{k}
    )
    SELECT n_merges,
           CAST(nw + n1 AS BIGINT) AS n_tokens,
           CAST(nc + n1 AS BIGINT) AS total_chars,
           CAST(ns + n1 AS BIGINT) AS total_symbols,
           CAST(CASE WHEN ns + n1 > 0
                THEN (nc + n1) * 1000000 // (ns + n1)
                ELSE NULL END AS BIGINT) AS chars_per_symbol_fp
    FROM stats, w1, merges
    """
    )


@query("bpe_apply_compression", _duck_bpe_compression_sql(8))
def q_bpe_apply_compression(spark, sf_dir):
    """Vocabulary-induction acceptance metric (textstats.
    bpe_apply_compression): the 8 learned merges applied back to the
    corpus, measuring chars-per-symbol compression — the number a
    tokenizer built from this vocabulary delivers.  Runs the
    metadata-scale type-table loop of bpe_merges_k; the apply stage
    is ONE aggregate over the final segmentation frame."""
    from lab3_spark.operators.textstats import bpe_apply_compression

    return bpe_apply_compression(_t(spark, sf_dir, "documents"), k=8)


@query(
    "orders_paired_permutation",
    f"""
    WITH pairs AS (
      SELECT CAST(o_custkey AS VARCHAR) AS k,
             sum(CASE WHEN year(o_orderdate) = 1995
                 THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                 END) AS sa,
             sum(CASE WHEN year(o_orderdate) = 1996
                 THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                 END) AS sb
      FROM orders GROUP BY 1
    ),
    d AS (
      SELECT CAST(sa - sb AS BIGINT) AS d,
             {_h2l("substring(md5(concat('perm', '|', k)), 1, 15)")} AS h
      FROM pairs WHERE sa IS NOT NULL AND sb IS NOT NULL
    ),
    obs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(d) AS BIGINT) AS t_obs
      FROM d
    ),
    mixed AS (
      SELECT b.b, d,
             ((h + b.b * 2654435761) % 2147483647 + 1) AS x
      FROM d, (SELECT unnest(range(0, 200)) AS b) b
    ),
    flips AS (
      SELECT b,
             CASE WHEN ((((x * x) % 2147483647) * x % 2147483647)
                        * 48271 % 2147483647) % 1000000 < 500000
                  THEN d ELSE -d END AS sd
      FROM mixed
    ),
    perms AS (SELECT b, sum(sd) AS t_b FROM flips GROUP BY b),
    ext AS (
      SELECT CAST(coalesce(sum(CASE WHEN abs(t_b) >= abs(t_obs)
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_extreme
      FROM perms, obs
    )
    SELECT n_pairs, t_obs AS t_obs_cents, n_extreme,
           CAST(200 AS BIGINT) AS n_perm,
           CAST(CASE WHEN n_pairs > 0
                THEN (n_extreme + 1) * 1000000 // 201
                ELSE NULL END AS BIGINT) AS p_fp
    FROM obs, ext
    """,
)
def q_orders_paired_permutation(spark, sf_dir):
    """Paired sign-flip permutation test (profile.
    paired_permutation_test): per customer, 1995 order total vs 1996
    order total — the exact nonparametric paired test with
    deterministic md5+cubic-mix sign flips (the bootstrap-CI integer
    recipe, salt 'perm'), p add-one-smoothed over B=200 flips.  Pairs
    frame is |customers| rows; explode ×B + one combinable groupBy."""
    from lab3_spark.operators.profile import paired_permutation_test

    return paired_permutation_test(_t(spark, sf_dir, "orders"))


def _duck_mw_bh_sql() -> str:
    """Oracle for source_drift_bh_screen — the per-source MW z and the
    BH step-up with thresholds from the SAME bh_zcrit_fp literals the
    Spark side uses (m = 20 sources in the synthetic corpus; the
    operator computes m from the data, the oracle pins the testdata's
    value)."""
    from lab3_spark.operators.profile import bh_zcrit_fp

    crit = ", ".join(str(c) for c in bh_zcrit_fp(20))
    z_expr = (
        "CAST(FLOOR(CAST(r1_x2 - n1 * (n1 + 1)"
        " - n1 * (n_all - n1) AS DOUBLE) * 1000000 /"
        " (2 * SQRT(CAST(n1 AS DOUBLE) * CAST(n_all - n1 AS DOUBLE)"
        " / 12 * ((CAST(n_all AS DOUBLE) + 1) - CAST(tie_t AS DOUBLE) /"
        " (CAST(n_all AS DOUBLE) * (CAST(n_all AS DOUBLE) - 1))))))"
        " AS BIGINT)"
    )
    guard = (
        "n1 > 0 AND n_all - n1 > 0 AND n_all > 1 AND"
        " CAST(n1 AS DOUBLE) * CAST(n_all - n1 AS DOUBLE) / 12 *"
        " ((CAST(n_all AS DOUBLE) + 1) - CAST(tie_t AS DOUBLE) /"
        " (CAST(n_all AS DOUBLE) * (CAST(n_all AS DOUBLE) - 1))) > 0"
    )
    return f"""
    WITH hist AS (
      SELECT CAST(n_chars AS BIGINT) AS y, source AS grp,
             CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT y, CAST(sum(cnt) AS BIGINT) AS ct FROM hist GROUP BY y),
    cum AS (SELECT y, ct, sum(ct) OVER (ORDER BY y) AS cumt FROM tot),
    r AS (SELECT y, 2 * (cumt - ct) + ct + 1 AS r2 FROM cum),
    per AS (
      SELECT grp, CAST(sum(cnt) AS BIGINT) AS n1,
             CAST(sum(cnt * r2) AS BIGINT) AS r1_x2
      FROM hist JOIN r USING (y) GROUP BY grp
    ),
    scal AS (
      SELECT CAST(sum(ct) AS BIGINT) AS n_all,
             sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS tie_t
      FROM tot
    ),
    zrows AS (
      SELECT grp, n1, CAST(n_all - n1 AS BIGINT) AS n2,
             CASE WHEN {guard} THEN {z_expr} ELSE NULL END AS z_fp
      FROM per, scal
    ),
    ranked AS (
      SELECT *, row_number() OVER (
               ORDER BY abs(z_fp) DESC NULLS LAST, grp ASC) AS bh_rank
      FROM zrows
    ),
    passed AS (
      SELECT *, coalesce(abs(z_fp) >= ([{crit}])[bh_rank], FALSE) AS p
      FROM ranked
    ),
    kstar AS (
      SELECT coalesce(max(CASE WHEN p THEN bh_rank END), 0) AS ks
      FROM passed
    )
    SELECT grp, n1, n2, z_fp, CAST(bh_rank AS BIGINT) AS bh_rank,
           coalesce(bh_rank <= ks, FALSE) AS bh_reject
    FROM passed, kstar ORDER BY grp
    """


@query("source_drift_bh_screen", _duck_mw_bh_sql())
def q_source_drift_bh_screen(spark, sf_dir):
    """FDR-controlled per-source drift screen (profile.
    source_mannwhitney_bh): Mann-Whitney z of every source's doc-length
    distribution vs the REST of the corpus, all m tests priced by ONE
    (value, source) histogram + one distributed prefix sum, then
    Benjamini-Hochberg step-up over the m-row frame with z-threshold
    literals (bh_zcrit_fp) so no in-engine normal CDF is needed —
    "which of my 20 sources actually drift, at 5% FDR"."""
    from lab3_spark.operators.profile import source_mannwhitney_bh

    return source_mannwhitney_bh(_t(spark, sf_dir, "documents"))


@query(
    "source_ks_matrix",
    """
    WITH hist AS (
      SELECT source AS grp, CAST(n_chars AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2
    ),
    grid AS (
      SELECT ys.y, ss.grp, coalesce(h.cnt, 0) AS cnt
      FROM (SELECT DISTINCT y FROM hist) ys
      CROSS JOIN (SELECT DISTINCT grp FROM hist) ss
      LEFT JOIN hist h ON h.y = ys.y AND h.grp = ss.grp
    ),
    cum AS (
      SELECT y, grp,
             sum(cnt) OVER (PARTITION BY grp ORDER BY y) AS cum
      FROM grid
    ),
    tot AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY grp),
    pairs AS (
      SELECT a.grp AS src_a, b.grp AS src_b, ta.n AS n_a, tb.n AS n_b,
             CAST(max(abs(a.cum * tb.n - b.cum * ta.n)) AS BIGINT) AS d_num
      FROM cum a JOIN cum b ON a.y = b.y AND a.grp < b.grp
      JOIN tot ta ON ta.grp = a.grp
      JOIN tot tb ON tb.grp = b.grp
      GROUP BY 1, 2, 3, 4
    )
    SELECT src_a, src_b, n_a, n_b, d_num,
           CAST(CASE WHEN n_a > 0 AND n_b > 0
                THEN d_num * 1000000 // (n_a * n_b)
                ELSE NULL END AS BIGINT) AS d_fp
    FROM pairs ORDER BY src_a, src_b
    """,
)
def q_source_ks_matrix(spark, sf_dir):
    """Pairwise KS drift matrix (textstats.source_ks_matrix): the
    two-sample KS distance for EVERY source pair — 190 statistics for
    20 sources — priced by ONE corpus scan: (value, source) histogram
    → densified |Y|×m CDF grid → grouped distributed prefix sum →
    y-equi self-join + one max agg.  Exact integers; one division at
    the end.  The matrix screen feeding source_drift_bh_screen's
    one-vs-rest summary."""
    from lab3_spark.operators.textstats import source_ks_matrix

    return source_ks_matrix(_t(spark, sf_dir, "documents"))


@query(
    "source_mean_bootstrap_ci",
    f"""
    WITH hashed AS (
      SELECT source AS grp, CAST(n_chars AS BIGINT) AS y,
             {_h2l("substring(md5(concat('boot', '|', CAST(doc_id AS VARCHAR))), 1, 15)")} AS h
      FROM documents
    ),
    mixed AS (
      SELECT grp, b.b, y,
             ((h + b.b * 2654435761) % 2147483647 + 1) AS x
      FROM hashed, (SELECT unnest(range(0, 40)) AS b) b
    ),
    uni AS (
      SELECT grp, b, y,
             ((((x * x) % 2147483647) * x % 2147483647) * 48271
              % 2147483647) % 1000000 AS u
      FROM mixed
    ),
    weighted AS (
      SELECT grp, b, y,
             CASE
               WHEN u < 367879 THEN 0
               WHEN u < 735758 THEN 1
               WHEN u < 919698 THEN 2
               WHEN u < 981011 THEN 3
               WHEN u < 996340 THEN 4
               WHEN u < 999405 THEN 5
               WHEN u < 999916 THEN 6
               WHEN u < 999989 THEN 7
               ELSE 8 END AS w
      FROM uni
    ),
    means AS (
      SELECT grp, b, CAST(sum(w * y) // sum(w) AS BIGINT) AS m
      FROM weighted GROUP BY grp, b HAVING sum(w) > 0
    ),
    ranked AS (
      SELECT grp, m,
             row_number() OVER (PARTITION BY grp ORDER BY m, b) AS rk
      FROM means
    ),
    pts AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(y) // count(*) AS BIGINT) AS point
      FROM hashed GROUP BY grp
    )
    SELECT pts.grp, n, point, lo.m AS ci_lo, hi.m AS ci_hi
    FROM pts
    LEFT JOIN (SELECT grp, m FROM ranked WHERE rk = 1) lo ON pts.grp = lo.grp
    LEFT JOIN (SELECT grp, m FROM ranked WHERE rk = 39) hi ON pts.grp = hi.grp
    ORDER BY pts.grp
    """,
)
def q_source_mean_bootstrap_ci(spark, sf_dir):
    """Per-source mean doc length with a 95% Poisson-bootstrap CI
    (profile.grouped_bootstrap_ci) — orders_mean_bootstrap_ci lifted
    to one row per source: same deterministic md5+cubic-mix weights,
    resample means grouped by (source, b), CI picks ranked WITHIN each
    source's B-row means frame (metadata-scale partitioned window)."""
    from lab3_spark.operators.profile import grouped_bootstrap_ci

    return grouped_bootstrap_ci(_t(spark, sf_dir, "documents"))


@query(
    "packing_fragmentation_curve",
    f"""
    WITH d AS (
      SELECT source AS grp, doc_id AS k,
             CAST(len({_DUCK_TOKS}) AS BIGINT) AS nt
      FROM documents
    ),
    c AS (
      SELECT grp, nt,
             CAST(coalesce(sum(nt) OVER (PARTITION BY grp ORDER BY k)
                  - nt, 0) AS BIGINT) AS before
      FROM d
    ),
    e AS (
      SELECT grp, nt, before,
             unnest([128, 256, 512, 1024]) AS budget
      FROM c
    ),
    pd AS (
      SELECT budget, grp, nt, before,
             CASE WHEN nt > 0
                  THEN (before + nt - 1) // budget - before // budget + 1
                  ELSE 0 END AS frag
      FROM e
    ),
    pg AS (
      SELECT budget, grp, CAST(count(*) AS BIGINT) AS nd,
             CAST(sum(CASE WHEN frag > 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS nsplit,
             CAST(sum(frag) AS BIGINT) AS nfrag,
             CAST(sum(nt) AS BIGINT) AS toks,
             CAST(max(CASE WHEN nt > 0
                      THEN (before + nt - 1) // budget + 1
                      ELSE 0 END) AS BIGINT) AS bins
      FROM pd GROUP BY budget, grp
    )
    SELECT CAST(budget AS BIGINT) AS budget,
           CAST(sum(nd) AS BIGINT) AS n_docs,
           CAST(sum(nsplit) AS BIGINT) AS n_split_docs,
           CAST(sum(nfrag) AS BIGINT) AS n_fragments,
           CAST(CASE WHEN sum(nd) > 0
                THEN sum(nsplit) * 1000000 // sum(nd)
                ELSE NULL END AS BIGINT) AS frag_rate_fp,
           CAST(sum(bins) AS BIGINT) AS n_bins,
           CAST(CASE WHEN sum(bins) > 0
                THEN sum(toks) * 1000000 // (sum(bins) * budget)
                ELSE NULL END AS BIGINT) AS fill_rate_fp
    FROM pg GROUP BY budget ORDER BY budget
    """,
)
def q_packing_fragmentation_curve(spark, sf_dir):
    """Context-length packing diagnostic (sampling.
    packing_fragmentation_curve): across a 128/256/512/1024 budget
    ladder, how many documents concat-style packing SPLITS across bin
    boundaries, total fragments, and capacity utilization — the table
    a training pipeline reads before fixing max_len.  One scan + one
    per-group cumsum shuffle prices the whole ladder (the ladder
    explodes the id/offset projection only, never the text)."""
    from lab3_spark.operators.sampling import packing_fragmentation_curve

    return packing_fragmentation_curve(_t(spark, sf_dir, "documents"))


@query(
    "source_importance_ess",
    f"""
    WITH perdoc AS ({{dsir_inner}}),
    wts AS (
      SELECT d.source AS grp,
             CAST(floor(exp(CAST(mean_fp AS DOUBLE) / 1000000)
                  * 1000000) AS BIGINT) AS w
      FROM perdoc JOIN documents d USING (doc_id)
    ),
    agg AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(w AS HUGEINT)) AS sw,
             sum(CAST(w AS HUGEINT) * w) AS sww
      FROM wts GROUP BY grp
    )
    SELECT grp, n,
           CAST(CASE WHEN sww > 0
                THEN FLOOR(CAST(sw * sw AS DOUBLE) * 1000000
                     / (CAST(n AS DOUBLE) * CAST(sww AS DOUBLE)))
                ELSE NULL END AS BIGINT) AS ess_ratio_fp
    FROM agg ORDER BY grp
    """.format(dsir_inner=ORACLES["doc_dsir_weights"]),
)
def q_source_importance_ess(spark, sf_dir):
    """Per-source effective-sample-size ratio under DSIR importance
    weights (textstats.source_importance_ess): (Σw)²/(n·Σw²) with
    per-doc fixed-point weights so the group sums stay exact integers
    — the resampling go/no-go diagnostic for every reweighted mixture
    (ratio → 0 means the source's weight mass sits on a few docs)."""
    from lab3_spark.operators.textstats import source_importance_ess

    return source_importance_ess(_t(spark, sf_dir, "documents"))


@query(
    "streaming_incremental_pagerank",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    pr_edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM cand
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM cand
    ),
    pr_deg AS (SELECT src, count(*) AS deg FROM pr_edges GROUP BY src),
    pr_edeg AS (
      SELECT e.src, e.dst, d.deg FROM pr_edges e JOIN pr_deg d ON e.src = d.src
    ),
    pr_nodes AS (SELECT DISTINCT src AS node FROM pr_edges),
    r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank_fp FROM pr_nodes),
    {_duck_pagerank_iters(_PAGERANK_ITERS)}
    SELECT node AS doc_id, rank_fp
    FROM r{_PAGERANK_ITERS}
    ORDER BY rank_fp DESC, doc_id ASC LIMIT 20
    """,
)
def q_streaming_incremental_pagerank(spark, sf_dir):
    """A REAL incremental rank-store maintenance run (streaming/
    incremental_pagerank.py, VERDICT r7 item 6): the symmetrized
    MinHash candidate edges split into 3 mtime-ordered delta batches,
    each micro-batch growing the versioned edge store and re-ranking it
    with the all-bigint fixed-point operator.  Merged-equals-batch
    contract: the final rank version must equal the ONE-SHOT batch
    PageRank over all delivered edges — the oracle IS
    pagerank_candidates' oracle verbatim."""
    from lab3_spark.operators.dedup import minhash_candidates
    from lab3_spark.operators.pagerank import symmetrize
    from lab3_spark.streaming.incremental_pagerank import (
        latest_ranks,
        start_incremental_pagerank,
    )

    edges = symmetrize(minhash_candidates(_t(spark, sf_dir, "documents")))
    store = _drain_store(
        spark, "stream_pagerank_",
        edges.withColumn("_b", (F.col("src") + F.col("dst")) % 3),
        "src bigint, dst bigint, _b bigint",
        _mod3("_b"), start_incremental_pagerank, n_iter=_PAGERANK_ITERS,
    )
    return (
        latest_ranks(spark, store)
        .select(F.col("node").alias("doc_id"), "rank_fp")
        .orderBy(F.desc("rank_fp"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "source_spearman",
    f"""
    WITH v AS (
      SELECT source AS grp, CAST(n_chars AS BIGINT) AS x,
             CAST(len(list_distinct({_DUCK_TOKS})) AS BIGINT) AS y
      FROM documents
    ),
    xh AS (SELECT grp, x, CAST(count(*) AS BIGINT) AS c
           FROM v GROUP BY 1, 2),
    xr AS (SELECT grp, x,
                  2 * (sum(c) OVER (PARTITION BY grp ORDER BY x) - c)
                    + c + 1 AS rx
           FROM xh),
    yh AS (SELECT grp, y, CAST(count(*) AS BIGINT) AS c
           FROM v GROUP BY 1, 2),
    yr AS (SELECT grp, y,
                  2 * (sum(c) OVER (PARTITION BY grp ORDER BY y) - c)
                    + c + 1 AS ry
           FROM yh),
    j AS (SELECT grp, rx, ry
          FROM v JOIN xr USING (grp, x) JOIN yr USING (grp, y)),
    agg AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(rx AS HUGEINT)) AS sx,
             sum(CAST(ry AS HUGEINT)) AS sy,
             sum(CAST(rx AS HUGEINT) * rx) AS sxx,
             sum(CAST(ry AS HUGEINT) * ry) AS syy,
             sum(CAST(rx AS HUGEINT) * ry) AS sxy
      FROM j GROUP BY grp
    )
    SELECT grp, n,
           CAST(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) * 1000000 /
                     SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
                ELSE NULL END AS BIGINT) AS rho_fp
    FROM agg ORDER BY grp
    """,
)
def q_source_spearman(spark, sf_dir):
    """Per-source Spearman between document length and lexical
    diversity (profile.spearman_rho keyed by source): does a longer document
    keep introducing new token types, per source? — the lexical-
    diversity drift diagnostic of a mixture audit (a source whose rho
    collapses is boilerplate- or template-heavy).  lineitem_spearman's
    exact-integer recipe lifted to one row per group: per-(source,
    value) histograms, tie-averaged ×2 ranks via the GROUPED
    distributed prefix sum (rank.py), decimal(38,0)/HUGEINT moments,
    one shared double expression for rho."""
    from lab3_spark.functions.text import tokenize
    from lab3_spark.operators.profile import spearman_rho

    docs = _t(spark, sf_dir, "documents").withColumnRenamed("source", "grp")
    return spearman_rho(
        docs,
        F.col("n_chars"),
        F.size(F.array_distinct(tokenize("text"))),
        keys=["grp"],
    ).orderBy("grp")


@query(
    "split_leakage_neardup",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
      WHERE floor((n_inter / (na.n_sh + nb.n_sh - n_inter)) * 10000)
              / 10000 >= 0.2
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN h < 90 THEN 'train'
                  WHEN h < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   {_h2l("substring(md5(concat('split', '|', CAST(doc_id AS VARCHAR))), 1, 15)")}
                     % 100 AS h
            FROM documents)
    ),
    lab AS (
      SELECT least(sa.split, sb.split) AS split_a,
             greatest(sa.split, sb.split) AS split_b,
             j.doc_a, j.doc_b
      FROM jac j
      JOIN s sa ON sa.doc_id = j.doc_a
      JOIN s sb ON sb.doc_id = j.doc_b
    ),
    nd AS (
      SELECT split_a, split_b, count(DISTINCT d) AS n_docs
      FROM (SELECT split_a, split_b, doc_a AS d FROM lab
            UNION ALL
            SELECT split_a, split_b, doc_b AS d FROM lab)
      GROUP BY 1, 2
    )
    SELECT l.split_a, l.split_b, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(nd.n_docs AS BIGINT) AS n_docs
    FROM lab l JOIN nd USING (split_a, split_b)
    GROUP BY l.split_a, l.split_b, nd.n_docs
    ORDER BY split_a, split_b
    """,
)
def q_split_leakage_neardup(spark, sf_dir):
    """Near-duplicate leakage across the train/val/test hash split
    (dedup.split_leakage_neardup): verified near-dup pairs bucketed by
    the splits their sides land in — the contamination audit a release
    runs before publishing (any split_a != split_b row is a test/val
    document with a near-twin in train, invisible to the id-uniform
    hash split).  Composes two already-verified pipelines: the
    candidate→verify dedup machinery (banded LSH → exact Jaccard on
    candidates only) and the pure-expression 90/5/5 split; both label
    joins run on the candidate-scale verified pair list."""
    from lab3_spark.operators.dedup import split_leakage_neardup

    return split_leakage_neardup(_t(spark, sf_dir, "documents"))


@query(
    "decontaminate_train",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    jac AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
      WHERE floor((n_inter / (na.n_sh + nb.n_sh - n_inter)) * 10000)
              / 10000 >= 0.2
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN h < 90 THEN 'train'
                  WHEN h < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   {_h2l("substring(md5(concat('split', '|', CAST(doc_id AS VARCHAR))), 1, 15)")}
                     % 100 AS h
            FROM documents)
    ),
    cont AS (
      SELECT DISTINCT d AS doc_id FROM (
        SELECT j.doc_a AS d
        FROM jac j
        JOIN s sa ON sa.doc_id = j.doc_a
        JOIN s sb ON sb.doc_id = j.doc_b
        WHERE sa.split = 'train' AND sb.split != 'train'
        UNION ALL
        SELECT j.doc_b AS d
        FROM jac j
        JOIN s sa ON sa.doc_id = j.doc_a
        JOIN s sb ON sb.doc_id = j.doc_b
        WHERE sb.split = 'train' AND sa.split != 'train'
      )
    )
    SELECT d.doc_id, d.source
    FROM documents d
    JOIN s ON s.doc_id = d.doc_id
    WHERE s.split = 'train'
      AND d.doc_id NOT IN (SELECT doc_id FROM cont)
    ORDER BY d.doc_id
    """,
)
def q_decontaminate_train(spark, sf_dir):
    """The decontaminated train split (dedup.decontaminate_train):
    train-split documents with NO verified near-dup in the held-out
    splits — the ACTION paired with split_leakage_neardup's audit (the
    audit counts cross-split pairs; this removes the train-side member
    of each, so a model cannot memorize a held-out doc through its
    near-twin).  The removal is one LEFT ANTI join of the train slice
    against the candidate-scale contaminated-id list."""
    from lab3_spark.operators.dedup import decontaminate_train

    return decontaminate_train(_t(spark, sf_dir, "documents"))


@query(
    "dedup_similarity_histogram",
    f"""
    WITH {_DUCK_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT CAST((10 * n_inter) // (na.n_sh + nb.n_sh - n_inter)
                AS BIGINT) AS bucket_x10,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    GROUP BY 1 ORDER BY 1
    """,
)
def q_dedup_similarity_histogram(spark, sf_dir):
    """Exact-Jaccard histogram over ALL LSH candidate pairs in
    0.1-wide buckets (dedup.pair_similarity_histogram) — the
    threshold-tuning curve read before fixing the verify cutoff.  The
    bucket is exact bigint arithmetic over the integer shingle-set
    sizes ((10·n_inter) DIV union), never a re-division of the
    truncated double — no float-boundary flicker between engines."""
    from lab3_spark.operators.dedup import pair_similarity_histogram

    return pair_similarity_histogram(_t(spark, sf_dir, "documents"))


@query(
    "source_token_fertility",
    """
    WITH t AS (
      SELECT source,
             CASE WHEN len(trim(text)) > 0
                  THEN len(regexp_extract_all(trim(text), '\\S+'))
                  ELSE 0 END AS ws,
             len(regexp_extract_all(lower(text),
                 $$'s|'t|'re|'ve|'m|'ll|'d|[a-z]+|[0-9]+|[^a-z0-9\\s']+$$))
               AS bpe,
             length(text) AS ch
      FROM documents
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           CAST(CASE WHEN sum(ws) > 0
                THEN sum(bpe) * 1000000 // sum(ws)
                ELSE NULL END AS BIGINT) AS fertility_fp,
           CAST(CASE WHEN sum(bpe) > 0
                THEN sum(ch) * 1000000 // sum(bpe)
                ELSE NULL END AS BIGINT) AS chars_per_bpe_fp
    FROM t GROUP BY source ORDER BY source
    """,
)
def q_source_token_fertility(spark, sf_dir):
    """Per-source tokenizer fertility (textstats.source_token_fertility):
    BPE-ish pieces per whitespace word and characters per piece — the
    "which sources tokenize poorly" diagnostic behind per-source token
    budgeting (high fertility = code/punctuation-heavy text that costs
    more context window per word).  doc_bpe_token_counts' pre-tokenizer
    expressions folded per source: one scan, one |sources|-row shuffle,
    all aggregates combinable; ratios are exact bigint DIV."""
    from lab3_spark.operators.textstats import source_token_fertility

    return source_token_fertility(_t(spark, sf_dir, "documents"))


@query(
    "quality_quantile_by_source",
    f"""
    WITH t AS (
      SELECT doc_id, source,
        floor((0.4 * least(len(toks) / 50.0, 1.0)
          + 0.3 * (1 - CASE WHEN length(text) > 0 THEN
              length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                / length(text) ELSE 0.0 END)
          + 0.3 * (CASE WHEN len(toks) > 0 THEN
              len(list_distinct(toks)) / len(toks) ELSE 0.0 END))
          * 10000) / 10000 AS quality
      FROM (SELECT doc_id, source, text, {_DUCK_TOKS} AS toks
            FROM documents)
    ),
    r AS (
      SELECT doc_id, source, quality,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS gn
      FROM t
    )
    SELECT doc_id, source, quality,
           CAST(rn * 1000000 // gn AS BIGINT) AS quantile_fp
    FROM r ORDER BY doc_id
    """,
)
def q_quality_quantile_by_source(spark, sf_dir):
    """Within-source quantile normalization of the quality score
    (textstats.quality_quantile_by_source): the cross-source-comparable
    quality column — cutting every source at the same PERCENTILE
    ("drop each source's bottom 20%") instead of one global raw-score
    threshold that keeps whole easy sources and drops whole hard ones.
    Rank is the GROUPED distributed row number ordered by (quality,
    doc_id); quantile_fp = rank·10⁶ DIV group_n, exact bigint.  (The
    oracle's PARTITION BY window is DuckDB-local shorthand for the
    same semantics.)"""
    from lab3_spark.operators.textstats import quality_quantile_by_source

    return quality_quantile_by_source(_t(spark, sf_dir, "documents"))


@query(
    "dedup_copy_spectrum",
    f"""
    WITH g AS (
      SELECT md5(array_to_string({_DUCK_TOKS}, ' ')) AS fp,
             CAST(count(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY 1
    )
    SELECT n_copies, CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_copies) AS BIGINT) AS n_docs
    FROM g GROUP BY 1 ORDER BY 1
    """,
)
def q_dedup_copy_spectrum(spark, sf_dir):
    """The corpus duplication spectrum (dedup.copy_spectrum): distinct
    contents and bound documents at each exact-copy count — the
    duplication health profile read before dedup ("hot templates or
    long tail?") and after (everything at n_copies = 1).  Two
    combinable aggregations, map-side partial both times; no windows,
    no joins."""
    from lab3_spark.operators.dedup import copy_spectrum

    return copy_spectrum(_t(spark, sf_dir, "documents"))


@query(
    "lang_source_residuals",
    """
    WITH cells AS (
      SELECT source AS r, lang AS c, count(*) AS o
      FROM documents GROUP BY 1, 2
    ),
    rmarg AS (SELECT r, sum(o) AS rt FROM cells GROUP BY r),
    cmarg AS (SELECT c, sum(o) AS ct FROM cells GROUP BY c),
    total AS (SELECT sum(o) AS n FROM cells),
    scored AS (
      SELECT cells.r, cells.c, cells.o, rmarg.rt, cmarg.ct, total.n,
             CAST(floor(
               ((CAST(cells.o AS DOUBLE) * CAST(total.n AS DOUBLE)
                 - CAST(rmarg.rt AS DOUBLE) * CAST(cmarg.ct AS DOUBLE))
                * (CAST(cells.o AS DOUBLE) * CAST(total.n AS DOUBLE)
                   - CAST(rmarg.rt AS DOUBLE) * CAST(cmarg.ct AS DOUBLE)))
               / (CAST(rmarg.rt AS DOUBLE) * CAST(cmarg.ct AS DOUBLE)
                  * CAST(total.n AS DOUBLE)) * 1000000
             ) AS BIGINT) AS contrib_fp
      FROM cells
      JOIN rmarg USING (r) JOIN cmarg USING (c), total
    ),
    stats AS (
      SELECT CAST(max(n) AS BIGINT) AS sn, sum(contrib_fp) AS chi2_fp,
             count(DISTINCT r) AS r_cats, count(DISTINCT c) AS c_cats
      FROM scored
    )
    SELECT scored.r AS source, scored.c AS lang,
           CAST(scored.o AS BIGINT) AS observed,
           CAST(floor(
             (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
              / CAST(scored.n AS DOUBLE))
             / SQRT(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                    / CAST(scored.n AS DOUBLE)) * 10000
           ) AS BIGINT) AS residual_fp,
           CAST(CASE WHEN LEAST(r_cats, c_cats) > 1 THEN
             FLOOR(SQRT((CAST(chi2_fp AS DOUBLE) / 1000000)
               / (CAST(sn AS DOUBLE)
                  * CAST(LEAST(r_cats, c_cats) - 1 AS DOUBLE))) * 1000000)
             ELSE NULL END AS BIGINT) AS v_fp
    FROM scored, stats ORDER BY source, lang
    """,
)
def q_lang_source_residuals(spark, sf_dir):
    """Standardized residuals + Cramér's V for the source × lang
    contingency (quality.cramers_v_residuals): the analysis step past
    source_lang_chi2 — (O−E)/√E says WHICH cells drive the association
    (|resid| ≳ 2 = "this source is unexpectedly heavy in that
    language"), and V = √(χ²/(N·(min(r,c)−1))) is the [0,1] effect
    size comparable across tables.  χ² enters as the exact bigint sum
    of floored per-cell contributions (the χ² gate's contract), so V
    derives from exact integers; residual and V are ONE double
    expression each, mirrored here."""
    from lab3_spark.operators.quality import cramers_v_residuals

    return cramers_v_residuals(_t(spark, sf_dir, "documents"))


@query(
    "split_fertility_drift",
    f"""
    WITH s AS (
      SELECT CASE WHEN h < 90 THEN 'train'
                  WHEN h < 95 THEN 'val'
                  ELSE 'test' END AS split, text
      FROM (SELECT text,
                   {_h2l("substring(md5(concat('split', '|', CAST(doc_id AS VARCHAR))), 1, 15)")}
                     % 100 AS h
            FROM documents)
    ),
    per AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN len(trim(text)) > 0
                  THEN len(regexp_extract_all(trim(text), '\\S+'))
                  ELSE 0 END) AS BIGINT) AS ws_tokens,
             CAST(sum(len(regexp_extract_all(lower(text),
                 $$'s|'t|'re|'ve|'m|'ll|'d|[a-z]+|[0-9]+|[^a-z0-9\\s']+$$)))
               AS BIGINT) AS bpe_tokens
      FROM s GROUP BY split
    ),
    f AS (
      SELECT split, n_docs, ws_tokens, bpe_tokens,
             CAST(CASE WHEN ws_tokens > 0
                  THEN bpe_tokens * 1000000 // ws_tokens
                  ELSE NULL END AS BIGINT) AS fertility_fp
      FROM per
    ),
    t AS (SELECT fertility_fp AS tf FROM f WHERE split = 'train')
    SELECT f.split, f.n_docs, f.ws_tokens, f.bpe_tokens, f.fertility_fp,
           CAST(f.fertility_fp - t.tf AS BIGINT) AS drift_fp
    FROM f, t ORDER BY f.split
    """,
)
def q_split_fertility_drift(spark, sf_dir):
    """Tokenizer fertility per train/val/test split + delta vs train
    (textstats.split_fertility_drift): does held-out data tokenize
    like training data?  A drifting val/test fertility means held-out
    perplexity runs on a different tokens-per-word economy than
    training saw — a split-construction artifact caught at release
    time.  source_token_fertility's expressions grouped by the pure
    md5 split; the train reference is a 1-row broadcast; exact bigint
    DIV/difference throughout."""
    from lab3_spark.operators.textstats import split_fertility_drift

    return split_fertility_drift(_t(spark, sf_dir, "documents"))


@query(
    "source_length_percentiles_approx",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           TRUE AS p50_within_rank_tol,
           TRUE AS p90_within_rank_tol,
           TRUE AS p99_within_rank_tol
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q_source_length_percentiles_approx(spark, sf_dir):
    """Per-source GK (approx_percentile) doc-length quantiles, gated
    as the bounded-RANK-error contract the sketch actually guarantees:
    the returned value's rank interval [#{x<v}+1, #{x≤v}] must
    intersect [⌈(p−0.01)·n⌉, ⌈(p+0.01)·n⌉] — checked by COUNTING
    (one extra pass + broadcast join), not by comparing against
    interpolated value-space percentiles, because with a small group
    the ±0.01 interpolated band falls between adjacent order
    statistics and contains no data point at all (the failure mode
    the events-table twin never sees at its group sizes).  The oracle
    emits per-source counts + literal TRUE booleans — estimator drift
    past the rank bound flips the hash.  Production reads only the
    approx aggregate (mergeable bounded state per source)."""
    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    a = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("approx_percentile(n_chars, 0.5)").alias("a50"),
        F.expr("approx_percentile(n_chars, 0.9)").alias("a90"),
        F.expr("approx_percentile(n_chars, 0.99)").alias("a99"),
    )
    j = (
        docs.join(F.broadcast(a), "source")
        .groupBy("source")
        .agg(
            F.first("n").alias("n"),
            *[
                F.sum(
                    (F.col("n_chars") <= F.col(f"a{t}")).cast("long")
                ).alias(f"le{t}")
                for t in (50, 90, 99)
            ],
            *[
                F.sum(
                    (F.col("n_chars") < F.col(f"a{t}")).cast("long")
                ).alias(f"lt{t}")
                for t in (50, 90, 99)
            ],
        )
    )

    def ok(p: float, t: int, name: str):
        lo = F.expr(f"GREATEST(1, CAST(CEIL(({p} - 0.01) * n) AS BIGINT))")
        hi = F.expr(
            f"LEAST(n, GREATEST(1, CAST(CEIL(({p} + 0.01) * n) AS BIGINT)))"
        )
        return ((F.col(f"le{t}") >= lo) & (F.col(f"lt{t}") < hi)).alias(name)

    return j.select(
        "source",
        F.col("n").cast("bigint").alias("n"),
        ok(0.5, 50, "p50_within_rank_tol"),
        ok(0.9, 90, "p90_within_rank_tol"),
        ok(0.99, 99, "p99_within_rank_tol"),
    ).orderBy("source")


@query(
    "test_substring_contamination",
    f"""
    WITH d AS (
      SELECT doc_id,
             {_h2l("substring(md5(concat('split', '|', CAST(doc_id AS VARCHAR))), 1, 15)")}
               % 100 AS h,
             {_DUCK_TOKS} AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id, h, i AS pos,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
      FROM (SELECT doc_id, h, toks,
                   unnest(generate_series(1, len(toks) - 2)) AS i
            FROM d WHERE len(toks) >= 3)
    ),
    train_g AS (SELECT DISTINCT gram FROM g WHERE h < 90),
    test_g AS (SELECT doc_id, pos, gram FROM g WHERE h >= 95),
    hits AS (
      SELECT doc_id, pos FROM test_g
      WHERE gram IN (SELECT gram FROM train_g)
    ),
    runs AS (
      SELECT doc_id, count(*) AS run_len
      FROM (SELECT doc_id,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM hits)
      GROUP BY doc_id, grp
    ),
    per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM test_g GROUP BY doc_id),
    hs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
           FROM hits GROUP BY doc_id),
    mr AS (SELECT doc_id, max(run_len) AS max_run FROM runs GROUP BY doc_id)
    SELECT per.doc_id, per.n_grams,
           CAST(COALESCE(hs.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(mr.max_run + 2, 0) AS BIGINT) AS max_run_tokens
    FROM per
    LEFT JOIN hs ON hs.doc_id = per.doc_id
    LEFT JOIN mr ON mr.doc_id = per.doc_id
    ORDER BY per.doc_id
    """,
)
def q_test_substring_contamination(spark, sf_dir):
    """Exact-substring contamination per TEST-split document
    (textstats.substring_contamination): the longest consecutive run
    of positional 3-grams all present in TRAIN, in tokens — the
    per-document eval-decontamination question ("does this test doc
    share a ≥13-token verbatim span with training data?") that
    corpus_ngram_novelty's corpus-wide fraction cannot answer.
    Positional test grams semi-join the map-side-distinct train gram
    table; maximal runs come from the gaps-and-islands fold with a
    PER-DOCUMENT window (bounded by doc length)."""
    from lab3_spark.operators.textstats import substring_contamination

    return substring_contamination(_t(spark, sf_dir, "documents"))


@query(
    "padding_waste_by_bucket",
    f"""
    WITH t AS (
      SELECT len({_DUCK_TOKS}) AS n_tok FROM documents
    ),
    b AS (
      SELECT CAST((n_tok + 63) // 64 * 64 AS BIGINT) AS bucket_len, n_tok
      FROM t WHERE n_tok > 0
    ),
    agg AS (
      SELECT bucket_len, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS real_tokens
      FROM b GROUP BY bucket_len
    )
    SELECT bucket_len, n_docs, real_tokens,
           CAST(n_docs * bucket_len AS BIGINT) AS padded_tokens,
           CAST((n_docs * bucket_len - real_tokens) * 1000000
                // (n_docs * bucket_len) AS BIGINT) AS waste_fp
    FROM agg ORDER BY bucket_len
    """,
)
def q_padding_waste_by_bucket(spark, sf_dir):
    """Length-bucketed PADDING economics (sampling.
    padding_waste_by_bucket): the complement of
    packing_fragmentation_curve's concat regime — every doc pads to
    its 64-token bucket, and the table prices the waste per bucket so
    a pipeline can pick bucket granularity or decide packing beats
    padding for its length distribution.  One scan + one
    ≤(max_len/64)-row shuffle; pure integer arithmetic both engines."""
    from lab3_spark.operators.sampling import padding_waste_by_bucket

    return padding_waste_by_bucket(_t(spark, sf_dir, "documents"))


@query("source_bpe_merges", _duck_bpe_grouped_sql(4))
def q_source_bpe_merges(spark, sf_dir):
    """Per-source BPE vocabulary induction (textstats.
    bpe_merges keyed by source): each source learns its own 4-round merge
    table — the per-domain view of bpe_merges_k ("which sources need
    their own tokenizer?", the upstream cause of fertility drift).
    Same wrapped-symbol greedy loop over the (source, word TYPE)
    table; per round one #sources-row argmax collect + one broadcast
    merges join; the oracle unrolls the same rounds with per-source
    row_number argmax and LEFT-join replace."""
    from lab3_spark.operators.textstats import bpe_merges

    return bpe_merges(
        _t(spark, sf_dir, "documents"), k=4, keys=["source"]
    ).orderBy("source", "it")


@query(
    "streaming_incremental_lsh",
    f"""
    WITH {_DUCK_MINHASH_CTES}
    SELECT doc_a, doc_b, n_bands FROM cand ORDER BY doc_a, doc_b
    """,
)
def q_streaming_incremental_lsh(spark, sf_dir):
    """A REAL incremental near-dup-index maintenance run (streaming/
    incremental_lsh_index.py): the documents table split into 3
    mtime-ordered delta batches, each micro-batch banding ONLY its new
    docs (signatures are per-document — old ones are never recomputed)
    and extending the candidate list with exactly the new×new and
    new×old band collisions (delta-proportional pair work; old×old
    pairs carry over).  Merged-equals-batch contract: the final
    candidate version must equal the ONE-SHOT batch minhash_candidates
    over all delivered docs — the oracle IS dedup_minhash_lsh's oracle
    verbatim."""
    from lab3_spark.streaming.incremental_lsh_index import (
        latest_cands,
        start_incremental_lsh_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = _drain_store(
        spark, "stream_lsh_", docs, "doc_id bigint, text string",
        _mod3("doc_id"), start_incremental_lsh_index,
    )
    return (
        latest_cands(spark, store)
        .select("doc_a", "doc_b", F.col("n_bands").cast("bigint").alias("n_bands"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# round 9 additions
# --------------------------------------------------------------------------


@query(
    "dedup_exact_substring_spans",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 4)) AS i
            FROM t WHERE len(toks) >= 5)
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    runs AS (
      SELECT doc_id, min(pos) AS s, count(*) + 4 AS st
      FROM (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM g WHERE gram IN (SELECT gram FROM dup))
      GROUP BY doc_id, grp
    )
    SELECT doc_id, CAST(s AS BIGINT) AS span_start,
           CAST(s + st AS BIGINT) AS span_end,
           CAST(st AS BIGINT) AS span_tokens
    FROM runs WHERE st >= 50 ORDER BY doc_id, span_start
    """,
)
def q_dedup_exact_substring_spans(spark, sf_dir):
    """TRAIN-internal exact-substring span dedup (dedup.
    exact_substring_spans): per-document maximal token spans of
    chained duplicated 5-grams reaching the Lee et al. 2022 50-token
    bar, with the remove-span [start, end) action — the maximal-span
    generalization of test_substring_contamination's machinery from
    test-vs-train to train-vs-train, and the exact-substring dedup
    the chunk form (dedup.repeated_chunks) approximates."""
    from lab3_spark.operators.dedup import exact_substring_spans

    return exact_substring_spans(
        _t(spark, sf_dir, "documents"), n=5, min_span_tokens=50
    )


_DUCK_BIGRAM_LM_CTES = f"""{_DUCK_GOPHER_CTES},
    clean AS (SELECT doc_id FROM gf WHERE {_DUCK_GOPHER_PASS}),
    dt AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    bs AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
             toks[i] || ' ' || toks[i + 1] AS gram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM dt WHERE len(toks) >= 2)
    ),
    cbig AS (
      SELECT gram, CAST(count(*) AS BIGINT) AS c2
      FROM bs WHERE doc_id IN (SELECT doc_id FROM clean)
      GROUP BY gram
    ),
    cuni AS (
      SELECT word AS term, CAST(count(*) AS BIGINT) AS c1
      FROM (SELECT doc_id, unnest(toks) AS word FROM dt) u
      WHERE doc_id IN (SELECT doc_id FROM clean)
      GROUP BY word
    ),
    nv AS (
      SELECT coalesce(sum(c1), 0) AS n_clean, count(*) AS v_clean
      FROM cuni
    ),
    scored AS (
      SELECT t.gram,
             CAST(floor(
               CASE WHEN b.c2 IS NOT NULL
                 THEN ln(CAST(u1.c1 AS DOUBLE) / b.c2)
                 ELSE ln(CAST(nv.n_clean + nv.v_clean + 1 AS DOUBLE)
                         * 2.5 / (coalesce(u2.c1, 0) + 1)) END
               / ln(2) * 1000000) AS BIGINT) AS s_fp
      FROM (SELECT DISTINCT gram, w1, w2 FROM bs) t
      LEFT JOIN cbig b ON b.gram = t.gram
      LEFT JOIN cuni u1 ON u1.term = t.w1
      LEFT JOIN cuni u2 ON u2.term = t.w2
      CROSS JOIN nv
    ),
    per_doc AS (
      SELECT bs.doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(s.s_fp) // count(*) AS BIGINT) AS mean_surprisal_fp
      FROM bs JOIN scored s ON bs.gram = s.gram
      GROUP BY bs.doc_id
    )"""


@query(
    "doc_bigram_logprob",
    f"""
    WITH {_DUCK_BIGRAM_LM_CTES}
    SELECT doc_id, n_bigrams, mean_surprisal_fp
    FROM per_doc ORDER BY doc_id
    """,
)
def q_doc_bigram_logprob(spark, sf_dir):
    """Stupid-backoff bigram-LM surprisal per document (textstats.
    bigram_backoff_surprisal) — the CCNet recipe proper: LM trained on
    the Gopher-clean slice, scored over the whole corpus; one
    fixed-pointed float expression per DISTINCT bigram type, exact
    bigint per-doc sums (the unigram_surprisal contract)."""
    from lab3_spark.operators.textstats import bigram_backoff_surprisal

    return bigram_backoff_surprisal(_t(spark, sf_dir, "documents"))


@query(
    "doc_bigram_ppl_buckets",
    f"""
    WITH {_DUCK_BIGRAM_LM_CTES},
    bucketed AS (
      SELECT doc_id, mean_surprisal_fp,
             ntile(3) OVER (ORDER BY mean_surprisal_fp ASC,
                            doc_id ASC) AS nt
      FROM per_doc
    )
    SELECT doc_id, mean_surprisal_fp,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                   ELSE 'tail' END AS ppl_bucket
    FROM bucketed ORDER BY doc_id
    """,
)
def q_doc_bigram_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail thirds under the stupid-backoff bigram
    LM (textstats.bigram_ppl_buckets) — the contextual upgrade of
    doc_ppl_buckets, thirds assigned by the distributed global-rank
    ntile (no unpartitioned window)."""
    from lab3_spark.operators.textstats import bigram_ppl_buckets

    return bigram_ppl_buckets(_t(spark, sf_dir, "documents"))


@query(
    "packing_bfd_bound",
    f"""
    WITH pg AS (
      SELECT source AS grp, CAST(sum(len({_DUCK_TOKS})) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ),
    agg AS (
      SELECT budget,
             CAST(sum(toks) AS BIGINT) AS total_tokens,
             CAST(sum((toks + budget - 1) // budget) AS BIGINT) AS n_bins
      FROM pg CROSS JOIN
           (SELECT unnest([128, 256, 512, 1024]) AS budget)
      GROUP BY budget
    )
    SELECT CAST(budget AS BIGINT) AS budget, total_tokens, n_bins,
           CAST((total_tokens + budget - 1) // budget AS BIGINT)
             AS lb_bins,
           CAST(n_bins - (total_tokens + budget - 1) // budget AS BIGINT)
             AS extra_bins,
           CAST(CASE WHEN n_bins > 0
                THEN (total_tokens + budget - 1) // budget
                     * 1000000 // n_bins
                ELSE NULL END AS BIGINT) AS efficiency_fp
    FROM agg ORDER BY budget
    """,
)
def q_packing_bfd_bound(spark, sf_dir):
    """Bin-packing lower bound per budget rung (sampling.
    packing_bfd_bound): ceil(Σlen/L) capacity bound vs the offset
    model's actual per-group bin count — the oracle-expressible
    optimum packing_fragmentation_curve's efficiency is judged
    against; extra_bins is exactly the per-group tail waste."""
    from lab3_spark.operators.sampling import packing_bfd_bound

    return packing_bfd_bound(_t(spark, sf_dir, "documents"))


@query(
    "dedup_span_removal_by_source",
    f"""
    WITH t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 4)) AS i
            FROM t WHERE len(toks) >= 5)
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    runs AS (
      SELECT doc_id, min(pos) AS s, count(*) + 4 AS st
      FROM (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM g WHERE gram IN (SELECT gram FROM dup))
      GROUP BY doc_id, grp
    ),
    spans AS (
      SELECT doc_id, s AS a, s + st AS b FROM runs WHERE st >= 50
    ),
    flg AS (
      SELECT doc_id, a, b,
             CASE WHEN pmax IS NULL OR a > pmax THEN 1 ELSE 0 END AS ng
      FROM (SELECT doc_id, a, b,
                   max(b) OVER (PARTITION BY doc_id ORDER BY a
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pmax
            FROM spans)
    ),
    mg AS (
      SELECT doc_id, max(b) - min(a) AS covered
      FROM (SELECT doc_id, a, b,
                   sum(ng) OVER (PARTITION BY doc_id ORDER BY a
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS grp
            FROM flg)
      GROUP BY doc_id, grp
    ),
    rm AS (
      SELECT doc_id, CAST(sum(covered) AS BIGINT) AS removed
      FROM mg GROUP BY doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN rm.removed IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
           CAST(coalesce(sum(rm.removed), 0) AS BIGINT) AS removed_tokens,
           CAST(CASE WHEN sum(len(toks)) > 0
                THEN coalesce(sum(rm.removed), 0) * 1000000
                     // sum(len(toks))
                ELSE NULL END AS BIGINT) AS removed_frac_fp
    FROM t LEFT JOIN rm USING (doc_id)
    GROUP BY source ORDER BY source
    """,
)
def q_dedup_span_removal_by_source(spark, sf_dir):
    """What the exact-substring remove action DELETES, per source
    (dedup.span_removal_by_source): interval-UNION token accounting of
    the ≥50-token duplicated spans (overlapping islands merged with
    the running-max-of-ends fold, so nothing is double-counted) — the
    Lee et al. headline "what fraction of the corpus is verbatim
    duplicate" number, read before enabling span removal."""
    from lab3_spark.operators.dedup import span_removal_by_source

    return span_removal_by_source(_t(spark, sf_dir, "documents"))


@query(
    "pipeline_bigram_ppl_filter",
    f"""
    WITH {_DUCK_BIGRAM_LM_CTES},
    bucketed AS (
      SELECT doc_id,
             ntile(3) OVER (ORDER BY mean_surprisal_fp ASC,
                            doc_id ASC) AS nt
      FROM per_doc
    ),
    keep AS (SELECT doc_id FROM bucketed WHERE nt <= 2)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(CASE WHEN count(*) > 0
                THEN sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                     * 1000000 // count(*)
                ELSE NULL END AS BIGINT) AS kept_rate_fp
    FROM documents d LEFT JOIN keep k ON d.doc_id = k.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
)
def q_pipeline_bigram_ppl_filter(spark, sf_dir):
    """The CCNet filtering ACTION per source (textstats.
    bigram_ppl_filter_by_source): keep the head/middle thirds of the
    stupid-backoff bigram LM, drop the tail; per-source keep rates are
    the mixture-shift report read before enabling the filter.
    Documents too short to score (< 2 tokens) count in n_docs, never
    in n_kept, identically in both engines."""
    from lab3_spark.operators.textstats import bigram_ppl_filter_by_source

    return bigram_ppl_filter_by_source(_t(spark, sf_dir, "documents"))


@query(
    "fuzzy_name_value_pairs",
    """
    WITH v AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS val_a, b.p_name AS val_b,
           levenshtein(a.p_name, b.p_name) AS edit_dist
    FROM v a JOIN v b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY val_a, val_b
    """,
)
def q_fuzzy_name_value_pairs(spark, sf_dir):
    """PassJoin segment-filtered edit-distance self-join (dedup.
    edit_distance_value_pairs, Li et al. 2011) over the distinct part
    names — the LINEAR-in-|V| scale rung of the edit-distance ladder
    next to fuzzy_part_names' broadcast |V|² type table (right while
    the vocabulary broadcasts; this gate is the path when it does
    not).  Candidates are an equi-join on (length, segment-slot,
    segment-substring) keys; the oracle states the plain quadratic
    compare.  Property-tested exact against a brute-force DP over
    random strings (tests/test_round9_batch1.py)."""
    from lab3_spark.operators.dedup import edit_distance_value_pairs

    part = _t(spark, sf_dir, "part")
    return edit_distance_value_pairs(
        part.select("p_name").distinct(), "p_name"
    )


@query(
    "streaming_incremental_spans",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 4)) AS i
            FROM t WHERE len(toks) >= 5)
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    runs AS (
      SELECT doc_id, min(pos) AS s, count(*) + 4 AS st
      FROM (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM g WHERE gram IN (SELECT gram FROM dup))
      GROUP BY doc_id, grp
    )
    SELECT doc_id, CAST(s AS BIGINT) AS span_start,
           CAST(s + st AS BIGINT) AS span_end,
           CAST(st AS BIGINT) AS span_tokens
    FROM runs WHERE st >= 50 ORDER BY doc_id, span_start
    """,
)
def q_streaming_incremental_spans(spark, sf_dir):
    """A REAL incremental exact-substring span-store maintenance run
    (streaming/incremental_spans.py): the documents table split into 3
    mtime-ordered delta batches; each micro-batch appends only its NEW
    docs' positional grams, merges gram counts, and re-evaluates
    exactly the docs touched by grams that crossed the duplication
    threshold this batch (monotone counts: spans only ever appear —
    the first copy of a block becomes dedup-worthy when the second
    arrives, and the OLD doc gains its span without re-delivery).
    Merged-equals-batch contract: the final span version must equal
    the ONE-SHOT batch exact_substring_spans over all delivered docs —
    the oracle IS dedup_exact_substring_spans' oracle verbatim."""
    from lab3_spark.streaming.incremental_spans import (
        latest_spans,
        start_incremental_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = _drain_store(
        spark, "stream_spans_", docs, "doc_id bigint, text string",
        _mod3("doc_id"), start_incremental_spans,
    )
    return latest_spans(spark, store).orderBy("doc_id", "span_start")


def _duck_logreg_ctes(rounds: int) -> str:
    """Unrolled exact-integer logistic-regression training rounds
    mirroring operators/quality._logreg_weights: fixed-point integer
    features from the Gopher frame, ONE sigmoid per row per round with
    the gradient contribution floored PER ROW (exact bigint sums in
    any order), weight updates sign-split so // truncation matches
    Python's int division.  Yields CTEs ft, n, and w{rounds} holding
    the final weights (w0..w4, fp ×10⁶)."""
    xs = ["x0", "x1", "x2", "x3", "x4"]
    ctes = [
        f"""ft AS (
      SELECT doc_id,
             CAST({_DUCK_GOPHER_PASS} AS INT) AS label,
             CAST(10000 AS BIGINT) AS x0,
             CAST(least(n_words, 1000) * 10 AS BIGINT) AS x1,
             CAST(round(mean_word_len * 10000) AS BIGINT) AS x2,
             CAST(round(top_word_ratio * 10000) AS BIGINT) AS x3,
             CAST(round(alpha_word_frac * 10000) AS BIGINT) AS x4
      FROM gf
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ft),
    w0r AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                   CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
                   CAST(0 AS BIGINT) AS w4)"""
    ]
    for r in range(1, rounds + 1):
        z = " + ".join(f"ft.{x} * w.w{i}" for i, x in enumerate(xs))
        err = (
            "(CAST(label AS DOUBLE) - 1.0 / (1.0 + exp(-("
            f"CAST({z} AS DOUBLE) / 1e10))))"
        )
        gsums = ",\n             ".join(
            f"CAST(sum(floor({err} * ft.{x})) AS BIGINT) AS g{i}"
            for i, x in enumerate(xs)
        )
        upds = ",\n             ".join(
            f"w.w{i} + CASE WHEN g.g{i} >= 0"
            f" THEN (g.g{i} * 10) // nn.n"
            f" ELSE -((-g.g{i} * 10) // nn.n) END AS w{i}"
            for i in range(len(xs))
        )
        ctes.append(
            f"""g{r}r AS (
      SELECT {gsums}
      FROM ft, w{r - 1}r w
    ),
    w{r}r AS (
      SELECT {upds}
      FROM w{r - 1}r w, g{r}r g, nn
    )"""
        )
    return ",\n    ".join(ctes)


@query(
    "quality_logreg_train",
    f"""
    WITH {_DUCK_GOPHER_CTES},
    {_duck_logreg_ctes(3)}
    SELECT feature, w_fp FROM (
      SELECT 'bias' AS feature, w0 AS w_fp FROM w3r
      UNION ALL SELECT 'n_words', w1 FROM w3r
      UNION ALL SELECT 'mean_word_len', w2 FROM w3r
      UNION ALL SELECT 'top_word_ratio', w3 FROM w3r
      UNION ALL SELECT 'alpha_word_frac', w4 FROM w3r)
    ORDER BY feature
    """,
)
def q_quality_logreg_train(spark, sf_dir):
    """A quality classifier TRAINED inside the engine (quality.
    train_quality_logreg): 3 rounds of exact-integer batch gradient
    descent distilling the Gopher rule conjunction into a soft linear
    scorer over its own continuous signals — the model-based quality
    filter of the fastText/CCNet lineage reduced to its linear core so
    EVERY training step is value-hash oracled (per-row gradient
    contributions fixed-pointed before summation; weight updates in
    exact ints, one 1-row collect per round — the k-means shape)."""
    from lab3_spark.operators.quality import train_quality_logreg

    return train_quality_logreg(_t(spark, sf_dir, "documents"))


@query(
    "quality_logreg_accuracy",
    f"""
    WITH {_DUCK_GOPHER_CTES},
    {_duck_logreg_ctes(3)},
    scored AS (
      SELECT ft.label,
             CASE WHEN ft.x0 * w.w0 + ft.x1 * w.w1 + ft.x2 * w.w2
                       + ft.x3 * w.w3 + ft.x4 * w.w4 >= 0
                  THEN 1 ELSE 0 END AS pred
      FROM ft, w3r w
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(CASE WHEN count(*) > 0
                THEN sum(CASE WHEN pred = label THEN 1 ELSE 0 END)
                     * 1000000 // count(*)
                ELSE NULL END AS BIGINT) AS accuracy_fp
    FROM scored
    """,
)
def q_quality_logreg_accuracy(spark, sf_dir):
    """Training-set accuracy of the distilled linear quality scorer
    (quality.quality_logreg_accuracy): exact-integer dot product
    against the trained weights, predict pass iff z >= 0 — the
    acceptance check that the in-engine-trained model reproduces the
    rule conjunction."""
    from lab3_spark.operators.quality import quality_logreg_accuracy

    return quality_logreg_accuracy(_t(spark, sf_dir, "documents"))


@query(
    "doc_kn_bigram_logprob",
    f"""
    WITH {_DUCK_GOPHER_CTES},
    clean AS (SELECT doc_id FROM gf WHERE {_DUCK_GOPHER_PASS}),
    dt AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    bs AS (
      SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
             toks[i] || ' ' || toks[i + 1] AS gram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM dt WHERE len(toks) >= 2)
    ),
    cs AS (
      SELECT * FROM bs WHERE doc_id IN (SELECT doc_id FROM clean)
    ),
    cbig AS (
      SELECT gram, w1, w2, CAST(count(*) AS BIGINT) AS c2
      FROM cs GROUP BY gram, w1, w2
    ),
    ctx AS (
      SELECT w1, CAST(count(*) AS BIGINT) AS cctx FROM cs GROUP BY w1
    ),
    nf AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1f FROM cbig GROUP BY w1),
    nr AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM cbig GROUP BY w2),
    tv AS (
      SELECT (SELECT count(*) FROM cbig) AS t_types,
             (SELECT count(DISTINCT word)
              FROM (SELECT unnest(toks) AS word FROM dt
                    WHERE doc_id IN (SELECT doc_id FROM clean))) AS v_clean
    ),
    scored AS (
      SELECT t.gram,
             CAST(floor(-ln(
               CASE WHEN x.cctx IS NOT NULL
                 THEN (greatest(CAST(coalesce(b.c2, 0) AS DOUBLE) - 0.75,
                                0.0)
                       + 0.75 * CAST(coalesce(f.n1f, 0) AS DOUBLE)
                         * (CAST(coalesce(r.n1r, 0) + 1 AS DOUBLE)
                            / (tv.t_types + tv.v_clean + 1)))
                      / x.cctx
                 ELSE CAST(coalesce(r.n1r, 0) + 1 AS DOUBLE)
                      / (tv.t_types + tv.v_clean + 1) END
               ) / ln(2) * 1000000) AS BIGINT) AS s_fp
      FROM (SELECT DISTINCT gram, w1, w2 FROM bs) t
      LEFT JOIN cbig b ON b.gram = t.gram
      LEFT JOIN ctx x ON x.w1 = t.w1
      LEFT JOIN nf f ON f.w1 = t.w1
      LEFT JOIN nr r ON r.w2 = t.w2
      CROSS JOIN tv
    )
    SELECT bs.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(s.s_fp) // count(*) AS BIGINT) AS mean_surprisal_fp
    FROM bs JOIN scored s ON bs.gram = s.gram
    GROUP BY bs.doc_id ORDER BY doc_id
    """,
)
def q_doc_kn_bigram_logprob(spark, sf_dir):
    """Interpolated Kneser-Ney bigram surprisal per document
    (textstats.kn_bigram_surprisal): the canonical n-gram smoothing
    (Kneser & Ney 1995, Chen & Goodman 1998's interpolated form,
    D = 0.75) trained on the Gopher-clean slice — completing the LM
    ladder above the unigram and stupid-backoff gates.  Context
    counts, continuation counts (N1+ forward/reverse), and the type
    total are all exact-integer hash aggs over the clean bigram
    stream; the single smoothed-probability expression runs once per
    distinct corpus bigram type, mirrored operation-for-operation in
    the oracle, fixed-pointed before any per-doc sum."""
    from lab3_spark.operators.textstats import kn_bigram_surprisal

    return kn_bigram_surprisal(_t(spark, sf_dir, "documents"))


@query(
    "pipeline_span_removal",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 4)) AS i
            FROM t WHERE len(toks) >= 5)
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    runs AS (
      SELECT doc_id, min(pos) AS s, count(*) + 4 AS st
      FROM (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM g WHERE gram IN (SELECT gram FROM dup))
      GROUP BY doc_id, grp
    ),
    spans AS (
      SELECT doc_id, s AS a, s + st AS b FROM runs WHERE st >= 50
    ),
    flg AS (
      SELECT doc_id, a, b,
             CASE WHEN pmax IS NULL OR a > pmax THEN 1 ELSE 0 END AS ng
      FROM (SELECT doc_id, a, b,
                   max(b) OVER (PARTITION BY doc_id ORDER BY a
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pmax
            FROM spans)
    ),
    mi AS (
      SELECT doc_id, min(a) AS a, max(b) AS b
      FROM (SELECT doc_id, a, b,
                   sum(ng) OVER (PARTITION BY doc_id ORDER BY a
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS grp
            FROM flg)
      GROUP BY doc_id, grp
    ),
    pos AS (
      SELECT doc_id, i - 1 AS p, toks[i] AS tok
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks))) AS i
            FROM t WHERE len(toks) >= 1)
    ),
    keptpos AS (
      SELECT pos.doc_id, p, tok FROM pos
      WHERE NOT EXISTS (SELECT 1 FROM mi
                        WHERE mi.doc_id = pos.doc_id
                          AND p >= mi.a AND p < mi.b)
    ),
    clean AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kept,
             md5(string_agg(tok, ' ' ORDER BY p)) AS cmd5
      FROM keptpos GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(clean.kept, 0) AS BIGINT) AS kept_tokens,
           CAST(len(toks) - coalesce(clean.kept, 0) AS BIGINT)
             AS removed_tokens,
           coalesce(clean.cmd5, md5('')) AS clean_md5
    FROM t LEFT JOIN clean USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_pipeline_span_removal(spark, sf_dir):
    """The exact-substring remove action APPLIED (dedup.
    apply_span_removal, VERDICT r9 item 4): merged ≥50-token
    duplicated spans are excised from every document's token stream
    and the survivors re-emitted as the cleaned corpus — Lee et al.
    2022 §3's deduplicated TRAIN set, the ExactSubstr analogue of
    decontaminate_train.  clean_md5 hashes the re-emitted text
    itself, so the gate pins the excision byte-for-byte (not just the
    counts); overlapping islands go through the shared merge_spans
    interval union, and removed_tokens here must equal
    dedup_span_removal_by_source's accounting by construction (same
    fold, test-pinned)."""
    from lab3_spark.operators.dedup import apply_span_removal

    return apply_span_removal(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_tokens",
        "kept_tokens",
        "removed_tokens",
        F.md5("clean_text").alias("clean_md5"),
    )


# Shared paragraph-LSH CTEs (pt = 32-token block paragraphs, cand =
# banded candidate pairs) — interpolated by dedup_paragraph_minhash,
# pipeline_paragraph_dedup AND (guard-free form) the streaming
# incremental paragraph store so the oracles cannot drift.
def _duck_para_lsh_ctes(max_bucket: int | None) -> str:
    """The paragraph-LSH CTE chain; ``max_bucket`` None drops the
    degenerate-bucket QUALIFY (the incremental store emits pairs as
    buckets GROW, so a global size guard would break
    merged-equals-batch — its contract is the guard-free batch op)."""
    if max_bucket is not None:
        sized = f"""sized AS (
      SELECT * FROM bands
      QUALIFY count(*) OVER (PARTITION BY b, band_key) <= {max_bucket}
    ),"""
    else:
        sized = "sized AS (SELECT * FROM bands),"
    return _DUCK_PARA_LSH_BASE.replace("__SIZED__,", sized)


_DUCK_PARA_LSH_BASE = f"""t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    pt AS (
      SELECT doc_id, CAST(b AS BIGINT) AS para_idx,
             toks[b*32+1:(b+1)*32] AS ptoks
      FROM (SELECT doc_id, toks,
                   unnest(range(0, CAST(ceil(len(toks)/32.0) AS BIGINT))) AS b
            FROM t WHERE len(toks) >= 1)
    ),
    sh AS (
      SELECT DISTINCT doc_id, para_idx,
             array_to_string(ptoks[j:j+2], ' ') AS shingle
      FROM (SELECT doc_id, para_idx, ptoks,
                   unnest(generate_series(1, len(ptoks) - 2)) AS j
            FROM pt WHERE len(ptoks) >= 3)
    ),
    mh AS (
      SELECT doc_id, para_idx, salt,
             min(md5(concat(salt, '|', shingle))) AS mh
      FROM sh, (SELECT unnest(range(0, 16)) AS salt) salts
      GROUP BY doc_id, para_idx, salt
    ),
    sig AS (SELECT doc_id, para_idx, list(mh ORDER BY salt) AS sig
            FROM mh GROUP BY doc_id, para_idx),
    bands AS (
      SELECT doc_id, para_idx, b,
             md5(array_to_string(sig[b*4+1:b*4+4], ',')) AS band_key
      FROM sig, (SELECT unnest(range(0, 4)) AS b) bb
    ),
    __SIZED__,
    cand AS (
      SELECT a.doc_id AS doc_a, a.para_idx AS para_a,
             bb.doc_id AS doc_b, bb.para_idx AS para_b,
             CAST(count(*) AS BIGINT) AS n_bands
      FROM sized a JOIN sized bb
        ON a.b = bb.b AND a.band_key = bb.band_key
       AND (a.doc_id < bb.doc_id
            OR (a.doc_id = bb.doc_id AND a.para_idx < bb.para_idx))
      GROUP BY 1, 2, 3, 4
    )"""

_DUCK_PARA_LSH_CTES = _duck_para_lsh_ctes(64)


@query(
    "dedup_paragraph_minhash",
    f"""
    WITH {_DUCK_PARA_LSH_CTES}
    SELECT doc_a, para_a, doc_b, para_b, n_bands FROM cand
    ORDER BY doc_a, para_a, doc_b, para_b
    """,
)
def q_dedup_paragraph_minhash(spark, sf_dir):
    """Paragraph-grain MinHash-LSH near-dup pairs (dedup.
    paragraph_minhash_duplicates, VERDICT r9 item 5): the
    RefinedWeb/Dolma below-document boilerplate pass, reusing the
    doc-level LSH machinery verbatim via key_cols=(doc_id, para_idx)
    — same shingles, salted-md5 permutation-min, 4×4 banding, and
    max_bucket=64 degenerate guard; candidates stay a banded
    EQUI-join, never all-pairs.  The synthetic corpus has no newline
    structure, so the gate uses the 32-token block grain
    (paragraph_frame(block_tokens=32)); the delimiter path is pinned
    by the planted-boilerplate tests (test_round10_batch1)."""
    from lab3_spark.operators.dedup import paragraph_minhash_duplicates

    return paragraph_minhash_duplicates(
        _t(spark, sf_dir, "documents"), block_tokens=32
    )


@query(
    "pipeline_paragraph_dedup",
    f"""
    WITH {_DUCK_PARA_LSH_CTES},
    rm AS (SELECT DISTINCT doc_b AS doc_id, para_b AS para_idx
           FROM cand WHERE n_bands >= 4),
    keptp AS (
      SELECT pt.doc_id, pt.para_idx,
             array_to_string(pt.ptoks, ' ') AS para_text
      FROM pt ANTI JOIN rm USING (doc_id, para_idx)
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kept,
             md5(string_agg(para_text, ' ' ORDER BY para_idx)) AS cmd5
      FROM keptp GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS np
            FROM pt GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(np, 0) AS BIGINT) AS n_paras,
           CAST(coalesce(kept, 0) AS BIGINT) AS kept_paras,
           CAST(coalesce(np, 0) - coalesce(kept, 0) AS BIGINT)
             AS removed_paras,
           coalesce(cmd5, md5('')) AS clean_md5
    FROM documents d LEFT JOIN tot USING (doc_id)
                     LEFT JOIN agg USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_pipeline_paragraph_dedup(spark, sf_dir):
    """The paragraph near-dup removal ACTION applied (dedup.
    apply_paragraph_dedup): every paragraph with an all-bands LSH
    partner at a lexicographically earlier (doc_id, para_idx) is
    dropped keep-first, survivors re-joined in original order — the
    Dolma/RefinedWeb boilerplate-removal pass, completing the
    paragraph family exactly as pipeline_span_removal completes the
    span family.  clean_md5 pins the re-emitted text byte-for-byte;
    the removal list derives from the SHARED cand CTE
    (_DUCK_PARA_LSH_CTES), so the action provably agrees with the
    dedup_paragraph_minhash pair surface."""
    from lab3_spark.operators.dedup import apply_paragraph_dedup

    return apply_paragraph_dedup(
        _t(spark, sf_dir, "documents"), block_tokens=32
    ).select(
        "doc_id",
        "n_paras",
        "kept_paras",
        "removed_paras",
        F.md5("clean_text").alias("clean_md5"),
    )


@query(
    "pipeline_span_removal_packing",
    f"""
    WITH t AS (SELECT doc_id, source, {_DUCK_TOKS} AS toks FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 4)) AS i
            FROM t WHERE len(toks) >= 5)
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    runs AS (
      SELECT doc_id, min(pos) AS s, count(*) + 4 AS st
      FROM (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM g WHERE gram IN (SELECT gram FROM dup))
      GROUP BY doc_id, grp
    ),
    spans AS (
      SELECT doc_id, s AS a, s + st AS b FROM runs WHERE st >= 50
    ),
    flg AS (
      SELECT doc_id, a, b,
             CASE WHEN pmax IS NULL OR a > pmax THEN 1 ELSE 0 END AS ng
      FROM (SELECT doc_id, a, b,
                   max(b) OVER (PARTITION BY doc_id ORDER BY a
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pmax
            FROM spans)
    ),
    mi AS (
      SELECT doc_id, min(a) AS a, max(b) AS b
      FROM (SELECT doc_id, a, b,
                   sum(ng) OVER (PARTITION BY doc_id ORDER BY a
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS grp
            FROM flg)
      GROUP BY doc_id, grp
    ),
    rm AS (
      SELECT doc_id, CAST(sum(b - a) AS BIGINT) AS removed
      FROM mi GROUP BY doc_id
    ),
    pg AS (
      SELECT source AS grp,
             CAST(sum(len(toks) - coalesce(removed, 0)) AS BIGINT)
               AS toks
      FROM t LEFT JOIN rm USING (doc_id)
      GROUP BY source
    ),
    agg AS (
      SELECT budget,
             CAST(sum(toks) AS BIGINT) AS total_tokens,
             CAST(sum((toks + budget - 1) // budget) AS BIGINT) AS n_bins
      FROM pg CROSS JOIN
           (SELECT unnest([128, 256, 512, 1024]) AS budget)
      GROUP BY budget
    )
    SELECT CAST(budget AS BIGINT) AS budget, total_tokens, n_bins,
           CAST((total_tokens + budget - 1) // budget AS BIGINT)
             AS lb_bins,
           CAST(n_bins - (total_tokens + budget - 1) // budget AS BIGINT)
             AS extra_bins,
           CAST(CASE WHEN n_bins > 0
                THEN (total_tokens + budget - 1) // budget
                     * 1000000 // n_bins
                ELSE NULL END AS BIGINT) AS efficiency_fp
    FROM agg ORDER BY budget
    """,
)
def q_pipeline_span_removal_packing(spark, sf_dir):
    """The span-CLEANED corpus fed downstream into the packing budget
    ladder (dedup.span_removal_packing_bound): apply_span_removal's
    survivors priced by the same capacity bound as the raw corpus
    (sampling.packing_bound_ladder, shared arithmetic) — the number a
    curator reads after enabling span removal ("how many training
    bins does the cleaned corpus pack into?"), and rung-by-rung the
    packing dividend vs packing_bfd_bound's raw totals.  The oracle
    derives kept tokens from the merged-interval removal directly
    (interval-union lengths), pinning that excision and accounting
    agree through the downstream consumer too."""
    from lab3_spark.operators.dedup import span_removal_packing_bound

    return span_removal_packing_bound(_t(spark, sf_dir, "documents"))


@query(
    "pipeline_decontaminate_spans",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             {_h2l("substring(md5(concat('split', '|', CAST(doc_id AS VARCHAR))), 1, 15)")}
               % 100 < 90 AS is_train
      FROM documents
    ),
    g AS (
      SELECT t.doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 4)) AS i
            FROM t WHERE len(toks) >= 5) t
    ),
    ev AS (
      SELECT DISTINCT gram FROM g JOIN s USING (doc_id)
      WHERE NOT is_train
    ),
    hits AS (
      SELECT g.doc_id, pos FROM g JOIN s USING (doc_id)
      WHERE is_train AND gram IN (SELECT gram FROM ev)
    ),
    runs AS (
      SELECT doc_id, min(pos) AS a, min(pos) + count(*) + 4 AS b
      FROM (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM hits)
      GROUP BY doc_id, grp
      HAVING count(*) + 4 >= 13
    ),
    flg AS (
      SELECT doc_id, a, b,
             CASE WHEN pmax IS NULL OR a > pmax THEN 1 ELSE 0 END AS ng
      FROM (SELECT doc_id, a, b,
                   max(b) OVER (PARTITION BY doc_id ORDER BY a
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pmax
            FROM runs)
    ),
    mi AS (
      SELECT doc_id, min(a) AS a, max(b) AS b
      FROM (SELECT doc_id, a, b,
                   sum(ng) OVER (PARTITION BY doc_id ORDER BY a
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS grp
            FROM flg)
      GROUP BY doc_id, grp
    ),
    pos AS (
      SELECT doc_id, i - 1 AS p, toks[i] AS tok
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks))) AS i
            FROM t WHERE len(toks) >= 1)
      WHERE doc_id IN (SELECT doc_id FROM s WHERE is_train)
    ),
    keptpos AS (
      SELECT pos.doc_id, p, tok FROM pos
      WHERE NOT EXISTS (SELECT 1 FROM mi
                        WHERE mi.doc_id = pos.doc_id
                          AND p >= mi.a AND p < mi.b)
    ),
    clean AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kept,
             md5(string_agg(tok, ' ' ORDER BY p)) AS cmd5
      FROM keptpos GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(coalesce(clean.kept, 0) AS BIGINT) AS kept_tokens,
           CAST(len(toks) - coalesce(clean.kept, 0) AS BIGINT)
             AS removed_tokens,
           coalesce(clean.cmd5, md5('')) AS clean_md5
    FROM t JOIN s USING (doc_id) LEFT JOIN clean USING (doc_id)
    WHERE s.is_train
    ORDER BY doc_id
    """,
)
def q_pipeline_decontaminate_spans(spark, sf_dir):
    """Surgical eval-decontamination (dedup.decontaminate_train_spans):
    every TRAIN doc's maximal ≥13-token spans whose 5-grams all appear
    in the held-out splits are EXCISED (the verbatim-overlap
    decontamination rule as span removal, not doc drop — keeping the
    contaminated doc's clean tokens that decontaminate_train's drop
    forfeits).  Held-out grams are one DISTINCT broadcastable set, the
    train probe is ONE semi-join, spans chain through the shared
    gaps-and-islands fold, and excision is the shared excise_spans
    path; clean_md5 pins the re-emitted text byte-for-byte over every
    train doc."""
    from lab3_spark.operators.dedup import decontaminate_train_spans

    return decontaminate_train_spans(
        _t(spark, sf_dir, "documents")
    ).select(
        "doc_id",
        "n_tokens",
        "kept_tokens",
        "removed_tokens",
        F.md5("clean_text").alias("clean_md5"),
    )


@query(
    "streaming_incremental_paragraph_lsh",
    f"""
    WITH {_duck_para_lsh_ctes(None)}
    SELECT doc_a, para_a, doc_b, para_b, n_bands FROM cand
    ORDER BY doc_a, para_a, doc_b, para_b
    """,
)
def q_streaming_incremental_paragraph_lsh(spark, sf_dir):
    """A REAL incremental PARAGRAPH-index maintenance run (streaming/
    incremental_paragraph_lsh.py): the documents table split into 3
    mtime-ordered delta batches, each micro-batch banding only its
    new docs' paragraphs (the batch machinery verbatim —
    paragraph_frame → minhash_band_keys at (doc_id, para_idx) grain)
    and extending the candidate list with exactly the new×new and
    new×old band collisions.  Merged-equals-batch contract: the final
    version must equal the ONE-SHOT
    paragraph_minhash_duplicates(max_bucket=None) over all delivered
    docs — the oracle IS the guard-free paragraph pair SQL (the
    store emits pairs as buckets grow, so the batch gate's bucket
    cap is an ingest-time knob applied downstream, not index
    state)."""
    from lab3_spark.streaming.incremental_paragraph_lsh import (
        latest_cands,
        start_incremental_paragraph_lsh,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    store = _drain_store(
        spark, "stream_para_lsh_", docs, "doc_id bigint, text string",
        _mod3("doc_id"), start_incremental_paragraph_lsh,
    )
    return (
        latest_cands(spark, store)
        .select(
            "doc_a",
            "para_a",
            "doc_b",
            "para_b",
            F.col("n_bands").cast("bigint").alias("n_bands"),
        )
        .orderBy("doc_a", "para_a", "doc_b", "para_b")
    )


@query(
    "multimodal_phash_dedup",
    """
    WITH n AS (SELECT doc_id, text, length(text) AS nb FROM documents),
    cells AS (
      SELECT doc_id, j, (j*nb)//72 AS lo, ((j+1)*nb)//72 AS hi
      FROM n, (SELECT unnest(range(0, 72)) AS j) js
    ),
    byt AS (
      SELECT doc_id, i - 1 AS p,
             ord(substr(text, CAST(i AS INT), 1)) AS v
      FROM (SELECT doc_id, text, unnest(generate_series(1, nb)) AS i
            FROM n)
    ),
    bysum AS (
      SELECT c.doc_id, c.j, CAST(sum(v) AS BIGINT) AS s
      FROM cells c JOIN byt ON byt.doc_id = c.doc_id
                           AND byt.p >= c.lo AND byt.p < c.hi
      GROUP BY 1, 2
    ),
    cs AS (
      SELECT c.doc_id, c.j, CAST(c.hi - c.lo AS BIGINT) AS l,
             CAST(coalesce(s, 0) AS BIGINT) AS s
      FROM cells c LEFT JOIN bysum USING (doc_id, j)
    ),
    bits AS (
      SELECT a.doc_id, (a.j // 9) * 8 + (a.j % 9) AS bit,
             CASE WHEN b.s * a.l > a.s * b.l THEN 1 ELSE 0 END AS v
      FROM cs a JOIN cs b ON a.doc_id = b.doc_id AND b.j = a.j + 1
      WHERE a.j % 9 < 8
    ),
    hsh AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN bit = 63
                      THEN v * (-9223372036854775807 - 1)
                      ELSE v * (CAST(1 AS BIGINT) << CAST(bit AS INT)) END)
                  AS BIGINT) AS dhash
      FROM bits GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id, c,
             CAST(sum(v * (CAST(1 AS BIGINT)
                           << CAST(bit - (c * 64) // 7 AS INT)))
                  AS BIGINT) AS cv
      FROM bits, (SELECT unnest(range(0, 7)) AS c) cc
      WHERE bit >= (c * 64) // 7 AND bit < ((c + 1) * 64) // 7
      GROUP BY 1, 2
    ),
    sized AS (
      SELECT * FROM chunks
      QUALIFY count(*) OVER (PARTITION BY c, cv) <= 64
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_equal_chunks
      FROM sized a JOIN sized b
        ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_equal_chunks,
           CAST(bit_count(xor(ha.dhash, hb.dhash)) AS BIGINT) AS hamming,
           CAST(CASE WHEN bit_count(xor(ha.dhash, hb.dhash)) <= 6
                THEN 1 ELSE 0 END AS BIGINT) AS is_near
    FROM cand JOIN hsh ha ON ha.doc_id = cand.doc_a
              JOIN hsh hb ON hb.doc_id = cand.doc_b
    ORDER BY doc_a, doc_b
    """,
)
def q_multimodal_phash_dedup(spark, sf_dir):
    """Perceptual-hash (dHash) image near-dup over the DECODED pixel
    surface (multimodal.dhash_near_dups, VERDICT r9 item 6) — the
    classic difference hash: 9×8 grayscale grid, one bit per
    horizontally adjacent cell pair, hamming ≤ 6 complete via the
    SimHash-pigeonhole 7-chunk equi-join (never all-pairs), verified
    with ONE bit_count(xor) on the packed two's-complement hash.
    The grid cells come from the fake-decode byte stream (the
    Pillow-absence contract: byte-slice sums stand in for grayscale
    downsampling, keeping every bit SQL-recomputable); the full
    candidate surface is emitted with exact hamming + is_near
    verdict, so the gate value-checks thousands of rows even when the
    synthetic corpus has no true near-dup image (planted near-dup
    pairs are pinned in tests/test_round10_batch1.py).  Distinct
    from multimodal_phash_near_dup (r6): that gate block-hashes the
    RAW BYTES positionally; this one hashes the decoded-surface
    GRADIENT, the real dHash contract."""
    from lab3_spark.operators.multimodal import dhash_near_dups

    return dhash_near_dups(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Round-11 gates: LSH band planner + measured quality, contamination
# severity, and the A4 one_combiner facade gate (VERDICT r10 items
# 4, 5, 6).
# ---------------------------------------------------------------------------

#: the exact-integer S-curve planner CTEs (shared by the planner gate
#: and its measured-quality companion): the candidate-pair Jaccard
#: histogram, the VALUES table of N_HASHES factorizations, and the
#: recursive-CTE integer power (HUGEINT accumulator) that recomputes
#: _scurve_miss_ppm from scratch -- floor(1e6*(1-s^r)^b) with s at the
#: bucket lower edge, all integer, no pow() float anywhere.
_DUCK_LSH_PLAN_CTES = f"""{_DUCK_MINHASH_CTES},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    hist AS (
      SELECT CAST((10 * n_inter) // (na.n_sh + nb.n_sh - n_inter)
                  AS BIGINT) AS bucket_x10,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
      GROUP BY 1
    ),
    combos(n_bands, n_rows) AS (
      VALUES (1, 16), (2, 8), (4, 4), (8, 2), (16, 1)
    ),
    scurve_base AS (
      SELECT n_bands, n_rows, p,
             CAST(CASE n_rows WHEN 1 THEN 10 WHEN 2 THEN 100
                  WHEN 4 THEN 10000 WHEN 8 THEN 100000000
                  WHEN 16 THEN 10000000000000000 END AS BIGINT)
             - CAST(CASE n_rows WHEN 1 THEN p WHEN 2 THEN p * p
                    WHEN 4 THEN (p * p) * (p * p)
                    WHEN 8 THEN ((p * p) * (p * p)) * ((p * p) * (p * p))
                    WHEN 16 THEN (((p * p) * (p * p)) * ((p * p) * (p * p)))
                               * (((p * p) * (p * p)) * ((p * p) * (p * p)))
                    END AS BIGINT) AS q
      FROM combos, (SELECT unnest(range(0, 11)) AS p) ps
    ),
    scurve_pow AS (
      SELECT n_bands, n_rows, p, q, CAST(1 AS HUGEINT) AS acc, 0 AS i
      FROM scurve_base
      UNION ALL
      SELECT n_bands, n_rows, p, q, acc * q, i + 1
      FROM scurve_pow WHERE i < n_bands
    ),
    curve AS (
      SELECT n_bands, n_rows, CAST(p AS BIGINT) AS bucket_x10,
             CAST(acc // CAST(10000000000 AS HUGEINT) AS BIGINT) AS miss_ppm
      FROM scurve_pow WHERE i = n_bands
    ),
    plan AS (
      SELECT n_bands, n_rows,
             CAST(sum(CASE WHEN c.bucket_x10 < 5
                  THEN coalesce(h.n_pairs, 0) * (1000000 - miss_ppm)
                  ELSE 0 END) AS BIGINT) AS fp_weight,
             CAST(sum(CASE WHEN c.bucket_x10 >= 5
                  THEN coalesce(h.n_pairs, 0) * miss_ppm
                  ELSE 0 END) AS BIGINT) AS fn_weight
      FROM curve c LEFT JOIN hist h USING (bucket_x10)
      GROUP BY 1, 2
    )"""


@query(
    "lsh_band_planner",
    f"""
    WITH RECURSIVE {_DUCK_LSH_PLAN_CTES}
    SELECT CAST(n_bands AS BIGINT) AS n_bands,
           CAST(n_rows AS BIGINT) AS n_rows,
           fp_weight, fn_weight,
           CAST(fp_weight + fn_weight AS BIGINT) AS cost,
           CAST(CASE WHEN row_number() OVER (
                    ORDER BY fp_weight + fn_weight, n_bands) = 1
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM plan
    ORDER BY n_bands
    """,
)
def q_lsh_band_planner(spark, sf_dir):
    """The MMDS-ch.3 LSH band planner (dedup.lsh_band_plan, VERDICT
    r10 item 4): expected FP+FN pair mass per (b, r) factorization of
    the 16-hash MinHash budget at target Jaccard 0.5, evaluated
    against the corpus's own measured pair-similarity histogram.  The
    S-curve is EXACT integer arithmetic on the 0.1 grid
    ((10^r - p^r)^b DIV 10^10 parts-per-million) -- the Spark side
    computes it in driver Python ints (55-row planner metadata,
    broadcast), the oracle recomputes it from scratch with a
    recursive-CTE HUGEINT power -- so the argmin is deterministic
    integer compare, never a float tie."""
    from lab3_spark.operators.dedup import lsh_band_plan

    return lsh_band_plan(_t(spark, sf_dir, "documents"))


@query(
    "lsh_planner_measured_quality",
    f"""
    WITH RECURSIVE {_DUCK_LSH_PLAN_CTES},
    win AS (
      SELECT n_bands, n_rows FROM plan
      ORDER BY fp_weight + fn_weight, n_bands LIMIT 1
    ),
    bands2 AS (
      SELECT doc_id, bb.b,
             md5(array_to_string(
               sig[bb.b * win.n_rows + 1 : bb.b * win.n_rows + win.n_rows],
               ',')) AS band_key
      FROM sig, win, (SELECT unnest(range(0, 16)) AS b) bb
      WHERE bb.b < win.n_bands
    ),
    cand2 AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands2 a
      JOIN bands2 b ON a.b = b.b AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    ),
    fpt AS (
      SELECT doc_id, md5(array_to_string({_DUCK_TOKS}, ' ')) AS fp
      FROM documents
    ),
    truth AS (
      SELECT CAST(sum(g * (g - 1) // 2) AS BIGINT) AS n_true,
             CAST(sum(g) AS BIGINT) AS n_docs
      FROM (SELECT count(*) AS g FROM fpt GROUP BY fpt.fp)
    ),
    nc AS (SELECT count(*) AS n_cand FROM cand2),
    caught AS (
      SELECT count(*) AS n_caught
      FROM cand2
      JOIN fpt a ON cand2.doc_a = a.doc_id
      JOIN fpt b ON cand2.doc_b = b.doc_id
      WHERE a.fp = b.fp
    )
    SELECT CAST(win.n_bands AS BIGINT) AS n_bands,
           CAST(win.n_rows AS BIGINT) AS n_rows,
           n_docs, n_true AS n_true_pairs,
           CAST(n_cand AS BIGINT) AS n_cand_pairs,
           CAST(n_caught AS BIGINT) AS n_caught,
           CAST(CASE WHEN n_true > 0 THEN n_caught * 1000000 // n_true
                ELSE 1000000 END AS BIGINT) AS pc_fp,
           CAST(CASE WHEN n_docs > 1 THEN 1000000 - n_cand * 1000000
                // (n_docs * (n_docs - 1) // 2)
                ELSE 1000000 END AS BIGINT) AS rr_fp
    FROM win, truth, nc, caught
    """,
)
def q_lsh_planner_measured_quality(spark, sf_dir):
    """The planner's chosen banding MEASURED
    (dedup.lsh_planned_blocking_quality): the winning (b, r) re-bands
    the existing MinHash signatures (array slices, no recompute) and
    the resulting candidate generator is scored with the same pair
    completeness / reduction ratio as dedup_blocking_quality, so the
    planned and shipped bandings sit on one scale.  The winner row is
    a 1-row bounded driver collect (planner metadata, the
    kmeans-centroid pattern)."""
    from lab3_spark.operators.dedup import lsh_planned_blocking_quality

    return lsh_planned_blocking_quality(_t(spark, sf_dir, "documents"))


@query(
    "contamination_max_span",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    g AS (
      SELECT t.doc_id, i - 1 AS pos,
             array_to_string(toks[i:i+3], ' ') AS gram
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 3)) AS i
            FROM t WHERE len(toks) >= 4) t
    ),
    ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
    hits AS (
      SELECT doc_id, pos FROM g
      WHERE doc_id % 97 != 0 AND gram IN (SELECT gram FROM ev)
    ),
    runs AS (
      SELECT doc_id, min(pos) AS a, min(pos) + count(*) + 3 AS b
      FROM (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM hits)
      GROUP BY doc_id, grp
    ),
    flg AS (
      SELECT doc_id, a, b,
             CASE WHEN pmax IS NULL OR a > pmax THEN 1 ELSE 0 END AS ng
      FROM (SELECT doc_id, a, b,
                   max(b) OVER (PARTITION BY doc_id ORDER BY a
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pmax
            FROM runs)
    ),
    mi AS (
      SELECT doc_id, min(a) AS a, max(b) AS b
      FROM (SELECT doc_id, a, b,
                   sum(ng) OVER (PARTITION BY doc_id ORDER BY a
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS grp
            FROM flg)
      GROUP BY doc_id, grp
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(b - a) AS BIGINT) AS max_span_tokens,
           CAST(sum(b - a) AS BIGINT) AS overlap_tokens,
           CAST((max(b - a) // 10) * 10 AS BIGINT) AS len_bucket
    FROM mi GROUP BY doc_id
    ORDER BY max_span_tokens DESC, doc_id
    """,
)
def q_contamination_max_span(spark, sf_dir):
    """Contamination SEVERITY (dedup.contamination_max_span, VERDICT
    r10 item 5): the benchmark_decontamination family upgraded from
    0/1 flags to per-doc maximal-overlap-span accounting -- longest
    merged verbatim span, total overlapped tokens, and a decade
    length bucket, ranked worst-first the way the Lee et al. 2022 /
    Llama contamination appendices report leak severity.  Same split
    convention as benchmark_decontamination (doc_id % 97 == 0 is the
    eval side), same broadcast-eval-gram + one-semi-join scan shape,
    spans chained through the shared gaps-and-islands fold
    (spans_from_hits) and merge_spans interval union.  The gate probes
    at n=4 (operator default stays the family's n=5): the synthetic
    corpus's tiny vocabulary yields 8 contaminated docs at the
    4-gram grain vs 1 at 5 — a real value-check surface; the n is an
    audit-tightness knob, not a semantics change."""
    from lab3_spark.operators.dedup import contamination_max_span

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return contamination_max_span(train, bench, n=4)


@query(
    "mapreduce_facade_one_combiner",
    f"""
    WITH {OR.duck_tokens_cte()}
    SELECT DISTINCT word, CAST(length(word) AS BIGINT) AS word_len
    FROM toks ORDER BY word
    """,
)
def q_mapreduce_facade_one_combiner(spark, sf_dir):
    """A4 one_combiner (combiner.h:238-243) through the generic
    facade (operators/mapreduce.py, VERDICT r10 item 6 -- the last §2
    row without a dedicated oracled gate): key = token, value =
    length(token).  one_combiner's contract is key-functional values
    ("all equal, keep one"), so the kept value is deterministic no
    matter which occurrence the unordered merge sees -- the same
    reason the combiner is safe in the reference."""
    from lab3_spark.operators.mapreduce import vocab_lengths_as_mapreduce

    return vocab_lengths_as_mapreduce(_t(spark, sf_dir, "documents"))


@query(
    "pipeline_line_dedup",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    pt AS (
      SELECT doc_id, CAST(b AS BIGINT) AS line_idx,
             array_to_string(toks[b*32+1:(b+1)*32], ' ') AS line_text
      FROM (SELECT doc_id, toks,
                   unnest(range(0, CAST(ceil(len(toks)/32.0) AS BIGINT))) AS b
            FROM t WHERE len(toks) >= 1)
    ),
    r AS (
      SELECT doc_id, line_idx, line_text,
             row_number() OVER (PARTITION BY line_text
                                ORDER BY doc_id, line_idx) AS rn
      FROM pt
    ),
    keptl AS (SELECT doc_id, line_idx, line_text FROM r WHERE rn = 1),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kept,
             md5(string_agg(line_text, ' ' ORDER BY line_idx)) AS cmd5
      FROM keptl GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nl
            FROM pt GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(nl, 0) AS BIGINT) AS n_lines,
           CAST(coalesce(kept, 0) AS BIGINT) AS kept_lines,
           CAST(coalesce(nl, 0) - coalesce(kept, 0) AS BIGINT)
             AS removed_lines,
           coalesce(cmd5, md5('')) AS clean_md5
    FROM documents d LEFT JOIN tot USING (doc_id)
                     LEFT JOIN agg USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q_pipeline_line_dedup(spark, sf_dir):
    """EXACT duplicate-line removal keep-first (dedup.apply_line_dedup)
    — the RefinedWeb/Falcon exact line-dedup pass, the exact-unit
    complement of pipeline_paragraph_dedup's LSH action: one hash
    shuffle keyed by the unit text (no bands, no verify), every
    occurrence but the lexicographically first (doc_id, line_idx)
    dropped, survivors re-joined in original order.  Same 32-token
    block grain as the paragraph gates (shared paragraph_frame
    unitization — the two passes provably agree on what a line is);
    clean_md5 pins the re-emitted text byte-for-byte over all docs."""
    from lab3_spark.operators.dedup import apply_line_dedup

    return apply_line_dedup(
        _t(spark, sf_dir, "documents"), block_tokens=32
    ).select(
        "doc_id",
        "n_lines",
        "kept_lines",
        "removed_lines",
        F.md5("clean_text").alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# Driver-window ordering.
#
# The correctness driver checks the FIRST 50 entries of ``queries()`` —
# registration order above is build-chronological.  ``_DRIVER_PRIORITY``
# pins the window deliberately.  Round-7 curation (exactly 50 slots):
#
#   1-35   the 35 round-6 gates that never received a driver
#          CORRECTNESS row (round 6 landed 62 gates for 50 slots) —
#          the entire remaining evidence gap after r1-r6's cumulative
#          216/219 driver-green (VERDICT r6 item 1).
#   36-38  the 3 sketch gates, reshaped THIS round from rows-only to
#          bounded-error ORACLED contracts (exact side + tolerance
#          booleans, VERDICT r6 item 6) — fresh rows required.
#   39-50  the 12 new round-7 gates (additions capped to exactly fill
#          the window, per VERDICT r6 item 7; the §2 parity core keeps
#          its r5 green rows and heads the beyond-window tail).
#
# Everything else follows (driver may check more than 50 someday;
# nothing is dropped — only reordered).  The window-budget contract is
# test-enforced: tests/test_oracle_lint.py asserts every never-checked
# catalog gate sits inside the first 50.
#
# ROUND-8 CURATION (the r7 handoff executed): CORRECTNESS_r07 came
# back 50/50 green, so the never-checked backlog is EMPTY and every
# pre-r8 gate holds a driver row somewhere in r1-r7.  The 50 slots:
#
#   head   the NEW round-8 gates (no driver row yet — the lint in
#          tests/test_oracle_lint.py forces them inside the window).
#   next   the 3 gates whose ORACLE SQL changed this round (ADVICE r7
#          division/NULL guards): dedup_blocking_quality,
#          orders_mannwhitney, source_length_ks — fresh rows pin the
#          guarded SQL.
#   next   the §2 parity core re-confirmations (newest rows were r5).
#   rest   gates whose PHYSICAL PLAN changed this round (the
#          one_window_partition warning-hygiene sweep + the rank.py
#          offsets windows) — results are unchanged by construction,
#          fresh rows confirm it.
#
# ROUND-9 CURATION (the r8 handoff executed): CORRECTNESS_r08 came
# back 50/50 green.  The 50 slots: the 4 new round-9 gates, the 2
# gates whose shared BPE oracle CTEs gained the ADVICE-r8 exhaustion
# guard, the 3 gates whose operator changed (ranged packing offsets /
# pinned doc_id), then the 41 OLDEST green rows (r1 + the whole r2 era
# + the first r3 slice, straight from tools/window_age.py).
#
# ROUND-10 CURATION (the r9 handoff executed): CORRECTNESS_r09 came
# back 50/50 green.  The 50 slots: the 7 new round-10 gates, the 3
# gates whose operator changed (the packing_bound_ladder factoring,
# minhash key_cols
# generalization, merge_spans factoring — streaming_incremental_lsh
# shares the minhash machinery but its own store logic is untouched
# and the two doc-level minhash gates re-confirm the shared path;
# dedup_span_removal_by_source's merge_spans refactor is pinned by
# the apply==accounting test; the quality_logreg and
# streaming_incremental_spans ADVICE guards are failure-path-only and
# test-pinned — all keep their fresh r8/r9 rows), then the ENTIRE
# remaining r3 era — 40 gates straight
# from tools/window_age.py, leaving r4 as the oldest surviving
# driver-row era.
#
# ROUND-11 CURATION (the r10 handoff executed): CORRECTNESS_r10 came
# back 50/50 green, clearing the r3 era.  The 50 slots: the 5 new
# round-11 gates (LSH band planner + measured quality, contamination
# max-span severity, the A4 one_combiner facade gate, exact line
# dedup), then the ENTIRE r4 driver-row era — 45 gates straight from
# tools/window_age.py oldest-first (the fifth new gate displaced the
# r5 head ann_ivf_frozen_append from slot 50).  Round 11 DID rewrite
# existing operators (exact_duplicates, keep_best_duplicates,
# per_source_token_budget, robust_quality_zscore, approx_dau_check,
# and the six ANN expression builders — ADVICE r11 corrected this
# paragraph); the ones not already in the r11 window carried over as
# the r12 MUST-HEAD below.
#
# ROUND-12 HANDOFF: if CORRECTNESS_r11 is green, budget the same way —
# new gates first, then changed oracles/operators, then the oldest-row
# re-confirmations from `python tools/window_age.py`.  MUST-HEAD for
# r12: the six r5-era ANN gates whose expression CONSTRUCTION changed
# in round 11 (the single-parse SQL builder rewrite,
# operators/kmeans.py `_sql_bigint_array` — values pinned identical by
# tests/test_kmeans.py::test_sql_builders_match_column_builders and a
# 15/15 local verify_local sweep at sf0.01, but their newest driver
# rows predate the change): ann_ivf_frozen_append, ann_ivf_trained,
# ann_ivf_pq_top5, ann_ivfpq_residual_top5, ann_ivfpq_rerank_top5,
# ann_ivfpq_recall — plus events_approx_dau (the Expand-split rewrite,
# operators/events.py approx_dau_check: two groupBys joined on day,
# values identical, both scales re-verified, repriced 4.46→1.30 s)
# and dedup_exact (keep-first rewritten window-over-fp →
# groupBy+join, the round-11 skew-audit class; both scales
# re-verified, golden tests green) and per_source_token_budget (the
# whole-source ordered window decomposed into the bounded
# quality-histogram prefix + within-cell window, all bigint, both
# scales re-verified).
# Then the remaining r5 era (ann_sq8_top5, benchmark_decontamination,
# cluster_balanced_sample, corpus_shuffle_shards,
# dedup_cluster_representatives, …).  Update
# test_driver_window_leads_with_round11_priorities when reordering.
#
# ROUND-12 CURATION (the r11 handoff executed): CORRECTNESS_r11 came
# back 50/50 green.  The 50 slots: the 2 new round-12 gates (the
# mergeable quantile digest + its streaming incremental-store twin),
# then the 16 changed-operator gates —
# the 6 SQL-builder ANN gates + events_approx_dau + dedup_exact +
# per_source_token_budget from the r11 handoff MUST-HEAD, plus this
# round's own rewrites: source_bpe_merges (per-source BPE argmax
# window → min_by combinable agg, values oracle-verified identical),
# pipeline_line_dedup + pipeline_paragraph_dedup (joiner parameter on
# the apply functions; the gates' delimiter=None path is
# byte-identical, oracle re-verified), pack_training_sequences +
# pipeline_dedup_to_packing (pack_sequences grew the sharded-cumsum
# path; the gates keep the default single-window path, oracle
# re-verified), ship_latency_percentiles (priority-partitioned
# row_number window → bounded (priority, days) value-histogram
# positional read; 5 priorities made each window partition a fifth
# of the fact-fact join) and
# top_customers_per_nation (n_name window → salted top_n_per_key; 25
# nations), both oracle-verified at both scales — then the remaining
# r5 era oldest-first (32 of its 33; the second new gate displaced
# streaming_sliding_10m to slot 51), filling the window to exactly 50.
#
# ROUND-13 HANDOFF: if CORRECTNESS_r12 is green, budget the same way —
# new gates first, then changed oracles/operators, then oldest-row
# re-confirmations from `python tools/window_age.py` (the refills
# start at events_value_histogram, grouped_minmax_normalize,
# hybrid_retrieval_rrf, kmeans_centroids, multimodal_byte_chunks,
# orc_roundtrip_events, orders_priority_unpivot, orders_scd_upsert,
# ppr_seed_proximity, streaming_cms_heavy_hitters,
# streaming_curated_ingest and streaming_sliding_10m — the twelve
# displaced r5 stragglers — then the r6 era: compaction_bins,
# corpus_snapshot_diff, customer_rfm_segments, data_expectations,
# dataset_card, …).  No known changed-construction
# carryover beyond what the r12 window re-confirms.  Update
# test_driver_window_leads_with_round12_priorities when reordering.
#: the round-8 additions, in window order — the lint test pins the
#: window head to exactly this list; extend it when adding gates.
ROUND8_NEW = [
    "bpe_merges_k",
    "source_winsorized_stats",
    "orders_mannwhitney_by_status",
    "lineitem_spearman",
    "orders_kendall_tau",
    "bpe_apply_compression",
    "orders_paired_permutation",
    "source_drift_bh_screen",
    "source_ks_matrix",
    "source_mean_bootstrap_ci",
    "packing_fragmentation_curve",
    "source_importance_ess",
    "streaming_incremental_pagerank",
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
    "streaming_incremental_lsh",
]

#: the round-10 additions, in window order — same lint contract.
ROUND10_NEW = [
    "pipeline_span_removal",
    "dedup_paragraph_minhash",
    "multimodal_phash_dedup",
    "pipeline_paragraph_dedup",
    "streaming_incremental_paragraph_lsh",
    "pipeline_decontaminate_spans",
    "pipeline_span_removal_packing",
]

#: the round-11 additions, in window order — same lint contract.
ROUND11_NEW = [
    "lsh_band_planner",
    "lsh_planner_measured_quality",
    "contamination_max_span",
    "mapreduce_facade_one_combiner",
    "pipeline_line_dedup",
]

#: the round-12 additions, in window order — same lint contract.
ROUND12_NEW = [
    "events_kll_daily_quantiles",
    "streaming_incremental_quantiles",
    "orders_zorder_pruning",
    "kmeans_silhouette",
    "linkage_fs_scores",
    "events_attribution_markov",
    "l_diversity_report",
    "streaming_incremental_attribution",
    "source_length_digest",
    "ann_ivf_ndcg",
    "events_attribution_heuristics",
    "customer_revenue_lorenz",
    "session_survival_km",
]

#: round-12 changed-operator re-confirmations, in window order: the
#: r11 handoff's MUST-HEAD (6 SQL-builder ANN gates + the three r11
#: skew/Expand rewrites) plus this round's own operator touches.
ROUND12_CHANGED = [
    "ann_ivf_frozen_append",
    "ann_ivf_trained",
    "ann_ivf_pq_top5",
    "ann_ivfpq_residual_top5",
    "ann_ivfpq_rerank_top5",
    "ann_ivfpq_recall",
    "events_approx_dau",
    "dedup_exact",
    "per_source_token_budget",
    "source_bpe_merges",
    "pipeline_line_dedup",
    "pipeline_paragraph_dedup",
    "pack_training_sequences",
    "pipeline_dedup_to_packing",
    "ship_latency_percentiles",
    "top_customers_per_nation",
]

#: the round-9 additions, in window order — same lint contract.
ROUND9_NEW = [
    "dedup_exact_substring_spans",
    "doc_bigram_logprob",
    "doc_bigram_ppl_buckets",
    "packing_bfd_bound",
    "dedup_span_removal_by_source",
    "pipeline_bigram_ppl_filter",
    "fuzzy_name_value_pairs",
    "streaming_incremental_spans",
    "doc_kn_bigram_logprob",
    "quality_logreg_train",
    "quality_logreg_accuracy",
]

_DRIVER_PRIORITY = [
    # ROUND-12 WINDOW (CORRECTNESS_r11 came back 50/50 green; budgeted
    # with tools/window_age.py per the r11 handoff — see the ROUND-12
    # CURATION note above):
    # -- new round-12 gates (no driver row yet) -----------------------
    *ROUND12_NEW,
    # -- changed-operator re-confirmations (values oracle-verified
    #    identical this round; driver hash currency) ------------------
    *ROUND12_CHANGED,
    # -- oldest-green re-confirmations (window_age.py oldest-first):
    #    21 of the remaining 33 r5-era gates, filling the window to
    #    exactly 50 (the other twelve — events_value_histogram,
    #    grouped_minmax_normalize, hybrid_retrieval_rrf,
    #    kmeans_centroids, multimodal_byte_chunks,
    #    orc_roundtrip_events, orders_priority_unpivot,
    #    orders_scd_upsert, ppr_seed_proximity,
    #    streaming_cms_heavy_hitters, streaming_curated_ingest,
    #    streaming_sliding_10m — sit at slots 51-62 and head the r13
    #    refills; no r6 gate fits this round) -------------------------
    "ann_sq8_top5",
    "benchmark_decontamination",
    "cluster_balanced_sample",
    "corpus_shuffle_shards",
    "dedup_cluster_representatives",
    "dedup_clusters",
    "dedup_community_modularity",
    "dedup_containment",
    "dedup_graph_triangles",
    "dedup_lpa_communities",
    "dedup_method_agreement",
    "dedup_rate_by_source",
    "dedup_semantic",
    "dedup_simhash",
    "dedup_survivors",
    "dedup_winnowing",
    "doc_bigram_surprisal",
    "doc_bpe_token_counts",
    "doc_winnowing_fingerprints",
    "events_by_customer_segment",
    "events_top_type_per_hour",
    # (events_value_histogram, grouped_minmax_normalize,
    # hybrid_retrieval_rrf, kmeans_centroids, multimodal_byte_chunks,
    # orc_roundtrip_events, orders_priority_unpivot,
    # orders_scd_upsert, ppr_seed_proximity,
    # streaming_cms_heavy_hitters, streaming_curated_ingest and
    # streaming_sliding_10m, all r5, displaced to slots 51-62 by the
    # round-12 gates; they head the r13 refills with the r6 era)
    # -- beyond slot 50: the r11 window order, then the standing tail
    "events_value_histogram",
    "grouped_minmax_normalize",
    "hybrid_retrieval_rrf",
    "kmeans_centroids",
    "multimodal_byte_chunks",
    "orc_roundtrip_events",
    "orders_priority_unpivot",
    "orders_scd_upsert",
    "ppr_seed_proximity",
    "streaming_cms_heavy_hitters",
    "streaming_curated_ingest",
    "streaming_sliding_10m",
    #    (duplicates collapse to their first position) ----------------
    *ROUND11_NEW,
    # -- oldest-green re-confirmations (window_age.py oldest-first):
    #    the ENTIRE r4 driver-row era — 45 gates — plus the r5 era's
    #    head, filling the window to exactly 50 and leaving r5 as the
    #    oldest surviving era.  No existing gate's operator or oracle
    #    changed this round (round-11 adds new functions only) --------
    "above_avg_spenders",
    "ann_bruteforce_l2_top5",
    "ann_hash_embedding_top5",
    "ann_ivf_probe2",
    "ann_ivf_recall",
    "ann_pq_adc_top5",
    "ann_pq_recall",
    "ann_pq_rerank",
    "bm25_top_docs",
    "customers_without_orders",
    "dedup_keep_best",
    "dedup_repeated_chunks",
    "doc_chunks",
    "doc_dsir_weights",
    "doc_hash_embeddings",
    "doc_length_distribution",
    "doc_ngram_repetition",
    "doc_ppl_buckets",
    "doc_redact_pii",
    "doc_unigram_logprob",
    "events_daily_anomalies",
    "events_gapfill_locf",
    "events_sliding_10m",
    "events_weekday_hour_profile",
    "fuzzy_part_names",
    "jsonl_roundtrip_docs",
    "orders_above_cust_avg",
    "orders_rolling_7d_revenue",
    "pipeline_clean_corpus",
    "pipeline_dsir_select",
    "pipeline_gopher_prune",
    "promo_revenue_share",
    "pysource_synthetic_docs",
    "q21_sole_latest_supplier",
    "q22_idle_rich_customers",
    "robust_quality_zscore",
    "source_mixing_weights",
    "sparse_tfidf_pairs",
    "stratified_fixed_n_sample",
    "streaming_incremental_dedup",
    "streaming_sessionize_stateful",
    "streaming_view_purchase_join",
    "token_budget_select",
    "udtf_token_positions",
    "user_running_totals",
    # (ann_ivf_frozen_append, r5, was slot 50 until the fifth round-11
    # gate displaced it; it heads the r12 window with the other five
    # changed-construction ANN gates -- see the ROUND-12 HANDOFF note)
    # -- beyond: the r10 window order then the standing tail (driver
    #    may check more than 50 someday; nothing dropped, only
    #    reordered — duplicate names below collapse to their first
    #    position in the dict rebuild) --------------------------------
    *ROUND10_NEW,
    "packing_bfd_bound",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_lsh_buckets",
    "bucketed_fact_join",
    "cross_source_contamination",
    "data_quality_report",
    "doc_gopher_quality",
    "events_asof_join",
    "events_funnel",
    "events_props_from_json",
    "events_props_variant",
    "events_sessionize",
    "events_zorder_cells",
    "hourly_spine_recursive",
    "mapreduce_facade_wordcount",
    "multimodal_features",
    "order_total_deciles",
    "pack_training_sequences",
    "pagerank_candidates",
    "pipeline_dedup_to_packing",
    "pmi_collocations",
    "posting_pairs_scale_form",
    "profile_orders",
    "q10_returned_customers",
    "q11_important_parts",
    "q12_latency_priority",
    "q13_order_count_distribution",
    "q15_top_supplier",
    "q16_supplier_variety",
    "q17_small_qty_revenue",
    "q18_large_volume_customer",
    "q19_bracket_revenue",
    "q20_excess_shippers",
    "q2_min_cost_supplier",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "q9_profit_by_nation_year",
    "stratified_sample_documents",
    "streaming_tumbling_5min",
    "train_val_test_split",
    "word_count_antijoin",
    *ROUND9_NEW,
    # -- oracle SQL changed this round (ADVICE r8: the seg{r} LEFT-JOIN
    #    exhaustion guard rewrites _duck_bpe_ctes, shared by both) ----
    "bpe_merges_k",
    "bpe_apply_compression",
    # -- operator changed this round (ADVICE r8: ranged offsets rewrite
    #    / pinned doc_id signature); values unchanged by construction -
    "packing_fragmentation_curve",
    "split_leakage_neardup",
    "decontaminate_train",
    # -- oldest-green re-confirmations (window_age.py oldest-first:
    #    the r1/r2 era + the first r3 slice; fills the window to 50) --
    "top_words_per_source",
    "ann_bruteforce_top5",
    "ann_ivf_top5",
    "dedup_embedding_cosine",
    "dedup_exact",
    "distinct_part_types",
    "doc_fingerprint",
    "doc_lang_id",
    "doc_quality",
    "doc_token_stats",
    "events_daily_active_users",
    "events_props_stats",
    "events_retention",
    "events_session_window_native",
    "events_tumbling_5min",
    "events_value_percentiles",
    "lineitem_grouping_sets",
    "mktsegment_rollup",
    "multimodal_frame_sample",
    "nation_status_pivot",
    "nations_with_both",
    "nations_without_suppliers",
    "order_priority_check",
    "order_status_cube",
    "parties_per_nation",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "salted_wordcount",
    "supplier_coverage",
    "tfidf_top_terms",
    "top_bigrams",
    "top_customers_per_nation",
    # (events_asof_join / events_funnel / doc_gopher_quality /
    # data_quality_report / cross_source_contamination /
    # ann_lsh_buckets / bucketed_fact_join displaced to r10 by the
    # seven late r9 gates — the window holds exactly 50; all are
    # r3-green)
    "events_geomean_value",
    # -- beyond: the standing re-confirmation order (driver may check
    #    more than 50 someday; nothing dropped, only reordered).  The
    #    r8 window head keeps its r8-green order here -----------------
    "dedup_blocking_quality",
    "orders_mannwhitney",
    "source_length_ks",
    "word_count",
    "top50_words",
    "inverted_index",
    "word_count_parity",
    "inverted_index_parity",
    "orders_winsorized_stats",
    "orders_mean_bootstrap_ci",
    "weighted_sample_docs",
    "mixture_apportionment",
    "source_token_gini",
    "vocab_coverage_curve",
    "bpe_merge_candidates",
    "events_cms_heavy_hitters",
    "events_cusum_changepoint",
    "events_decayed_leaderboard",
    "events_seasonal_decomposition",
    "monthly_revenue_trend",
    "orders_price_skyline",
    "customer_order_cadence",
    "join_skew_report",
    "orders_rolling_7d_revenue",
    "order_total_deciles",
    "doc_length_distribution",
    "token_budget_select",
    "systematic_sample_docs",
    "zipf_fit",
    "dedup_sorted_neighborhood",
    "corpus_shuffle_shards",
    "customer_rfm_segments",
    "dedup_minhash_lsh",
    "events_approx_dau",
    "events_hll_daily_merge",
    "events_value_percentiles_approx",
    "dedup_simhash_blocking",
    "dedup_cross_source",
    "dataset_split_manifest",
    "quality_kappa",
    "source_vocab_overlap",
    "corpus_ngram_novelty",
    "quality_pr_curve",
    "mmr_diverse_select",
    "events_xcorr_lag",
    "source_lang_chi2",
    "orders_cdc_asof",
    "user_activity_bitmap",
    "quality_dup_calibration",
    "customers_every_year",
    "orders_scd2_history",
    "streaming_activity_bitmap",
    "events_kmv_type_overlap",
    "dedup_cdc_chunks",
    "source_lang_mutual_info",
    "region_price_anova",
    "orders_benford_audit",
    "embedding_projection_by_label",
    "source_influence_jackknife",
    "embedding_top2_directions",
    "dedup_graph_assortativity",
    "dedup_ktruss",
    "ql_dirichlet_top_docs",
    "retrieval_rank_agreement",
    "orders_holt_forecast",
    "nation_trend_robust",
    "quality_feature_correlations",
    "events_hourly_acf",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_survivors",
    "dedup_semantic",
    "dedup_containment",
    "dedup_graph_triangles",
    "kmeans_centroids",
    "ann_ivf_trained",
    "ann_ivf_probe2",
    "ann_ivf_recall",
    "ann_pq_adc_top5",
    "ann_pq_recall",
    "ann_pq_rerank",
    "ann_ivfpq_residual_top5",
    "ann_ivfpq_rerank_top5",
    "ann_sq8_top5",
    "ann_lsh_buckets",
    "sparse_tfidf_pairs",
    "bm25_top_docs",
    "hybrid_retrieval_rrf",
    "doc_unigram_logprob",
    "doc_ppl_buckets",
    "doc_dsir_weights",
    "pipeline_dsir_select",
    "token_budget_select",
    "source_mixing_weights",
    "robust_quality_zscore",
    "benchmark_decontamination",
    "doc_winnowing_fingerprints",
    "dedup_winnowing",
    "dedup_lpa_communities",
    "events_sessionize",
    "events_sliding_10m",
    "orders_rolling_7d_revenue",
    "streaming_sessionize_stateful",
    "streaming_incremental_dedup",
    "streaming_curated_ingest",
    "multimodal_features",
    "mapreduce_facade_wordcount",
    "events_asof_join",
    "pipeline_dedup_to_packing",
    "order_total_deciles",
    "cross_source_contamination",
    "doc_gopher_quality",
    "events_cms_heavy_hitters",
    "dataset_card",
]


def _apply_driver_order() -> None:
    missing = [n for n in _DRIVER_PRIORITY if n not in QUERIES]
    if missing:  # fail loudly at import — a typo here silently unpins
        raise RuntimeError(f"_DRIVER_PRIORITY names unknown queries: {missing}")
    pinned = set(_DRIVER_PRIORITY)
    ordered = {n: QUERIES[n] for n in _DRIVER_PRIORITY}
    ordered.update({n: f for n, f in QUERIES.items() if n not in pinned})
    # mutate in place so every importer (bench, CLI, entry) sees the order
    QUERIES.clear()
    QUERIES.update(ordered)


_apply_driver_order()
