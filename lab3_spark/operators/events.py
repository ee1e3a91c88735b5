"""Event-stream analytics (batch form; streaming twins in
lab3_spark/streaming/).

The reference is batch-only (SURVEY.md §2.8); these operators cover the
windowed/sessionized aggregations a pipeline runs over an events table
(event_id, ts, user_id, event_type, value, props).

Batch and streaming share the same logical expressions —
``tumbling_counts`` below is literally the micro-batch body of
streaming/windowed.py — so correctness checked here via the DuckDB
oracle transfers to the streaming path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import one_window_partition
from lab3_spark.functions.rounding import trunc

MONEY = 2
RATIO = 4


def tumbling_counts(events: DataFrame, width: str = "5 minutes") -> DataFrame:
    """Tumbling-window counts + value sums per event_type.

    ``F.window`` buckets rows into [start, end) windows — identical
    bucketing to DuckDB's time_bucket for aligned widths."""
    return (
        events.groupBy(
            F.window("ts", width).alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), MONEY).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


def sliding_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding (hopping) window counts + value sums per event_type:
    each event lands in width/slide overlapping windows (here 2).

    ``F.window(ts, width, slide)`` assigns the window set per ROW as
    an in-row expression (Catalyst expands to a generator of
    width/slide buckets) — the overlap factor multiplies rows BEFORE
    the single hash agg, which still map-side combines per (window,
    type).  No self-join, no re-scan: one pass, one shuffle, identical
    cost shape to the tumbling form times the overlap factor."""
    return (
        events.groupBy(
            F.window("ts", width, slide).alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), MONEY).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


def daily_active_users(events: DataFrame) -> DataFrame:
    """Exact daily distinct users (count-distinct shuffles twice:
    partial distinct then count; the HLL++ path is approx_dau_check)."""
    return (
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("dau"))
        .orderBy("day")
    )


def approx_dau_check(events: DataFrame, rsd: float = 0.01) -> DataFrame:
    """(day, dau_exact, within_5pct): the HLL++ estimate gated against
    the exact count — the driver-hashable form of the sketch contract.
    The estimate itself is engine-specific (no SQL oracle can produce
    it), but `|est − exact| ≤ 5% · exact` IS oracle-expressible: the
    oracle emits the exact counts plus literal TRUE, so a sketch whose
    error ever exceeds the bound flips the boolean and the hash.  Both
    sides integer-exact: abs(est−exact)·20 ≤ exact avoids floats.

    The two aggregates run as SEPARATE groupBys joined on day — NOT
    one agg: mixing a DISTINCT aggregate with the HLL forces
    Catalyst's Expand multi-phase plan (rows duplicated per aggregate
    class, 2^p-register sketch buffers carried through extra phases),
    measured 2.71 s vs 0.41 s + 0.81 s separate at sf0.1 — and the
    day-keyed join is group-count scale.  Values identical."""
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    exact = events.groupBy(day).agg(
        F.countDistinct("user_id").alias("dau_exact")
    )
    est = events.groupBy(day).agg(
        F.approx_count_distinct("user_id", rsd).alias("_est")
    )
    return (
        exact.join(est, "day")
        .select(
            "day",
            "dau_exact",
            (
                F.abs(F.col("_est") - F.col("dau_exact")) * 20
                <= F.col("dau_exact")
            ).alias("within_5pct"),
        )
        .orderBy("day")
    )


def hll_merge_check(events: DataFrame) -> DataFrame:
    """(day, dau_exact, daily_within_5pct, total_within_5pct): the
    mergeable DataSketches-HLL pipeline (hll_daily_merge) gated against
    exact counts — per-day sketch estimates AND the cross-day union
    estimate must each land within 5% of their exact twins.  This is
    the driver-hashable contract for the 'sketch once, union cheaply'
    path: the union estimate is checked against the exact ALL-DAYS
    distinct (which the sketch union approximates without rescanning)."""
    est = hll_daily_merge(events)
    exact = events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.countDistinct("user_id").alias("dau_exact"))
    total_exact = events.agg(
        F.countDistinct("user_id").alias("_total_exact")
    )
    return (
        est.join(exact, "day")
        .crossJoin(F.broadcast(total_exact))
        .select(
            "day",
            "dau_exact",
            (
                F.abs(F.col("est_users") - F.col("dau_exact")) * 20
                <= F.col("dau_exact")
            ).alias("daily_within_5pct"),
            (
                F.abs(F.col("est_users_total") - F.col("_total_exact")) * 20
                <= F.col("_total_exact")
            ).alias("total_within_5pct"),
        )
        .orderBy("day")
    )


def hll_daily_merge(events: DataFrame) -> DataFrame:
    """(day, est_users, est_users_total): Apache DataSketches HLL as a
    MERGEABLE sketch column (Spark 4 `hll_sketch_agg` /
    `hll_union_agg` / `hll_sketch_estimate`).

    The production shape `approx_count_distinct` cannot express: the
    per-day sketch BYTES are reusable state — stored once, unioned
    later across any date range without rescanning events.  At 100 TB
    the nightly job appends one fixed-size sketch row per day and any
    rollup (week/month/all-time) is a union over sketches, not a scan.

    One shuffle (day group-by); the union of the tiny per-day sketch
    table is a broadcast scalar join.  The per-day sketch frame is
    cached until the caller's scope exits, so deriving both the
    per-day estimates AND the union total sketches the events scan
    once — "sketch once, union cheaply" for real, not just in prose.
    No oracle: sketch internals are engine-specific (rows-only driver
    check; the estimate-vs-exact tolerance is pinned in tests)."""
    from lab3_spark.functions.partitioning import scoped

    daily = scoped(
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
            F.expr("hll_sketch_agg(user_id)").alias("sk")
        ),
    )
    total = daily.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_users_total")
    )
    return (
        daily.select(
            "day", F.expr("hll_sketch_estimate(sk)").alias("est_users")
        )
        .crossJoin(F.broadcast(total))
        .orderBy("day")
    )


def props_stats(events: DataFrame) -> DataFrame:
    """JSON prop extraction (props = '{"k": N}') + per-type stats.

    get_json_object is JVM-side Jackson — no Python; the oracle uses
    the same-regex extraction to stay engine-neutral."""
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("bigint")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            trunc(F.avg("k"), RATIO).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization via window functions (lag + running sum
    of session-break flags) — the classic shuffle-once formulation:
    one exchange on user_id, then two ordered window passes.

    Returns one row per session: (user_id, session_start, session_end,
    n_events).  The streaming twin uses session_window/
    applyInPandasWithState (lab3_spark/streaming/)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = gap_minutes * 60 * 1_000_000
    with_breaks = events.withColumn(
        # integer microseconds (unix_micros / epoch_us in the oracle) so
        # the gap comparison is exact in both engines
        "is_break",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts"), 1, 0).over(w) > gap_us
        ).cast("int"),
    ).withColumn(
        # lag default 0.0 makes each user's first event a break, so the
        # running sum of breaks is a 1-based per-user session id.
        "session_id",
        F.sum("is_break").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_breaks.groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_id")
    )


def session_survival_km(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """(t_min, n_risk, n_deaths, surv_fp): Kaplan–Meier survival curve
    of SESSION DURATION (Kaplan & Meier 1958) — P(session lasts ≥ t
    minutes), with the censoring a naive duration histogram gets
    wrong: a session whose trailing silence has not yet reached the
    gap when the corpus ends may still be open, so it is CENSORED at
    its observed duration (it leaves the risk set without counting as
    an ended session), while every other session "dies" at its
    duration.  S(t) = Π_{deaths t_i ≤ t} (1 − d_i/n_i).

    Determinism/exactness: durations are integer minutes from exact
    microsecond session bounds (the sessionize lag+running-sum break
    logic, re-derived here at full precision — the sessionize gate's
    second-granular string output would truncate); the KM product is
    a sequential truncating integer recurrence
    s ← s·(n−d) DIV n at 10^6 scale, replayed identically by the
    oracle's recursive CTE in HUGEINT.  Scale shape: one user-keyed
    shuffle + one combinable (duration, death) histogram; the fold
    runs on the collected histogram — duration-bounded rows (the
    calendar-bounded driver-side class), never session-scale."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = gap_minutes * 60 * 1_000_000
    # cast-through-timestamp: a raw parquet read yields TIMESTAMP_NTZ,
    # which unix_micros rejects; under the UTC session the cast is the
    # same instant (and a no-op on already-zoned loader output)
    mu = F.unix_micros(F.col("ts").cast("timestamp"))
    with_breaks = events.withColumn(
        "is_break",
        (mu - F.lag(mu, 1, 0).over(w) > gap_us).cast("int"),
    ).withColumn(
        "session_id",
        F.sum("is_break").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    sess = with_breaks.groupBy("user_id", "session_id").agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("s_us"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("e_us"),
    )
    mx = events.agg(
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("m_us")
    )
    h = (
        sess.crossJoin(F.broadcast(mx))
        .select(
            F.expr("CAST((e_us - s_us) DIV 60000000 AS BIGINT)").alias(
                "t"
            ),
            F.when(F.col("m_us") - F.col("e_us") < gap_us, 0)
            .otherwise(1)
            .cast("bigint")
            .alias("death"),
        )
        .groupBy("t")
        .agg(F.count("*").alias("n_at"), F.sum("death").alias("d"))
    )
    rows = sorted(
        (int(r["t"]), int(r["n_at"]), int(r["d"])) for r in h.collect()
    )
    suffix = 0
    risks: dict[int, int] = {}
    for t, n_at, _d in reversed(rows):
        suffix += n_at
        risks[t] = suffix
    out = []
    s_fp = 10**6
    for t, _n_at, d in rows:
        if d > 0:
            n_risk = risks[t]
            s_fp = s_fp * (n_risk - d) // n_risk
            out.append((t, n_risk, d, s_fp))
    return events.sparkSession.createDataFrame(
        out, "t_min bigint, n_risk bigint, n_deaths bigint, surv_fp bigint"
    ).orderBy("t_min")


def session_windows_native(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessions via Spark's NATIVE session_window operator
    (merge-on-gap aggregation — the same grouping the lag+running-sum
    formulation in :func:`sessionize` produces, one shuffle on
    (user, merged-window)).

    session_start = window.start = min event ts of the session exactly,
    so output matches the lag-based formulation row-for-row."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), MONEY).alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


def funnel(events: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")) -> DataFrame:
    """Ordered-funnel analysis: users whose FIRST occurrence of each
    step happens in sequence.  One shuffle (user × step min-ts pivot);
    the step comparison is per-user row-local."""
    firsts = (
        events.where(F.col("event_type").isin(*steps))
        .groupBy("user_id")
        .pivot("event_type", list(steps))
        .agg(F.min("ts"))
    )
    s0, s1, s2 = steps
    reached_1 = F.col(s0).isNotNull()
    reached_2 = reached_1 & F.col(s1).isNotNull() & (F.col(s1) >= F.col(s0))
    reached_3 = reached_2 & F.col(s2).isNotNull() & (F.col(s2) >= F.col(s1))
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.sum(reached_1.cast("long")).alias(f"n_{s0}"),
        F.sum(reached_2.cast("long")).alias(f"n_{s0}_{s1}"),
        F.sum(reached_3.cast("long")).alias(f"n_{s0}_{s1}_{s2}"),
    )


def day_over_day_retention(events: DataFrame) -> DataFrame:
    """Users active on day D who return on D+1 — the self-join
    formulation (distinct user-days, joined on user & next day).
    Both sides are the same small distinct set; at scale this is a
    shuffle on user_id."""
    days = events.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    ret_counts = (
        days.alias("a")
        .join(
            days.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.day") == F.date_add(F.col("a.day"), 1).cast("timestamp")),
        )
        .groupBy(F.col("a.day").alias("day"))
        .agg(F.countDistinct(F.col("a.user_id")).alias("retained"))
    )
    active = days.groupBy("day").agg(F.countDistinct("user_id").alias("active"))
    return (
        active.join(ret_counts, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "active",
            F.coalesce("retained", F.lit(0)).alias("retained"),
        )
        .orderBy("day")
    )


def hourly_gapfill_locf(events: DataFrame) -> DataFrame:
    """(event_type, bucket, n_events, filled, locf_max_value): hourly
    buckets over each type's full [first, last] span with GAPS
    MATERIALIZED — count 0, filled=1 — and the last observed per-bucket
    max value carried forward (LOCF).

    The hypertable-rollup/gapfill shape (TimescaleDB's
    time_bucket_gapfill): real aggregation first, then a generated
    bucket spine LEFT JOINed so downstream consumers see a dense
    series.  The carried metric is a MAX (order-independent across
    engines), not a float sum.  Scale: the spine is generated per
    group with `sequence()` (no driver loop); one shuffle for the agg,
    the spine join is on (type, bucket) — co-partitioned with it."""
    buckets = (
        events.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bucket"),
            "value",
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n_events"),
            F.max("value").alias("max_value"),
        )
    )
    spans = buckets.groupBy("event_type").agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    spine = spans.select(
        "event_type",
        F.explode(
            F.sequence("b0", "b1", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        spine.join(buckets, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.when(F.col("n_events").isNull(), 1).otherwise(0).alias("filled"),
            F.round(
                F.last("max_value", ignorenulls=True).over(
                    Window.partitionBy("event_type")
                    .orderBy(F.col("bucket"))
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
                2,
            ).alias("locf_max_value"),
        )
        .orderBy("event_type", "bucket")
    )


def daily_count_anomalies(events: DataFrame, z: int = 2) -> DataFrame:
    """(event_type, day, n_events, is_anomaly): days whose event count
    deviates from the type's mean by more than `z` population standard
    deviations — decided in EXACT INTEGER arithmetic.

    |x − μ| > zσ  ⟺  (x·n − S)² > z²·(n·Q − S²)   with S=Σx, Q=Σx²
    (multiply both sides by n²) — all bigint, so the verdict is
    bit-identical in any engine and any aggregation order; no float
    mean/stddev ever computed.  One shuffle (per-type daily counts);
    the stats join is per-type (broadcast-sized)."""
    daily = (
        events.select("event_type", F.date_trunc("day", "ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n_events"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("n_events").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("q"),
    )
    # d*d, not d**2: Column ** routes through pow() which returns
    # DOUBLE — the whole point here is staying in bigint
    d = F.col("n_events") * F.col("n_days") - F.col("s")
    lhs = d * d
    rhs = F.lit(z * z) * (
        F.col("n_days") * F.col("q") - F.col("s") * F.col("s")
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            (lhs > rhs).cast("int").alias("is_anomaly"),
        )
        .orderBy("event_type", "day")
    )


def value_histogram(events: DataFrame, bins: int = 20) -> DataFrame:
    """(bucket, lo, hi, n_events): fixed-bin histogram of `value` with
    DATA-DERIVED range — the two-pass profile shape: a metadata-scale
    min/max aggregate broadcast back, then bucket assignment as a pure
    per-row expression into one combine-friendly hash agg.  The last
    bucket is closed (value == max clamps to bins-1 via least), the
    rest are [lo, hi).  Bucket bounds are recomputed from the SAME
    broadcast stats by the identical double sequence in both engines,
    truncated for the hash."""
    from lab3_spark.functions.rounding import trunc

    # NULL values are excluded up front (a NULL bucket index would
    # otherwise be silently absorbed into the top bucket by least's
    # null-skipping — in BOTH engines, so the oracle can't catch it);
    # a constant column (hi == lo, width 0 → NULL index) degenerates
    # to one bucket 0 holding everything, not a phantom bucket 19.
    nn = events.where(F.col("value").isNotNull())
    stats = nn.agg(
        F.min("value").alias("_lo"), F.max("value").alias("_hi")
    )
    width = (F.col("_hi") - F.col("_lo")) / bins
    idx = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(bins - 1),
            F.floor((F.col("value") - F.col("_lo")) / width).cast("int"),
        )
    ).cast("int")
    return (
        nn.crossJoin(F.broadcast(stats))
        .select(idx.alias("bucket"), "_lo", "_hi")
        .groupBy("bucket", "_lo", "_hi")
        .agg(F.count("*").alias("n_events"))
        .select(
            "bucket",
            trunc(F.col("_lo") + F.col("bucket") * ((F.col("_hi") - F.col("_lo")) / bins), 4).alias("lo"),
            trunc(F.col("_lo") + (F.col("bucket") + 1) * ((F.col("_hi") - F.col("_lo")) / bins), 4).alias("hi"),
            "n_events",
        )
        .orderBy("bucket")
    )


def cms_counters(
    events: DataFrame, key_col: str = "user_id", d: int = 4, w: int = 1024
) -> DataFrame:
    """(r, bucket, cnt): the Count-Min Sketch counter matrix (Cormode
    & Muthukrishnan 2005, public) — d hash rows × w buckets of summed
    counts, built in ONE pass: each event contributes d (row, bucket)
    increments, and the map-side partial aggregation collapses every
    partition to ≤ d·w rows before the single shuffle.

    This is the second MERGEABLE sketch family next to HLL
    (`hll_daily_merge`) with the opposite oracle story: the counters
    are a deterministic md5 construction, so unlike HLL's
    engine-specific sketch bytes the WHOLE sketch is portable and a
    SQL oracle rebuilds it bit-for-bit.  Counter matrices over
    disjoint slices merge by elementwise addition — fixed d·w state
    per slice regardless of key cardinality, the bounded-memory
    frequency story for unbounded key spaces at 100 TB."""
    from lab3_spark.functions.partitioning import spread
    from lab3_spark.functions.text import md5_long

    keyed = (
        spread(events)
        .select(F.col(key_col).cast("string").alias("k"))
        .select(
            "k", F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("r")
        )
    )
    bucket = F.pmod(
        md5_long(
            F.concat(F.col("r").cast("string"), F.lit("|"), F.col("k")),
            salt="cms",
        ),
        F.lit(w),
    )
    return (
        keyed.select("r", bucket.alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimates(
    events: DataFrame,
    key_col: str = "user_id",
    d: int = 4,
    w: int = 1024,
    counters: DataFrame | None = None,
) -> DataFrame:
    """(key, est): Count-Min estimated count per DISTINCT key —
    est(key) = min over the d rows of that key's bucket counter, the
    classic overestimate-only guarantee (est ≥ true count, pinned in
    tests).  Distinct keys × d lookup rows join the d·w-row counter
    table (broadcast — the sketch IS metadata-scale), min per key.

    ``counters``: a pre-built (r, bucket, cnt) matrix — e.g. the
    merged per-batch store from `streaming/cms.py` — so estimates can
    run against sketch STATE without rescanning the stream that built
    it; default builds the matrix from ``events`` in-query."""
    from lab3_spark.functions.text import md5_long

    if counters is None:
        counters = cms_counters(events, key_col, d, w)
    dk = events.select(key_col).distinct().select(
        F.col(key_col), F.col(key_col).cast("string").alias("k")
    )
    eb = dk.select(
        key_col,
        "k",
        F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("r"),
    ).select(
        key_col,
        "r",
        F.pmod(
            md5_long(
                F.concat(F.col("r").cast("string"), F.lit("|"), F.col("k")),
                salt="cms",
            ),
            F.lit(w),
        ).alias("bucket"),
    )
    return (
        eb.join(F.broadcast(counters), ["r", "bucket"])
        .groupBy(key_col)
        .agg(F.min("cnt").alias("est"))
    )


def cms_heavy_hitters(
    events: DataFrame,
    key_col: str = "user_id",
    d: int = 4,
    w: int = 1024,
    topn: int = 20,
    counters: DataFrame | None = None,
) -> DataFrame:
    """(user_id, est, rnk): top-``topn`` keys by Count-Min estimated
    count — `cms_estimates` + a TakeOrderedAndProject top-n; the rank
    window runs post-limit over ≤ topn rows under a constant
    partition spec.

    ``topn`` is hard-capped: TakeOrdered allocates an O(topn) buffer
    PER PARTITION (guava TopKSelector — a huge limit is a guaranteed
    executor OOM, measured: topn=1e9 killed a 128 GiB JVM).  A full
    ranking over all keys is a different shape — rank.py's
    distributed order statistics."""
    if topn > 100_000:
        raise ValueError(
            f"topn {topn} allocates O(topn) per partition in TakeOrdered; "
            "use rank.with_row_number for full rankings"
        )
    from pyspark.sql.window import Window

    est = cms_estimates(events, key_col, d, w, counters)
    top = est.orderBy(F.desc("est"), F.asc(key_col)).limit(topn)
    w0 = Window.partitionBy(one_window_partition()).orderBy(
        F.desc("est"), F.asc(key_col)
    )
    return top.withColumn("rnk", F.row_number().over(w0)).orderBy("rnk")


# KMV hash domain: 52 bits (13 hex chars of md5) so the estimator's
# (k-1)·DOMAIN numerator stays inside a signed 64-bit int for any
# k ≤ 2048 — no 128-bit arithmetic, identical integer division in both
# engines.  The narrower domain costs ~n²/2^53 hash collisions (≈ 100
# colliding pairs at n = 10^9 distinct keys — a 0.1 ppm shrink, far
# below the sketch's own ±1/sqrt(k) error).
KMV_HEX_CHARS = 13
KMV_DOMAIN = 1 << (4 * KMV_HEX_CHARS)


def kmv_synopsis(
    keyed: DataFrame, group_col: str, hash_col: str, k: int
) -> DataFrame:
    """The k smallest DISTINCT hash values per group — the KMV
    (k-minimum-values / theta sketch bottom-k) synopsis of Bar-Yossef
    et al. 2002.  Unlike HLL the synopsis is a deterministic function
    of the key set, so estimates are fully oracle-checkable; like HLL
    it is MERGEABLE: the union's k smallest hashes all sit inside each
    constituent's k smallest, so union-of-synopses → k smallest
    re-select is exactly the synopsis of the union.

    Per-group top-k goes through `rank.top_n_per_key` (salted two-stage
    ranking) — a group can be a large corpus fraction and must not pin
    a single window task."""
    from lab3_spark.operators.rank import top_n_per_key

    return top_n_per_key(
        keyed.select(group_col, hash_col).distinct(),
        [group_col],
        [hash_col],
        k,
    ).select(group_col, hash_col)


def kmv_daily_users(events: DataFrame, k: int = 64) -> DataFrame:
    """(day, est_users, est_users_total): per-day distinct-user
    estimates from KMV synopses plus the merged all-days total — the
    fully-ORACLED mergeable distinct sketch (third sketch family next
    to HLL, which is rows-only, and CMS).

    Scale shape: one distinct + salted top-k per day builds the per-day
    synopsis (≤ k rows/day — stored state, like the HLL sketch table);
    the all-time total re-selects the k smallest over the ≤ days·k
    union WITHOUT rescanning events.  The per-day synopsis frame is
    persisted so daily estimates and the merged total share one
    events scan."""
    from lab3_spark.functions.partitioning import scoped, spread
    from lab3_spark.functions.text import hex_to_long

    hv = hex_to_long(
        F.substring(
            F.md5(F.concat(F.lit("kmv|"), F.col("user_id").cast("string"))),
            1,
            KMV_HEX_CHARS,
        )
    )
    day_hv = spread(events).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), hv.alias("hv")
    )
    syn = scoped(kmv_synopsis(day_hv, "day", "hv", k))
    num = f"CAST({(k - 1) * KMV_DOMAIN} AS BIGINT)"
    est = F.when(F.col("ns") < k, F.col("ns")).otherwise(
        F.expr(f"{num} div hk")
    )
    daily = syn.groupBy("day").agg(
        F.count("*").alias("ns"), F.max("hv").alias("hk")
    )
    # merged total: k smallest of the distinct union of per-day
    # synopses (same user hashes identically on every day)
    merged = (
        syn.select("hv")
        .distinct()
        .orderBy("hv")
        .limit(k)
        .agg(F.count("*").alias("ns"), F.max("hv").alias("hk"))
        .select(est.cast("bigint").alias("est_users_total"))
    )
    return (
        daily.select("day", est.cast("bigint").alias("est_users"))
        .crossJoin(F.broadcast(merged))
        .orderBy("day")
    )


def ohlc_downsample(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """(event_type, bucket, open, high, low, close, n_events): per-type
    time-bucket downsampling of `value` to open/high/low/close — the
    hypertable continuous-aggregate shape (TimescaleDB time_bucket +
    first/last, OHLC candles): a 100 TB raw series becomes a
    bounded-size summary without losing the envelope.

    open/close are min_by/max_by over (ts, event_id) — the total order
    makes simultaneous events deterministic in both engines.  ONE
    map-side-combinable aggregation (min_by/max_by/min/max all
    combine); no window, no self-join."""
    key = F.struct("ts", "event_id")
    return (
        events.where(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.window("ts", width).alias("w")
        )
        .agg(
            F.round(F.min_by("value", key), MONEY).alias("open"),
            F.round(F.max("value"), MONEY).alias("high"),
            F.round(F.min("value"), MONEY).alias("low"),
            F.round(F.max_by("value", key), MONEY).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
        .orderBy("event_type", "bucket")
    )


def cms_verified_heavy_hitters(
    events: DataFrame,
    key_col: str = "user_id",
    pct_of_mean: int = 110,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """(user_id, cnt): keys whose EXACT count is ≥ pct_of_mean% of the
    mean count per key — found via the sketch-shortlist-then-verify
    production pattern, and provably equal to the naive full
    aggregation:

    1. The CMS estimate is overestimate-only, so every true heavy
       hitter clears the threshold in the sketch too — the shortlist
       (est ≥ T) has NO false negatives, the same one-sided guarantee
       the Bloom prefilter gives dedup.
    2. Exact counts run only over events of shortlisted keys (the
       shortlist broadcasts; at a sane sketch width it is a vanishing
       fraction of the key space), and the final filter (cnt ≥ T)
       removes the sketch's false positives.

    The oracle is the NAIVE full group-by-having — equality proves the
    sketch path loses nothing.  Cost: one d·w-bounded sketch pass +
    one filtered aggregation, vs a full shuffle of all keys."""
    thr_row = events.agg(
        F.count("*").alias("tot"),
        F.countDistinct(key_col).alias("nu"),
    ).select(
        F.expr(f"(tot * {pct_of_mean}) div (100 * nu)").alias("thr")
    )
    est = cms_estimates(events, key_col, d, w)
    shortlist = (
        est.crossJoin(F.broadcast(thr_row))
        .where(F.col("est") >= F.col("thr"))
        .select(key_col)
    )
    return (
        events.join(F.broadcast(shortlist), key_col, "leftsemi")
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(thr_row))
        .where(F.col("cnt") >= F.col("thr"))
        .select(key_col, "cnt")
        .orderBy(F.desc("cnt"), F.asc(key_col))
    )


def type_islands(events: DataFrame) -> DataFrame:
    """(user_id, event_type, island_id, n_events, island_start,
    island_end): maximal runs of CONSECUTIVE same-type events per user
    — the gaps-and-islands pattern (run-length encoding of an ordered
    stream), the building block for "state stayed X from t1 to t2"
    questions that sessionize-by-gap cannot answer.

    Classic two-window formulation: a lag() flags type changes, a
    running sum of flags numbers the islands, one aggregation collapses
    them — ONE shuffle on user_id, all windows share the partition.
    Ties in ts are ordered by event_id (total order → identical
    islands in any engine)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # hoist the lag to one projected column: two .over(w) references
    # would be two window expressions in WindowExec
    islands = (
        events.withColumn("_prev", F.lag("event_type", 1).over(w))
        .withColumn(
            "chg",
            (
                F.col("_prev").isNull()
                | (F.col("_prev") != F.col("event_type"))
            ).cast("int"),
        )
        .withColumn(
            "island_id",
            F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        islands.groupBy("user_id", "island_id", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "island_start"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "island_end"
            ),
        )
        .select(
            "user_id",
            "event_type",
            "island_id",
            "n_events",
            "island_start",
            "island_end",
        )
        .orderBy("user_id", "island_id")
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """(cohort_week, age_weeks, n_users): the classic cohort-retention
    matrix in long form — users grouped by the week of their FIRST
    event, counted in every later week they were active, keyed by age
    in weeks.

    Two aggregations: per-user first-event week (one shuffle on
    user_id), then distinct (user, active-week) pairs joined to their
    cohort — the join key is user_id, co-partitioned with the first
    aggregation.  Weeks are epoch-day // 7 deltas (integer, engine-
    neutral, no ISO-week ambiguity)."""
    wk = (F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05").cast("date")) / 7).cast(
        "bigint"
    )  # Monday-aligned epoch weeks
    user_weeks = events.select("user_id", wk.alias("week")).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        user_weeks.join(cohorts, "user_id")
        .groupBy(
            "cohort", (F.col("week") - F.col("cohort")).alias("age_weeks")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.col("cohort").alias("cohort_week"), "age_weeks", "n_users"
        )
        .orderBy("cohort_week", "age_weeks")
    )


def seasonal_hourly_anomalies(events: DataFrame, z: int = 2) -> DataFrame:
    """(event_type, bucket, n_events, hod, is_anomaly): hourly counts
    judged against the type's SAME-HOUR-OF-DAY baseline — the seasonal
    upgrade of `daily_count_anomalies`: a 3 a.m. lull is only an
    anomaly compared to other 3 a.m. hours, not the daily mean.

    Same exact-integer verdict as the daily form ((x·n − S)² >
    z²·(n·Q − S²) over the (type, hour-of-day) population — all
    bigint, order-free, bit-identical across engines).  Two
    aggregations: hourly counts (one shuffle), then per-(type, hod)
    stats joined back broadcast (24·|types| rows)."""
    hourly = (
        events.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n_events"))
        .withColumn("hod", F.hour("bucket").cast("int"))
    )
    stats = hourly.groupBy("event_type", "hod").agg(
        F.count("*").alias("n_obs"),
        F.sum("n_events").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).alias("q"),
    )
    d = F.col("n_events") * F.col("n_obs") - F.col("s")
    lhs = d * d
    rhs = F.lit(z * z) * (
        F.col("n_obs") * F.col("q") - F.col("s") * F.col("s")
    )
    return (
        hourly.join(F.broadcast(stats), ["event_type", "hod"])
        .select(
            "event_type",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "n_events",
            "hod",
            (lhs > rhs).cast("int").alias("is_anomaly"),
        )
        .orderBy("event_type", "bucket")
    )


def transition_matrix(events: DataFrame) -> DataFrame:
    """(event_type, next_type, n_trans, prob_fp): first-order Markov
    transition matrix of the per-user event stream in long form —
    "what do users do after X", the next-action / navigation-analysis
    primitive.

    One lead() over the per-user (ts, event_id) total order (the
    type_islands partition shape — ONE shuffle on user_id), then one
    combinable aggregation on the (type, next_type) pair.  Row-
    conditional probabilities are bigint fixed-point (cnt·10^6 div
    row-total, truncating) so the matrix is bit-identical across
    engines; the row-total side is ≤|types| rows — broadcast by
    construction."""
    from pyspark.sql.window import Window

    from lab3_spark.functions.partitioning import scoped

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = events.withColumn(
        "next_type", F.lead("event_type", 1).over(w)
    ).where(F.col("next_type").isNotNull())
    # persisted: the counts frame feeds BOTH the row totals and the
    # final join, and alias differences defeat exchange reuse — without
    # this the lead-window pass over events runs twice
    counts = scoped(
        nxt.groupBy("event_type", "next_type").agg(
            F.count("*").alias("n_trans")
        ),
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("n_trans").alias("_tot")
    )
    return (
        counts.join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            "next_type",
            "n_trans",
            F.expr(f"CAST(n_trans * {10**6} DIV _tot AS BIGINT)").alias(
                "prob_fp"
            ),
        )
        .orderBy("event_type", "next_type")
    )


def attribution_transitions(
    events: DataFrame,
    channels: tuple[str, ...],
    conv_type: str,
) -> DataFrame:
    """(s, t, n): first-order journey transitions for Markov
    attribution — per user, events in channels ∪ {conv} ordered by
    (ts, event_id) and TRUNCATED at the first conversion; 'START' →
    first touch, consecutive touches, last touch → 'CONV' (converted)
    or 'NULL' (not).  One shuffle on user_id (windows share the
    partitioning), then one combinable pair count — the corpus-scale
    half of the attribution model; the output is ≤ (|channels|+2)²
    rows at ANY corpus size."""
    from pyspark.sql.window import Window

    evf = events.where(
        F.col("event_type").isin(*channels, conv_type)
    ).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordd = evf.withColumn("rn", F.row_number().over(w))
    fp_ = (
        ordd.where(F.col("event_type") == conv_type)
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    path = ordd.join(fp_, "user_id", "left").where(
        F.col("prn").isNull() | (F.col("rn") <= F.col("prn"))
    )
    wp = Window.partitionBy("user_id").orderBy("rn")
    nx = path.withColumn("nxt", F.lead("event_type", 1).over(wp))
    as_conv = lambda c: F.when(  # noqa: E731
        F.col(c) == conv_type, F.lit("CONV")
    ).otherwise(F.col(c))
    tr = (
        nx.where(F.col("rn") == 1)
        .select(F.lit("START").alias("s"), as_conv("event_type").alias("t"))
        .unionByName(
            nx.where(F.col("nxt").isNotNull()).select(
                F.col("event_type").alias("s"), as_conv("nxt").alias("t")
            )
        )
        .unionByName(
            nx.where(
                F.col("nxt").isNull() & (F.col("event_type") != conv_type)
            ).select(
                F.col("event_type").alias("s"), F.lit("NULL").alias("t")
            )
        )
    )
    return tr.groupBy("s", "t").agg(F.count("*").alias("n"))


def attribution_heuristics(
    events: DataFrame,
    channels: tuple[str, ...] = ("click", "error", "signup", "view"),
    conv_type: str = "purchase",
) -> DataFrame:
    """(channel, first_touch, last_touch, linear_fp, position_fp):
    the classic rule-based attribution baselines over the SAME
    journeys the Markov model reads — the comparison table every
    data-driven attribution writeup opens with.

    Converting journeys only (touches strictly before the first
    conversion; a purchase-first journey has no touches and credits
    nothing).  Per journey of L touches: first/last-touch credit one
    conversion to the first/last channel; linear splits 10^6 ÷ L per
    touch; position-based (the 40/20/40 U-shape) gives 40% to each
    end and splits 20% across the middles (L=1 → 100%, L=2 → 50/50).
    All credits are truncating integer DIVs, so channel totals are
    exact bigint sums — driver-hashable with a plain SQL oracle.

    One user-keyed shuffle (the journey windows share the
    partitioning) + one combinable channel aggregation."""
    from pyspark.sql.window import Window

    evf = events.where(
        F.col("event_type").isin(*channels, conv_type)
    ).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordd = evf.withColumn("rn", F.row_number().over(w))
    fp_ = (
        ordd.where(F.col("event_type") == conv_type)
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    touches = ordd.join(fp_, "user_id").where(F.col("rn") < F.col("prn"))
    wp = Window.partitionBy("user_id").orderBy("rn")
    t = touches.withColumn("pos", F.row_number().over(wp)).withColumn(
        "L", F.count("*").over(Window.partitionBy("user_id"))
    )
    m = 10**6
    t = t.select(
        F.col("event_type").alias("channel"),
        (F.col("pos") == 1).cast("bigint").alias("is_first"),
        (F.col("pos") == F.col("L")).cast("bigint").alias("is_last"),
        F.expr(f"{m} DIV L").alias("lin_fp"),
        F.expr(
            f"CASE WHEN L = 1 THEN {m} WHEN L = 2 THEN {m // 2} "
            f"WHEN pos = 1 OR pos = L THEN {4 * m // 10} "
            f"ELSE {2 * m // 10} DIV (L - 2) END"
        ).alias("pos_fp"),
    )
    return (
        t.groupBy("channel")
        .agg(
            F.sum("is_first").alias("first_touch"),
            F.sum("is_last").alias("last_touch"),
            F.sum("lin_fp").alias("linear_fp"),
            F.sum("pos_fp").alias("position_fp"),
        )
        .orderBy("channel")
    )


ATTRIB_FP = 10**12
ATTRIB_SHARE_FP = 10**6


def attribution_removal_effects(
    events: DataFrame,
    channels: tuple[str, ...] = ("click", "error", "signup", "view"),
    conv_type: str = "purchase",
    rounds: int = 16,
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014, the
    "data-driven attribution" standard): which fraction of conversions
    each channel is responsible for, from the first-order journey
    chain rather than last-touch heuristics.

    Per channel c: (base_p_fp, removed_p_fp, re_fp, share_fp) where
    base_p is the chain's START→CONV absorption probability,
    removed_p the same with channel c's state forced to zero (any
    journey mass entering c dies — the removal-effect operation),
    re = 1 − removed/base, and share normalizes the drops.

    Exact-integer fixed point end to end: absorption probabilities
    iterate ``rounds`` synchronous Jacobi steps at 10^12 scale —
    p'(s) = Σ_t n(s,t)·p(t) DIV out(s) — over the ≤(|channels|+2)²
    transition counts; every operand is an integer, sums are
    order-independent, and the unrolled-CTE oracle replays the same
    truncating arithmetic in HUGEINT, so the result is driver-hashable
    (the PageRank/HITS fixed-round contract; 16 rounds converge the
    geometric tail far below the 10^12 grid for any chain whose
    self-loop mass < 1).

    Scale shape: transition counting is the only corpus-scale work
    (one user-keyed shuffle + a combinable pair count —
    :func:`attribution_transitions`); the chain solve runs on the
    collected ≤36-row count table (the bounded driver-side model-state
    class: k×d centroids, planner winners) and returns a
    |channels|-row literal frame."""
    return solve_removal_effects(
        events.sparkSession,
        attribution_transitions(events, channels, conv_type),
        channels,
        rounds,
    )


def solve_removal_effects(
    spark,
    counts: DataFrame,
    channels: tuple[str, ...],
    rounds: int = 16,
) -> DataFrame:
    """The chain-solve half of :func:`attribution_removal_effects`,
    shared with the streaming store's serving view: collect the
    bounded (s, t, n) transition table and run the exact-integer
    Jacobi absorption per chain."""
    cnt: dict[tuple[str, str], int] = {}
    for r in counts.collect():
        cnt[(r["s"], r["t"])] = int(r["n"])
    out: dict[str, int] = {}
    for (s, _), n in cnt.items():
        out[s] = out.get(s, 0) + n

    def absorb(removed: str | None) -> int:
        p = {st: 0 for st in out}
        p["CONV"] = ATTRIB_FP
        p["NULL"] = 0
        for _ in range(rounds):
            newp = {}
            for s in sorted(out):
                if s == removed:
                    newp[s] = 0
                    continue
                acc = sum(
                    n * p.get(t, 0)
                    for (ss, t), n in cnt.items()
                    if ss == s
                )
                newp[s] = acc // out[s]
            p.update(newp)
        return p.get("START", 0)

    base = absorb(None)
    drops = {c: base - absorb(c) for c in channels}
    tot = sum(drops.values())
    rows = [
        (
            c,
            base,
            base - drops[c],
            (drops[c] * ATTRIB_SHARE_FP // base) if base > 0 else 0,
            (drops[c] * ATTRIB_SHARE_FP // tot) if tot > 0 else 0,
        )
        for c in sorted(channels)
    ]
    return spark.createDataFrame(
        rows,
        "channel string, base_p_fp bigint, removed_p_fp bigint,"
        " re_fp bigint, share_fp bigint",
    ).orderBy("channel")


def ewma_values(events: DataFrame, span: int = 8) -> DataFrame:
    """(event_id, user_id, bucket, value, ewma): exponentially-weighted
    moving average (α = 1/2) of `value` over each user's last ``span``
    events — the classic smoothing primitive, in its TRUNCATED-window
    form so it is a plain window expression instead of an unbounded
    recursion.

    The fold acc ← acc/2 + x/2 runs left-to-right over the frame's
    collect_list (ordered by the window ORDER BY — deterministic), then
    normalizes by (1 − 2^{-n}); the identical left fold in the oracle's
    list_reduce performs the same IEEE sequence, so doubles match
    bit-for-bit.  One shuffle on user_id; the frame is ROWS-bounded
    (≤ span), never a running unbounded state."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(span - 1), 0)
    )
    vals = F.collect_list("value").over(w)
    return (
        events.withColumn("_vals", vals)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "value",
            trunc(
                F.expr(
                    "aggregate(_vals, 0D, (acc, x) -> acc / 2 + x / 2)"
                )
                / (F.lit(1.0) - F.pow(F.lit(0.5), F.size("_vals"))),
                4,
            ).alias("ewma"),
        )
        .orderBy("user_id", "bucket", "event_id")
    )


def funnel_within(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    within_minutes: int = 30,
) -> DataFrame:
    """(step, n_users): TIME-CONSTRAINED ordered funnel — users whose
    steps occur in sequence with the WHOLE chain inside
    ``within_minutes`` of step 1 (the windowFunnel semantics: plain
    `funnel` accepts a conversion years later; this one doesn't).

    Anchor at each user's FIRST step-1 event, then each later step is
    one co-partitioned equi-join on user_id + a min aggregation over
    the time-bounded candidates — never an inequality join of events
    against events: the time predicates are per-row filters AFTER the
    user-key join, so every shuffle is a plain hash exchange on
    user_id and the per-user fan-out is that user's own events."""
    s0, s1, s2 = steps
    iv = F.expr(f"INTERVAL {within_minutes} MINUTES")
    e = events.select("user_id", "ts", "event_type")
    m0 = (
        e.where(F.col("event_type") == s0)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    m1 = (
        e.where(F.col("event_type") == s1)
        .join(m0, "user_id")
        .where((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + iv))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    m2 = (
        e.where(F.col("event_type") == s2)
        .join(m1, "user_id")
        .where((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t1") + iv))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        m0.agg(F.count("*").alias("n_users")).select(
            F.lit(s0).alias("step"), "n_users"
        )
        .unionAll(
            m1.agg(F.count("*").alias("n_users")).select(
                F.lit(f"{s0}>{s1}").alias("step"), "n_users"
            )
        )
        .unionAll(
            m2.agg(F.count("*").alias("n_users")).select(
                F.lit(f"{s0}>{s1}>{s2}").alias("step"), "n_users"
            )
        )
        .orderBy("step")
    )


def kmv_value_quantiles(
    events: DataFrame, k: int = 64, qs: tuple[int, ...] = (50, 90)
) -> DataFrame:
    """(day, n_sample, p50_est, p90_est): MERGEABLE quantile synopsis —
    per-day bottom-k sample of events by a portable hash of event_id,
    quantiles read positionally off each sample, plus an 'ALL' row
    whose sample is re-selected from the UNION of the daily synopses.

    The quantile companion to kmv_daily_users, same theorem: the
    union's k smallest hashes all sit inside each constituent's k
    smallest, so merged-synopsis quantiles are bit-equal to a one-shot
    global bottom-k — cross-day/cross-partition quantile estimation
    without rescanning history, fully oracle-checkable (unlike
    approx_percentile's engine-specific sketch).  Bottom-k per group
    goes through the salted `rank.top_n_per_key` (no hot per-key
    window); each sample is ≤ k rows, so the collect_list is
    bounded."""
    from lab3_spark.operators.rank import top_n_per_key

    from lab3_spark.functions.partitioning import scoped

    keyed = events.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.md5(F.col("event_id").cast("string")).alias("hk"),
        "value",
    )
    # persisted: the per-day synopses feed both the merge re-select and
    # the union — ≤ |days|·k rows, but recomputing would rescan events
    syn = scoped(
        top_n_per_key(keyed, ["day"], ["hk"], k).select(
            "day", "hk", "value"
        ),
    )
    # 'ALL' built over an empty substring of hk: constant value, but
    # NON-FOLDABLE, so the per-key windows inside top_n_per_key keep a
    # non-empty partition spec (a plain lit gets constant-folded out,
    # reintroducing the WindowExec warning — see one_window_partition)
    all_key = F.concat(F.substring("hk", 1, 0), F.lit("ALL"))
    merged = top_n_per_key(
        syn.withColumn("day", all_key), ["day"], ["hk"], k
    ).select("day", "hk", "value")
    both = syn.unionByName(merged)
    ag = both.groupBy("day").agg(
        F.count("*").alias("n_sample"),
        F.array_sort(F.collect_list("value")).alias("_vs"),
    )
    picks = [
        F.expr(
            f"element_at(_vs, CAST((n_sample - 1) * {q} DIV 100 AS INT) + 1)"
        ).alias(f"p{q}_est")
        for q in qs
    ]
    return ag.select("day", "n_sample", *picks).orderBy("day")


def top_event_paths(events: DataFrame, k: int = 10) -> DataFrame:
    """(path, n_paths): the k most frequent 3-step event-type
    sequences ('a>b>c') across users — the sequential-pattern upgrade
    of the first-order transition matrix.

    Two leads over the per-user (ts, event_id) total order (one
    shuffle, one WindowExec pass), a combinable path count, and a
    TakeOrderedAndProject top-k heap."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        events.withColumn("_n1", F.lead("event_type", 1).over(w))
        .withColumn("_n2", F.lead("event_type", 2).over(w))
        .where(F.col("_n1").isNotNull() & F.col("_n2").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "_n1", "_n2").alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(k)
    )


def kmv_rolling_users(
    events: DataFrame, k: int = 64, window_days: int = 7
) -> DataFrame:
    """(day, est_users_7d): rolling ``window_days``-day distinct-user
    ESTIMATES by merging the per-day KMV synopses — the sketch-algebra
    answer to "7-day actives" that a windowed COUNT(DISTINCT) cannot
    give without rescanning a week of raw events per day.

    Each day's ≤ k-row synopsis contributes to the windows ENDING on
    day..day+window_days−1 (the binned-range-join trick applied to
    sketch state): explode is window_days×synopsis rows — metadata
    scale — then per-target bottom-k re-select + the standard KMV
    estimator.  Correct by the same mergeability theorem as the daily
    gate; the synopsis frame is built as in kmv_daily_users and
    persisted under the same key."""
    from lab3_spark.functions.partitioning import scoped, spread
    from lab3_spark.functions.text import hex_to_long
    from lab3_spark.operators.rank import top_n_per_key

    hv = hex_to_long(
        F.substring(
            F.md5(F.concat(F.lit("kmv|"), F.col("user_id").cast("string"))),
            1,
            KMV_HEX_CHARS,
        )
    )
    day_hv = spread(events).select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), hv.alias("hv")
    )
    syn = scoped(kmv_synopsis(day_hv, "day", "hv", k))
    observed = syn.select("day").distinct()
    contrib = (
        syn.select(
            "hv",
            F.explode(
                F.sequence(F.lit(0), F.lit(window_days - 1))
            ).alias("_off"),
            F.to_date("day").alias("_d"),
        )
        .select(
            F.date_format(F.expr("date_add(_d, _off)"), "yyyy-MM-dd").alias(
                "day"
            ),
            "hv",
        )
        .join(observed, "day", "left_semi")
        .distinct()
    )
    wsyn = top_n_per_key(contrib, ["day"], ["hv"], k)
    wagg = wsyn.groupBy("day").agg(
        F.count("*").alias("ns"), F.max("hv").alias("hk")
    )
    num = f"CAST({(k - 1) * KMV_DOMAIN} AS BIGINT)"
    est = F.when(F.col("ns") < k, F.col("ns")).otherwise(
        F.expr(f"{num} div hk")
    )
    return wagg.select(
        "day", est.cast("bigint").alias("est_users_7d")
    ).orderBy("day")


def ab_conversion_ztest(
    events: DataFrame, conv_type: str = "purchase", z: int = 2
) -> DataFrame:
    """(n_a, c_a, n_b, c_b, z2, significant): two-proportion z-test on
    conversion (did the user ever emit ``conv_type``) between variants
    assigned by user_id parity — the experimentation-analytics
    primitive.

    All counts exact bigint (two distinct aggregations on user_id);
    z² = D²·T / (N·C·(T−C)) with D = c_a·n_b − c_b·n_a, N = n_a·n_b,
    C = c_a+c_b, T = n_a+n_b, evaluated as ONE deterministic double
    expression (identical op order in the oracle — the OLS overflow
    lesson applied up front).  Degenerate C∈{0,T} → z²=0."""
    from lab3_spark.functions.rounding import trunc

    users = events.select("user_id").distinct().select(
        "user_id", (F.col("user_id") % 2).alias("_v")
    )
    conv = (
        events.where(F.col("event_type") == conv_type)
        .select("user_id")
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    flags = users.join(conv, "user_id", "left").select(
        "_v", F.coalesce("_c", F.lit(0)).alias("_c")
    )
    wide = flags.agg(
        F.sum(F.when(F.col("_v") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("_v") == 0, F.col("_c")).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("_v") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("_v") == 1, F.col("_c")).otherwise(0)).alias("c_b"),
    )
    d = F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")
    n = F.col("n_a") * F.col("n_b")
    c = F.col("c_a") + F.col("c_b")
    t = F.col("n_a") + F.col("n_b")
    z2 = (
        d.cast("double") * d.cast("double") * t.cast("double")
    ) / (n.cast("double") * c.cast("double") * (t.cast("double") - c.cast("double")))
    z2_safe = F.when((c > 0) & (c < t), trunc(z2, 4)).otherwise(F.lit(0.0))
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        z2_safe.alias("z2"),
        (z2_safe > z * z).cast("int").alias("significant"),
    )


def weekly_churn(events: DataFrame) -> DataFrame:
    """(week, n_active, n_churned, churn_fp): week-over-week churn —
    users active in week w with no activity in w+1, over Monday-
    aligned integer epoch weeks (the cohort_retention arithmetic).
    Only weeks whose successor was observed are emitted (the last
    week's churn is undefined, not zero).

    Distinct (user, week) once; churn is ONE anti-join of that frame
    against itself shifted a week — co-partitioned on user_id, no
    window, no per-user state."""
    wk = (
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-05").cast("date")
        )
        / 7
    ).cast("bigint")
    from lab3_spark.functions.partitioning import scoped

    uw = scoped(events.select("user_id", wk.alias("week")).distinct())
    weeks = uw.select("week").distinct()
    eligible = weeks.join(
        weeks.select((F.col("week") - 1).alias("week")), "week", "left_semi"
    )
    shifted = uw.select("user_id", (F.col("week") - 1).alias("week"))
    churned = uw.join(shifted, ["user_id", "week"], "left_anti")
    act = uw.groupBy("week").agg(F.count("*").alias("n_active"))
    chn = churned.groupBy("week").agg(F.count("*").alias("n_churned"))
    return (
        act.join(chn, "week", "left")
        .join(F.broadcast(eligible), "week", "left_semi")
        .select(
            "week",
            "n_active",
            F.coalesce("n_churned", F.lit(0)).cast("bigint").alias(
                "n_churned"
            ),
        )
        .withColumn(
            "churn_fp",
            F.expr(f"CAST(n_churned * {10**6} DIV n_active AS BIGINT)"),
        )
        .orderBy("week")
    )


def _pearson_trunc(digits: int = 6):
    """Pearson r from the five exact-bigint moment columns
    (n, sx, sy, sxx, syy, sxy) — shared by lagged_xcorr and
    hourly_acf so the moments→r expression cannot drift between the
    cross- and auto-correlation forms."""
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return F.when(
        (vx > 0) & (vy > 0), trunc(num / F.sqrt(vx * vy), digits)
    ).otherwise(F.lit(0.0))


def lagged_xcorr(
    events: DataFrame,
    type_x: str = "view",
    type_y: str = "purchase",
    max_lag: int = 3,
) -> DataFrame:
    """(lag, n_hours, corr): Pearson correlation between the hourly
    count series of ``type_x`` and ``type_y`` shifted by -max_lag..
    +max_lag hours — "does purchase volume trail view volume, and by
    how much?"  The lag with the max |corr| is the lead-lag estimate.

    Scale shape: events collapse to ONE (hour, x, y) frame (a single
    combinable conditional agg — |hours| rows, metadata-scale next to
    the event stream), densified over the min..max hour spine from the
    aggregate itself (missing hours are real zeros, and both engines
    must see the identical domain).  The 7 lag alignments are ONE
    equi-join of the lag-exploded spine against itself on the shifted
    hour key — never an inequality join.  All five moment sums are
    exact bigints; r is assembled from them in ONE deterministic
    double expression per lag (the ab_ztest/OLS contract: products of
    two bigint moments are cast to double BEFORE multiplying so no
    intermediate exceeds int64 at any SF)."""
    from lab3_spark.functions.partitioning import scoped

    xy = F.when(F.col("event_type") == type_x, 1).otherwise(0)
    yy = F.when(F.col("event_type") == type_y, 1).otherwise(0)
    hourly = (
        events.where(F.col("event_type").isin(type_x, type_y))
        .select(
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h"),
            xy.alias("is_x"),
            yy.alias("is_y"),
        )
        .groupBy("h")
        .agg(
            F.sum("is_x").cast("bigint").alias("x"),
            F.sum("is_y").cast("bigint").alias("y"),
        )
    )
    spine = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    ).select(F.explode(F.sequence("h0", "h1")).alias("h"))
    dense = scoped(
        spine.join(hourly, "h", "left").select(
            "h",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        ),
    )
    lags = F.array(*[F.lit(l) for l in range(-max_lag, max_lag + 1)])
    a = dense.select("h", "x", F.explode(lags).alias("lag"))
    pairs = a.join(
        dense.select(F.col("h").alias("h2"), "y"),
        F.col("h2") == F.col("h") + F.col("lag"),
    )
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return mom.select(
        "lag", F.col("n").alias("n_hours"), _pearson_trunc().alias("corr")
    ).orderBy("lag")


def user_activity_bitmap(events: DataFrame, horizon_days: int = 62) -> DataFrame:
    """(active_days, n_users, n_weekend_only): the bitmap-index form
    of per-user activity — each user's day-presence over the stream's
    first ``horizon_days`` days packs into ONE bigint via bit_or(1<<d)
    (a combinable aggregation: the per-user event run collapses
    map-side to a single mask before the wire, the roaring-bitmap idea
    at int64 scale), then every retention question is bit algebra:
    active_days = bit_count(mask), weekend-only = mask & weekday_mask
    == 0.  A windowed COUNT(DISTINCT day) recomputes per question;
    the mask answers all of them from |users| bigints.

    The horizon is the documented bitmap span (a production bitmap
    index shards by retention window — e.g. one mask per quarter);
    days beyond it are excluded by filter, never wrapped."""
    return activity_bitmap_from_presence(
        events.select(F.to_date("ts").alias("dt"), "user_id"), horizon_days
    )


def activity_bitmap_from_presence(
    presence: DataFrame, horizon_days: int = 62
) -> DataFrame:
    """The mask-assembly half of :func:`user_activity_bitmap`, taking
    a (user_id, dt) presence frame — shared with the streaming twin,
    whose store maintains exactly this frame incrementally (bit_or is
    idempotent, so duplicate presence rows from replays are free)."""
    from lab3_spark.functions.partitioning import scoped

    d0 = presence.agg(F.min("dt").alias("_d0"))
    days = (
        presence.crossJoin(F.broadcast(d0))
        .select(
            "user_id",
            F.datediff("dt", "_d0").cast("int").alias("d"),
            # Monday-aligned weekday: dayofweek is 1=Sunday..7=Saturday
            (F.dayofweek("dt").isin(1, 7)).alias("is_weekend"),
        )
        .where(F.col("d") < horizon_days)
    )
    masks = scoped(
        days.groupBy("user_id").agg(
            F.bit_or(F.expr("shiftleft(1L, d)")).alias("mask"),
            F.bit_or(
                F.expr("CASE WHEN is_weekend THEN shiftleft(1L, d) ELSE 0L END")
            ).alias("we_mask"),
        ),
    )
    return (
        masks.select(
            F.bit_count("mask").alias("active_days"),
            (
                (F.col("we_mask") == F.col("mask")) & (F.col("mask") != 0)
            ).cast("int").alias("weekend_only"),
        )
        .groupBy("active_days")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("weekend_only").alias("n_weekend_only"),
        )
        .orderBy("active_days")
    )


def kmv_type_overlap(
    events: DataFrame,
    type_a: str = "view",
    type_b: str = "purchase",
    k: int = 64,
) -> DataFrame:
    """One row (exact_a, exact_b, exact_overlap, est_union,
    est_overlap): |users(type_a) ∩ users(type_b)| estimated by KMV
    set algebra — the theta-sketch intersection — next to the exact
    answer so the sketch error is gate-visible.

    Estimator (Bar-Yossef/theta): with U_k = bottom-k of the UNION,
    J = |{h ∈ U_k : h ∈ A and h ∈ B}| / |U_k| and |A∩B| ≈ J·est(U).
    Membership against the per-type bottom-k synopses is EXACT here:
    any hash inside the union's bottom-k that belongs to A is
    necessarily inside A's bottom-k (A ⊆ union), so the whole
    estimate reads ≤ 3k synopsis rows — at 100 TB the per-type
    synopses are stored state and the intersection never rescans
    events.  All integer arithmetic (truncating div)."""
    from lab3_spark.functions.partitioning import scoped, spread
    from lab3_spark.functions.text import hex_to_long

    hv = hex_to_long(
        F.substring(
            F.md5(F.concat(F.lit("kmv|"), F.col("user_id").cast("string"))),
            1,
            KMV_HEX_CHARS,
        )
    )
    typed = (
        spread(events)
        .where(F.col("event_type").isin(type_a, type_b))
        .select("event_type", "user_id", hv.alias("hv"))
    )
    syn = scoped(kmv_synopsis(typed, "event_type", "hv", k))
    syn_u = (
        syn.select("hv").distinct().orderBy("hv").limit(k)
    )
    in_a = syn.where(F.col("event_type") == type_a).select("hv")
    in_b = syn.where(F.col("event_type") == type_b).select("hv")
    shared = (
        syn_u.join(in_a, "hv", "semi").join(in_b, "hv", "semi")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ustats = syn_u.agg(F.count("*").alias("ns"), F.max("hv").alias("hk"))
    est_union = F.when(F.col("ns") < k, F.col("ns")).otherwise(
        F.expr(f"CAST({(k - 1) * KMV_DOMAIN} AS BIGINT) div hk")
    )
    exact = (
        typed.groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == type_a).cast("int")).alias("a"),
            F.max((F.col("event_type") == type_b).cast("int")).alias("b"),
        )
        .agg(
            F.sum("a").cast("bigint").alias("exact_a"),
            F.sum("b").cast("bigint").alias("exact_b"),
            F.sum(
                (F.col("a") + F.col("b") == 2).cast("bigint")
            ).alias("exact_overlap"),
        )
    )
    return (
        exact.crossJoin(F.broadcast(ustats))
        .crossJoin(F.broadcast(shared))
        .select(
            "exact_a",
            "exact_b",
            "exact_overlap",
            est_union.cast("bigint").alias("est_union"),
            F.expr("CAST(n_shared * (" 
                   + f"CASE WHEN ns < {k} THEN ns ELSE CAST({(k - 1) * KMV_DOMAIN} AS BIGINT) div hk END"
                   + ") DIV ns AS BIGINT)").alias("est_overlap"),
        )
    )


CUSUM_FP = 1_000_000


def cusum_changepoint(events: DataFrame, value_col: str = "value") -> DataFrame:
    """One row (change_hour, cusum_abs_max, n_hours): CUSUM changepoint
    detection over the hourly mean of ``value_col`` — the classic
    "when did the level shift?" estimator: the |cumulative sum of
    deviations from the grand mean| peaks AT the changepoint.
    Complements the per-point detectors (daily z, seasonal z): those
    flag outlier POINTS, CUSUM locates a persistent LEVEL SHIFT.

    All integer: hourly means fixed-pointed (·10⁶, truncating div),
    deviations scaled by n_hours so the running statistic is
    c_t = Σ_{i≤t} (n·y_i − S) — exact bigint (hours are bounded by the
    retention window, values by the domain, so no overflow at any SF).
    The running sum is an ordered window over the |hours|-row rollup —
    metadata-scale, never over events.  Tie → earliest hour."""
    hourly = (
        events.groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
        )
        .agg(
            F.expr(
                f"CAST(sum(CAST(floor({value_col} * {CUSUM_FP}) AS BIGINT))"
                " DIV count(*) AS BIGINT)"
            ).alias("y")
        )
    )
    stats = hourly.agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(one_window_partition()).orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dev = (
        hourly.crossJoin(F.broadcast(stats))
        .select(
            "h",
            "n",
            F.sum(F.col("n") * F.col("y") - F.col("s")).over(w).alias("c"),
        )
    )
    return dev.agg(
        F.expr("max_by(h, struct(abs(c) AS a, -h AS nh))").alias(
            "change_hour"
        ),
        F.max(F.abs("c")).alias("cusum_abs_max"),
        F.max("n").cast("bigint").alias("n_hours"),
    )


def hourly_acf(events: DataFrame, max_lag: int = 24) -> DataFrame:
    """(lag, n_hours, acf): autocorrelation of the hourly event-count
    series at lags 1..max_lag — the seasonality detector (a peak at
    lag 24 = daily cycle) next to lagged_xcorr (which correlates two
    DIFFERENT series).  Same machinery: densified hour spine, ONE
    shifted-key equi-join for all lags, exact bigint moments per lag,
    r as one double expression."""
    from lab3_spark.functions.partitioning import scoped

    hourly = (
        events.groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    spine = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    ).select(F.explode(F.sequence("h0", "h1")).alias("h"))
    dense = scoped(
        spine.join(hourly, "h", "left").select(
            "h", F.coalesce("x", F.lit(0)).alias("x")
        ),
    )
    lags = F.array(*[F.lit(l) for l in range(1, max_lag + 1)])
    a = dense.select("h", "x", F.explode(lags).alias("lag"))
    pairs = a.join(
        dense.select(F.col("h").alias("h2"), F.col("x").alias("y")),
        F.col("h2") == F.col("h") + F.col("lag"),
    )
    mom = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return mom.select(
        "lag", F.col("n").alias("n_hours"), _pearson_trunc().alias("acf")
    ).orderBy("lag")


def decayed_leaderboard(events: DataFrame, half_life_days: int = 1) -> DataFrame:
    """(event_type, raw_count, decayed_fp, rnk): event types ranked by
    exponentially time-decayed count — the trending-now leaderboard
    where yesterday counts half as much as today.

    The decayed sum is EXACT: with a power-of-two half-life, weight
    2^(CAP − age) is an INTEGER (age in whole half-life units from the
    newest day, capped at CAP=20 — older rows saturate at weight 1,
    i.e. a documented 2⁻²⁰ decay floor — so Σ ≤ 2²⁰·N fits int64 to
    ~10¹² rows), and the per-type decayed mass is one exact bigint sum
    — no float decay per row, no summation-order hazard.  Only the
    final ·10⁶ normalization runs in double (one expression, mirrored
    in the oracle)."""
    from pyspark.sql.window import Window

    CAP = 20
    aged = events.select(
        "event_type", F.to_date("ts").alias("d")
    )
    d1 = aged.agg(F.max("d").alias("_d1"))
    w = (
        aged.crossJoin(F.broadcast(d1))
        .select(
            "event_type",
            F.least(
                F.floor(
                    F.datediff("_d1", "d") / F.lit(half_life_days)
                ).cast("int"),
                F.lit(CAP),
            ).alias("age"),
        )
        .select(
            "event_type",
            F.expr(f"shiftleft(1L, {CAP} - age)").alias("w"),
        )
    )
    scored = w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("raw_count"),
        F.sum("w").alias("wsum"),
    )
    decayed = F.floor(
        F.col("wsum").cast("double") * 1_000_000.0 / float(1 << CAP)
    ).cast("bigint")
    return (
        scored.select(
            "event_type", "raw_count", decayed.alias("decayed_fp")
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy(one_window_partition()).orderBy(
                    F.desc("decayed_fp"), F.asc("event_type")
                )
            ),
        )
        .orderBy("rnk")
    )


def seasonal_profile_decomposed(events: DataFrame) -> DataFrame:
    """(hod, n_obs, seasonal_fp): hour-of-day seasonal indices after
    DETRENDING — the STL-lite decomposition: a centered 24-hour moving
    average estimates the trend, and the seasonal index is the mean
    DETRENDED count per hour-of-day.  Unlike the raw weekday/hour
    profile (events_weekday_hour_profile), this survives a growing
    corpus: a rising trend inflates every raw hourly mean but cancels
    in the detrended residual.

    All-integer core: the trend is the textbook SYMMETRIC 2×24 MA
    (the average of the two adjacent 24-windows — an even window is
    otherwise off-center and leaks a linear-trend ramp into the
    indices, which the planted-trend test caught on the asymmetric
    first try), so detrended d_h = 48·x_h − (Σ[−12,+11] + Σ[−11,+12])
    stays exactly integer; only hours with both FULL windows
    contribute; the final per-hod mean divides once, floor-on-double
    (signed).  The windows run over the dense |hours| spine —
    calendar-bounded metadata, never events."""
    from pyspark.sql.window import Window

    from lab3_spark.functions.partitioning import scoped

    hourly = (
        events.groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("h")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    spine = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    ).select(F.explode(F.sequence("h0", "h1")).alias("h"))
    dense = scoped(
        spine.join(hourly, "h", "left").select(
            "h", F.coalesce("x", F.lit(0)).alias("x")
        ),
    )
    wa = Window.partitionBy(one_window_partition()).orderBy("h").rowsBetween(-12, 11)
    wb = Window.partitionBy(one_window_partition()).orderBy("h").rowsBetween(-11, 12)
    det = dense.select(
        "h",
        (
            F.col("x") * 48 - F.sum("x").over(wa) - F.sum("x").over(wb)
        ).alias("d"),
        (F.count(F.lit(1)).over(wa) + F.count(F.lit(1)).over(wb)).alias("wn"),
    ).where(F.col("wn") == 48)
    return (
        det.groupBy((F.col("h") % 24).alias("hod"))
        .agg(F.count(F.lit(1)).alias("n_obs"), F.sum("d").alias("sd"))
        .select(
            "hod",
            F.col("n_obs").cast("bigint").alias("n_obs"),
            F.floor(
                F.col("sd").cast("double")
                / F.col("n_obs").cast("double")
                / 48.0
                * 10_000
            ).cast("bigint").alias("seasonal_fp"),
        )
        .orderBy("hod")
    )
