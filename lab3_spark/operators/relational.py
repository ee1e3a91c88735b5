"""Relational analytics operators: joins, aggregations, windows, set ops.

The reference has NO joins/windows/set-ops (SURVEY.md §2.5) — these are
the engine-API extensions exposed per SURVEY policy: Spark built-ins,
declared declaratively so Catalyst plans them (broadcast joins for dims,
partial aggregation, TakeOrderedAndProject for top-N).

Scale notes baked into each operator:
- Dimension tables (region/nation/supplier/part at typical ratios) are
  broadcast — no shuffle of the fact table for those joins.
- Fact-fact joins (orders ⋈ lineitem) shuffle on the join key; at 100 TB
  both sides would be bucketed on orderkey to make this a zero-shuffle
  sort-merge join (see docs/SCALE.md).
- Aggregates are expressed on the joined frame directly so Catalyst can
  push partial aggregation below the exchange where legal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lab3_spark.functions.partitioning import one_window_partition
from lab3_spark.functions.rounding import cents

# Monetary/ratio rounding used identically in oracle SQL so value-hash
# comparison is stable across engines' float summation orders.
MONEY = 2
RATIO = 4


def revenue() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def q1_pricing_summary(lineitem: DataFrame, cutoff: str = "2001-09-01") -> DataFrame:
    """TPC-H Q1-style pricing summary: filter → groupBy → multi-agg.

    One scan, partial+final hash agg; the shipdate filter is a pushable
    parquet predicate (shows up in PushedFilters)."""
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), MONEY).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), MONEY).alias("sum_base_price"),
            F.round(F.sum(revenue()), MONEY).alias("sum_disc_price"),
            F.round(F.sum(revenue() * (1 + F.col("l_tax"))), MONEY).alias("sum_charge"),
            F.round(F.avg("l_quantity"), RATIO).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), RATIO).alias("avg_price"),
            F.round(F.avg("l_discount"), RATIO).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-03-15",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3-style: top-K unshipped orders by revenue.

    customer is dimension-sized relative to orders → broadcast; the
    orders⋈lineitem join shuffles on o_orderkey (bucket both at scale).
    Top-K via orderBy+limit → TakeOrderedAndProject."""
    cut = F.lit(cutoff).cast("timestamp")
    cust = customer.where(F.col("c_mktsegment") == segment).select("c_custkey")
    ords = orders.where(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = lineitem.where(F.col("l_shipdate") > cut).select("l_orderkey", revenue().alias("rev"))
    return (
        ords.join(F.broadcast(cust), ords.o_custkey == cust.c_custkey)
        .join(li, ords.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum("rev"), MONEY).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(k)
    )


def q5_region_revenue(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    region_name: str = "ASIA",
    date_from: str = "1996-01-01",
    date_to: str = "1998-01-01",
) -> DataFrame:
    """TPC-H Q5-style: revenue per nation where customer and supplier
    share the nation.  region/nation/supplier/customer broadcast; only
    orders⋈lineitem shuffles."""
    nr = (
        nation.join(
            F.broadcast(region.where(F.col("r_name") == region_name)),
            nation.n_regionkey == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit(date_from).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_to).cast("timestamp"))
    )
    joined = (
        lineitem.join(ords, lineitem.l_orderkey == ords.o_orderkey)
        .join(F.broadcast(customer), ords.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), lineitem.l_suppkey == supplier.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nr), F.col("c_nationkey") == nr.n_nationkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(F.round(F.sum(revenue()), MONEY).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def order_priority_check(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """TPC-H Q4-style EXISTS semi-join: orders (in a window) having at
    least one returned lineitem, counted per priority."""
    ords = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    returned = lineitem.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        ords.join(returned, ords.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def top_customers_per_nation(
    customer: DataFrame, orders: DataFrame, nation: DataFrame, k: int = 3
) -> DataFrame:
    """Rank customers by total spend within nation, keep top K.

    Shuffles once on c_custkey (agg); the per-nation top-k then rides
    the SALTED two-stage ranking (`rank.top_n_per_key`) — NOT a
    ``row_number() OVER (PARTITION BY n_name)`` window: there are only
    25 nations, so the window form sorts customers/25 rows in one task
    per nation at any corpus size (the round-12 skew-audit class).
    Descending spend is expressed as ascending ``-spend`` (an exact
    negation of the cents-rounded double) so the salted helper's
    smallest-n semantics and its order-tuple salt hash both apply."""
    from lab3_spark.operators.rank import top_n_per_key

    spend = (
        orders.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), MONEY).alias("spend"))
    )
    cust = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    return (
        top_n_per_key(
            cust.join(spend, cust.c_custkey == spend.o_custkey).select(
                "n_name", "c_custkey", "c_name", "spend"
            ),
            ["n_name"],
            [(-F.col("spend")).alias("_neg_spend"), F.col("c_custkey")],
            k,
            rank_name="rnk",
        )
        .select("n_name", "c_custkey", "c_name", "spend", "rnk")
        .orderBy("n_name", "rnk")
    )


def monthly_revenue_trend(orders: DataFrame) -> DataFrame:
    """Time-series windows: monthly order totals with lag and a
    3-month moving average (ROWS frame — deterministic)."""
    from pyspark.sql.window import Window

    monthly = (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.round(F.sum("o_totalprice"), MONEY).alias("total"))
    )
    w = Window.partitionBy(one_window_partition()).orderBy("month")
    wma = w.rowsBetween(-2, 0)
    return (
        monthly.withColumn("prev_total", F.lag("total").over(w))
        .withColumn("ma3", F.round(F.avg("total").over(wma), MONEY))
        .orderBy("month")
    )


def mktsegment_rollup(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """ROLLUP aggregation (grouping sets) — n_name × c_mktsegment with
    subtotals and a grand total."""
    joined = customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    return (
        joined.rollup("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), MONEY).alias("total_acctbal"),
        )
        .orderBy(
            F.col("n_name").asc_nulls_first(), F.col("c_mktsegment").asc_nulls_first()
        )
    )


def nations_without_suppliers(
    nation: DataFrame, customer: DataFrame, supplier: DataFrame
) -> DataFrame:
    """Set operations: nations having customers EXCEPT nations having
    suppliers (distinct set semantics, like SQL EXCEPT)."""
    cust_nations = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("n_name")
    )
    supp_nations = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("n_name")
    )
    return cust_nations.subtract(supp_nations).orderBy("n_name")


def distinct_part_types(part: DataFrame) -> DataFrame:
    """DISTINCT (dropDuplicates) over a projection."""
    return part.select("p_brand", "p_type").dropDuplicates().orderBy("p_brand", "p_type")


def order_status_cube(orders: DataFrame) -> DataFrame:
    """CUBE grouping sets over status × priority (all 4 combinations
    of subtotals — the full grouping-set lattice)."""
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), MONEY).alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def nation_status_pivot(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """PIVOT: order totals per nation spread across status columns.

    The status domain is passed explicitly (F/O/P) so Catalyst skips
    the extra distinct-values job — the at-scale form of pivot."""
    joined = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), MONEY))
        .withColumnsRenamed({"F": "total_f", "O": "total_o", "P": "total_p"})
        .orderBy("n_name")
    )


def value_percentiles(events: DataFrame) -> DataFrame:
    """Exact percentiles (linear interpolation) of event value per
    type.  At 100 TB swap percentile → approx_percentile (t-digest
    sketch, single pass, mergeable) — exact percentile must sort each
    group."""
    from lab3_spark.functions.rounding import trunc

    return (
        events.groupBy("event_type")
        .agg(
            trunc(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            trunc(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
            trunc(F.percentile("value", F.lit(0.99)), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


def nations_with_both(
    nation: DataFrame, customer: DataFrame, supplier: DataFrame
) -> DataFrame:
    """INTERSECT: nations having customers AND suppliers."""
    cust = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("n_name")
    supp = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("n_name")
    return cust.intersect(supp).orderBy("n_name")


def parties_per_nation(
    nation: DataFrame, customer: DataFrame, supplier: DataFrame
) -> DataFrame:
    """UNION ALL of two sides with a role tag, then aggregate — the
    multi-source-append pattern."""
    cust = customer.select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("role")
    )
    supp = supplier.select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("role")
    )
    both = cust.unionByName(supp)
    return (
        both.join(F.broadcast(nation), both.nationkey == nation.n_nationkey)
        .groupBy("n_name", "role")
        .agg(F.count("*").alias("n_parties"))
        .orderBy("n_name", "role")
    )


# ---------------------------------------------------------------------------
# Change-data-capture apply (round 6)
# ---------------------------------------------------------------------------

def cdc_change_log(orders: DataFrame) -> DataFrame:
    """Deterministic CDC change log derived from orders — the input
    shape of a Debezium/Delta change feed: every key gets an INSERT at
    seq 1, keys %3==0 an UPDATE (+50.00) at seq 2, keys %7==0 a DELETE
    tombstone at seq 3.  Prices are integer cents (floor(x*100+0.5) on
    the same IEEE double in every engine) so the applied snapshot is
    all-bigint."""
    base = orders.select(
        "o_orderkey",
        cents("o_totalprice").alias("price_cents"),
        "o_orderstatus",
    )
    inserts = base.select(
        "o_orderkey",
        F.lit(1).cast("bigint").alias("seq"),
        F.lit("I").alias("op"),
        "price_cents",
        "o_orderstatus",
    )
    updates = base.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit(2).cast("bigint").alias("seq"),
        F.lit("U").alias("op"),
        (F.col("price_cents") + 5000).alias("price_cents"),
        F.lit("U").alias("o_orderstatus"),
    )
    deletes = base.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit(3).cast("bigint").alias("seq"),
        F.lit("D").alias("op"),
        F.lit(0).cast("bigint").alias("price_cents"),
        F.lit("X").alias("o_orderstatus"),
    )
    return inserts.unionByName(updates).unionByName(deletes)


def cdc_apply(changes: DataFrame, key: str = "o_orderkey") -> DataFrame:
    """(key, last_op, price_cents, o_orderstatus, n_changes): last-
    writer-wins CDC apply — materialize the current snapshot from an
    ordered change log, dropping keys whose latest change is a DELETE
    tombstone.

    ONE combinable aggregation (max_by on seq, no window, no sort): at
    100 TB this is a single hash shuffle on the key and the map-side
    combiner collapses each key's change run before the wire — the
    same shape a lakehouse MERGE materialization compiles to.  seq is
    unique per key by feed contract, so max_by is deterministic."""
    last = F.max_by(
        F.struct("op", "price_cents", "o_orderstatus"), "seq"
    ).alias("_last")
    return (
        changes.groupBy(key)
        .agg(last, F.count("*").alias("n_changes"))
        .where(F.col("_last.op") != "D")
        .select(
            key,
            F.col("_last.op").alias("last_op"),
            F.col("_last.price_cents").alias("price_cents"),
            F.col("_last.o_orderstatus").alias("o_orderstatus"),
            "n_changes",
        )
        .orderBy(key)
    )


# ---------------------------------------------------------------------------
# Market-basket association (round 6)
# ---------------------------------------------------------------------------


def brand_pair_lift(
    lineitem: DataFrame, part: DataFrame, min_pairs: int = 5
) -> DataFrame:
    """(brand_a, brand_b, pair_cnt, support_fp, confidence_fp,
    lift_fp): frequent brand PAIRS across order baskets with the
    classic association metrics, all bigint fixed-point (×10^6,
    truncating div — bit-identical across engines).

    Baskets are distinct (order, brand) sets; the pair enumeration is
    a SELF-EQUI-JOIN ON THE ORDER KEY with brand_a < brand_b — fan-out
    per order is C(b,2) where b = distinct brands in the basket,
    bounded by lines-per-order (~7 in TPC-H shapes), so the join output
    is a small constant multiple of lineitem and NEVER all-pairs over
    brands.  Marginal counts and the basket total are broadcast
    (|brands| rows, 1 row); the one unavoidable shuffle is the
    distinct on (order, brand)."""
    # persisted: four consumers (total, marginals, both join sides) —
    # their alias differences defeat exchange reuse, so an unpersisted
    # baskets frame would re-run the join+distinct per consumer.
    # Hash-partitioned and sorted by the order key before caching
    # (optimization round 12, guide §2.4): the pair self-join probes
    # both sides on that key, so the cached layout removes BOTH of the
    # join's basket-scale exchanges and sorts.
    from lab3_spark.functions.partitioning import scoped

    par = lineitem.sparkSession.sparkContext.defaultParallelism
    baskets = scoped(
        lineitem.join(
            F.broadcast(part),
            lineitem.l_partkey == part.p_partkey,
        )
        .select("l_orderkey", "p_brand")
        .distinct()
        .repartition(par, "l_orderkey")
        .sortWithinPartitions("l_orderkey"),
    )
    n_baskets = baskets.select(
        F.countDistinct("l_orderkey").alias("_nb")
    )
    marg = baskets.groupBy("p_brand").agg(F.count("*").alias("_cnt"))
    a = baskets.select(
        F.col("l_orderkey").alias("_ok"), F.col("p_brand").alias("brand_a")
    )
    b = baskets.select(
        F.col("l_orderkey").alias("_ok"), F.col("p_brand").alias("brand_b")
    )
    pairs = (
        a.join(b, "_ok")
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("pair_cnt"))
        .where(F.col("pair_cnt") >= min_pairs)
    )
    ma = marg.select(
        F.col("p_brand").alias("brand_a"), F.col("_cnt").alias("_ca")
    )
    mb = marg.select(
        F.col("p_brand").alias("brand_b"), F.col("_cnt").alias("_cb")
    )
    M = 10**6
    return (
        pairs.join(F.broadcast(ma), "brand_a")
        .join(F.broadcast(mb), "brand_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "brand_a",
            "brand_b",
            "pair_cnt",
            F.expr(f"CAST(pair_cnt * {M} DIV _nb AS BIGINT)").alias(
                "support_fp"
            ),
            F.expr(f"CAST(pair_cnt * {M} DIV _ca AS BIGINT)").alias(
                "confidence_fp"
            ),
            F.expr(
                f"CAST(pair_cnt * _nb * {M} DIV (_ca * _cb) AS BIGINT)"
            ).alias("lift_fp"),
        )
        .orderBy(F.desc("pair_cnt"), "brand_a", "brand_b")
    )


# ---------------------------------------------------------------------------
# Grouped ordinary least squares (round 6)
# ---------------------------------------------------------------------------


def nation_revenue_ols(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """(n_name, n_months, slope_fp, intercept_fp): per-nation OLS fit
    of monthly revenue (cents) against the month index — the trend
    extraction behind "is this segment growing", computed EXACTLY.

    Normal-equations form over integer sums: slope = (nΣxy − ΣxΣy) /
    (nΣx² − (Σx)²) with x = months since 1992-01 and y = monthly cents;
    every SUM is exact bigint (no float summation-order hazard); only
    the final per-group ratio is one deterministic double divide +
    floor (identical IEEE sequence in both engines at any magnitude —
    num·10^6 in int64 overflows once monthly revenue passes ~10^12
    cents).  Plan shape:
    orders ⋈ customer shuffles on custkey (bucket-ready), nation is
    broadcast, then ONE aggregation per (nation, month) and ONE per
    nation — the regression itself adds no extra pass over the fact
    table."""
    monthly = (
        orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == nation.n_nationkey,
        )
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - 1992) * 12
                + F.month("o_orderdate")
                - 1
            ).cast("bigint").alias("x"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("y"))
    )
    M = 10**6
    stats = monthly.groupBy("n_name").agg(
        F.count("*").alias("n_months"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n_months") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_months") * F.col("sxx") - F.col("sx") * F.col("sx")
    # the SUMS stay exact bigint (shuffle-order-free); only the final
    # per-group ratio runs in double — num·10^6 would overflow int64
    # once monthly revenue crosses ~10^12 cents (observed at sf0.1),
    # while bigint→double conversion + one divide + floor is the same
    # deterministic IEEE sequence in both engines at ANY magnitude
    return (
        stats.withColumn("_num", num)
        .withColumn("_den", den)
        # den == 0 iff a nation has a single observed month — no line
        # to fit; drop rather than divide by zero (both engines agree)
        .where(F.col("_den") > 0)
        .withColumn(
            "slope_fp",
            F.floor(
                F.col("_num").cast("double")
                / F.col("_den").cast("double")
                * F.lit(float(M))
            ).cast("bigint"),
        )
        .withColumn(
            "intercept_fp",
            F.floor(
                (
                    F.col("sy").cast("double") * F.lit(float(M))
                    - F.col("slope_fp").cast("double")
                    * F.col("sx").cast("double")
                )
                / F.col("n_months").cast("double")
            ).cast("bigint"),
        )
        .select("n_name", "n_months", "slope_fp", "intercept_fp")
        .orderBy("n_name")
    )


def price_time_skyline(orders: DataFrame) -> DataFrame:
    """(o_orderkey, day, price_cents): the 2-D Pareto frontier of
    (earlier date, higher price) — orders not dominated by any
    strictly-earlier-day order of greater-or-equal price.

    The scale trick is DOMAIN-RESOLUTION PRE-AGGREGATION: dominance
    here only depends on the per-DAY max price, so one combinable
    aggregation collapses the fact table to ~|days| rows, the
    strictly-earlier prefix max runs as a window over THAT metadata-
    sized table (bounded rows — not a window over data; the WindowExec
    "no partition" note is deliberate and safe here), and the frontier
    test rejoins broadcast.  A naive skyline is an all-pairs dominance
    anti-join; this form is two scans and a broadcast."""
    from pyspark.sql.window import Window

    o = orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("_day"),
        cents("o_totalprice").alias("price_cents"),
    )
    daily = o.groupBy("_day").agg(F.max("price_cents").alias("_dmax"))
    w = Window.partitionBy(one_window_partition()).orderBy("_day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pfx = daily.select(
        "_day",
        F.coalesce(F.max("_dmax").over(w), F.lit(-1)).alias("_prev_max"),
    )
    return (
        o.join(F.broadcast(pfx), "_day")
        .where(F.col("price_cents") > F.col("_prev_max"))
        .select(
            "o_orderkey",
            F.date_format("_day", "yyyy-MM-dd").alias("day"),
            "price_cents",
        )
        .orderBy("o_orderkey")
    )


def customer_rfm_segments(orders: DataFrame, q: int = 5) -> DataFrame:
    """(r_score, f_score, m_score, n_customers): RFM segmentation —
    customers quintiled independently on Recency (latest order date),
    Frequency (order count) and Monetary (total cents), 1 = best,
    then counted per (r,f,m) cell (≤ q³ rows).

    The three quintile assignments are three passes of the DISTRIBUTED
    global-rank operator (operators/rank.py — range shuffle + broadcast
    offsets; an unpartitioned ntile window would single-task the whole
    customer table), each over a (sort_key, custkey) total order so
    the massive frequency ties resolve identically in both engines.
    ``base`` (the customer-grain agg all three passes rank) is cached
    once, until the caller's scope exits — uncached, each pass's
    range-sampling + shuffle recomputed the orders aggregation, six
    orders scans total (optimization round 13, guide §5)."""
    from lab3_spark.functions.partitioning import scoped
    from lab3_spark.operators.rank import with_global_order_stats

    base = orders.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("_last"),
        F.count("*").alias("_freq"),
        F.sum(cents("o_totalprice")).alias("_mon"),
    ).select(
        "o_custkey",
        (-F.datediff("_last", F.lit("1970-01-01").cast("date"))).alias(
            "_rec_sort"
        ),
        (-F.col("_freq")).alias("_freq_sort"),
        (-F.col("_mon")).alias("_mon_sort"),
    )
    base = scoped(base)

    def score(sort_col: str, out: str) -> DataFrame:
        return (
            with_global_order_stats(
                base.select("o_custkey", sort_col),
                [sort_col, "o_custkey"],
                ntile=q,
            )
            .select("o_custkey", F.col("ntile").alias(out))
        )

    r = score("_rec_sort", "r_score")
    f = score("_freq_sort", "f_score")
    m = score("_mon_sort", "m_score")
    return (
        r.join(f, "o_custkey")
        .join(m, "o_custkey")
        .groupBy("r_score", "f_score", "m_score")
        .agg(F.count("*").alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


def ship_latency_percentiles(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """(o_orderpriority, n_lineitems, p50_days, p95_days): EXACT
    order-to-ship latency percentiles per priority — the SLA question
    ("p95 days to ship for urgent orders") answered with the
    positional rule, not an engine-native interpolating percentile
    whose semantics differ across engines.

    The percentile reads off the BOUNDED (priority, days) VALUE
    HISTOGRAM — the robust_quality_zscore two-level pattern: ``days``
    is an integer latency with a calendar-bounded domain (a few
    hundred distinct values at any corpus size), so one map-side-
    combinable groupBy(priority, days) count collapses the fact-fact
    join to ≤ 5 × #distinct-days rows, and the positional rule becomes
    "smallest days whose cumulative count reaches the target rank"
    over that metadata-scale frame.  NOT a ``row_number() OVER
    (PARTITION BY o_orderpriority)`` window on the join output (5
    priorities ⇒ a fifth of the fact join in ONE task — the round-12
    skew-audit class), and strictly cheaper than a distributed full
    rank: no corpus-scale shuffle at all beyond the count's partial
    agg, and the rank tie-break columns never need to be scanned."""
    hist = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderpriority",
            F.datediff("l_shipdate", "o_orderdate").cast("bigint").alias(
                "days"
            ),
        )
        .groupBy("o_orderpriority", "days")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    # cumulative counts over the bounded histogram: ≤ 5 × #distinct
    # latency values rows — metadata-scale however large the corpus
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("o_orderpriority")
    cum = hist.select(
        "o_orderpriority",
        "days",
        F.sum("_cnt").over(w).alias("_cum"),
        F.sum("_cnt").over(wn).alias("_n"),
    )
    i50 = F.expr("CAST((_n - 1) * 50 DIV 100 AS BIGINT) + 1")
    i95 = F.expr("CAST((_n - 1) * 95 DIV 100 AS BIGINT) + 1")
    return (
        cum.groupBy("o_orderpriority")
        .agg(
            F.max("_n").alias("n_lineitems"),
            F.min(F.when(F.col("_cum") >= i50, F.col("days"))).alias(
                "p50_days"
            ),
            F.min(F.when(F.col("_cum") >= i95, F.col("days"))).alias(
                "p95_days"
            ),
        )
        .orderBy("o_orderpriority")
    )


def relational_division(
    df: DataFrame, dividend_col: str, divisor_col: str
) -> DataFrame:
    """(dividend, n_matched): rows of ``dividend_col`` associated with
    EVERY distinct value of ``divisor_col`` — relational division, the
    classic "bought ALL brands / active in ALL years" query that SQL
    has no operator for.

    The scale formulation: ONE distinct projection of the pair, a
    combinable per-dividend count, and a 1-row divisor-cardinality
    aggregate broadcast for the equality filter — never the textbook
    double-NOT-EXISTS (a correlated anti-join per divisor value) and
    never a dividend × divisor cross product."""
    pairs = df.select(
        F.col(dividend_col).alias("dividend"),
        F.col(divisor_col).alias("divisor"),
    ).distinct()
    total = pairs.agg(F.countDistinct("divisor").alias("n_divisor"))
    return (
        pairs.groupBy("dividend")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_matched") == F.col("n_divisor"))
        .select("dividend", "n_matched")
        .orderBy("dividend")
    )


def scd2_history(changes: DataFrame, key: str = "o_orderkey") -> DataFrame:
    """(key, seq_from, seq_to, is_current, op, price_cents,
    o_orderstatus): SCD Type-2 validity intervals from the ordered
    change log — each version holds from its own seq until its
    successor's (seq_to = lead(seq), NULL→open ⇒ is_current).  The
    third leg of the lakehouse CDC family: cdc_apply materializes the
    CURRENT snapshot, cdc_asof one HISTORICAL version, scd2_history
    the full audit dimension every version query joins against.

    One key-partitioned window pass (co-partitioned with the feed's
    natural key — 2-3 rows per key, never a hot partition); DELETE
    tombstones close their predecessor and emit no open interval."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy("seq")
    return (
        changes.withColumn("seq_to", F.lead("seq").over(w))
        .where(F.col("op") != "D")
        .select(
            key,
            F.col("seq").alias("seq_from"),
            "seq_to",
            F.col("seq_to").isNull().cast("int").alias("is_current"),
            "op",
            "price_cents",
            "o_orderstatus",
        )
        .orderBy(key, "seq_from")
    )


def region_price_anova(
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    region: DataFrame,
) -> DataFrame:
    """One row (k_groups, n_obs, ssb, ssw, f_fp): one-way ANOVA — is
    the mean order value the same across regions?  The k-group
    extension of the two-group z-test (ab_ztest), completing the
    classical-stat family (z-test, χ², MI, OLS, Pearson r).

    Observation design keeps EVERY moment in int64 at ANY scale
    factor: the unit is the per-(region, month) MEAN order value in
    whole dollars (an average is bounded by order size, not corpus
    size; the OLS monthly-rollup trick applied to variance analysis).
    Per-group Σy, Σy² and the grand totals are exact bigints; SSB/SSW
    use truncating integer division (s²  DIV n — a DEFINED statistic,
    identical in both engines); only the final F ratio is one double
    expression, fixed-pointed ×10⁴.

    Plan: orders⋈customer shuffles on custkey, nation/region
    broadcast, ONE agg per (region, month), ONE per region, ONE total
    — no window, no extra fact pass."""
    monthly = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey
        )
        .join(
            F.broadcast(region), F.col("n_regionkey") == region.r_regionkey
        )
        .groupBy(
            "r_name",
            (
                (F.year("o_orderdate") - 1992) * 12
                + F.month("o_orderdate")
                - 1
            ).cast("bigint").alias("m"),
        )
        .agg(
            F.expr("CAST(sum(CAST(floor(o_totalprice) AS BIGINT))"
                   " DIV count(*) AS BIGINT)").alias("y")
        )
    )
    grp = monthly.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("y").alias("sg"),
        F.sum(F.col("y") * F.col("y")).alias("ssg"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum(F.expr("sg * sg DIV ng")).alias("t_sum"),
        F.sum("ssg").alias("ss"),
    )
    ssb = F.col("t_sum") - F.expr("s * s DIV n")
    ssw = F.col("ss") - F.col("t_sum")
    f_fp = F.when(
        (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0),
        F.floor(
            (ssb.cast("double") / (F.col("k") - 1).cast("double"))
            / (ssw.cast("double") / (F.col("n") - F.col("k")).cast("double"))
            * 10_000
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return tot.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("n").cast("bigint").alias("n_obs"),
        ssb.cast("bigint").alias("ssb"),
        ssw.cast("bigint").alias("ssw"),
        f_fp.alias("f_fp"),
    )


def holt_forecast(orders: DataFrame, horizon: int = 7) -> DataFrame:
    """One row (n_days, level, trend_fp, forecast_h): Holt double
    exponential smoothing (level + trend, α = β = 1/2) over the daily
    revenue series, with the h-step-ahead forecast ŷ = l_n + h·t_n —
    the state-space forecasting primitive one step up from the EWMA
    gate (level only, no trend).

    Determinism: the daily rollup is exact bigint cents; the smoothing
    is ONE in-row fold over the day-sorted array with a [level, trend]
    array accumulator — both engines run the identical IEEE recurrence
    (α = β = 0.5 are exact halvings; the t-update recomputes l'
    inline, the same expression shape in both engines).  The series
    frame is |days| rows (bounded by the calendar, not the data), so
    the collect_list is metadata-scale."""
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(cents("o_totalprice")).alias("yc"))
        .select("d", F.col("yc").cast("double").alias("y"))
    )
    series = daily.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("d"), F.col("y")))
        ).alias("sv")
    ).select(
        F.transform(F.col("sv"), lambda s: s["y"]).alias("ys")
    )
    n = F.size("ys")
    l0 = F.element_at("ys", 1)
    t0 = F.element_at("ys", 2) - F.element_at("ys", 1)
    # fold over elements 3..n with [level, trend] accumulator; the
    # trend update recomputes the new level inline — identical shape
    # in the oracle so the doubles match bit-for-bit
    # fold starts at y_1 (the seed level is y_0, so the first update
    # consumes y_1): on an exactly linear series the state then locks
    # on (l_i = y_i, t_i = slope) — pinned by test
    lt = F.aggregate(
        F.slice("ys", 2, F.greatest(n - 1, F.lit(0))),
        F.array(l0, t0),
        lambda acc, y: F.array(
            0.5 * y + 0.5 * (acc[0] + acc[1]),
            0.5 * ((0.5 * y + 0.5 * (acc[0] + acc[1])) - acc[0])
            + 0.5 * acc[1],
        ),
    )
    return series.select(
        n.cast("bigint").alias("n_days"),
        F.floor(lt[0]).cast("bigint").alias("level"),
        F.floor(lt[1] * 100).cast("bigint").alias("trend_fp"),
        F.floor(lt[0] + F.lit(float(horizon)) * lt[1])
        .cast("bigint")
        .alias("forecast_h"),
    )


def nation_trend_robust(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """(n_name, n_months, theilsen_fp, mk_s, mk_trend): Theil–Sen
    robust slope + Mann–Kendall trend statistic of monthly revenue per
    nation — the ROBUST companions to nation_revenue_ols: Theil–Sen is
    the median of all pairwise slopes (a single outlier month cannot
    move it), Mann–Kendall counts concordant minus discordant pairs
    (distribution-free monotone-trend evidence; |S| large ⇒ trend).

    The pair enumeration is bounded by the CALENDAR, not the data:
    C(|months|, 2) pairs per nation (~3.5k for 7 years) from the same
    monthly rollup OLS uses — the fact table is scanned once and never
    self-joined.  Slopes are exact integers (Δcents·10⁶ DIV Δmonth,
    positive Δx ⇒ truncation identical in both engines is NOT given
    for negative numerators — floor-on-double instead); the median is
    the positional rule on the per-nation slope list; S is an exact
    bigint sum of sign()."""
    from lab3_spark.functions.partitioning import scoped

    monthly = scoped(
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey
        )
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - 1992) * 12
                + F.month("o_orderdate")
                - 1
            ).cast("bigint").alias("x"),
        )
        .agg(F.sum(cents("o_totalprice")).alias("y")),
    )
    a = monthly.select("n_name", F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = monthly.select("n_name", F.col("x").alias("xj"), F.col("y").alias("yj"))
    pairs = a.join(b, "n_name").where(F.col("xj") > F.col("xi"))
    slope = F.floor(
        (F.col("yj") - F.col("yi")).cast("double")
        * 1_000_000.0
        / (F.col("xj") - F.col("xi")).cast("double")
    ).cast("bigint")
    sgn = F.signum((F.col("yj") - F.col("yi")).cast("double")).cast("bigint")
    scored = pairs.select("n_name", slope.alias("s"), sgn.alias("g"))
    from pyspark.sql.window import Window

    # per-nation positional median over the calendar-bounded slope
    # list: |pairs| ≤ C(84,2) per nation — the window is bounded by
    # the calendar, never by the fact table
    w = Window.partitionBy("n_name").orderBy("s")
    ranked = scored.withColumn("rk", F.row_number().over(w))
    counts = scored.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("np"), F.sum("g").alias("mk_s")
    )
    mcounts = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_months")
    )
    med_idx = F.expr("CAST((np - 1) * 50 DIV 100 AS BIGINT) + 1")
    return (
        ranked.join(F.broadcast(counts), "n_name")
        .join(F.broadcast(mcounts), "n_name")
        .where(F.col("rk") == med_idx)
        .select(
            "n_name",
            F.col("n_months").cast("bigint").alias("n_months"),
            F.col("s").alias("theilsen_fp"),
            F.col("mk_s").cast("bigint").alias("mk_s"),
            F.signum(F.col("mk_s").cast("double")).cast("int").alias(
                "mk_trend"
            ),
        )
        .orderBy("n_name")
    )


def order_cadence(orders: DataFrame) -> DataFrame:
    """One row (n_gaps, p50_days, p95_days, mean_days_fp): the
    distribution of days BETWEEN consecutive orders per customer —
    purchase cadence, the CRM metric behind reorder nudges and churn
    windows (weekly_churn counts who left; cadence says when to
    expect them back).

    One customer-partitioned lag pass (co-partitioned window, never
    global), then EXACT percentiles from the counts-of-counts
    histogram of gap lengths — |distinct gap values| rows (bounded by
    the calendar span in days), the join_skew_report machinery — so
    no rank pass over the gaps themselves."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn("prev", F.lag("o_orderdate").over(w))
        .where(F.col("prev").isNotNull())
        .select(F.datediff("o_orderdate", "prev").cast("bigint").alias("g"))
    )
    hist = gaps.groupBy("g").agg(F.count(F.lit(1)).alias("m"))
    cum = hist.withColumn(
        "cum",
        F.sum("m").over(
            Window.partitionBy(one_window_partition())
            .orderBy("g")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    stats = hist.agg(
        F.sum("m").alias("n"), F.sum(F.col("g") * F.col("m")).alias("s")
    )
    picks = cum.crossJoin(F.broadcast(stats)).select(
        "g",
        "cum",
        "n",
        "s",
        F.expr("CAST((n - 1) * 50 DIV 100 AS BIGINT) + 1").alias("i50"),
        F.expr("CAST((n - 1) * 95 DIV 100 AS BIGINT) + 1").alias("i95"),
    )
    return picks.agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.min(F.when(F.col("cum") >= F.col("i50"), F.col("g"))).alias(
            "p50_days"
        ),
        F.min(F.when(F.col("cum") >= F.col("i95"), F.col("g"))).alias(
            "p95_days"
        ),
        F.expr(f"CAST(max(s) * {10**4} DIV max(n) AS BIGINT)").alias(
            "mean_days_fp"
        ),
    )


def customer_revenue_lorenz(
    orders: DataFrame, deciles: int = 10
) -> DataFrame:
    """(decile, n_custs, revenue_cents, cum_share_fp, gini_fp): the
    Lorenz curve of customer revenue concentration plus its Gini
    coefficient — "what share of revenue do the bottom k/10 of
    customers hold", the inequality audit behind whale-risk and
    mixture decisions.  source_token_gini computes a Gini over the
    metadata-scale per-source frame; THIS one ranks every customer,
    so the sort is the distributed global rank (one ranged shuffle,
    no single-partition window) and deciles derive from the rank
    arithmetically (rank.ntile_from_rank — the same SQL-standard
    split DuckDB's native ntile performs, which is what the oracle
    uses).

    Exactness: revenue in integer cents; Σ(rank·cents) and Σcents
    carried as decimal(38,0) (HUGEINT in the oracle) so the Gini
    numerator 2·Σ(rn·x) − (n+1)·Σx is exact past int64 at any
    customer count; one truncating integer division fixed-points G
    (all operands nonnegative, so Spark's DIV and DuckDB's //
    agree).  The decile rollup and the 10-row cumulative share are
    metadata-scale."""
    from pyspark.sql.window import Window

    from lab3_spark.functions.partitioning import one_window_partition
    from lab3_spark.operators.rank import (
        ntile_from_rank,
        total_rows_col,
        with_row_number,
    )

    rev = orders.groupBy("o_custkey").agg(
        F.sum(
            F.expr(
                "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
            )
        ).alias("cents")
    )
    d = with_row_number(
        rev, ["cents", "o_custkey"], out_col="_rn",
    ).withColumn("_n", total_rows_col())
    d = d.withColumn(
        "decile", ntile_from_rank(F.col("_rn"), F.col("_n"), deciles)
    )
    stats = d.agg(
        F.sum(
            F.col("_rn").cast("decimal(38,0)") * F.col("cents")
        ).alias("rs"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("tot"),
        F.max("_n").cast("decimal(38,0)").alias("n"),
    ).select(
        F.expr(
            "CAST((2 * rs - (n + 1) * tot) * 1000000"
            " DIV (n * tot) AS BIGINT)"
        ).alias("gini_fp"),
        F.col("tot").alias("_tot"),
    )
    per = d.groupBy("decile").agg(
        F.count("*").alias("n_custs"),
        F.sum("cents").alias("revenue_cents"),
    )
    w = (
        Window.partitionBy(one_window_partition())
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per.withColumn(
            "_cum", F.sum("revenue_cents").over(w).cast("decimal(38,0)")
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "decile",
            "n_custs",
            "revenue_cents",
            F.expr(
                "CAST(_cum * 1000000 DIV _tot AS BIGINT)"
            ).alias("cum_share_fp"),
            "gini_fp",
        )
        .orderBy("decile")
    )
