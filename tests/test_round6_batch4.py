"""Round-6 batch 4: time-constrained funnel, Pareto skyline, streaming
CDC snapshot maintenance."""

import os
import time

from pyspark.sql import functions as F


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts_s string, event_type string"
    ).select(
        "event_id",
        "user_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type",
    )


def test_funnel_within_rejects_late_steps(spark):
    """User 1 converts fully inside 30 min.  User 2's click lands 31
    min after the first view → chain broken at step 2 even though a
    purchase follows.  User 3 clicks in time but purchases past the
    anchor+30min deadline → reaches step 2 only."""
    from lab3_spark.operators.events import funnel_within

    rows = [
        (1, 1, "2024-01-01 10:00:00", "view"),
        (2, 1, "2024-01-01 10:05:00", "click"),
        (3, 1, "2024-01-01 10:10:00", "purchase"),
        (4, 2, "2024-01-01 10:00:00", "view"),
        (5, 2, "2024-01-01 10:31:00", "click"),
        (6, 2, "2024-01-01 10:32:00", "purchase"),
        (7, 3, "2024-01-01 10:00:00", "view"),
        (8, 3, "2024-01-01 10:29:00", "click"),
        (9, 3, "2024-01-01 10:35:00", "purchase"),
    ]
    got = {r.step: r.n_users for r in funnel_within(_ev(spark, rows)).collect()}
    assert got == {"view": 3, "view>click": 2, "view>click>purchase": 1}


def test_funnel_within_anchors_at_first_step1(spark):
    """The window anchors at the FIRST view: a later view does not
    re-open the clock (windowFunnel semantics)."""
    from lab3_spark.operators.events import funnel_within

    rows = [
        (1, 1, "2024-01-01 10:00:00", "view"),
        (2, 1, "2024-01-01 11:00:00", "view"),  # second view, ignored
        (3, 1, "2024-01-01 11:05:00", "click"),  # in window of view#2 only
    ]
    got = {r.step: r.n_users for r in funnel_within(_ev(spark, rows)).collect()}
    assert got == {"view": 1, "view>click": 0, "view>click>purchase": 0}


def test_skyline_frontier_hand_checked(spark):
    """Day-1 orders are never dominated; later orders survive iff they
    strictly beat every earlier DAY's max; same-day peers never
    dominate each other."""
    from lab3_spark.operators.relational import price_time_skyline

    orders = spark.createDataFrame(
        [
            (1, 100.0, "1995-01-01"),
            (2, 50.0, "1995-01-01"),  # day-1 peer: kept (nothing earlier)
            (3, 80.0, "1995-01-02"),  # < day-1 max 100 → dominated
            (4, 150.0, "1995-01-02"),  # new high → frontier
            (5, 150.0, "1995-01-03"),  # equals prior max → dominated
        ],
        "o_orderkey bigint, o_totalprice double, d string",
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.col("d").cast("timestamp").alias("o_orderdate"),
    )
    got = sorted(r.o_orderkey for r in price_time_skyline(orders).collect())
    assert got == [1, 2, 4]


def test_streaming_cdc_versions_match_batch_apply(spark, tmp_path):
    """Drain the 3-batch change log through the foreachBatch snapshot
    maintainer: the FINAL version equals the one-shot batch cdc_apply,
    and the intermediate version 0 is the insert-only snapshot."""
    from lab3_spark.operators.relational import cdc_apply, cdc_change_log
    from lab3_spark.streaming.cdc import latest_snapshot, start_cdc_apply
    from lab3_spark.streaming.store import read_version

    orders = spark.createDataFrame(
        [(k, float(k), "O") for k in range(1, 50)],
        "o_orderkey bigint, o_totalprice double, o_orderstatus string",
    )
    log = cdc_change_log(orders)

    flat = str(tmp_path / "incoming")
    os.makedirs(flat)
    now = time.time()
    for b, seq in enumerate([1, 2, 3]):
        part = str(tmp_path / f"part{b}")
        log.where(F.col("seq") == seq).coalesce(1).write.parquet(part)
        (pf,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = os.path.join(flat, f"{b:02d}.parquet")
        os.rename(os.path.join(part, pf), dst)
        os.utime(dst, (now + b * 10, now + b * 10))

    src = (
        spark.readStream.schema(
            "o_orderkey bigint, seq bigint, op string, "
            "price_cents bigint, o_orderstatus string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    store = str(tmp_path / "store")
    q = start_cdc_apply(src, store, str(tmp_path / "ckpt"))
    assert q.awaitTermination(300)

    expected = {
        r.o_orderkey: (r.last_op, r.price_cents, r.o_orderstatus, r.n_changes)
        for r in cdc_apply(log).collect()
    }
    got = {
        r.o_orderkey: (r.last_op, r.price_cents, r.o_orderstatus, r.n_changes)
        for r in latest_snapshot(spark, store).collect()
    }
    assert got == expected

    v0 = {r.o_orderkey: r.last_op for r in read_version(spark, store, 0).collect()}
    assert set(v0.values()) == {"I"} and len(v0) == 49


def test_streaming_cdc_replay_is_idempotent(spark, tmp_path):
    """Losing the checkpoint replays every batch against the SAME
    store: each replayed batch re-reads version N-1 (never its own
    output) and overwrites version N, so the final snapshot is
    unchanged — the exactly-once contract under at-least-once
    delivery."""
    import shutil

    from lab3_spark.operators.relational import cdc_change_log
    from lab3_spark.streaming.cdc import latest_snapshot, start_cdc_apply

    orders = spark.createDataFrame(
        [(k, float(k), "O") for k in range(1, 30)],
        "o_orderkey bigint, o_totalprice double, o_orderstatus string",
    )
    log = cdc_change_log(orders)
    flat = str(tmp_path / "incoming")
    os.makedirs(flat)
    now = time.time()
    for b, seq in enumerate([1, 2, 3]):
        part = str(tmp_path / f"part{b}")
        log.where(F.col("seq") == seq).coalesce(1).write.parquet(part)
        (pf,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        dst = os.path.join(flat, f"{b:02d}.parquet")
        os.rename(os.path.join(part, pf), dst)
        os.utime(dst, (now + b * 10, now + b * 10))

    def drain(ckpt: str):
        src = (
            spark.readStream.schema(
                "o_orderkey bigint, seq bigint, op string, "
                "price_cents bigint, o_orderstatus string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        )
        q = start_cdc_apply(src, str(tmp_path / "store"), ckpt)
        assert q.awaitTermination(300)

    drain(str(tmp_path / "ckpt1"))
    first = sorted(
        map(tuple, latest_snapshot(spark, str(tmp_path / "store")).collect())
    )
    shutil.rmtree(str(tmp_path / "ckpt1"))  # lose progress → full replay
    drain(str(tmp_path / "ckpt2"))
    replayed = sorted(
        map(tuple, latest_snapshot(spark, str(tmp_path / "store")).collect())
    )
    assert replayed == first


def test_cdc_apply_plan_is_window_free(spark, sf_dir):
    """The batch CDC apply claims ONE combinable aggregation, no
    window — pin it: the physical plan must contain no WindowExec (the
    oracle's row_number formulation is the oracle's business)."""
    from lab3_spark.plans.explain import formatted_plan
    from lab3_spark.queries_catalog import QUERIES

    plan = formatted_plan(QUERIES["orders_cdc_apply"](spark, sf_dir))
    assert "Window" not in plan
