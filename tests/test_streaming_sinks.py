"""Per-batch stores written by foreachBatch: replaying a batch (an
overwrite of its own ``batch_id=N`` partition) changes nothing."""

from pyspark.sql import functions as F


def test_bitmap_store_replay_idempotent(spark, tmp_path):
    """Re-writing a batch partition (foreachBatch replay after a crash)
    must not change the merged presence or the derived bitmap."""
    from lab3_spark.operators.events import activity_bitmap_from_presence
    from lab3_spark.streaming.bitmap import merged_presence

    store = str(tmp_path / "store")
    b0 = spark.createDataFrame(
        [(1, "2024-01-01"), (1, "2024-01-02"), (2, "2024-01-06")],
        "user_id long, dt string",
    ).select("user_id", F.col("dt").cast("date"))
    b1 = spark.createDataFrame(
        [(1, "2024-01-02"), (2, "2024-01-07")], "user_id long, dt string"
    ).select("user_id", F.col("dt").cast("date"))
    b0.write.mode("overwrite").parquet(f"{store}/batch_id=0")
    b1.write.mode("overwrite").parquet(f"{store}/batch_id=1")
    before = sorted(
        tuple(r) for r in activity_bitmap_from_presence(
            merged_presence(spark, store)
        ).collect()
    )
    # replay batch 1 (idempotent overwrite) and merge again
    b1.write.mode("overwrite").parquet(f"{store}/batch_id=1")
    after = sorted(
        tuple(r) for r in activity_bitmap_from_presence(
            merged_presence(spark, store)
        ).collect()
    )
    assert before == after
    # hand-check: both users have 2 active days; only user 2
    # (Sat 01-06 + Sun 01-07) is weekend-only
    got = {r[0]: (r[1], r[2]) for r in before}
    assert got == {2: (2, 1)}
