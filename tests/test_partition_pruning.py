"""Storage layouts must change plans, never results.

- A date-partitioned layout must turn a date predicate into DIRECTORY
  pruning — the scan's PartitionFilters — not a full-table scan.  At
  100 TB this is the difference between reading one day's directory
  and listing three years of files; the layout is written by
  sinks.write_parquet(..., partition_by=["event_date"]).
- The bucketed fact tables (sources/layout.py) are written from the
  input on every call: two data directories with the same basename
  must each get their own rows back.
"""

import os
import re
import sys

import duckdb
from pyspark.sql import functions as F

from lab3_spark.plans.explain import formatted_plan
from lab3_spark.sinks import write_parquet
from lab3_spark.sources.tables import load_table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _d in ("perfbench", "tools"):
    if os.path.join(ROOT, _d) not in sys.path:
        sys.path.insert(0, os.path.join(ROOT, _d))

import gen  # noqa: E402  (perfbench's seeded table generator)
from verify_local import canon_rows, pandas_rows  # noqa: E402


def _events_by_date(spark, sf_dir, out):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    write_parquet(ev, out, partition_by=["event_date"])
    return spark.read.parquet(out)


def test_date_predicate_becomes_partition_filter(spark, sf_dir, tmp_path):
    ev = _events_by_date(spark, sf_dir, str(tmp_path / "events_by_date"))

    one_day = ev.where(F.col("event_date") == "2024-01-03").groupBy("event_type").count()
    plan = formatted_plan(one_day)
    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "event_date" in m.group(1), plan
    # the predicate must NOT appear as a post-scan Filter on data rows
    # (pruning happens at file listing, before any IO)
    data_filters = re.findall(r"PushedFilters: \[(.*?)\]", plan)
    assert all("event_date" not in f for f in data_filters), plan


def test_partitioned_layout_preserves_results(spark, sf_dir, tmp_path):
    ev = _events_by_date(spark, sf_dir, str(tmp_path / "events_by_date2"))

    flat = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    day = (
        flat.select(F.max("event_date").alias("d")).first()["d"]
    )
    got = sorted(
        map(
            tuple,
            ev.where(F.col("event_date") == F.lit(day))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            flat.where(F.col("event_date") == F.lit(day))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .collect(),
        )
    )
    assert got == want and got


def test_bucketed_fact_join_reads_its_own_input(spark, tmp_path):
    """Two generated catalogs whose directories share a basename, one
    session: each bucketed_fact_join result must hash-match the DuckDB
    oracle over its own tables."""
    from lab3_spark.queries_catalog import ORACLES, QUERIES

    results = []
    for seed, parent in ((11, "a"), (12, "b")):
        cat = str(tmp_path / parent / "cat")
        os.makedirs(cat)
        gen.gen_catalog(seed, cat)
        got = QUERIES["bucketed_fact_join"](spark, cat).toPandas()
        con = duckdb.connect()
        for t in ("orders", "lineitem"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(cat, t + '.parquet')}')"
            )
        want = con.execute(ORACLES["bucketed_fact_join"]).df()
        got_rows = canon_rows(list(got.columns), pandas_rows(got))
        assert got_rows == canon_rows(list(want.columns), pandas_rows(want)), seed
        results.append(got_rows)
    assert results[0] != results[1]
