"""Declared table schemas: pinned to what inference reads, read both
event-time encodings identically, and let catalog queries build with
no Spark job."""

import glob
import os
import sys
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import _parse_datatype_string

from lab3_spark.sources.tables import TABLES, load_table, table_schema

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
if PERFBENCH not in sys.path:
    sys.path.insert(0, PERFBENCH)

import gen  # noqa: E402  (perfbench's seeded table generator)
import workloads  # noqa: E402


def _declared(spark, sf_dir, name):
    s = table_schema(spark, sf_dir, name)
    return _parse_datatype_string(s) if isinstance(s, str) else s


def _assert_pinned(spark, sf_dir):
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert _declared(spark, sf_dir, name) == spark.read.parquet(path).schema, (sf_dir, name)


def test_declared_schemas_match_inference_on_testdata(spark, sf_dir):
    dirs = sorted(d for d in glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*"))
                  if os.path.isfile(os.path.join(d, "events.parquet")))
    if not dirs:
        pytest.skip("no scale-factor test data")
    for d in dirs:
        _assert_pinned(spark, d)


@pytest.mark.parametrize("seed", [1, 2])
def test_declared_schemas_match_inference_on_generated_tables(spark, tmp_path, seed):
    gen.gen_catalog(seed, str(tmp_path))
    _assert_pinned(spark, str(tmp_path))


def _nanos_copy(sf_dir, dst) -> str:
    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, os.path.join(dst, "events.parquet"))
    return str(dst)


def test_events_micros_and_nanos_read_identically(spark, sf_dir, tmp_path):
    nanos_dir = _nanos_copy(sf_dir, tmp_path)
    assert pq.read_schema(os.path.join(nanos_dir, "events.parquet")).field("ts").type == pa.timestamp("ns")
    micros = load_table(spark, sf_dir, "events")
    nanos = load_table(spark, nanos_dir, "events")
    assert dict(micros.dtypes)["ts"] == dict(nanos.dtypes)["ts"] == "timestamp"
    want = [tuple(r) for r in micros.select("event_id", "ts").orderBy("event_id").collect()]
    got = [tuple(r) for r in nanos.select("event_id", "ts").orderBy("event_id").collect()]
    assert len(want) > 0 and got == want


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs `fn()` ran, counted in its own job group."""
    sc = spark.sparkContext
    group = f"zero-job-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_counter_sees_a_job(spark, sf_dir):
    assert _jobs_run_by(spark, lambda: spark.read.parquet(os.path.join(sf_dir, "region.parquet"))) >= 1


def test_load_table_runs_no_job(spark, sf_dir, tmp_path):
    for name in TABLES:
        assert _jobs_run_by(spark, lambda: load_table(spark, sf_dir, name)) == 0, name
    nanos_dir = _nanos_copy(sf_dir, tmp_path)
    assert _jobs_run_by(spark, lambda: load_table(spark, nanos_dir, "events")) == 0


def test_catalog_mix_queries_build_with_no_job(spark, sf_dir):
    from lab3_spark.queries_catalog import QUERIES

    for name in workloads.CATALOG_QUERIES:
        assert _jobs_run_by(spark, lambda: QUERIES[name](spark, sf_dir)) == 0, name


def test_session_turns_dataframe_debugging_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
