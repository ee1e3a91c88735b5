"""Parquet table catalog for the driver-generated testdata star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under a
scale-factor directory.

Reading parquet gets us columnar vectorized scans, predicate pushdown,
and column pruning for free (SURVEY.md §4) — the Spark-native answer to
the reference's whole-file pread (wordCount.cpp:116-133).

Every table is read with a declared schema (:data:`SCHEMAS`): schema
inference (``spark.read.parquet`` without one) runs a Spark job per
table per load to read the file footer, which at catalog sizes was most
of a query's build time.  ``tests/test_table_schemas.py`` pins each
declared schema to what inference returns on every data source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Each table's columns as Spark infers them from the parquet files
# (TESTDATA.md and perfbench/gen.py write the same types).
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
_TZ_CONF = "spark.sql.session.timeZone"


def ensure_nanos_as_long(spark: SparkSession) -> None:
    """Set the runtime SQL conf that lets Spark read TIMESTAMP(NANOS)
    parquet columns as bigint.

    It's a *runtime* conf (not builder-only), so it works on ANY
    SparkSession — including ones constructed outside our session
    factory.  Without it, reading a TIMESTAMP(NANOS) events.parquet
    throws ``PARQUET_TYPE_ILLEGAL: INT64 (TIMESTAMP(NANOS,false))``.
    Only nano-timestamp columns are affected; all other tables read
    identically with or without it."""
    spark.conf.set(_NANOS_CONF, "true")


def ensure_session_defaults(spark: SparkSession) -> None:
    """Runtime confs every catalog query depends on, applied to ANY
    session (round-1 lesson: the correctness gate runs on a session we
    didn't build).

    - UTC session timezone: `date_format` renders timestamps in the
      session TZ; the DuckDB oracle's timestamps are TZ-less.  A
      non-UTC session would shift every formatted timestamp string.
    - nanosAsLong: see :func:`ensure_nanos_as_long`."""
    spark.conf.set(_TZ_CONF, "UTC")
    ensure_nanos_as_long(spark)


def _table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _event_ts_type(path: str) -> str | None:
    """The Spark type ``events.ts`` reads as, from the file's parquet
    footer, read in this Python process (no Spark job).

    The generator has shipped ts both as TIMESTAMP(MICROS), which Spark
    reads as timestamp_ntz, and as TIMESTAMP(NANOS), which nanosAsLong
    reads as bigint nanos.  No one declared type reads both: declaring
    timestamp_ntz fails on a NANOS file only when the scan runs, and
    bigint returns raw micros or raw nanos with nothing to tell them
    apart.  None (infer) when the path is not a local file or ts has
    any other encoding."""
    if not os.path.isfile(path):
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        ts = pq.read_schema(path).field("ts").type
    except (OSError, KeyError, ValueError):
        return None
    if ts == pa.timestamp("us"):
        return "timestamp_ntz"
    if ts == pa.timestamp("ns"):
        return "bigint"
    return None


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> str | StructType:
    """The schema :func:`load_table` reads `name` with: the declared
    one, with events' ts typed after its encoding.  Falls back to
    inference (one Spark job) only for an events file whose ts encoding
    cannot be read in this Python process."""
    if name != "events":
        return SCHEMAS[name]
    path = _table_path(sf_dir, name)
    ts = _event_ts_type(path)
    if ts is None:
        return spark.read.parquet(path).schema
    return SCHEMAS[name].replace("ts timestamp_ntz", f"ts {ts}")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table with its declared schema (no Spark job), with
    events' ts normalized to TIMESTAMP (:func:`normalize_event_time`).

    Self-sufficient on any session: sets the runtime confs it needs
    itself (:func:`ensure_session_defaults`)."""
    ensure_session_defaults(spark)
    df = spark.read.schema(table_schema(spark, sf_dir, name)).parquet(_table_path(sf_dir, name))
    if name == "events":
        df = normalize_event_time(df)
    return df


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP regardless of how the
    parquet file encoded it — the testdata generator has shipped both:

    - TIMESTAMP(NANOS): read as bigint under nanosAsLong; truncate to
      micros with integer `div` (nano epochs ~1.7e18 exceed double's
      exact-integer range, float division would lose microseconds).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): read as TIMESTAMP_NTZ in
      Spark 4, which `unix_micros` and watermarks reject.  With the
      session TZ pinned to UTC the cast reinterprets the naive instant
      as UTC — zero shift — so the whole catalog (windows, date_format,
      unix_micros) sees one TIMESTAMP type either way.

    Works on batch and streaming frames alike (pure column expressions)."""
    t = dict(df.dtypes).get(col)
    if t == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif t == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load the star-schema parquet tables from `sf_dir`."""
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load and register the tables as temp views (for ``spark.sql``)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
