"""SparkSession factory.

The reference sizes parallelism from ``MR_NUMTHREADS`` else all online
CPUs (phoenixLab/include/map_reduce.h:147-148); we mirror that with
``SPARK_GRAFT_CPUS`` else ``local[*]``.

Config choices (SURVEY.md §4):
- AQE on (runtime re-plan, skew-join handling, partition coalescing) —
  subsumes the reference's dynamic task sizing (map_reduce.h:223-224).
- shuffle.partitions sized to cores for local mode; at cluster scale this
  should be ~2-3x total cores or left to AQE coalescing.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow enabled for the few Pandas-UDF extension operators.
- PySpark's DataFrame debugging off: with it on (the PySpark 4
  default), every ``functions``/``Column`` call walks the Python stack
  and makes extra py4j round trips to record its call site, a fixed
  cost on every plan a query builds.  Errors keep their class and
  message; only the Python call-site annotation in their query context
  is gone.  It must be set here: PySpark reads the flag once per
  process, from the first active session.
- Generated-code cache sized to the engine's working set
  (``spark.sql.codegen.cache.maxEntries`` = 8192; Spark's default is
  100).  The reference compiles its map/combine/reduce once, as C++
  templates (map_reduce.h:46-48); the engine's equivalent is Janino
  compiling each whole-stage-codegen class, kept in an LRU cache keyed
  by the generated source.  One ``catalog_mix`` round needs about 154
  classes and one ``text_batch`` pass about 117, so at 100 entries the
  cache thrashed and a warm session recompiled about 147 classes per
  catalog round (and on executors too: tasks compile their stage's
  class).  The first call of every catalog gate at sf0.001 compiles
  4,696 distinct classes (about 3 KB of bytecode each); 8192 is the
  first power of two above that.  The cache holds code, never data or
  results, so no call is served from an earlier call; a warm session
  only stops paying Janino for code it already compiled.  It is a
  static SQL conf, read once per JVM when ``CodeGenerator`` builds its
  cache: the first session in the JVM fixes it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lab3_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Parallelism mirrors the reference's MR_NUMTHREADS (map_reduce.h:147):
    ``SPARK_GRAFT_CPUS`` env var wins, else ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_s) if cpus_s else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type — read as long, convert in the loader
        # (sources/tables.py) by truncating to micros like DuckDB does.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
