"""The on-disk layouts of the foreachBatch stores, and their start.

Two layouts, both written with overwrite so a replayed batch replaces
its own output (exactly-once per ``(batch_id, data)``):

- **Versioned tables** ``{table}/version=N``: batch N reads version
  N-1 of every table it builds on (:func:`read_prior`) and writes
  version N (:func:`write_version`); readers serve the highest version
  (:func:`read_version`).  A batch N > 0 whose prior is missing means
  the store lost state its checkpoint says was applied (a partial or
  full wipe under a kept checkpoint), so it refuses instead of writing
  a version that would pass for the whole stream.  Batch 0 has no
  prior, so a full replay from a fresh checkpoint stays legal.
- **Append stores** ``{store}/batch_id=N``: each batch writes its own
  partition (:func:`write_batch`); readers merge every partition, or
  those before a batch (:func:`read_batches`), which refuses the same
  way when one of them is missing.

Listings use Hadoop's FileSystem API, so any path ``spark.read.parquet``
accepts (hdfs://, s3a://) resolves as the read that follows does."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from lab3_spark.functions.partitioning import cache_scope


def start(
    stream: DataFrame, process: Callable[[DataFrame, int], None], checkpoint: str
) -> StreamingQuery:
    """Run ``process(batch_df, batch_id)`` on every micro-batch, each in
    its own :func:`cache_scope`, until the source is drained
    (availableNow)."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        with cache_scope():
            process(batch_df, batch_id)

    return (
        stream.writeStream.foreachBatch(run)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _ids(spark: SparkSession, path: str, key: str) -> list[int]:
    """Sorted N of the ``{key}=N`` directories under ``path``; [] when
    ``path`` does not exist."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    names = [st.getPath().getName() for st in fs.listStatus(hpath)]
    return sorted(int(n.split("=", 1)[1]) for n in names if n.startswith(f"{key}="))


def latest_version(spark: SparkSession, table: str, what: str = "table") -> int:
    versions = _ids(spark, table, "version")
    if not versions:
        raise FileNotFoundError(f"no {what} versions under {table}")
    return versions[-1]


def read_version(
    spark: SparkSession, table: str, version: int | None = None, what: str = "table"
) -> DataFrame:
    """Version ``version`` of ``table``, the highest one by default."""
    if version is None:
        version = latest_version(spark, table, what)
    elif version not in _ids(spark, table, "version"):
        raise FileNotFoundError(f"no {what} version={version} under {table}")
    return spark.read.parquet(f"{table}/version={version}")


def read_prior(
    spark: SparkSession, tables: list[str], batch_id: int, what: str
) -> list[DataFrame] | None:
    """Version ``batch_id - 1`` of every table in ``tables``; None for
    batch 0.  Refuses when any of them is missing."""
    if batch_id == 0:
        return None
    held = {t: _ids(spark, t, "version") for t in tables}
    missing = [t for t in tables if batch_id - 1 not in held[t]]
    if missing:
        raise RuntimeError(
            f"{what} store is missing version={batch_id - 1} of {missing} "
            f"(versions held: {held}) expected by incoming batch_id="
            f"{batch_id}; refusing to build on lost prior state — start "
            "over with a fresh checkpoint (full replay) or restore the store"
        )
    return [spark.read.parquet(f"{t}/version={batch_id - 1}") for t in tables]


def write_version(df: DataFrame, table: str, version: int) -> None:
    df.write.mode("overwrite").parquet(f"{table}/version={version}")


def write_batch(df: DataFrame, store: str, batch_id: int) -> None:
    df.write.mode("overwrite").parquet(f"{store}/batch_id={batch_id}")


def read_batches(
    spark: SparkSession, store: str, before: int | None = None
) -> DataFrame | None:
    """Every ``batch_id=N`` partition of ``store``, with ``batch_id`` as
    a column; raises FileNotFoundError when there is none.

    With ``before`` given, the prior state of incoming batch ``before``:
    partitions N < ``before``, or None for batch 0 (no prior).  Every
    one of 0..before-1 must be present — a missing one means the store
    lost batches its checkpoint says were applied, so it refuses rather
    than let the batch build on a partial history."""
    if before == 0:
        return None
    ids = _ids(spark, store, "batch_id")
    missing = [] if before is None else sorted(set(range(before)) - set(ids))
    if missing:
        raise RuntimeError(
            f"store {store} is missing {len(missing)} of batch_id=0.."
            f"{before - 1} (first: {missing[0]}) expected by incoming "
            f"batch_id={before}; refusing to build on lost prior state — "
            "start over with a fresh checkpoint (full replay) or restore "
            "the store"
        )
    if not ids:
        raise FileNotFoundError(f"no batches under {store}")
    df = spark.read.option("basePath", store).parquet(f"{store}/batch_id=*")
    return df if before is None else df.where(F.col("batch_id") < before)
