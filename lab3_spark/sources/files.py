"""JSON / parquet file sources with EXPLICIT schemas.

Engine convention (SURVEY.md §1.3): always declare schemas, never
infer — inference costs an extra full pass at scale and can flip types
between runs; declared schemas keep golden outputs deterministic and
let malformed rows be quarantined instead of poisoning a type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """JSON-lines with declared schema (no sampling inference pass)."""
    return spark.read.schema(schema).json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet — schema from the file footer (self-describing)."""
    return spark.read.parquet(path)
