"""Local stand-in for the driver's correctness gate.

Runs every entry in __spark_entry__.queries() at a given sf_dir, runs
the matching oracle_sql() in DuckDB over the same parquet files, and
compares: row count, column names, and order-insensitive values (rows
sorted, columns sorted by name, floats rounded).

BOTH sides are materialized through pandas (Spark ``toPandas()``,
DuckDB ``.df()``) to reproduce the driver's comparison.  Round 2
proved ``fetchall()`` hides type artifacts the driver then hits:
DuckDB ``sum()`` over INTEGER returns HUGEINT, which pandas renders
as float64 ("81.0") while Spark's BIGINT renders as "81" — flipping
the value hash even though the numbers are identical.

Usage: python tools/verify_local.py [--bare] [sf_dir] [query ...]

--bare builds a PLAIN SparkSession (no lab3_spark confs — notably no
nanosAsLong) to reproduce the driver's environment; round 1 proved the
builder's own session can mask loader bugs the driver then hits.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from lab3_spark.functions.partitioning import cache_scope
from lab3_spark.session import get_spark
from lab3_spark.sources.tables import TABLES

ROUND = 6


def canon_value(v):
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if v is pd.NaT:
        return "NaN"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{round(v, ROUND):.{ROUND}f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def pandas_rows(df: "pd.DataFrame"):
    """Materialize a pandas frame the way the driver hashes it."""
    return [tuple(r) for r in df.itertuples(index=False, name=None)]


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def bare_spark():
    """A driver-like session: local master + shuffle partitions only,
    NONE of lab3_spark.session's confs.  Every query must succeed here —
    the correctness gate runs on a session we don't control."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    master = f"local[{cpus}]" if cpus else "local[*]"
    return (
        SparkSession.builder.appName("verify_bare")
        .master(master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    bare = "--bare" in argv
    if bare:
        argv.remove("--bare")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = bare_spark() if bare else get_spark("verify_local")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with cache_scope():
                spdf = fn(spark, sf_dir).toPandas()
            scols = list(spdf.columns)
            srows = pandas_rows(spdf)
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows-only check, {len(srows)} rows "
                  f"({spark_t:.1f}s) [no oracle]")
            continue
        try:
            t1 = time.time()
            odf = con.execute(oracles[name]).df()
            ocols = list(odf.columns)
            orows = pandas_rows(odf)
            duck_t = time.time() - t1
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            cs, co = canon_rows(scols, srows), canon_rows(ocols, orows)
            if cs != co:
                ndiff = sum(1 for a, b in zip(cs, co) if a != b)
                problems.append(f"values differ ({ndiff} of {len(cs)} rows)")
                for a, b in list(zip(cs, co))[:2000]:
                    if a != b:
                        problems.append(f"  spark={a!r}\n  duck ={b!r}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:3]))
            failures.append(name)
        else:
            print(f"PASS  {name}: {len(srows)} rows "
                  f"(spark {spark_t:.1f}s, duck {duck_t:.2f}s)")

    print()
    total = len([n for n in queries if not only or n in only])
    print(f"{total - len(failures)}/{total} passed")
    if failures:
        print("FAILED:", sorted(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
