"""Interactive verify loop for a persistent tmux session.

Usage (inside `python -i tools/repl_verify.py`):
    v("word_count", "q1_pricing")   # verify named queries at sf0.01
    v()                             # verify all
Reloads lab3_spark + __spark_entry__ on every call so edits are
picked up without restarting the JVM.
"""

import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from lab3_spark.session import get_spark
from lab3_spark.sources.tables import TABLES

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
spark = get_spark("repl_verify")
con = duckdb.connect()
for t in TABLES:
    p = os.path.join(SF, f"{t}.parquet")
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def _reload():
    import lab3_spark

    names = sorted(
        [m for m in sys.modules if m.startswith("lab3_spark")],
        key=lambda m: m.count("."),
    )
    for m in names:
        importlib.reload(sys.modules[m])
    if "__spark_entry__" in sys.modules:
        importlib.reload(sys.modules["__spark_entry__"])
    else:
        import __spark_entry__  # noqa


def v(*names, sf=None):
    from tools import verify_local as VL

    importlib.reload(VL)
    _reload()
    import __spark_entry__ as em
    from lab3_spark.functions.partitioning import cache_scope

    queries, oracles = em.queries(), em.oracle_sql()
    sel = names or list(queries)
    fails = []
    for name in sel:
        if name not in queries:
            print(f"??    {name}: not registered")
            continue
        try:
            with cache_scope():
                sdf = queries[name](spark, sf or SF)
                scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark: {type(e).__name__}: {str(e)[:300]}")
            fails.append(name)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only, {len(srows)} rows")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb: {str(e)[:300]}")
            fails.append(name)
            continue
        probs = []
        if sorted(scols) != sorted(ocols):
            probs.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        elif len(srows) != len(orows):
            probs.append(f"rows {len(srows)} vs {len(orows)}")
        else:
            cs = VL.canon_rows(scols, srows)
            co = VL.canon_rows(ocols, orows)
            if cs != co:
                nd = sum(1 for a, b in zip(cs, co) if a != b)
                probs.append(f"{nd}/{len(cs)} rows differ")
                for a, b in zip(cs, co):
                    if a != b:
                        probs.append(f"S={a!r} D={b!r}")
                        break
        if probs:
            print(f"FAIL  {name}: " + " | ".join(probs))
            fails.append(name)
        else:
            print(f"PASS  {name}: {len(srows)} rows")
    print(("ALL PASS" if not fails else f"FAILED: {fails}") + f"  ({len(sel)} run)")


print("ready: v('query_name', ...) at", SF)
