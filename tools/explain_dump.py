"""Dump .explain("formatted") for named catalog queries to plans/r13/.

Usage: python tools/explain_dump.py [--warm] <suffix> <query> [query ...]

Writes plans/r13/<query>_<suffix>.txt (suffix = "before" / "after").
Also prints a one-line plan-shape summary per query (#Exchange,
join strategies, Python-eval nodes) so plan diffs are greppable.

--warm executes each query once (noop sink) BEFORE re-constructing and
dumping its plan, so one-time work (parquet footers, bucketed-table
registration) is done first.  It does not change the plan: the warm
run and the dump each run in their own
``functions.partitioning.cache_scope()``, which frees every frame the
call cached when it exits, so no call reuses a frame an earlier call
cached and every dump shows the plan each call runs — caches built
during construction (iterative operators' loops) appear materialized,
the rest as InMemoryRelations built in the call.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lab3_spark.functions.partitioning import cache_scope
from lab3_spark.queries_catalog import QUERIES
from lab3_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    warm = False
    if args and args[0] == "--warm":
        warm = True
        args = args[1:]
    suffix = args[0]
    names = args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("lab3_spark_explain")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        if warm:
            with cache_scope():
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
        with cache_scope():
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_exch = len(re.findall(r"\bExchange\b", plan))
        joins = sorted(set(re.findall(r"(\w*Join\w*)", plan)))
        py = sorted(set(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)", plan)))
        print(f"{name}: Exchange={n_exch} joins={joins} python={py} -> {path}")


if __name__ == "__main__":
    main()
