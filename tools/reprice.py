"""Strictly interleaved quiet-host repricing of flagged bench gates.

The driver's BENCH_rN.json timings move with host steal; VERDICT asks
per round whether a mover is a plan change or noise.  Protocol (the
round-10 `corpus_ngram_novelty` reprice, now reusable): ONE warm
session, N interleaved rounds over the flagged gates (gate order
rotates within a round is unnecessary — interleaving across rounds
already decorrelates steal bursts), noop sink; every call computes
from its input, as in bench.py's passes.  Prints per-gate min + all samples as one JSON line.

Usage: python tools/reprice.py gate [gate ...] [--passes N]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lab3_spark.queries_catalog import QUERIES
from lab3_spark.session import get_spark
from lab3_spark.sources.tables import TABLES, load_table


def parse_args(argv: list[str]) -> tuple[int, list[str]]:
    """(passes, gate_names) from CLI argv — accepts both '--passes=N'
    and '--passes N' (ADVICE r11); malformed forms exit with usage
    instead of a traceback."""
    passes = 5
    rest: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--passes"):
            if "=" in a:
                raw = a.split("=", 1)[1]
            else:
                i += 1
                raw = argv[i] if i < len(argv) else ""
            if not raw.isdigit():
                raise SystemExit(
                    "usage: reprice.py [--passes N | --passes=N] gate..."
                )
            passes = int(raw)
        elif not a.startswith("--"):
            rest.append(a)
        i += 1
    return passes, rest


def main() -> None:
    passes, args = parse_args(sys.argv[1:])
    unknown = [g for g in args if g not in QUERIES]
    if unknown or not args:
        raise SystemExit(f"unknown/missing gates: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("lab3_spark_reprice")
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass
    samples: dict[str, list[float]] = {g: [] for g in args}
    for rnd in range(passes):
        for g in args:
            t0 = time.time()
            QUERIES[g](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = round(time.time() - t0, 3)
            samples[g].append(dt)
            print(f"[round {rnd + 1}] {g}: {dt:.3f}s", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "reprice",
                "sf_dir": sf_dir,
                "passes": passes,
                "min": {g: min(s) for g, s in samples.items()},
                "samples": samples,
            }
        )
    )


if __name__ == "__main__":
    main()
