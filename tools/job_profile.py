"""Per-gate Spark JOB breakdown via the UI REST API.

Runs each named gate once per pass (noop sink, warm session) and
prints every Spark job it launched: description, duration, task
count.  This is the measure-first tool for the action-floor work
(VERDICT r12 item 1: the rank machinery's ~2.4 s fixed cost is ~5
small jobs per call — this script is how we count them before and
after).

Usage: python tools/job_profile.py gate [gate ...] [--passes N]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lab3_spark.queries_catalog import QUERIES
from lab3_spark.session import get_spark
from lab3_spark.sources.tables import TABLES, load_table


def _jobs(base: str, app: str) -> list[dict]:
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/jobs?status=succeeded") as r:
        return json.load(r)


def main() -> None:
    args, passes = [], 2
    argv = iter(sys.argv[1:])
    for a in argv:
        if a == "--passes":
            passes = int(next(argv))
        elif a.startswith("--passes="):
            passes = int(a.split("=", 1)[1])
        elif not a.startswith("--"):
            args.append(a)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # the engine session disables the UI; this diagnostic needs it
    spark = get_spark("job_profile", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        try:
            load_table(spark, sf_dir, t).count()
        except Exception:
            pass
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    for name in args:
        for p in range(passes):
            before_ids = {j["jobId"] for j in _jobs(base, app)}
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            spark.sparkContext.setJobDescription(None)
            time.sleep(0.3)
            jobs = [
                j for j in _jobs(base, app) if j["jobId"] not in before_ids
            ]
            jobs.sort(key=lambda j: j["jobId"])
            print(f"\n=== {name} pass {p + 1}: {dt:.3f}s, {len(jobs)} jobs")
            for j in jobs:
                sub = j.get("submissionTime", "")
                comp = j.get("completionTime", "")
                dur = ""
                try:
                    from datetime import datetime

                    f = "%Y-%m-%dT%H:%M:%S.%f%Z"
                    d = (
                        datetime.strptime(comp[:23] + "GMT", f)
                        - datetime.strptime(sub[:23] + "GMT", f)
                    ).total_seconds()
                    dur = f"{d:7.3f}s"
                except Exception:
                    pass
                print(
                    f"  job {j['jobId']:>4} {dur} tasks={j['numTasks']:<5}"
                    f" {j.get('description', '')[:110]}"
                )
            # slow stages with names — the job rows alone cannot say
            # WHICH operator a 1-task straggler stage runs
            try:
                with urllib.request.urlopen(
                    f"{base}/api/v1/applications/{app}/stages?status=complete"
                ) as r:
                    stages = json.load(r)
                sids = {
                    s for j in jobs for s in j.get("stageIds", [])
                }
                for s in sorted(stages, key=lambda s: s["stageId"]):
                    if s["stageId"] not in sids:
                        continue
                    dur = (s.get("executorRunTime", 0)) / 1000.0
                    if dur >= 0.4:
                        print(
                            f"    stage {s['stageId']:>4} run={dur:6.2f}s"
                            f" tasks={s['numCompleteTasks']:<4}"
                            f" {s.get('name', '')[:100]}"
                        )
            except Exception as e:
                print(f"    (stage detail unavailable: {e})")


if __name__ == "__main__":
    main()
