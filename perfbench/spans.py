"""Spans kept in memory, and Spark's own per-operation stage metrics.

A span is (name, start, end, parent, op).  Spans are recorded by the
benchmark around its calls into the engine's public API; nothing inside
the engine is instrumented.  The span list is written out once, when the
run ends.

Stage metrics come from the Spark UI's REST API on localhost, which the
engine's session disables by default; only the traced run enables it.
Every operation runs under its own job group, so its jobs, stages and
tasks can be picked out afterwards.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from datetime import datetime, timezone


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the block; the record is kept only when tracing is on,
        but the duration is always available as the yielded dict's
        ``dur`` after the block."""
        rec = {"name": name, "op": op, "parent": self._stack[-1] if self._stack else None}
        rec["start"] = time.perf_counter()
        if self.enabled:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, sort_keys=True)


def _ts(s: str | None) -> float | None:
    """UI REST timestamps look like 2026-01-01T00:00:00.123GMT."""
    if not s:
        return None
    return (
        datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class SparkStages:
    """Per-operation totals of the stages run under one job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    @contextlib.contextmanager
    def op(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def metrics(self, group: str, wall: tuple[float, float]) -> dict:
        """The spark.* metrics of every job in `group`; `wall` is the
        operation's (start, end) in epoch seconds."""
        jobs: list[dict] = []
        for _ in range(50):  # the UI store is fed asynchronously
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs):
                break
            time.sleep(0.1)
        stage_ids = sorted({s for j in jobs for s in j.get("stageIds", [])})
        out = dict.fromkeys(
            ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
             "shuffle_records", "spill_bytes", "input_bytes"), 0.0
        )
        out["jobs"] = len(jobs)
        out["stages"] = 0
        out["tasks"] = 0
        intervals = []
        longest = None
        for sid in stage_ids:
            for st in self._get(f"/stages/{sid}"):
                if st.get("status") == "SKIPPED" or not st.get("numCompleteTasks"):
                    continue
                out["stages"] += 1
                out["tasks"] += st["numCompleteTasks"] + st.get("numFailedTasks", 0)
                out["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
                out["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                out["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                out["shuffle_records"] += st.get("shuffleWriteRecords", 0)
                out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                out["input_bytes"] += st.get("inputBytes", 0)
                a, b = _ts(st.get("submissionTime")), _ts(st.get("completionTime"))
                if a is not None and b is not None:
                    intervals.append((a, b))
                    if longest is None or b - a > longest[0]:
                        longest = (b - a, sid, st["attemptId"])
        op_len = wall[1] - wall[0]
        clipped = [(max(a, wall[0]), min(b, wall[1])) for a, b in intervals]
        out["driver_gap_s"] = op_len - _union_len([c for c in clipped if c[1] > c[0]])
        out["task_skew"] = 1.0
        if longest is not None:
            q = self._get(f"/stages/{longest[1]}/{longest[2]}/taskSummary?quantiles=0.5,1.0")
            med, mx = q["duration"]
            out["task_skew"] = mx / med if med > 0 else 1.0
        return out

