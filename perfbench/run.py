"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, sets up the engine
several times (the median is ``setup_s``), runs one untimed warm-up
pass, then measures whole passes of the workload's operation for about
``--seconds`` seconds, checking every output.  The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones).  Lines before it print every figure with its unit.

Everything the run writes goes under ``.perfbench_work/`` at the root
of the checkout; the per-run directory is removed at exit and a traced
run leaves its span file in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SETUP_REPS = 5

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("ops_s", "1/s"),
)

PER_LAYER = (
    ("session.start_s", "s"),
    ("session.peak_rss_mb", "MB"),
    ("sources.read_text_lines_s", "s"),
    ("sources.lines", "count"),
    ("functions.tokenize_s", "s"),
    ("functions.tokens", "count"),
    ("operators.wordcount.agg_s", "s"),
    ("operators.wordcount.combine_ratio", "ratio"),
    ("operators.topk_s", "s"),
    ("operators.inverted_index_s", "s"),
    ("operators.inverted_index.pairs", "count"),
    ("sinks.render_collect_s", "s"),
    ("sinks.collect_rows", "count"),
    ("operators.dedup.exact_s", "s"),
    ("operators.dedup.signatures_s", "s"),
    ("operators.dedup.candidates_s", "s"),
    ("operators.dedup.candidate_pairs", "count"),
    ("operators.dedup.candidate_precision", "ratio"),
    ("sinks.write_parquet_s", "s"),
    ("sinks.bytes_written", "bytes"),
    ("queries_catalog.build_s", "s"),
    ("queries_catalog.exec_s", "s"),
    ("partitioning.memo_hits", "count"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_records", "count"),
    ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("spark.driver_gap_s", "s"),
    ("spark.task_skew", "ratio"),
    ("trace.overhead_s", "s"),
)


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:6.1f} s] {msg}", file=sys.stderr, flush=True)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def set_child_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    process the JVM starts stays findable (and waitable) after the JVM
    has ended."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, zombies included, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def reap() -> None:
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop the Spark session and its JVM, then wait until every process
    this run started has ended.  PySpark's JVM only exits when it reads
    EOF on its stdin, which otherwise happens when this process exits,
    so the JVM (and the Python workers it forked) would outlive the run.
    A SIGTERM arriving meanwhile is ignored: the teardown is bounded."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    if SparkContext is not None:
        if SparkContext._active_spark_context is not None:
            with contextlib.suppress(Exception):
                SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            with contextlib.suppress(Exception):
                gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        reap()
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            if sig is None:
                raise RuntimeError(f"processes {left} did not end")
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            sig = signal.SIGKILL if sig == signal.SIGTERM else None
            deadline = time.monotonic() + 10.0
        time.sleep(0.05)


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


class Runner:
    def __init__(self, args, run_dir: str) -> None:
        import spans
        import workloads

        self.args = args
        self.tracer = spans.Tracer(enabled=bool(args.trace))
        self.inputs = os.path.join(run_dir, "inputs")
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        t0 = time.perf_counter()
        gen_out = subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), args.workload, str(args.seed), self.inputs],
            check=True, stdout=subprocess.PIPE, text=True,
        ).stdout
        self.gen_s = time.perf_counter() - t0
        self.meta = json.loads(gen_out.strip().splitlines()[-1])
        self.w = workloads.WORKLOADS[args.workload](self.inputs, work, self.meta, args.seed)
        self.conf = {
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.records: list[dict] = []
        self.problems: list[str] = []
        self.stages = None

    # ---------------------------------------------------------- session

    def session(self, ui: bool = False):
        from lab3_spark.session import get_spark

        conf = dict(self.conf)
        if ui:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
            })
        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # -------------------------------------------------------------- ops

    def run_op(self, spark, name: str, phase: str) -> dict:
        """One operation, timed; its output is checked after the clock
        stops (warm-up outputs come from the warm-up input and are not)."""
        from lab3_spark.functions.partitioning import (
            memo_result_hit_count,
            memo_result_invalidate,
        )

        op_id = f"{phase}-{len(self.records)}"
        # cache hygiene: no result memo or cached frame survives an operation
        memo_result_invalidate("")
        spark.catalog.clearCache()
        hits0 = memo_result_hit_count()
        rec = {"name": name, "op": op_id, "phase": phase, "ok": False}
        self.records.append(rec)
        span = lambda n: self.tracer.span(n, op=op_id)  # noqa: E731
        group = self.stages.op(op_id) if self.stages else contextlib.nullcontext()
        try:
            wall0 = time.time()
            with group, self.tracer.span(name, op=op_id) as sp:
                out = self.w.op(spark, name, span)
            wall1 = time.time()
            rec["dur"] = sp["dur"]
            rec["memo_hits"] = memo_result_hit_count() - hits0
            problems = self.w.check(name, out) if phase != "warmup" else []
            rec.update({k: v for k, v in out.items() if isinstance(v, (int, float, str))})
            if self.stages is not None:
                rec["spark"] = self.stages.metrics(op_id, (wall0, wall1))
            rec["ok"] = not problems
            self.problems += problems
        except Exception:
            log(f"operation {op_id} ({name}) failed:\n{traceback.format_exc()}")
            self.problems.append(f"{op_id} ({name}) raised")
        return rec

    def run_passes(self, spark, phase: str, n_passes: int) -> list[dict]:
        out = []
        for p in range(n_passes):
            for name in self.w.pass_ops(p):
                out.append(self.run_op(spark, name, phase))
        return out

    def n_passes(self) -> int:
        """Whole passes filling about --seconds at the workload's nominal
        pace; a fixed count for a given --seconds, so every run measures
        the same passes however loaded the host is."""
        return max(1, round(self.args.seconds / self.w.pass_s))

    def warm_up(self, spark, passes: int, full_passes: int = 0) -> None:
        """`passes` unchecked passes over the smaller warm-up input, then
        `full_passes` over the measured one."""
        self.w.prepare(spark, warm=True)
        self.run_passes(spark, "warmup", passes)
        self.w.prepare(spark)
        self.run_passes(spark, "warmup", full_passes)

    # -------------------------------------------------------------- run

    def run(self) -> dict:
        args = self.args
        with self.tracer.span("session.start") as s0:
            spark = self.session()
        # the first passes pay the JVM's JIT: warm up on the smaller
        # warm-up input (where the workload has one) and, where the
        # workload asks, on the measured input, then measure in the same
        # session
        self.warm_up(spark, self.w.warmup_passes, self.w.warmup_full_passes)
        log(f"generated in {self.gen_s:.2f} s, JVM and session {s0['dur']:.2f} s, "
            f"warm-up {sum(r.get('dur', 0) for r in self.records):.2f} s")
        measured = [r for r in self.run_passes(spark, "measure", self.n_passes()) if "dur" in r]
        if not measured:
            raise RuntimeError("no operation completed")
        log(f"measured {len(measured)} operations in {sum(r['dur'] for r in measured):.2f} s: "
            f"{[round(r['dur'], 3) for r in measured]}")
        # set-up of a fresh session in the warm JVM: session plus opening
        # the inputs; stopping the previous session is not counted
        setup = []
        for _ in range(SETUP_REPS):
            spark.stop()
            with self.tracer.span("setup") as s:
                spark = self.session()
                self.w.prepare(spark)
            setup.append(s["dur"])
        log(f"set-up {[round(x, 3) for x in setup]}")
        figures = {
            "setup_s": statistics.median(setup),
            "op_p50_s": statistics.median(r["dur"] for r in measured),
            "ops_s": len(measured) / sum(r["dur"] for r in measured),
        }
        layers = {}
        if args.trace:
            spark.stop()
            spark = self.session(ui=True)
            self.warm_up(spark, 1)  # the JVM is warm: one pass for the new session
            import spans

            self.stages = spans.SparkStages(spark)
            traced = [r for r in self.run_passes(spark, "traced", self.n_passes()) if "dur" in r]
            self.stages = None
            layers = self.layer_metrics(spark, traced, figures["op_p50_s"])
            layers["session.start_s"] = s0["dur"]
        self.problems += self.w.final_checks(spark, self.records)
        log("final checks done")
        figures["peak_rss_mb"] = peak_rss_mb(spark)
        layers["session.peak_rss_mb"] = figures["peak_rss_mb"]
        summary = self.w.summary(measured)
        spark.stop()
        log("session stopped")

        attempted = len(self.records)
        failed = sum(not r["ok"] for r in self.records)
        if self.problems and not failed:
            failed = 1  # a run-level check failed without naming an operation
        self.print_summary(figures, summary, layers, measured, attempted, failed)
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
            path = os.path.join(
                ROOT, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}.json"
            )
            self.tracer.write(path, {"workload": args.workload, "seed": args.seed,
                                     "records": self.records, "layers": layers})
            log(f"spans written to {path}")
        if args.trace:
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        else:
            metrics = {n: {"value": float(figures[n]), "unit": u} for n, u in END_TO_END}
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    def layer_metrics(self, spark, traced: list[dict], untraced_p50: float) -> dict:
        med = lambda key: statistics.median(r[key] for r in traced)  # noqa: E731
        import spans

        out = self.w.layers(spark, spans.SparkStages(spark))
        out["partitioning.memo_hits"] = sum(r.get("memo_hits", 0) for r in self.records)
        if "build_s" in traced[0]:
            out["queries_catalog.build_s"] = med("build_s")
            out["queries_catalog.exec_s"] = med("exec_s")
        if "wordcount_rows" in traced[0]:
            out["sinks.collect_rows"] = sum(
                traced[0][p + "_rows"] for p in ("wordcount", "topk", "invert")
            )
        for key in traced[0].get("spark", {}):
            out[f"spark.{key}"] = statistics.median(r["spark"][key] for r in traced)
        out["trace.overhead_s"] = statistics.median(r["dur"] for r in traced) - untraced_p50
        return out

    def print_summary(self, figures, summary, layers, measured, attempted, failed) -> None:
        a = self.args
        print(f"workload {a.workload}  seed {a.seed}  {len(measured)} measured operations "
              f"(one = {self.w.unit}); inputs {json.dumps(self.meta)}; generated in {self.gen_s:.2f} s")
        rows = [(n, figures[n], u) for n, u in END_TO_END]
        rows.append(("peak_rss_mb", figures["peak_rss_mb"], "MB"))
        rows += [(n, v, u) for n, (v, u) in summary.items()]
        rows.append(("error_rate", failed / max(1, attempted), "ratio"))
        for n, v, u in rows:
            print(f"  {n:<24} {v:>14.6g} {u}")
        for n, u in PER_LAYER if a.trace else ():
            print(f"  {n:<36} {float(layers.get(n, 0.0)):>14.6g} {u}")
        for p in self.problems:
            print(f"  CHECK FAILED: {p}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, HERE)
    import workloads  # needs the engine's package beside this directory

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    # one core is left to the Python driver and the JVM's GC and JIT
    # threads: with a task thread on every core of a shared host, a
    # core taken away stalls whole stages and the times spread
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, min(4, (os.cpu_count() or 2) - 1))))
    os.environ.pop("SPARK_GRAFT_CODEBOOK_STORE", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # temp files of Python and of the JVM stay inside the run directory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    set_child_subreaper()
    signal.signal(signal.SIGTERM, on_sigterm)
    log("start")
    try:
        result = Runner(args, run_dir).run()
    finally:
        stop_processes()
        shutil.rmtree(run_dir, ignore_errors=True)
        log("every process started by the run has ended")
    print(json.dumps(result), flush=True)
    log("done")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
