"""The workloads: inputs opened in set-up, one operation, its checks,
and (traced run only) the per-layer split of that operation.

Every workload drives the engine through its public modules only:
``lab3_spark.sources``, ``functions``, ``operators``, ``sinks``,
``queries_catalog``, ``functions.partitioning`` and ``streaming``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import time

import gen

LAYER_REPS = 3  # prefix runs per layer in the traced run; the median is kept


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def median_time(fn, reps: int = LAYER_REPS) -> float:
    return statistics.median(timed(fn) for _ in range(reps))


def dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`, Spark's marker files excluded."""
    n = b = 0
    for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        n += 1
        b += os.path.getsize(f)
    return n, b


def _sha(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


class Workload:
    """One operation per `op` call; `pass_ops` names a pass's operations."""

    name = ""
    unit = ""  # what one operation is, for the printed summary
    pass_s = 1.0  # nominal seconds per pass on a quiet 4-vCPU host
    warmup_passes = 2  # over the smaller warm-up input
    warmup_full_passes = 0  # then over the measured input

    def __init__(self, inputs: str, work: str, meta: dict, seed: int) -> None:
        self.inputs, self.work, self.meta, self.seed = inputs, work, meta, seed

    def pass_ops(self, pass_no: int) -> list[str]:
        raise NotImplementedError

    def prepare(self, spark, warm: bool = False) -> None:
        """Open the inputs (build their DataFrames, which lists the files
        and reads their schemas; the text workloads also count their
        rows once); `warm` opens the smaller warm-up input where the
        workload has one."""
        raise NotImplementedError

    def op(self, spark, name: str, span) -> dict:
        raise NotImplementedError

    def check(self, name: str, out: dict) -> list[str]:
        """Problems found in one operation's output (empty = correct)."""
        raise NotImplementedError

    def final_checks(self, spark, records: list[dict]) -> list[str]:
        """Once-per-run checks, outside every timed region."""
        return []

    def summary(self, records: list[dict]) -> dict:
        """The workload's own end-to-end figures, for the printed table."""
        return {}

    def layers(self, spark, stages) -> dict:
        """Traced run only: per-layer metrics from prefix runs."""
        return {}


# ------------------------------------------------------- corpus_pipelines


class CorpusPipelines(Workload):
    """The reference's three programs, as the CLI runs them:
    read_text_lines -> word_count / top_k_words(50) / inverted_index
    -> render_* -> collect.  One operation = all three."""

    name = "corpus_pipelines"
    pass_s = 4.5
    unit = "pass of wordcount+topk+invert"

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        self.path = os.path.join(self.inputs, "corpus.txt")
        self.warm_path = os.path.join(self.inputs, "corpus_warm.txt")
        self.truth = {}
        for prog in ("wordcount", "topk", "invert"):
            with open(os.path.join(self.inputs, f"truth_{prog}.txt")) as f:
                self.truth[prog] = _sha(f.read().split("\n")[:-1])

    def pass_ops(self, pass_no):
        return ["pass"]

    def prepare(self, spark, warm=False):
        from lab3_spark.sources.text import read_text_lines

        self.lines = read_text_lines(spark, self.warm_path if warm else self.path)
        self.lines.count()

    def _programs(self):
        from lab3_spark.operators.inverted_index import inverted_index
        from lab3_spark.operators.topk import top_k_words
        from lab3_spark.operators.wordcount import word_count
        from lab3_spark.sinks import render_inverted_index_text, render_keyval_text

        lines = self.lines
        return {
            "wordcount": lambda: render_keyval_text(word_count(lines)),
            "topk": lambda: render_keyval_text(top_k_words(lines, k=50)),
            "invert": lambda: render_inverted_index_text(
                inverted_index(lines, id_col="line_no")
            ),
        }

    def op(self, spark, name, span):
        out = {}
        for prog, build in self._programs().items():
            with span(prog) as s:
                rows = build().collect()
            out[prog + "_s"] = s["dur"]
            out[prog] = _sha(r[0] for r in rows)
            out[prog + "_rows"] = len(rows)
        return out

    def check(self, name, out):
        return [f"{p} output differs from ground truth" for p in self.truth if out[p] != self.truth[p]]

    def summary(self, records):
        mb = self.meta["bytes"] / 1e6
        med = {p: statistics.median(r[p + "_s"] for r in records) for p in self.truth}
        return {
            "wordcount_s": (med["wordcount"], "s"),
            "topk_s": (med["topk"], "s"),
            "invert_s": (med["invert"], "s"),
            "corpus_mb_s": (3 * mb / sum(med.values()), "MB/s"),
        }

    def layers(self, spark, stages):
        from pyspark.sql import functions as F

        from lab3_spark.functions.text import is_stop_word, tokenize
        from lab3_spark.operators.inverted_index import inverted_index, posting_pairs
        from lab3_spark.operators.topk import top_k_words
        from lab3_spark.operators.wordcount import word_counts_unfiltered
        from lab3_spark.sinks import render_inverted_index_text

        lines = self.lines
        toks = lines.select("line_no", F.explode(tokenize("text")).alias("word"))
        agg = word_counts_unfiltered(lines)
        inv = inverted_index(lines, id_col="line_no")
        p_read = median_time(lambda: noop(lines))
        p_tok = median_time(lambda: noop(toks))
        p_agg = median_time(lambda: noop(agg))
        p_topk = median_time(lambda: noop(top_k_words(lines, k=50)))
        p_inv = median_time(lambda: noop(inv))
        p_inv_full = median_time(lambda: render_inverted_index_text(inv).collect())
        n_tokens = toks.count()
        with stages.op("layer-tok"):
            w0 = time.time()
            noop(toks)
            m_tok = stages.metrics("layer-tok", (w0, time.time()))
        with stages.op("layer-agg"):
            w0 = time.time()
            noop(agg)
            m_agg = stages.metrics("layer-agg", (w0, time.time()))
        pairs = posting_pairs(lines, id_col="line_no").where(~is_stop_word("word")).count()
        return {
            "sources.read_text_lines_s": p_read,
            "sources.lines": lines.count(),
            "functions.tokenize_s": p_tok - p_read,
            "functions.tokens": n_tokens,
            "operators.wordcount.agg_s": p_agg - p_tok,
            "operators.wordcount.combine_ratio":
                (m_agg["shuffle_records"] - m_tok["shuffle_records"]) / max(1, n_tokens),
            "operators.topk_s": p_topk - p_agg,
            "operators.inverted_index_s": p_inv - p_tok,
            "operators.inverted_index.pairs": pairs,
            "sinks.render_collect_s": p_inv_full - p_inv,
        }


# ---------------------------------------------------------- near_dup_docs


class NearDupDocs(Workload):
    """exact_duplicates -> minhash_candidates -> dedup_survivors written
    with sinks.write_parquet.  One operation = one dedup pass."""

    name = "near_dup_docs"
    pass_s = 4.5
    unit = "dedup pass"
    MIN_RECALL = 0.9

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        self.path = os.path.join(self.inputs, "docs.parquet")
        self.warm_path = os.path.join(self.inputs, "docs_warm.parquet")
        with open(os.path.join(self.inputs, "docs_truth.json")) as f:
            t = json.load(f)
        self.exact = gen.exact_truth(t["fp"])
        self.survivors = {
            (fp, d, n) for d, (fp, n, dup) in self.exact.items() if not dup
        }
        self.near_pairs = {tuple(p) for p in t["near_pairs"]}
        self.exact_pairs = {tuple(p) for p in t["exact_pairs"]}
        self.passes = 0

    def pass_ops(self, pass_no):
        return ["pass"]

    def prepare(self, spark, warm=False):
        self.docs = spark.read.parquet(self.warm_path if warm else self.path)
        self.docs.count()

    def op(self, spark, name, span):
        from lab3_spark.operators.dedup import (
            dedup_survivors,
            exact_duplicates,
            minhash_candidates,
        )
        from lab3_spark.sinks import write_parquet

        self.passes += 1
        dst = os.path.join(self.work, f"survivors-{self.passes}")
        with span("exact") as s1:
            ex = exact_duplicates(self.docs).collect()
        with span("candidates") as s2:
            cand = minhash_candidates(self.docs).collect()
        with span("survivors") as s3:
            write_parquet(dedup_survivors(self.docs), dst)
        return {
            "exact_s": s1["dur"], "candidates_s": s2["dur"], "survivors_s": s3["dur"],
            "dedup_s": s1["dur"] + s2["dur"] + s3["dur"],
            "exact": ex, "cand": {(r.doc_a, r.doc_b) for r in cand}, "dst": dst,
        }

    def check(self, name, out):
        import pyarrow.parquet as pq

        problems = []
        got = {r.doc_id: (r.fp, r.n_copies, r.is_dup) for r in out.pop("exact")}
        if got != self.exact:
            problems.append("exact_duplicates differs from the planted copies")
        cand = out.pop("cand")
        if not self.exact_pairs <= cand:
            problems.append("an exact copy pair is not a MinHash candidate")
        found = len(self.near_pairs & cand)
        out["pair_recall"] = found / len(self.near_pairs)
        out["candidate_pairs"] = len(cand)
        out["candidate_precision"] = (found + len(self.exact_pairs & cand)) / max(1, len(cand))
        if out["pair_recall"] < self.MIN_RECALL:
            problems.append(f"pair recall {out['pair_recall']:.3f} < {self.MIN_RECALL}")
        surv = pq.read_table(out["dst"]).to_pydict()
        if set(zip(surv["fp"], surv["doc_id"], surv["n_copies"])) != self.survivors:
            problems.append("dedup_survivors differs from one-per-fingerprint truth")
        out["bytes_written"] = dir_size(out["dst"])[1]
        shutil.rmtree(out.pop("dst"), ignore_errors=True)
        return problems

    def summary(self, records):
        return {
            "dedup_docs_s": (self.meta["docs"] / statistics.median(r["dedup_s"] for r in records), "1/s"),
            "pair_recall": (statistics.median(r.get("pair_recall", 0.0) for r in records), "ratio"),
        }

    def layers(self, spark, stages):
        from pyspark.sql import functions as F

        from lab3_spark.functions.text import tokenize
        from lab3_spark.operators.dedup import (
            dedup_survivors,
            exact_duplicates,
            minhash_candidates,
            minhash_signatures,
        )
        from lab3_spark.functions.partitioning import memo_result_invalidate
        from lab3_spark.sinks import write_parquet

        docs = self.docs
        toks = docs.select(F.explode(tokenize("text")).alias("word"))

        def candidates():
            memo_result_invalidate("")
            minhash_candidates(docs).collect()

        dst = os.path.join(self.work, "layer-survivors")
        p_tok = median_time(lambda: noop(toks))
        p_exact = median_time(lambda: exact_duplicates(docs).collect())
        p_sig = median_time(lambda: noop(minhash_signatures(docs)))
        p_cand = median_time(candidates)
        p_surv = median_time(lambda: noop(dedup_survivors(docs)))
        p_write = median_time(lambda: write_parquet(dedup_survivors(docs), dst))
        memo_result_invalidate("")
        cand = {(r.doc_a, r.doc_b) for r in minhash_candidates(docs).collect()}
        planted = self.near_pairs | self.exact_pairs
        return {
            "functions.tokenize_s": p_tok,
            "functions.tokens": toks.count(),
            "operators.dedup.exact_s": p_exact,
            "operators.dedup.signatures_s": p_sig,
            "operators.dedup.candidates_s": p_cand - p_sig,
            "operators.dedup.candidate_pairs": len(cand),
            "operators.dedup.candidate_precision": len(planted & cand) / max(1, len(cand)),
            "sinks.write_parquet_s": p_write - p_surv,
            "sinks.bytes_written": dir_size(dst)[1],
        }


# ------------------------------------------------------------- text_batch


class TextBatch(Workload):
    """corpus_pipelines and near_dup_docs as one workload: one operation
    runs the three programs over the corpus, then one dedup pass over the
    documents.  Each part keeps its own inputs, checks and layers."""

    name = "text_batch"
    unit = "pass of wordcount+topk+invert and a dedup pass"
    # the first pass over the full-size inputs still runs about 30%
    # slower than later ones, so it is warm-up too
    warmup_passes = 1
    warmup_full_passes = 1

    def __init__(self, inputs, work, meta, seed) -> None:
        super().__init__(inputs, work, meta, seed)
        self.parts = [
            cls(os.path.join(inputs, cls.name), work, meta[cls.name], seed)
            for cls in (CorpusPipelines, NearDupDocs)
        ]
        self.pass_s = sum(p.pass_s for p in self.parts)

    def pass_ops(self, pass_no):
        return ["pass"]

    def prepare(self, spark, warm=False):
        for p in self.parts:
            p.prepare(spark, warm)

    def op(self, spark, name, span):
        out = {}
        for p in self.parts:
            out.update(p.op(spark, name, span))
        return out

    def check(self, name, out):
        return [problem for p in self.parts for problem in p.check(name, out)]

    def summary(self, records):
        return {k: v for p in self.parts for k, v in p.summary(records).items()}

    def layers(self, spark, stages):
        """Both parts' layers; where both measure a layer (tokenize), the
        figures are added: the layer's work per pass of this workload."""
        out: dict = {}
        for p in self.parts:
            for k, v in p.layers(spark, stages).items():
                out[k] = out.get(k, 0) + v
        return out


# ------------------------------------------------------------ catalog_mix

# A reference pipeline, TPC-H q13/q18, events, BM25 retrieval, an ANN
# index and a global-rank query: small plans over small tables, so the
# time goes to planning and scheduling.
CATALOG_QUERIES = (
    "word_count",
    "q13_order_count_distribution",
    "q18_large_volume_customer",
    "events_sessionize",
    "bm25_top_docs",
    "ann_ivf_top5",
    "order_total_deciles",
)

ORACLE_DIGITS = 6


def _canon_value(v):
    import numpy as np
    import pandas as pd

    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if v is None or v is pd.NaT:
        return "NaN"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, ORACLE_DIGITS):.{ORACLE_DIGITS}f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def canon_frame(pdf) -> tuple:
    """Order-insensitive, column-order-insensitive value hash input."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_canon_value(v) for v in r)
        for r in pdf[cols].itertuples(index=False, name=None)
    )
    return tuple(cols), tuple(rows)


class CatalogMix(Workload):
    """One warm session, one client, a closed loop over catalog queries
    in a seed-shuffled order.  One operation = one query."""

    name = "catalog_mix"
    pass_s = 5.0
    unit = "catalog query"
    warmup_passes = 1

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        self.rng = random.Random(self.seed)
        self.first: dict[str, tuple] = {}

    def pass_ops(self, pass_no):
        order = list(CATALOG_QUERIES)
        self.rng.shuffle(order)
        return order

    def prepare(self, spark, warm=False):
        from lab3_spark.sources.tables import TABLES, load_table

        for t in TABLES:
            load_table(spark, self.inputs, t)

    def op(self, spark, name, span):
        from lab3_spark.queries_catalog import QUERIES

        with span("build") as s1:
            df = QUERIES[name](spark, self.inputs)
        with span("exec") as s2:
            pdf = df.toPandas()
        return {"build_s": s1["dur"], "exec_s": s2["dur"], "pdf": pdf}

    def check(self, name, out):
        got = canon_frame(out.pop("pdf"))
        out["rows"] = len(got[1])
        first = self.first.setdefault(name, got)
        return [] if got == first else [f"{name}: result differs between executions"]

    def final_checks(self, spark, records):
        """Each query's result against its DuckDB oracle SQL, once."""
        import duckdb

        from lab3_spark.queries_catalog import ORACLES
        from lab3_spark.sources.tables import TABLES

        con = duckdb.connect()
        try:
            for t in TABLES:
                p = os.path.join(self.inputs, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            bad = []
            for name, got in self.first.items():
                if canon_frame(con.execute(ORACLES[name]).df()) != got:
                    bad.append(name)
        finally:
            con.close()
        for r in records:
            if r["name"] in bad:
                r["ok"] = False
        return [f"{n}: result differs from its DuckDB oracle" for n in bad]

    def summary(self, records):
        lat = sorted(r["dur"] for r in records)
        return {
            "query_p50_s": (statistics.median(lat), "s"),
            "query_p90_s": (statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else lat[0], "s"),
            "queries_s": (len(lat) / sum(lat), "1/s"),
        }


# ---------------------------------------------------------- ingest_stream


class IngestStream(Workload):
    """A closed loop of batch arrivals, each drained by
    start_incremental_dedup (availableNow) and waited on.  A pass starts
    from an empty store; one operation = one batch."""

    name = "ingest_stream"
    pass_s = 4.0
    unit = "ingest batch"

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        self.batches = sorted(glob.glob(os.path.join(self.inputs, "batches", "*.parquet")))
        with open(os.path.join(self.inputs, "ingest_truth.json")) as f:
            fps = json.load(f)["fp"]
        self.fps = fps
        # per batch: the (doc_id, fp) rows the store must gain
        per = gen.INGEST_BATCH_DOCS
        seen: set[str] = set()
        self.expect = []
        for b in range(len(self.batches)):
            first: dict[str, int] = {}
            for d in range(b * per, (b + 1) * per):
                if fps[d] not in seen:
                    first.setdefault(fps[d], d)
            seen |= set(first)
            self.expect.append({(d, fp) for fp, d in first.items()})
        self.pass_no = -1

    def pass_ops(self, pass_no):
        return [f"batch-{b}" for b in range(len(self.batches))]

    def prepare(self, spark, warm=False):
        self.schema = spark.read.parquet(self.batches[0]).schema

    def _dirs(self):
        base = os.path.join(self.work, f"ingest-{self.pass_no}")
        return base, os.path.join(base, "src"), os.path.join(base, "store"), os.path.join(base, "ckpt")

    def op(self, spark, name, span):
        from lab3_spark.streaming.incremental_dedup import start_incremental_dedup

        b = int(name.split("-")[1])
        if b == 0:
            self.pass_no += 1
            base, src, _, _ = self._dirs()
            shutil.rmtree(os.path.join(self.work, f"ingest-{self.pass_no - 1}"), ignore_errors=True)
            os.makedirs(src)
        base, src, store, ckpt = self._dirs()
        shutil.copy(self.batches[b], src)  # the arrival
        with span("batch") as s:
            stream = spark.readStream.schema(self.schema).parquet(src)
            q = start_incremental_dedup(stream, store, ckpt)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return {"batch": b, "store": store}

    def _store_rows(self, store: str, batch: int | None = None) -> set:
        import pyarrow.parquet as pq

        pattern = f"batch_id={batch}" if batch is not None else "batch_id=*"
        rows = set()
        for d in glob.glob(os.path.join(store, pattern)):
            for f in glob.glob(os.path.join(d, "*.parquet")):
                t = pq.read_table(f).to_pydict()
                rows |= set(zip(t["doc_id"], t["fp"]))
        return rows

    def check(self, name, out):
        b, store = out["batch"], out["store"]
        files, size = dir_size(store)
        out.update(store_files=files, store_bytes=size,
                   accepted=len(self._store_rows(store)))
        if self._store_rows(store, b) != self.expect[b]:
            return [f"{name}: accepted rows differ from first-arrival truth"]
        return []

    def final_checks(self, spark, records):
        """The last complete store equals exact_duplicates' survivors over
        every ingested doc."""
        from pyspark.sql import functions as F

        from lab3_spark.operators.dedup import exact_duplicates

        last = [r for r in records if r.get("store")]
        if not last:
            return []
        docs = spark.read.parquet(*self.batches)
        keep = exact_duplicates(docs).where(F.col("is_dup") == 0).select("doc_id", "fp").collect()
        stores = {r["store"] for r in last}
        full = [s for s in stores
                if len(glob.glob(os.path.join(s, "batch_id=*"))) == len(self.batches)]
        expect = {(r.doc_id, r.fp) for r in keep}
        bad = [s for s in full if self._store_rows(s) != expect]
        return [f"store {s} differs from exact_duplicates over all docs" for s in bad]

    def summary(self, records):
        lat = sorted(r["dur"] for r in records)
        last = records[-1]
        return {
            "store_files": (last["store_files"], "count"),
            "store_bytes": (last["store_bytes"], "bytes"),
            "accepted_docs": (last["accepted"], "count"),
            "batch_p50_s": (statistics.median(lat), "s"),
            "batch_p90_s": (statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else lat[0], "s"),
            "ingest_docs_s": (len(lat) * gen.INGEST_BATCH_DOCS / sum(lat), "1/s"),
        }


WORKLOADS = {
    w.name: w for w in (TextBatch, CatalogMix, CorpusPipelines, NearDupDocs, IngestStream)
}
