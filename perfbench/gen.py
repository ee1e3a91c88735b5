"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes.  Each one also writes its ground truth beside the inputs,
computed from what it emitted (token ids, planted copies) rather than by
re-reading the files, so the benchmark's checks never trust the engine
under test and the generator's own tests can recount independently.

    python3 perfbench/gen.py <workload> <seed> <dst-dir>
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from lab3_spark.stopwords import STOP_WORDS  # noqa: E402  (the reference's data)

WORKLOAD_TAGS = {
    "corpus_pipelines": 1,
    "near_dup_docs": 2,
    "catalog_mix": 3,
    "ingest_stream": 4,
}

# corpus_pipelines: ~8 MB of text, 1M tokens over a 50k-word vocabulary
CORPUS_TOKENS = 1_000_000
CORPUS_VOCAB = 50_000
# The printf-style renderer pads keys to 15 characters; keys are kept at
# most 15 letters long (see perfbench/README.md, "Known defect").
MAX_WORD_LEN = 15

# near_dup_docs: documents of 80-400 tokens, 20% planted near-copies
NEAR_DUP_DOCS = 300
NEAR_DUP_FRACTION = 0.20
EXACT_COPY_FRACTION = 0.03
EDIT_FRACTION = 0.02

# ingest_stream: one pass = INGEST_BATCHES arrivals of INGEST_BATCH_DOCS
INGEST_BATCHES = 6
INGEST_BATCH_DOCS = 200
INGEST_COPY_FRACTION = 0.15

# letter frequencies of English text, for word shapes that look natural
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_LETTER_P = np.array(
    [8.2, 1.5, 2.8, 4.3, 12.7, 2.2, 2.0, 6.1, 7.0, 0.15, 0.77, 4.0, 2.4,
     6.7, 7.5, 1.9, 0.095, 6.0, 6.3, 9.1, 2.8, 0.98, 2.4, 0.15, 2.0, 0.074]
)
_LETTER_P = _LETTER_P / _LETTER_P.sum()


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([WORKLOAD_TAGS[workload], int(seed)])


def token_regex_words(text: str) -> list[str]:
    """The tokenizer spec, in pure Python: lowercase, ``[a-z][a-z']*``."""
    import re

    return re.findall(r"[a-z][a-z']*", text.lower())


def normalized(words) -> str:
    """The dedup fingerprint's input: tokens joined by one space."""
    return " ".join(words)


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def make_vocab(rng: np.random.Generator, n: int, with_stop: bool) -> np.ndarray:
    """`n` distinct lowercase words, Zipf rank order (index 0 = most
    frequent).  With `with_stop` the stop words are spread through the
    200 most frequent ranks, as in English text."""
    stop = sorted(set(STOP_WORDS)) if with_stop else []
    need = n - len(stop)
    words: list[str] = []
    seen = set(stop)
    while len(words) < need:
        k = need - len(words) + 1000
        lens = np.clip(rng.poisson(6.0, size=k) + 2, 2, MAX_WORD_LEN)
        letters = rng.choice(_LETTERS, size=(k, MAX_WORD_LEN), p=_LETTER_P)
        shape = rng.random(k)
        for i in range(k):
            w = "".join(letters[i, : lens[i]])
            if shape[i] < 0.02 and lens[i] >= 4:  # internal apostrophe
                w = w[:-2] + "'" + w[-1]
            elif shape[i] < 0.03 and lens[i] >= 3:  # trailing apostrophe
                w = w[:-1] + "'"
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == need:
                    break
    vocab = np.array(words, dtype=object)
    if stop:
        slots = np.sort(rng.choice(min(200, n), size=len(stop), replace=False))
        vocab = np.insert(vocab, slots - np.arange(len(stop)), np.array(stop, dtype=object))
    return vocab


def zipf_p(n: int, s: float = 1.0, q: float = 2.7) -> np.ndarray:
    p = 1.0 / np.power(np.arange(n) + 1.0 + q, s)
    return p / p.sum()


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))


# --------------------------------------------------------------- corpus


_SEPS = np.array([" ", ", ", ". ", "\t", "; ", " -- ", ' "', '" ', " 1897 ", "! "], dtype=object)
_SEP_P = np.array([0.70, 0.08, 0.06, 0.04, 0.02, 0.02, 0.02, 0.02, 0.02, 0.02])


def gen_corpus(seed: int, dst: str, n_tokens: int = CORPUS_TOKENS) -> dict:
    """One text file with capitals, tabs, digits, punctuation and blank
    lines; truth = the three reference programs' expected output lines."""
    rng = rng_for("corpus_pipelines", seed)
    vocab = make_vocab(rng, CORPUS_VOCAB, with_stop=True)
    ids = rng.choice(len(vocab), size=n_tokens, p=zipf_p(len(vocab)))

    # lines: 6% blank, the rest 1..~25 tokens
    n_lines_guess = n_tokens // 8 + 1000
    lens = rng.geometric(1 / 9.0, size=n_lines_guess)
    lens[rng.random(n_lines_guess) < 0.06] = 0
    cum = np.cumsum(lens)
    n_lines = int(np.searchsorted(cum, n_tokens)) + 1
    lens = lens[:n_lines]
    lens[-1] -= int(cum[n_lines - 1] - n_tokens)

    lower = vocab
    title = np.array([w[0].upper() + w[1:] for w in vocab], dtype=object)
    upper = np.array([w.upper() for w in vocab], dtype=object)
    form = rng.choice(3, size=n_tokens, p=[0.85, 0.12, 0.03])
    words = np.where(form == 0, lower[ids], np.where(form == 1, title[ids], upper[ids]))
    seps = _SEPS[rng.choice(len(_SEPS), size=n_tokens, p=_SEP_P)]

    nonempty = np.flatnonzero(lens > 0)
    starts = np.concatenate(([0], np.cumsum(lens[nonempty])[:-1]))
    ends = np.cumsum(lens[nonempty]) - 1
    seps[ends] = "\n"
    # blank lines and optional leading tabs are prefixes of a line's first token
    blank_before = np.diff(np.concatenate(([-1], nonempty))) - 1
    tab = rng.random(len(nonempty)) < 0.05
    prefix = np.full(n_tokens, "", dtype=object)
    prefix[starts] = np.array(
        ["\n" * b + ("\t" if t else "") for b, t in zip(blank_before, tab)], dtype=object
    )
    trailing_blank = n_lines - 1 - int(nonempty[-1])
    text = "".join(prefix + words + seps) + "\n" * trailing_blank
    with open(os.path.join(dst, "corpus.txt"), "w", newline="") as f:
        f.write(text)
    # the warm-up input: the first tenth of the lines
    with open(os.path.join(dst, "corpus_warm.txt"), "w", newline="") as f:
        f.write(text[: text.index("\n", len(text) // 10) + 1])

    line_of = np.repeat(nonempty, lens[nonempty])
    truth = corpus_truth(vocab, ids, line_of)
    for name, lines in truth.items():
        with open(os.path.join(dst, f"truth_{name}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")
    meta = {
        "bytes": len(text),
        "lines": n_lines,
        "tokens": n_tokens,
        "vocab": int(np.count_nonzero(np.bincount(ids, minlength=len(vocab)))),
    }
    _write_json(os.path.join(dst, "meta.json"), meta)
    return meta


def corpus_truth(vocab: np.ndarray, ids: np.ndarray, line_of: np.ndarray) -> dict:
    """Expected output lines of wordcount, topk (k=50) and invert."""
    stop = set(STOP_WORDS)
    counts = np.bincount(ids, minlength=len(vocab))
    kept = [(str(vocab[i]), int(c)) for i, c in enumerate(counts) if c and vocab[i] not in stop]
    # wordcount: cnt ASC, ties word DESC; topk: cnt DESC, ties word DESC
    by_word_desc = sorted(kept, key=lambda wc: wc[0], reverse=True)
    wc = sorted(by_word_desc, key=lambda wc: wc[1])
    top = sorted(by_word_desc, key=lambda wc: wc[1], reverse=True)[:50]
    # invert: words ascending, each with its sorted distinct line numbers
    alpha = np.argsort(vocab.astype(str), kind="stable")
    rank = np.empty(len(vocab), dtype=np.int64)
    rank[alpha] = np.arange(len(vocab))
    is_stop = np.array([w in stop for w in vocab])
    keep = ~is_stop[ids]
    n_lines = int(line_of.max()) + 1
    keys = np.unique(rank[ids[keep]] * n_lines + line_of[keep])
    word_rank, line = np.divmod(keys, n_lines)
    bounds = np.flatnonzero(np.diff(word_rank)) + 1
    invert = [
        f"{vocab[alpha[r[0]]]} - " + ", ".join(map(str, ln.tolist()))
        for r, ln in zip(np.split(word_rank, bounds), np.split(line, bounds))
    ]
    return {
        "wordcount": [f"{w:>15} - {c}" for w, c in wc],
        "topk": [f"{w:>15} - {c}" for w, c in top],
        "invert": invert,
    }


# ------------------------------------------------------------ near dups


def _doc_text(rng: np.random.Generator, vocab: np.ndarray, ids: np.ndarray) -> str:
    """Space-joined words with a little punctuation and capitalization
    that the tokenizer normalizes away."""
    words = vocab[ids].copy()
    caps = rng.random(len(ids)) < 0.05
    words[caps] = [w.capitalize() for w in words[caps]]
    seps = np.where(rng.random(len(ids)) < 0.08, ", ", " ").astype(object)
    seps[-1] = "."
    return "".join(words + seps)


def gen_near_dups(
    seed: int, dst: str, n_docs: int = NEAR_DUP_DOCS, name: str = "docs"
) -> dict:
    """Parquet table (doc_id, text); truth = planted near-copy pairs,
    exact-copy pairs and every doc's normalized-token fingerprint."""
    rng = rng_for("near_dup_docs", seed)
    vocab = make_vocab(rng, 20_000, with_stop=True)
    p = zipf_p(len(vocab))
    n_near = int(n_docs * NEAR_DUP_FRACTION)
    n_exact = int(n_docs * EXACT_COPY_FRACTION)
    n_orig = n_docs - n_near - n_exact
    toks: list[np.ndarray] = []
    for _ in range(n_orig):
        toks.append(rng.choice(len(vocab), size=int(rng.integers(80, 401)), p=p))
    near_pairs = []
    for _ in range(n_near):
        src = int(rng.integers(0, n_orig))
        t = toks[src].copy()
        k = max(1, int(round(EDIT_FRACTION * len(t))))
        pos = rng.choice(len(t), size=k, replace=False)
        # a replacement always differs from the token it replaces
        t[pos] = (t[pos] + rng.integers(1, len(vocab), size=k)) % len(vocab)
        near_pairs.append((src, len(toks)))
        toks.append(t)
    exact_pairs = []
    for _ in range(n_exact):
        src = int(rng.integers(0, n_orig + n_near))
        exact_pairs.append((src, len(toks)))
        toks.append(toks[src].copy())
    # exact copies repeat their source's bytes; doc ids are a seeded
    # permutation, so copies are not adjacent
    texts_old = [_doc_text(rng, vocab, t) for t in toks[: n_orig + n_near]]
    texts_old += [texts_old[src] for src, _ in exact_pairs]
    perm = rng.permutation(len(toks))
    texts = [None] * len(toks)
    norms = [None] * len(toks)
    for old, new in enumerate(perm):
        texts[new] = texts_old[old]
        norms[new] = normalized(vocab[toks[old]])

    def remap(pairs):
        return sorted(tuple(sorted((int(perm[a]), int(perm[b])))) for a, b in pairs)

    table = pa.table(
        {"doc_id": pa.array(np.arange(len(toks), dtype=np.int64)), "text": pa.array(texts)}
    )
    pq.write_table(table, os.path.join(dst, f"{name}.parquet"), row_group_size=128)
    pq.write_table(table.slice(0, n_docs // 5), os.path.join(dst, f"{name}_warm.parquet"))
    truth = {
        "near_pairs": remap(near_pairs),
        "exact_pairs": remap(exact_pairs),
        "fp": [md5_hex(s) for s in norms],
        "tokens": int(sum(len(t) for t in toks)),
    }
    _write_json(os.path.join(dst, f"{name}_truth.json"), truth)
    return {"docs": len(toks), "tokens": truth["tokens"], "near_pairs": len(near_pairs),
            "exact_pairs": len(exact_pairs)}


def exact_truth(fps: list[str]) -> dict[int, tuple[str, int, int]]:
    """doc_id -> (fp, n_copies, is_dup), doc_id being the index into
    `fps`, under the min-doc_id keep rule."""
    keep: dict[str, int] = {}
    n: dict[str, int] = {}
    for d, fp in enumerate(fps):
        keep.setdefault(fp, d)
        n[fp] = n.get(fp, 0) + 1
    return {d: (fp, n[fp], int(keep[fp] != d)) for d, fp in enumerate(fps)}


# ---------------------------------------------------------- ingest stream


def gen_ingest(seed: int, dst: str) -> dict:
    """INGEST_BATCHES parquet batch files (doc_id, text) with doc ids
    increasing across batches; about 15% of docs repeat the text of an
    earlier doc (same batch or an earlier one)."""
    rng = rng_for("ingest_stream", seed)
    vocab = make_vocab(rng, 10_000, with_stop=True)
    p = zipf_p(len(vocab))
    texts: list[str] = []
    norms: list[str] = []
    os.makedirs(os.path.join(dst, "batches"), exist_ok=True)
    for b in range(INGEST_BATCHES):
        lo = len(texts)
        for _ in range(INGEST_BATCH_DOCS):
            if texts and rng.random() < INGEST_COPY_FRACTION:
                src = int(rng.integers(0, len(texts)))
                texts.append(texts[src])
                norms.append(norms[src])
            else:
                ids = rng.choice(len(vocab), size=int(rng.integers(30, 151)), p=p)
                texts.append(_doc_text(rng, vocab, ids))
                norms.append(normalized(vocab[ids]))
        table = pa.table(
            {
                "doc_id": pa.array(np.arange(lo, len(texts), dtype=np.int64)),
                "text": pa.array(texts[lo:]),
            }
        )
        pq.write_table(table, os.path.join(dst, "batches", f"batch-{b:03d}.parquet"))
    fps = [md5_hex(s) for s in norms]
    _write_json(os.path.join(dst, "ingest_truth.json"), {"fp": fps})
    return {"docs": len(texts), "batches": INGEST_BATCHES, "distinct": len(set(fps))}


# ------------------------------------------------------------- catalog


_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["red", "blue", "green", "small", "large", "hot", "cold", "old"]
_PART_NOUN = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - a).astype(int))
    return (a + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def gen_catalog(seed: int, dst: str) -> dict:
    """The star schema every catalog query reads, at the row counts and
    value domains of the engine's sf0.01 test tables."""
    rng = rng_for("catalog_mix", seed)
    n_cust, n_supp, n_part, n_ord, n_ev, n_docs, n_vec = 1500, 100, 2000, 15000, 10000, 500, 500
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) // 5),
        }
    )
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, size=n), 2)  # noqa: E731
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust, dtype=np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, size=n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp, dtype=np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    adj = rng.integers(0, len(_PART_ADJ), size=n_part)
    noun = rng.integers(0, len(_PART_NOUN), size=n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, size=n_part)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, size=n_part)],
            "p_size": pa.array(rng.integers(1, 51, size=n_part, dtype=np.int32)),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, size=n_part) / 10, 1),
        }
    )
    odate = _days(rng, n_ord, "1995-01-01", "2001-08-01")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord)),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_ord)],
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": pa.array(odate),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, size=n_ord)],
        }
    )
    per_order = np.clip(rng.poisson(3.0, size=n_ord) + 1, 1, 7)
    n_li = int(per_order.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, size=n_li).astype("timedelta64[D]")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li)),
            "l_linenumber": pa.array(lnum),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, size=n_li), 2),
            "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n_li)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, size=n_ev).astype("timedelta64[us]"))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, 150, size=n_ev)),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, size=n_ev)],
            "value": np.round(rng.exponential(40.0, size=n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)],
        }
    )
    words = np.array(_DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), size=int(k))])
             for k in rng.integers(10, 100, size=n_docs)]
    for i in rng.choice(n_docs, size=2, replace=False):  # a couple of exact copies
        texts[i] = texts[(i + 1) % n_docs]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, size=n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    m = rng.standard_normal((n_vec, 64))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(n_vec + 1, dtype=np.int32) * 64), pa.array(m.reshape(-1))
            ),
            "label": pa.array(rng.integers(0, 10, size=n_vec, dtype=np.int32)),
        }
    )
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(dst, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def gen_text_batch(seed: int, dst: str) -> dict:
    """Both bulk inputs, each in its own directory."""
    out = {}
    for name, fn in (("corpus_pipelines", gen_corpus), ("near_dup_docs", gen_near_dups)):
        os.makedirs(os.path.join(dst, name), exist_ok=True)
        out[name] = fn(seed, os.path.join(dst, name))
    return out


GENERATORS = {
    "text_batch": gen_text_batch,
    "corpus_pipelines": gen_corpus,
    "near_dup_docs": gen_near_dups,
    "catalog_mix": gen_catalog,
    "ingest_stream": gen_ingest,
}


def generate(workload: str, seed: int, dst: str) -> dict:
    os.makedirs(dst, exist_ok=True)
    return GENERATORS[workload](seed, dst)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <workload> <seed> <dst-dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
